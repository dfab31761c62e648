"""ogr2ogr as a Spark job — vector format conversion at cluster scale.

The reference's single most-used utility is ``ogr2ogr src dst`` format
conversion (``apps/ogr2ogr_lib.cpp``).  This job is the Spark-submit
equivalent over the round-4 format drivers::

    zip -r gdal_spark.zip gdal_spark
    spark-submit --py-files gdal_spark.zip jobs/convert_job.py \
        --input data.shp --output out.gpkg --layer roads \
        --where "population > 1000" --select "geom,name,population"

Formats are sniffed from the path (the reference's driver Identify
loop): ``.shp`` ``.gpkg`` ``.kml`` ``.geojson`` (FeatureCollection),
``.geojsonl``/``.ndjson``/seq directory, ``.csv`` (AS_WKT), ``.arrows``
directory, ``.parquet``.  ``--where`` and ``--select`` apply between
read and write exactly like ogr2ogr's ``-where`` / ``-select`` — they
run as Catalyst filter/projection, so for parquet input they push into
the scan.

Reads are distributed per each driver's scale story (record-range /
rowid-range / text-split / per-file); writes are distributed for
GeoJSONSeq / CSV / parquet / Arrow and a terminal single-file hop for
shp / gpkg / kml (single-file formats — same as the reference).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

READ_SCHEMALESS = {"shp", "gpkg", "arrows", "parquet"}


def sniff(path: str) -> str:
    p = path.rstrip("/")
    ext = os.path.splitext(p)[1].lstrip(".").lower()
    if ext in ("geojsonl", "ndjson", "jsonl", "geojsons"):
        return "geojsonseq"
    if ext == "json":
        return "geojson"
    if ext in ("shp", "gpkg", "kml", "geojson", "csv", "parquet"):
        return ext
    if not ext:
        # existing dir: sniff contents; new extension-less output path:
        # the distributed text layout (GeoJSONSeq dataset directory)
        names = os.listdir(p) if os.path.isdir(p) else []
        if any(n.endswith(".arrows") for n in names):
            return "arrows"
        if any(n.endswith(".parquet") for n in names):
            return "parquet"
        return "geojsonseq"
    raise SystemExit(f"cannot identify format of {path!r}")


def read_any(spark, path: str, fmt: str, layer: str, props_schema: str | None):
    if fmt == "shp":
        from gdal_spark.sources import shapefile as D

        return D.read_shapefile(spark, os.path.splitext(path)[0])
    if fmt == "gpkg":
        from gdal_spark.sources import gpkg as D

        name = layer or D.list_layers(path)[0]
        return D.read_gpkg(spark, path, name)
    if fmt == "kml":
        from gdal_spark.sources import kml as D

        return D.read_kml(spark, path, props_schema or "name string")
    if fmt == "geojson":
        from gdal_spark.sources import geojson as D

        return D.read_geojson(spark, path, props_schema or "name string")
    if fmt == "geojsonseq":
        from gdal_spark.sources import geojson as D

        return D.read_geojsonseq(spark, path, props_schema or "name string")
    if fmt == "csv":
        from gdal_spark.sources import csv_wkt as D

        return D.read_csv_features(spark, path)
    if fmt == "arrows":
        from gdal_spark.sources import arrow_ipc as D

        return D.read_arrow_stream(spark, path)
    if fmt == "parquet":
        return spark.read.parquet(path)
    raise SystemExit(f"unsupported input format {fmt!r}")


def write_any(df, path: str, fmt: str, layer: str) -> None:
    if fmt == "shp":
        from gdal_spark.sources import shapefile as D

        D.write_shapefile(df, os.path.splitext(path)[0])
    elif fmt == "gpkg":
        from gdal_spark.sources import gpkg as D

        D.write_gpkg(df, path, layer or "layer0")
    elif fmt == "kml":
        from gdal_spark.sources import kml as D

        name_col = "name" if "name" in df.columns else None
        D.write_kml(df, path, name_col=name_col)
    elif fmt == "geojson":
        from gdal_spark.sources import geojson as D

        D.write_geojson(df, path)
    elif fmt == "geojsonseq":
        from gdal_spark.sources import geojson as D

        D.write_geojsonseq(df, path)
    elif fmt == "csv":
        from gdal_spark.sources import csv_wkt as D

        D.write_csv_features(df, path)
    elif fmt == "arrows":
        from gdal_spark.sources import arrow_ipc as D

        D.write_arrow_stream(df, path)
    elif fmt == "parquet":
        df.write.mode("overwrite").parquet(path)
    elif fmt == "geoparquet":
        from gdal_spark.sources import geoparquet as GP

        GP.write_geoparquet(df, path)
    elif fmt == "mvt":
        # ogr2ogr -f MVT (ogr/ogrsf_frmts/mvt/mvtwriterdataset.cpp):
        # z/x/y.pbf directory written from executors. Needs lon/lat
        # bbox columns; derived from the WKB geometry when absent.
        from gdal_spark.sources import mvt as D

        zoom = int(os.environ.get("CONVERT_MVT_ZOOM", "6"))
        if "lon_min" not in df.columns:
            df = _with_geom_bbox(df)
        id_col = next(
            (c for c in df.columns if c.endswith("id") and c != "geom"),
            df.columns[0],
        )
        tiles = D.build_mvt_tiles(
            df, zoom, layer_name=layer or "layer0", id_col=id_col,
            geom_col="geom" if "geom" in df.columns else None,
        )
        D.write_mvt_dir(tiles, path)
    else:
        raise SystemExit(f"unsupported output format {fmt!r}")


def _with_geom_bbox(df):
    """Attach lon/lat bbox columns from the WKB geometry (one Arrow
    pass — the envelope scan every OGR driver does on write)."""
    import pandas as pd

    from gdal_spark.functions import geometry as G

    schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields
    ) + ", lon_min double, lat_min double, lon_max double, lat_max double"

    def gen(it):
        for pdf in it:
            boxes = [
                G.geom_bbox(G.parse_wkb(bytes(b))) if b is not None else
                (None, None, None, None)
                for b in pdf["geom"]
            ]
            pdf = pdf.copy()
            pdf["lon_min"] = [b[0] for b in boxes]
            pdf["lat_min"] = [b[1] for b in boxes]
            pdf["lon_max"] = [b[2] for b in boxes]
            pdf["lat_max"] = [b[3] for b in boxes]
            yield pdf

    return df.mapInPandas(gen, schema=schema)


def main(argv=None):
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--input-format", default=None)
    p.add_argument("--output-format", default=None)
    p.add_argument("--layer", default=None, help="gpkg layer name")
    p.add_argument("--where", default=None, help="SQL predicate (-where)")
    p.add_argument("--select", default=None,
                   help="comma-separated columns (-select); geom kept")
    p.add_argument("--props-schema", default=None,
                   help="Spark DDL for schemaless text inputs (kml/geojson)")
    args = p.parse_args(argv)

    from pyspark.sql import SparkSession

    from gdal_spark.session import get_spark

    spark = SparkSession.getActiveSession()
    preexisting = spark is not None
    if not preexisting:
        spark = get_spark("convert_job")
    t0 = time.time()
    in_fmt = args.input_format or sniff(args.input)
    out_fmt = args.output_format or sniff(args.output)
    df = read_any(spark, args.input, in_fmt, args.layer, args.props_schema)
    if args.where:
        df = df.filter(args.where)
    if args.select:
        cols = [c.strip() for c in args.select.split(",")]
        if "geom" in df.columns and "geom" not in cols:
            cols = ["geom"] + cols
        df = df.select(*cols)
    n = df.count()
    write_any(df, args.output, out_fmt, args.layer)
    print(json.dumps({"input": args.input, "output": args.output,
                      "in_format": in_fmt, "out_format": out_fmt,
                      "rows": n, "secs": round(time.time() - t0, 2)}))
    if not preexisting:  # don't tear down a caller's session (tests)
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
