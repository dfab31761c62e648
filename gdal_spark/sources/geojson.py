"""GeoJSON / GeoJSONSeq source + sink (RFC 7946 / RFC 8142).

The reference ships two sibling drivers
(``ogr/ogrsf_frmts/geojson/ogrgeojsondriver.cpp`` FeatureCollection,
``ogrgeojsonseqdriver.cpp`` newline-delimited).  Spark-first mapping:

- **GeoJSONSeq is the scale path** — one Feature per line means the
  file splits on newlines like any text source, so reads AND writes
  are fully distributed (``spark.read.text`` → Arrow-batched parse;
  write = per-partition JSON render → ``df.write.text``).  This is
  the layout the reference recommends for large files for the same
  reason (seq driver exists precisely because FeatureCollection can't
  be streamed).
- **FeatureCollection** is a whole-document format: reading uses one
  task per file (``binaryFile`` scan → ``json.loads`` → explode), the
  honest equivalent of the reference's whole-file OGRGeoJSONReader;
  a directory of files still parallelizes per-file.

Geometry converts between WKB (repo interchange) and GeoJSON
coordinate arrays losslessly: ``json.dumps`` emits ``repr(float)``
(shortest round-trip form), so doubles survive bit-exactly both ways.
Z coordinates map to 3-element positions; M has no GeoJSON
representation and is dropped, matching the reference
(``ogrgeojsonwriter.cpp`` writes XY[Z] only).
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from gdal_spark.functions import geometry as G
from gdal_spark.sources.scan import scan_files

_TYPE_NAMES = {
    G.WKB_POINT: "Point",
    G.WKB_LINESTRING: "LineString",
    G.WKB_POLYGON: "Polygon",
    G.WKB_MULTIPOINT: "MultiPoint",
    G.WKB_MULTILINESTRING: "MultiLineString",
    G.WKB_MULTIPOLYGON: "MultiPolygon",
    G.WKB_GEOMETRYCOLLECTION: "GeometryCollection",
}


# ---------------------------------------------------------------------------
# geometry: Geom <-> GeoJSON dict
# ---------------------------------------------------------------------------


def _coords_list(arr: np.ndarray, z: bool) -> list:
    w = 3 if (z and arr.shape[1] >= 3) else 2
    return [list(map(float, p[:w])) for p in arr]


def geom_to_geojson(g: G.Geom) -> dict:
    """Parsed Geom → GeoJSON geometry object (XY[Z])."""
    t = g.gtype
    z = g.has_z
    parts = g.full if g.full else (g.rings if g.rings else g.coords)
    if t == G.WKB_POINT:
        w = 3 if (z and parts[0].shape[1] >= 3) else 2
        return {"type": "Point",
                "coordinates": list(map(float, parts[0][0][:w]))}
    if t == G.WKB_LINESTRING:
        return {"type": "LineString", "coordinates": _coords_list(parts[0], z)}
    if t == G.WKB_POLYGON:
        return {"type": "Polygon",
                "coordinates": [_coords_list(r, z) for r in parts]}
    if t == G.WKB_MULTIPOINT:
        return {"type": "MultiPoint",
                "coordinates": [list(map(float, p[0][:3 if z else 2]))
                                for p in parts]}
    if t == G.WKB_MULTILINESTRING:
        return {"type": "MultiLineString",
                "coordinates": [_coords_list(p, z) for p in parts]}
    if t == G.WKB_MULTIPOLYGON:
        if g.parts:
            return {"type": "MultiPolygon",
                    "coordinates": [geom_to_geojson(p)["coordinates"]
                                    for p in g.parts]}
        polys, cur = [], None
        for r, is_ext in zip(parts, g.ring_roles):
            if is_ext or cur is None:
                cur = []
                polys.append(cur)
            cur.append(_coords_list(r, z))
        return {"type": "MultiPolygon", "coordinates": polys}
    if t == G.WKB_GEOMETRYCOLLECTION:
        return {"type": "GeometryCollection",
                "geometries": [geom_to_geojson(p) for p in g.parts]}
    raise ValueError(f"cannot map WKB type {t} to GeoJSON")


def geojson_to_wkb(obj: dict) -> bytes:
    """GeoJSON geometry object → ISO WKB."""
    t = obj["type"]
    c = obj.get("coordinates")
    if t == "Point":
        return G.wkb_point(*c[:3])
    if t == "LineString":
        return G.wkb_linestring(c)
    if t == "Polygon":
        return G.wkb_polygon(c)
    if t == "MultiPoint":
        import struct

        z = any(len(p) > 2 for p in c)
        code = (1000 if z else 0) + G.WKB_MULTIPOINT
        members = [G.wkb_point(*(list(p) + [0.0] * (3 - len(p)) if z else p[:2]))
                   for p in c]
        return struct.pack("<BII", 1, code, len(c)) + b"".join(members)
    if t == "MultiLineString":
        import struct

        z = any(len(p) > 2 for ls in c for p in ls)
        code = (1000 if z else 0) + G.WKB_MULTILINESTRING
        return (struct.pack("<BII", 1, code, len(c))
                + b"".join(G.wkb_linestring(ls) for ls in c))
    if t == "MultiPolygon":
        return G.wkb_multipolygon(c)
    if t == "GeometryCollection":
        return G.wkb_geometrycollection(
            [geojson_to_wkb(m) for m in obj["geometries"]])
    raise ValueError(f"unknown GeoJSON geometry type {t}")


# ---------------------------------------------------------------------------
# GeoJSONSeq (scale path: fully distributed both directions)
# ---------------------------------------------------------------------------


def write_geojsonseq(df: DataFrame, path: str, geom_col: str = "geom") -> None:
    """Distributed sink: one RFC 8142 Feature per line, written by
    Spark's text writer (every partition emits its own part file)."""
    attr_cols = [c for c in df.columns if c != geom_col]

    def render(batches):
        for pdf in batches:
            lines = []
            for row in pdf.itertuples(index=False):
                d = row._asdict()
                wkb = d.pop(geom_col)
                geometry = (geom_to_geojson(G.parse_wkb(bytes(wkb)))
                            if wkb is not None else None)
                props = {k: (None if (isinstance(v, float) and pd.isna(v))
                             or v is pd.NA else
                             (v.item() if isinstance(v, np.generic) else v))
                         for k, v in d.items()}
                lines.append(json.dumps(
                    {"type": "Feature", "geometry": geometry,
                     "properties": props},
                    separators=(",", ":")))
            yield pd.DataFrame({"value": lines})

    df.select(geom_col, *attr_cols).mapInPandas(
        render, schema="value string").write.mode("overwrite").text(path)


def read_geojsonseq(spark: SparkSession, path: str,
                    props_schema: str) -> DataFrame:
    """Distributed source: text-split lines → Arrow-batched JSON parse.

    ``props_schema`` is the Spark DDL for the property columns, e.g.
    ``"name string, pop long"`` (the reference infers this by
    pre-scanning; explicit schema is the Spark-idiomatic contract —
    SURVEY.md schema rule)."""
    lines = spark.read.text(path)

    def parse(batches):
        for pdf in batches:
            geoms, props = [], []
            for s in pdf["value"]:
                s = s.strip()
                if not s or s == ",":
                    continue
                f = json.loads(s.lstrip("\x1e"))  # RFC 8142 RS allowed
                geoms.append(
                    geojson_to_wkb(f["geometry"])
                    if f.get("geometry") else None)
                props.append(f.get("properties") or {})
            out = pd.DataFrame({"geom": geoms})
            keys = [c.strip().split(" ", 1)[0].strip("`")
                    for c in props_schema.split(",")]
            for k in keys:
                out[k] = [p.get(k) for p in props]
            yield out

    return lines.mapInPandas(parse, schema=f"geom binary, {props_schema}")


# ---------------------------------------------------------------------------
# FeatureCollection (whole-document; per-file parallel)
# ---------------------------------------------------------------------------


def write_geojson(df: DataFrame, path: str, geom_col: str = "geom") -> int:
    """FeatureCollection sink (terminal single-file hop, like the
    reference's non-seq writer). Returns feature count."""
    attr_cols = [c for c in df.columns if c != geom_col]
    feats = []
    for row in df.select(geom_col, *attr_cols).toLocalIterator(
            prefetchPartitions=True):
        wkb = row[0]
        feats.append({
            "type": "Feature",
            "geometry": (geom_to_geojson(G.parse_wkb(bytes(wkb)))
                         if wkb is not None else None),
            "properties": dict(zip(attr_cols, row[1:])),
        })
    with open(path, "w") as f:
        json.dump({"type": "FeatureCollection", "features": feats}, f,
                  separators=(",", ":"))
    return len(feats)


def read_geojson(spark: SparkSession, path: str,
                 props_schema: str) -> DataFrame:
    """FeatureCollection source: one task per file (binaryFile scan),
    whole-document parse inside the task — a directory of .geojson
    files parallelizes per file; a single file is inherently one task
    (same as the reference's whole-file reader)."""
    keys = [c.strip().split(" ", 1)[0].strip("`")
            for c in props_schema.split(",")]

    def parse(_, content):
        feats = json.loads(content.decode("utf-8")).get("features", [])
        out = pd.DataFrame({
            "geom": [geojson_to_wkb(f["geometry"])
                     if f.get("geometry") else None for f in feats]})
        for k in keys:
            out[k] = [(f.get("properties") or {}).get(k) for f in feats]
        yield out

    return scan_files(spark, path, f"geom binary, {props_schema}", parse,
                      "*.*json" if os.path.isdir(path) else None)
