"""GeoPackage (OGC GPKG 1.3) feature source + sink.

The reference's GPKG driver (``ogr/ogrsf_frmts/gpkg/``,
``ogrgeopackagedatasource.cpp`` + ``ogrgeopackagetablelayer.cpp``) is
its most-used read/write vector container.  This module implements the
PUBLIC OGC spec (GeoPackage Encoding Standard 1.3) over stdlib
``sqlite3``, Spark-first:

- :func:`write_gpkg` — sink.  SQLite is a single-file write-locked
  format, so the writer is the terminal single-file hop (identical
  posture to the MBTiles sink and the reference's sequential
  ``CreateFeature`` loop): spec tables (``gpkg_spatial_ref_sys``,
  ``gpkg_contents``, ``gpkg_geometry_columns``) + the feature table,
  geometry as the standard GeoPackageBinary blob (``GP`` magic, flags,
  srs_id, envelope, WKB).
- :func:`read_gpkg` — distributed source.  The planner opens the file
  once for schema + rowid bounds, splits the rowid space into
  contiguous ranges, and each task opens the file READ-ONLY
  (``mode=ro`` URI — concurrent readers are safe in SQLite) and
  selects only its range.  B-tree rowid range scans are O(range), so
  a 100 GB GeoPackage reads with genuine range parallelism; on a
  cluster the file ships via broadcast filesystem / object-store
  mount exactly like the reference's /vsis3/ access.

GeoPackageBinary blob layout (spec §2.1.3): magic ``GP``, version 0,
flags (bit0 envelope-contents … we emit envelope indicator 1 = XY,
little-endian), int32 srs_id, envelope doubles, then ISO WKB.
"""

from __future__ import annotations

import os
import sqlite3
import struct

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from gdal_spark.functions import geometry as G
from gdal_spark.sources.scan import scan_manifest

_APPLICATION_ID = 0x47504B47  # 'GPKG'
_USER_VERSION = 10300  # GeoPackage 1.3.0

_SRS_ROWS = [
    ("Undefined cartesian SRS", -1, "NONE", -1, "undefined", "undefined"),
    ("Undefined geographic SRS", 0, "NONE", 0, "undefined", "undefined"),
    (
        "WGS 84 geodetic",
        4326,
        "EPSG",
        4326,
        'GEOGCS["WGS 84",DATUM["WGS_1984",SPHEROID["WGS 84",6378137,'
        '298.257223563]],PRIMEM["Greenwich",0],UNIT["degree",0.0174532925199433]]',
        "longitude/latitude coordinates in decimal degrees on the WGS 84 spheroid",
    ),
]

_SPARK_TO_SQLITE = {
    "tinyint": "INTEGER", "smallint": "INTEGER", "int": "MEDIUMINT",
    "bigint": "INTEGER", "long": "INTEGER", "float": "FLOAT",
    "double": "DOUBLE", "boolean": "BOOLEAN", "string": "TEXT",
    "binary": "BLOB",
}


def geom_to_gpkg_blob(wkb: bytes, srs_id: int = 4326) -> bytes:
    """WKB → GeoPackageBinary (envelope indicator 1: [minx maxx miny maxy])."""
    g = G.parse_wkb(wkb)
    x0, y0, x1, y1 = G.geom_bbox(g)
    flags = 0b00000011  # little-endian (bit0) | envelope indicator 1 (bits 1-3)
    return (b"GP" + bytes([0, flags])
            + struct.pack("<i", srs_id)
            + struct.pack("<4d", x0, x1, y0, y1)
            + wkb)


def gpkg_blob_to_wkb(blob: bytes) -> bytes:
    """GeoPackageBinary → the embedded WKB (spec §2.1.3 header walk)."""
    if blob[:2] != b"GP":
        raise ValueError("not a GeoPackageBinary blob")
    flags = blob[3]
    env_ind = (flags >> 1) & 0b111
    n_env = {0: 0, 1: 4, 2: 6, 3: 6, 4: 8}[env_ind]
    return blob[8 + 8 * n_env:]


def _geometry_type_name(df: DataFrame, geom_col: str) -> str:
    first = df.select(geom_col).filter(f"{geom_col} IS NOT NULL").first()
    if first is None:
        return "GEOMETRY"
    g = G.parse_wkb(bytes(first[0]))
    return {1: "POINT", 2: "LINESTRING", 3: "POLYGON", 4: "MULTIPOINT",
            5: "MULTILINESTRING", 6: "MULTIPOLYGON",
            7: "GEOMCOLLECTION"}.get(g.gtype, "GEOMETRY")


def write_gpkg(df: DataFrame, path: str, layer: str,
               geom_col: str = "geom", srs_id: int = 4326) -> dict:
    """Write ``df`` as one feature layer into a new GeoPackage."""
    attr_cols = [(c, t) for c, t in df.dtypes if c != geom_col]
    gtype = _geometry_type_name(df, geom_col)
    if os.path.exists(path):
        os.unlink(path)
    con = sqlite3.connect(path)
    try:
        cur = con.cursor()
        cur.execute(f"PRAGMA application_id = {_APPLICATION_ID}")
        cur.execute(f"PRAGMA user_version = {_USER_VERSION}")
        cur.execute(
            "CREATE TABLE gpkg_spatial_ref_sys (srs_name TEXT NOT NULL, "
            "srs_id INTEGER PRIMARY KEY, organization TEXT NOT NULL, "
            "organization_coordsys_id INTEGER NOT NULL, definition TEXT "
            "NOT NULL, description TEXT)")
        cur.executemany(
            "INSERT INTO gpkg_spatial_ref_sys VALUES (?,?,?,?,?,?)", _SRS_ROWS)
        cur.execute(
            "CREATE TABLE gpkg_contents (table_name TEXT PRIMARY KEY, "
            "data_type TEXT NOT NULL, identifier TEXT UNIQUE, description "
            "TEXT DEFAULT '', last_change DATETIME, min_x DOUBLE, min_y "
            "DOUBLE, max_x DOUBLE, max_y DOUBLE, srs_id INTEGER)")
        cur.execute(
            "CREATE TABLE gpkg_geometry_columns (table_name TEXT NOT NULL, "
            "column_name TEXT NOT NULL, geometry_type_name TEXT NOT NULL, "
            "srs_id INTEGER NOT NULL, z TINYINT NOT NULL, m TINYINT NOT "
            "NULL, CONSTRAINT pk_geom_cols PRIMARY KEY (table_name, "
            "column_name))")
        cols_sql = ", ".join(
            f'"{c}" {_SPARK_TO_SQLITE.get(t, "TEXT")}' for c, t in attr_cols)
        cur.execute(
            f'CREATE TABLE "{layer}" (fid INTEGER PRIMARY KEY AUTOINCREMENT, '
            f'"{geom_col}" BLOB{", " + cols_sql if cols_sql else ""})')

        bbox = [np.inf, np.inf, -np.inf, -np.inf]
        n = 0
        ph = ",".join("?" * (1 + len(attr_cols)))
        names = ", ".join(f'"{c}"' for c, _ in attr_cols)
        ins = (f'INSERT INTO "{layer}" ("{geom_col}"'
               f'{", " + names if names else ""}) VALUES ({ph})')
        # terminal single-file hop: SQLite holds a single write lock
        batch = []
        for row in df.select(geom_col, *[c for c, _ in attr_cols]
                             ).toLocalIterator(prefetchPartitions=True):
            wkb = row[0]
            blob = None
            if wkb is not None:
                wkb = bytes(wkb)
                blob = geom_to_gpkg_blob(wkb, srs_id)
                x0, y0, x1, y1 = G.geom_bbox(G.parse_wkb(wkb))
                bbox = [min(bbox[0], x0), min(bbox[1], y0),
                        max(bbox[2], x1), max(bbox[3], y1)]
            batch.append((blob, *row[1:]))
            n += 1
            if len(batch) >= 10000:
                cur.executemany(ins, batch)
                batch = []
        if batch:
            cur.executemany(ins, batch)
        if not np.isfinite(bbox[0]):
            bbox = [None] * 4
        cur.execute(
            "INSERT INTO gpkg_contents (table_name, data_type, identifier, "
            "last_change, min_x, min_y, max_x, max_y, srs_id) VALUES "
            "(?, 'features', ?, datetime('now'), ?, ?, ?, ?, ?)",
            (layer, layer, bbox[0], bbox[1], bbox[2], bbox[3], srs_id))
        cur.execute(
            "INSERT INTO gpkg_geometry_columns VALUES (?, ?, ?, ?, 0, 0)",
            (layer, geom_col, gtype, srs_id))
        con.commit()
    finally:
        con.close()
    return {"n": n, "geometry_type": gtype, "layer": layer}


def list_layers(path: str) -> list[str]:
    con = sqlite3.connect(f"file:{path}?mode=ro", uri=True)
    try:
        return [r[0] for r in con.execute(
            "SELECT table_name FROM gpkg_contents WHERE data_type='features'")]
    finally:
        con.close()


def read_gpkg(spark: SparkSession, path: str, layer: str,
              chunks: int | None = None) -> DataFrame:
    """Distributed GeoPackage layer scan → DataFrame(fid, geom WKB, attrs).

    rowid-range parallel: each task opens the SQLite file read-only and
    B-tree range-scans only its slice."""
    con = sqlite3.connect(f"file:{path}?mode=ro", uri=True)
    try:
        geom_col = con.execute(
            "SELECT column_name FROM gpkg_geometry_columns WHERE "
            "table_name = ?", (layer,)).fetchone()
        if geom_col is None:
            raise ValueError(f"no such feature layer {layer!r}")
        geom_col = geom_col[0]
        info = con.execute(f'PRAGMA table_info("{layer}")').fetchall()
        lo_hi = con.execute(
            f'SELECT min(rowid), max(rowid), count(*) FROM "{layer}"'
        ).fetchone()
    finally:
        con.close()
    lo, hi, n = lo_hi
    attr_cols = [(name, (decl or "TEXT").upper()) for _, name, decl, *_ in info
                 if name not in ("fid", geom_col)]
    out_names = {c: (c + "_1" if c in ("fid", "geom") else c)
                 for c, _ in attr_cols}

    def _spark_type(decl: str) -> str:
        if "INT" in decl:
            return "long"
        if decl in ("DOUBLE", "REAL", "FLOAT"):
            return "double"
        if decl == "BOOLEAN":
            return "boolean"
        if decl == "BLOB":
            return "binary"
        return "string"

    schema = "fid long, geom binary" + "".join(
        f", `{out_names[c]}` {_spark_type(t)}" for c, t in attr_cols)
    manifest = []
    if n:
        if chunks is None:
            chunks = max(1, min(spark.sparkContext.defaultParallelism * 2,
                                (n + 63) // 64))
        bounds = np.linspace(lo, hi + 1, chunks + 1).astype(np.int64)
        manifest = [{"lo": int(a), "hi": int(b) - 1}
                    for a, b in zip(bounds[:-1], bounds[1:]) if b > a]
    sel_cols = ", ".join(f'"{c}"' for c, _ in attr_cols)
    sql = (f'SELECT rowid, "{geom_col}"{", " + sel_cols if sel_cols else ""} '
           f'FROM "{layer}" WHERE rowid BETWEEN ? AND ?')
    bool_cols = {c for c, t in attr_cols if t == "BOOLEAN"}

    def decode(row):
        c = sqlite3.connect(f"file:{path}?mode=ro", uri=True)
        try:
            rows = c.execute(sql, (int(row.lo), int(row.hi))).fetchall()
        finally:
            c.close()
        out = {"fid": [r[0] for r in rows],
               "geom": [gpkg_blob_to_wkb(r[1])
                        if r[1] is not None else None for r in rows]}
        for j, (cname, _) in enumerate(attr_cols):
            vals = [r[2 + j] for r in rows]
            if cname in bool_cols:
                vals = [None if v is None else bool(v) for v in vals]
            out[out_names[cname]] = vals
        yield pd.DataFrame(out)

    return scan_manifest(spark, manifest, schema, decode)
