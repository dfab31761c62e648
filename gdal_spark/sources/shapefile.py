"""ESRI Shapefile source/sink — the reference's most-used vector format.

The reference reads/writes shapefiles through Shapelib
(``ogr/ogrsf_frmts/shape/shpopen.c``, ``dbfopen.c``; driver
``ogrshapelayer.cpp``).  This module reimplements the PUBLIC format
(ESRI Shapefile Technical Description, July 1998) Spark-first:

- :func:`write_shapefile` — sink.  A shapefile is a single-file-family
  format (``.shp`` geometry + ``.shx`` index + ``.dbf`` attributes), so
  the writer is the same terminal single-file hop as the MBTiles sink
  (``gdal_spark/raster/mbtiles.py``): partitions stream through
  ``toLocalIterator`` and the driver appends records — the write is
  I/O-bound on one file regardless of engine, exactly like the
  reference's sequential SHPWriteObject loop.
- :func:`read_shapefile` — distributed source.  The ``.shx`` index is 8
  bytes/record, so the planner reads ONLY the index (and the fixed-size
  ``.dbf`` header), splits the fid space into contiguous chunks sized
  for the cluster, and emits one tiny manifest row per chunk.  Tasks
  then byte-range read their slice of ``.shp`` and ``.dbf``
  independently — no task ever touches another task's bytes, so a
  multi-GB shapefile scans with the same record-range parallelism the
  netCDF slab reader uses (``gdal_spark/sources/netcdf.py``).  On
  object storage these become ranged GETs.

Geometry arrives as WKB (the repo-wide geometry interchange), so every
downstream operator (spatial joins, layer algebra, ogr2ogr pipeline)
runs unchanged on shapefile input.

Scope: shape types NULL(0), POINT(1), ARC/PolyLine(3), POLYGON(5),
MULTIPOINT(8) and their Z variants (11, 13, 15, 18 — Z only, measures
read-skipped like GDAL's default).  DBF field types C (string),
N (int/decimal), F (float), L (logical), D (date-as-string).

Polygon ring → hole assignment follows the spec: clockwise rings are
outer, counter-clockwise rings are holes; holes attach to the outer
ring that contains their first vertex (``shpopen.c`` leaves this to the
OGR layer, ``ogrshapelayer.cpp`` / ``shape2ogr.cpp:OrganizePolygons``).
"""

from __future__ import annotations

import math
import struct

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from gdal_spark.functions import geometry as G
from gdal_spark.sources.scan import scan_manifest

SHP_NULL = 0
SHP_POINT = 1
SHP_ARC = 3
SHP_POLYGON = 5
SHP_MULTIPOINT = 8
SHP_POINT_Z = 11
SHP_ARC_Z = 13
SHP_POLYGON_Z = 15
SHP_MULTIPOINT_Z = 18

# ---------------------------------------------------------------------------
# geometry conversion: repo Geom <-> shapefile record payloads
# ---------------------------------------------------------------------------


def _ring_cw(ring: np.ndarray) -> np.ndarray:
    """Return ring with clockwise orientation (shapefile outer rings)."""
    return ring[::-1] if G.ring_signed_area(ring) > 0 else ring


def _ring_ccw(ring: np.ndarray) -> np.ndarray:
    return ring[::-1] if G.ring_signed_area(ring) < 0 else ring


def _full_parts(g) -> list[np.ndarray]:
    """Full-width coordinate parts (falls back to 2-D arrays)."""
    if g.full:
        return [np.asarray(a, dtype=np.float64) for a in g.full]
    return [np.asarray(a, dtype=np.float64) for a in (g.rings or g.coords)]


def _shape_payload(g, has_z: bool) -> tuple[int, bytes]:
    """Encode one parsed Geom as (shape_type, LE record payload)."""
    t = g.gtype
    if t == G.WKB_POINT:
        pt = _full_parts(g)[0][0]
        if has_z:
            return SHP_POINT_Z, struct.pack(
                "<idddd", SHP_POINT_Z, pt[0], pt[1],
                pt[2] if pt.size > 2 else 0.0, 0.0)
        return SHP_POINT, struct.pack("<idd", SHP_POINT, pt[0], pt[1])

    if t in (G.WKB_LINESTRING, G.WKB_MULTILINESTRING):
        parts = _full_parts(g)
        stype = SHP_ARC_Z if has_z else SHP_ARC
    elif t in (G.WKB_POLYGON, G.WKB_MULTIPOLYGON):
        # spec ring orientation: exterior CW, holes CCW
        parts = [
            (_ring_cw(r) if is_ext else _ring_ccw(r))
            for r, is_ext in zip(_full_parts(g), g.ring_roles)
        ]
        stype = SHP_POLYGON_Z if has_z else SHP_POLYGON
    elif t == G.WKB_MULTIPOINT:
        pts = np.concatenate(_full_parts(g), axis=0)
        head = struct.pack(
            "<i4di",
            SHP_MULTIPOINT_Z if has_z else SHP_MULTIPOINT,
            float(pts[:, 0].min()), float(pts[:, 1].min()),
            float(pts[:, 0].max()), float(pts[:, 1].max()), len(pts))
        body = np.ascontiguousarray(pts[:, :2]).astype("<f8").tobytes()
        if has_z:
            z = pts[:, 2] if pts.shape[1] > 2 else np.zeros(len(pts))
            body += struct.pack("<dd", float(z.min()), float(z.max()))
            body += z.astype("<f8").tobytes()
        return (SHP_MULTIPOINT_Z if has_z else SHP_MULTIPOINT), head + body
    else:
        raise NotImplementedError(
            f"shapefile cannot store WKB type {t}; the reference rejects it "
            "the same way (ogr/ogrsf_frmts/shape/ogrshapelayer.cpp)")

    allpts = np.concatenate([p[:, :2] for p in parts], axis=0)
    starts, acc = [], 0
    for p in parts:
        starts.append(acc)
        acc += len(p)
    head = struct.pack(
        "<i4dii", stype,
        float(allpts[:, 0].min()), float(allpts[:, 1].min()),
        float(allpts[:, 0].max()), float(allpts[:, 1].max()),
        len(parts), acc)
    body = np.asarray(starts, dtype="<i4").tobytes()
    body += np.ascontiguousarray(allpts).astype("<f8").tobytes()
    if has_z:
        zs = np.concatenate(
            [p[:, 2] if p.shape[1] > 2 else np.zeros(len(p)) for p in parts])
        body += struct.pack("<dd", float(zs.min()), float(zs.max()))
        body += zs.astype("<f8").tobytes()
    return stype, head + body


def _payload_to_wkb(buf: bytes) -> bytes | None:
    """Decode one .shp record payload (little-endian) to WKB."""
    (stype,) = struct.unpack_from("<i", buf, 0)
    if stype == SHP_NULL:
        return None
    has_z = stype in (SHP_POINT_Z, SHP_ARC_Z, SHP_POLYGON_Z, SHP_MULTIPOINT_Z)
    base = {SHP_POINT_Z: SHP_POINT, SHP_ARC_Z: SHP_ARC,
            SHP_POLYGON_Z: SHP_POLYGON, SHP_MULTIPOINT_Z: SHP_MULTIPOINT
            }.get(stype, stype)

    if base == SHP_POINT:
        x, y = struct.unpack_from("<dd", buf, 4)
        if has_z:
            (z,) = struct.unpack_from("<d", buf, 20)
            return G.wkb_point(x, y, z)
        return G.wkb_point(x, y)

    if base == SHP_MULTIPOINT:
        (n,) = struct.unpack_from("<i", buf, 36)
        pts = np.frombuffer(buf, dtype="<f8", count=2 * n, offset=40)
        pts = pts.reshape(n, 2)
        if has_z:
            z = np.frombuffer(buf, dtype="<f8", count=n, offset=40 + 16 * n + 16)
            coords = np.column_stack([pts, z])
        else:
            coords = pts
        members = [G.wkb_point(*c) for c in coords]
        code = (1000 if has_z else 0) + G.WKB_MULTIPOINT
        return struct.pack("<BII", 1, code, n) + b"".join(members)

    # ARC / POLYGON share the parts layout
    nparts, npts = struct.unpack_from("<ii", buf, 36)
    off = 44
    starts = np.frombuffer(buf, dtype="<i4", count=nparts, offset=off)
    off += 4 * nparts
    pts = np.frombuffer(buf, dtype="<f8", count=2 * npts, offset=off)
    pts = pts.reshape(npts, 2)
    off += 16 * npts
    if has_z:
        z = np.frombuffer(buf, dtype="<f8", count=npts, offset=off + 16)
        pts = np.column_stack([pts, z])
    bounds = list(starts) + [npts]
    parts = [pts[bounds[i]:bounds[i + 1]] for i in range(nparts)]

    if base == SHP_ARC:
        if nparts == 1:
            return G.wkb_linestring(parts[0])
        code = (1000 if has_z else 0) + G.WKB_MULTILINESTRING
        members = [G.wkb_linestring(p) for p in parts]
        return struct.pack("<BII", 1, code, nparts) + b"".join(members)

    # POLYGON: CW = outer, CCW = hole attached to containing outer ring
    outers: list[list[np.ndarray]] = []
    holes: list[np.ndarray] = []
    for p in parts:
        if G.ring_signed_area(p[:, :2]) <= 0:  # CW in planar = signed<=0
            outers.append([p])
        else:
            holes.append(p)
    if not outers:  # degenerate: treat all as one polygon
        outers, holes = [[parts[0]]], parts[1:]
    for h in holes:
        placed = False
        for poly in outers:
            if bool(G.points_in_rings(h[:1, 0], h[:1, 1], [poly[0][:, :2]])[0]):
                poly.append(h)
                placed = True
                break
        if not placed:
            outers[0].append(h)
    if len(outers) == 1:
        return G.wkb_polygon(outers[0])
    return G.wkb_multipolygon(outers)


# ---------------------------------------------------------------------------
# DBF
# ---------------------------------------------------------------------------


def _dbf_fields_for(df: DataFrame, cols: list[str]) -> list[tuple]:
    """(name, type, width, decimals) per attribute column, from the
    Spark schema (mirrors ogrshapelayer.cpp CreateField defaults)."""
    types = dict(df.dtypes)
    fields = []
    for c in cols:
        t = types[c]
        if t in ("tinyint", "smallint", "int", "bigint", "long"):
            fields.append((c, "N", 18, 0))
        elif t in ("float", "double") or t.startswith("decimal"):
            fields.append((c, "N", 24, 6))
        elif t == "boolean":
            fields.append((c, "L", 1, 0))
        else:
            fields.append((c, "C", 80, 0))
    return fields


def _dbf_header(fields: list[tuple], nrec: int) -> bytes:
    rec_size = 1 + sum(f[2] for f in fields)
    hdr_size = 32 + 32 * len(fields) + 1
    out = struct.pack("<BBBBIHH20x", 3, 126, 8, 18, nrec, hdr_size, rec_size)
    for name, ftype, width, dec in fields:
        out += struct.pack(
            "<11sc4xBB14x", name.encode("ascii")[:10].ljust(11, b"\0"),
            ftype.encode("ascii"), width, dec)
    return out + b"\x0d"


def _dbf_format_value(v, ftype: str, width: int, dec: int) -> bytes:
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return b" " * width
    if ftype == "N":
        txt = (f"{v:.{dec}f}" if dec else f"{int(v)}").rjust(width)
    elif ftype == "L":
        txt = "T" if v else "F"
    else:
        txt = str(v).ljust(width)
    b = txt.encode("utf-8")[:width]
    return b.rjust(width) if ftype == "N" else b.ljust(width)


# ---------------------------------------------------------------------------
# writer (terminal single-file hop, same shape as the reference's writer)
# ---------------------------------------------------------------------------


def write_shapefile(df: DataFrame, base: str, geom_col: str = "geom") -> dict:
    """Write ``df`` to ``base``.shp/.shx/.dbf.  Geometry column is WKB;
    every other column becomes a DBF attribute (column order kept).

    Returns {"n": records, "shape_type": t, "bbox": (...)}.
    """
    attr_cols = [c for c in df.columns if c != geom_col]
    shp_path, shx_path, dbf_path = (base + e for e in (".shp", ".shx", ".dbf"))

    records: list[tuple[int, bytes]] = []
    rows: list[tuple] = []
    stype_out = SHP_NULL
    bbox = [np.inf, np.inf, -np.inf, -np.inf]
    fields = _dbf_fields_for(df, attr_cols)
    # single-file-family format: stream partitions through the driver
    # (identical posture to raster/mbtiles.py:43 and the reference's
    # sequential SHPWriteObject loop in shpopen.c)
    cols = [geom_col] + attr_cols
    for row in df.select(*cols).toLocalIterator(prefetchPartitions=True):
        wkb = row[0]
        if wkb is None:
            records.append((SHP_NULL, struct.pack("<i", SHP_NULL)))
        else:
            g = G.parse_wkb(bytes(wkb))
            has_z = G.geom_coord_dim(g) >= 3
            st, payload = _shape_payload(g, has_z)
            stype_out = stype_out or st
            x0, y0, x1, y1 = G.geom_bbox(g)
            bbox = [min(bbox[0], x0), min(bbox[1], y0),
                    max(bbox[2], x1), max(bbox[3], y1)]
            records.append((st, payload))
        rows.append(tuple(row[1:]))
    if not np.isfinite(bbox[0]):
        bbox = [0.0, 0.0, 0.0, 0.0]

    shp_body, shx_body = bytearray(), bytearray()
    off_words = 50  # header = 100 bytes
    for i, (st, payload) in enumerate(records):
        clen = len(payload) // 2
        shx_body += struct.pack(">ii", off_words, clen)
        shp_body += struct.pack(">ii", i + 1, clen) + payload
        off_words += 4 + clen

    def _main_header(total_words: int) -> bytes:
        # file code 9994 + length (big-endian words), version 1000 +
        # shape type (little), xmin/ymin/xmax/ymax + Z/M ranges
        return (
            struct.pack(">i20xi", 9994, total_words)
            + struct.pack("<ii", 1000, stype_out)
            + struct.pack("<4d", *bbox)
            + struct.pack("<4d", 0.0, 0.0, 0.0, 0.0)
        )

    with open(shp_path, "wb") as f:
        f.write(_main_header(50 + len(shp_body) // 2))
        f.write(bytes(shp_body))
    with open(shx_path, "wb") as f:
        f.write(_main_header(50 + len(shx_body) // 2))
        f.write(bytes(shx_body))
    with open(dbf_path, "wb") as f:
        f.write(_dbf_header(fields, len(rows)))
        for r in rows:
            f.write(b" " + b"".join(
                _dbf_format_value(v, ft, w, dc)
                for v, (name, ft, w, dc) in zip(r, fields)))
        f.write(b"\x1a")
    return {"n": len(records), "shape_type": stype_out, "bbox": tuple(bbox)}


# ---------------------------------------------------------------------------
# reader (record-range-parallel)
# ---------------------------------------------------------------------------


def _read_dbf_header(path: str) -> tuple[int, int, int, list[tuple]]:
    with open(path, "rb") as f:
        head = f.read(32)
        nrec, hdr_size, rec_size = struct.unpack_from("<IHH", head, 4)
        fields = []
        while True:
            fd = f.read(32)
            if not fd or fd[:1] == b"\x0d":
                break
            name = fd[:11].split(b"\0")[0].decode("ascii")
            ftype = chr(fd[11])
            width, dec = fd[16], fd[17]
            fields.append((name, ftype, width, dec))
            if 32 + 32 * len(fields) >= hdr_size:
                break
    return nrec, hdr_size, rec_size, fields


def read_shapefile(spark: SparkSession, base: str,
                   chunks: int | None = None) -> DataFrame:
    """Distributed shapefile scan → DataFrame(fid, geom WKB, attrs...).

    Planner reads only the tiny ``.shx`` (8 B/record) + ``.dbf`` header;
    tasks byte-range read their contiguous slice of ``.shp``/``.dbf``.
    """
    shp_path, shx_path, dbf_path = (base + e for e in (".shp", ".shx", ".dbf"))
    with open(shx_path, "rb") as f:
        shx = f.read()
    idx = np.frombuffer(shx, dtype=">i4", offset=100).reshape(-1, 2)
    offsets = idx[:, 0].astype(np.int64) * 2       # record header offset
    lengths = idx[:, 1].astype(np.int64) * 2 + 8   # incl. 8-byte rec header
    nrec = len(offsets)
    nrec_dbf, dbf_hdr, dbf_rec, fields = _read_dbf_header(dbf_path)
    if nrec_dbf != nrec:
        raise ValueError(f"shp/dbf record count mismatch {nrec} vs {nrec_dbf}")
    # DBF fields shadowing the reader's own columns get suffixed (the
    # reference renames colliding FID fields the same way,
    # ogrshapelayer.cpp deferred-FID handling)
    fields = [((n + "_1") if n in ("fid", "geom") else n, t, w, d)
              for n, t, w, d in fields]

    if chunks is None:
        chunks = max(1, min(spark.sparkContext.defaultParallelism * 2,
                            (nrec + 63) // 64))
    bounds = np.linspace(0, nrec, chunks + 1).astype(np.int64)
    # records are written sequentially (offsets strictly increasing —
    # the only layout shpopen.c's writer produces), so each chunk is
    # one contiguous byte span and tasks walk records by their
    # per-record length headers: no index array ships to executors.
    manifest = [
        {"fid0": int(a), "fid1": int(b),
         "shp_off": int(offsets[a]),
         "shp_end": int(offsets[b - 1] + lengths[b - 1])}
        for a, b in zip(bounds[:-1], bounds[1:]) if b > a
    ]

    spark_fields = []
    for name, ftype, width, dec in fields:
        if ftype == "N" and dec == 0 or ftype == "I":
            spark_fields.append(f"`{name}` long")
        elif ftype in ("N", "F", "O"):
            spark_fields.append(f"`{name}` double")
        elif ftype == "L":
            spark_fields.append(f"`{name}` boolean")
        else:
            spark_fields.append(f"`{name}` string")
    schema = "fid long, geom binary, " + ", ".join(spark_fields)

    def decode(row):
        with open(shp_path, "rb") as f:
            f.seek(row.shp_off)
            blob = f.read(row.shp_end - row.shp_off)
        n = row.fid1 - row.fid0
        with open(dbf_path, "rb") as f:
            f.seek(dbf_hdr + row.fid0 * dbf_rec)
            dblob = f.read(n * dbf_rec)
        out = {"fid": np.arange(row.fid0, row.fid1, dtype=np.int64)}
        geoms, o = [], 0
        for _ in range(n):
            clen = struct.unpack_from(">i", blob, o + 4)[0] * 2
            geoms.append(_payload_to_wkb(blob[o + 8:o + 8 + clen]))
            o += 8 + clen
        out["geom"] = geoms
        arr = np.frombuffer(dblob, dtype=f"S{dbf_rec}", count=n)
        arr = arr.view("S1").reshape(n, dbf_rec)
        pos = 1
        for name, ftype, width, dec in fields:
            raw = arr[:, pos:pos + width].view(f"S{width}").ravel()
            txt = np.char.strip(np.char.decode(raw, "utf-8"))
            if ftype == "N" and dec == 0:
                vals = pd.array(
                    [int(t) if t else None for t in txt], dtype="Int64")
            elif ftype in ("N", "F"):
                vals = pd.array(
                    [float(t) if t else None for t in txt], dtype="Float64")
            elif ftype == "L":
                vals = pd.array(
                    [t in ("T", "t", "Y", "y") if t else None for t in txt],
                    dtype="boolean")
            else:
                vals = txt
            out[name] = vals
            pos += width
        yield pd.DataFrame(out)

    return scan_manifest(spark, manifest, schema, decode)
