"""PMTiles v3 source/sink — the single-file, range-readable tile
archive (cloud-optimized successor to MBTiles).

Reference: ``ogr/ogrsf_frmts/pmtiles/`` (GDAL's PMTiles driver, which
vendors the spec's single-header C++ implementation at
``pmtiles/pmtiles.hpp``). This module reimplements the PUBLIC PMTiles
v3 format in Python/NumPy:

- 127-byte header: ``PMTiles`` magic + version 3, little-endian u64
  section offsets/byte counts + tile statistics, u8 flags
  (clustered / internal+tile compression / tile type / zoom range),
  e7-scaled i32 bounds and center (``pmtiles.hpp headerv3``).
- tile ids: Hilbert order within a zoom level plus the cumulative
  4^z offset of the coarser levels (``zxy_to_tileid``).
- directories: varint-encoded struct-of-arrays — entry count,
  delta-encoded tile ids, run lengths, lengths, then offsets where 0
  means "contiguous with the previous entry" else offset+1
  (``serialize_directory``). Directories and JSON metadata are
  gzip-compressed (internal_compression=2).

Scale story: the header+directories are a few KB read once; every
tile is then ONE ranged read at (tile_data_offset + entry.offset,
entry.length) — on object storage that is one ranged GET per task
with no index server, which is the entire point of the format. The
Spark reader builds an entry manifest on the driver (bounded: one row
per tile entry) and fans the ranged reads out to executors. The
writer is a terminal single-file hop like MBTiles (one archive = one
writer), streamed via ``toLocalIterator`` in tile-id order so the
archive is clustered.
"""

from __future__ import annotations

import gzip
import json
import os
import struct

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gdal_spark.sources.scan import scan_manifest

MAGIC = b"PMTiles"
HEADER_SIZE = 127
COMPRESSION_NONE = 1
COMPRESSION_GZIP = 2
TILE_TYPES = {"unknown": 0, "mvt": 1, "png": 2, "jpeg": 3, "webp": 4}


# ---------------------------------------------------------------------------
# Hilbert tile ids (pmtiles.hpp zxy_to_tileid / tileid_to_zxy)
# ---------------------------------------------------------------------------


def _rotate(s: int, x: int, y: int, rx: int, ry: int) -> tuple[int, int]:
    if ry == 0:
        if rx == 1:
            x = s - 1 - x
            y = s - 1 - y
        x, y = y, x
    return x, y


def zxy_to_tileid(z: int, x: int, y: int) -> int:
    if z > 31:
        raise OverflowError("tile zoom exceeds 64-bit limit")
    if x >= (1 << z) or y >= (1 << z):
        raise OverflowError("tile x/y outside zoom level bounds")
    acc = ((1 << (2 * z)) - 1) // 3  # sum of 4^t for t < z
    d = 0
    s = (1 << z) >> 1
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        x, y = _rotate(s, x, y, rx, ry)
        s >>= 1
    return acc + d


def tileid_to_zxy(tileid: int) -> tuple[int, int, int]:
    acc = 0
    for z in range(32):
        num = 1 << (2 * z)
        if acc + num > tileid:
            pos = tileid - acc
            n = 1 << z
            x = y = 0
            t = pos
            s = 1
            while s < n:
                rx = 1 & (t // 2)
                ry = 1 & (t ^ rx)
                x, y = _rotate(s, x, y, rx, ry)
                x += s * rx
                y += s * ry
                t //= 4
                s *= 2
            return z, x, y
        acc += num
    raise OverflowError("tile zoom exceeds 64-bit limit")


# ---------------------------------------------------------------------------
# varint + directory codec (pmtiles.hpp serialize/deserialize_directory)
# ---------------------------------------------------------------------------


def _write_varint(out: bytearray, n: int) -> None:
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return


def _read_varint(buf: bytes, i: int) -> tuple[int, int]:
    shift = 0
    val = 0
    while True:
        b = buf[i]
        val |= (b & 0x7F) << shift
        i += 1
        if not b & 0x80:
            return val, i
        shift += 7


def serialize_directory(entries: list[tuple[int, int, int, int]]) -> bytes:
    """entries: [(tile_id, offset, length, run_length)] sorted by id."""
    out = bytearray()
    _write_varint(out, len(entries))
    last = 0
    for tid, _, _, _ in entries:
        _write_varint(out, tid - last)
        last = tid
    for _, _, _, rl in entries:
        _write_varint(out, rl)
    for _, _, ln, _ in entries:
        _write_varint(out, ln)
    for i, (_, off, ln, _) in enumerate(entries):
        if i > 0 and off == entries[i - 1][1] + entries[i - 1][2]:
            _write_varint(out, 0)
        else:
            _write_varint(out, off + 1)
    return bytes(out)


def deserialize_directory(buf: bytes) -> list[tuple[int, int, int, int]]:
    n, i = _read_varint(buf, 0)
    tids, rls, lns, offs = [], [], [], []
    last = 0
    for _ in range(n):
        d, i = _read_varint(buf, i)
        last += d
        tids.append(last)
    for _ in range(n):
        v, i = _read_varint(buf, i)
        rls.append(v)
    for _ in range(n):
        v, i = _read_varint(buf, i)
        lns.append(v)
    for k in range(n):
        v, i = _read_varint(buf, i)
        if v == 0:
            offs.append(offs[k - 1] + lns[k - 1])
        else:
            offs.append(v - 1)
    return list(zip(tids, offs, lns, rls))


# ---------------------------------------------------------------------------
# header codec
# ---------------------------------------------------------------------------

_HEADER_FMT = "<11Q6B4iB2i"  # after the 8-byte magic+version


def _pack_header(h: dict) -> bytes:
    return (
        MAGIC
        + bytes([3])
        + struct.pack(
            _HEADER_FMT,
            h["root_dir_offset"],
            h["root_dir_bytes"],
            h["json_metadata_offset"],
            h["json_metadata_bytes"],
            h["leaf_dirs_offset"],
            h["leaf_dirs_bytes"],
            h["tile_data_offset"],
            h["tile_data_bytes"],
            h["addressed_tiles_count"],
            h["tile_entries_count"],
            h["tile_contents_count"],
            1 if h.get("clustered", True) else 0,
            h.get("internal_compression", COMPRESSION_GZIP),
            h.get("tile_compression", COMPRESSION_NONE),
            h.get("tile_type", 1),
            h.get("min_zoom", 0),
            h.get("max_zoom", 0),
            int(h.get("min_lon", -180.0) * 1e7),
            int(h.get("min_lat", -85.0) * 1e7),
            int(h.get("max_lon", 180.0) * 1e7),
            int(h.get("max_lat", 85.0) * 1e7),
            h.get("center_zoom", 0),
            int(h.get("center_lon", 0.0) * 1e7),
            int(h.get("center_lat", 0.0) * 1e7),
        )
    )


def read_header(path: str) -> dict:
    with open(path, "rb") as f:
        raw = f.read(HEADER_SIZE)
    if raw[:7] != MAGIC or raw[7] != 3:
        raise ValueError("not a PMTiles v3 archive")
    v = struct.unpack(_HEADER_FMT, raw[8:HEADER_SIZE])
    keys = [
        "root_dir_offset", "root_dir_bytes", "json_metadata_offset",
        "json_metadata_bytes", "leaf_dirs_offset", "leaf_dirs_bytes",
        "tile_data_offset", "tile_data_bytes", "addressed_tiles_count",
        "tile_entries_count", "tile_contents_count", "clustered",
        "internal_compression", "tile_compression", "tile_type",
        "min_zoom", "max_zoom", "min_lon_e7", "min_lat_e7",
        "max_lon_e7", "max_lat_e7", "center_zoom", "center_lon_e7",
        "center_lat_e7",
    ]
    return dict(zip(keys, v))


# ---------------------------------------------------------------------------
# writer / reader
# ---------------------------------------------------------------------------


def write_pmtiles(
    tiles: DataFrame,
    path: str,
    tile_type: str = "mvt",
    metadata: dict | None = None,
    bounds: tuple[float, float, float, float] = (-180.0, -85.0, 180.0, 85.0),
    leaf_size: int = 16384,
) -> dict:
    """(z, tx TMS-y ty, tile) DataFrame → one PMTiles v3 archive.

    Terminal single-file hop (same constraint as MBTiles); tiles are
    streamed to the data section in Hilbert tile-id order via
    ``toLocalIterator`` so the archive is clustered. XYZ y per spec
    (our TMS ``ty`` flips)."""
    rows = tiles.select("z", "tx", "ty", "tile")
    zmin_zmax = rows.agg(F.min("z"), F.max("z")).collect()[0]
    if zmin_zmax[0] is None:
        raise ValueError("write_pmtiles: no tiles to write (empty DataFrame)")
    it = rows.toLocalIterator()
    staged = []
    for r in it:
        y_xyz = (1 << r.z) - 1 - r.ty
        staged.append((zxy_to_tileid(r.z, r.tx, y_xyz), bytes(r.tile)))
    staged.sort(key=lambda t: t[0])
    entries = []
    data = bytearray()
    content_offsets: dict[bytes, tuple[int, int]] = {}
    for tid, blob in staged:
        if blob in content_offsets:  # dedup identical tiles (spec allows)
            off, ln = content_offsets[blob]
        else:
            off, ln = len(data), len(blob)
            data.extend(blob)
            content_offsets[blob] = (off, ln)
        entries.append((tid, off, ln, 1))
    root, leaves = _build_directories(entries, leaf_size)
    meta_raw = gzip.compress(
        json.dumps(metadata or {}).encode("utf-8"), 6
    )
    root_off = HEADER_SIZE
    meta_off = root_off + len(root)
    leaf_off = meta_off + len(meta_raw)
    data_off = leaf_off + len(leaves)
    header = _pack_header(
        {
            "root_dir_offset": root_off,
            "root_dir_bytes": len(root),
            "json_metadata_offset": meta_off,
            "json_metadata_bytes": len(meta_raw),
            "leaf_dirs_offset": leaf_off,
            "leaf_dirs_bytes": len(leaves),
            "tile_data_offset": data_off,
            "tile_data_bytes": len(data),
            "addressed_tiles_count": len(entries),
            "tile_entries_count": len(entries),
            "tile_contents_count": len(content_offsets),
            "clustered": True,
            "internal_compression": COMPRESSION_GZIP,
            "tile_compression": COMPRESSION_NONE,
            "tile_type": TILE_TYPES.get(tile_type, 0),
            "min_zoom": int(zmin_zmax[0]),
            "max_zoom": int(zmin_zmax[1]),
            "min_lon": bounds[0],
            "min_lat": bounds[1],
            "max_lon": bounds[2],
            "max_lat": bounds[3],
            "center_zoom": int(zmin_zmax[0]),
            "center_lon": (bounds[0] + bounds[2]) / 2.0,
            "center_lat": (bounds[1] + bounds[3]) / 2.0,
        }
    )
    with open(path, "wb") as f:
        f.write(header)
        f.write(root)
        f.write(meta_raw)
        f.write(leaves)
        f.write(bytes(data))
    return {
        "entries": len(entries),
        "leaf_bytes": len(leaves),
        "bytes": HEADER_SIZE + len(root) + len(meta_raw) + len(leaves) + len(data),
    }


def _build_directories(
    entries: list[tuple[int, int, int, int]], leaf_size: int
) -> tuple[bytes, bytes]:
    """Root directory (gzip), optionally splitting into leaf
    directories of ``leaf_size`` entries when the root would exceed it
    (``pmtiles.hpp make_root_leaves`` shape: root entries carry
    run_length 0 and point at (offset, length) ranges INSIDE the leaf
    section). At planet scale (~10⁹ tiles) the root stays KBs and each
    lookup is header → root → one leaf → one tile range read."""
    if len(entries) <= leaf_size:
        return gzip.compress(serialize_directory(entries), 6), b""
    leaves = bytearray()
    root_entries = []
    for i in range(0, len(entries), leaf_size):
        chunk = entries[i : i + leaf_size]
        blob = gzip.compress(serialize_directory(chunk), 6)
        root_entries.append((chunk[0][0], len(leaves), len(blob), 0))
        leaves.extend(blob)
    return gzip.compress(serialize_directory(root_entries), 6), bytes(leaves)


def read_entries(path: str) -> list[tuple[int, int, int, int, int]]:
    """Driver-side directory walk → [(z, x, y_xyz, offset, length)]
    (leaf directories followed when present; run lengths expanded)."""
    h = read_header(path)
    with open(path, "rb") as f:
        f.seek(h["root_dir_offset"])
        raw = f.read(h["root_dir_bytes"])
        if h["internal_compression"] == COMPRESSION_GZIP:
            raw = gzip.decompress(raw)
        root = deserialize_directory(raw)
        out = []

        def walk(entries):
            for tid, off, ln, rl in entries:
                if rl == 0:  # leaf directory pointer
                    f.seek(h["leaf_dirs_offset"] + off)
                    leaf_raw = f.read(ln)
                    if h["internal_compression"] == COMPRESSION_GZIP:
                        leaf_raw = gzip.decompress(leaf_raw)
                    walk(deserialize_directory(leaf_raw))
                else:
                    for k in range(rl):
                        z, x, y = tileid_to_zxy(tid + k)
                        out.append((z, x, y, off, ln))

        walk(root)
    return out


def read_pmtiles(spark: SparkSession, path: str) -> DataFrame:
    """Distributed tile fetch: entry manifest → one ranged read per
    tile on the executors → (z, tx, ty TMS, tile)."""
    h = read_header(path)
    data_off = h["tile_data_offset"]
    tile_comp = h.get("tile_compression", COMPRESSION_NONE)
    if tile_comp not in (0, COMPRESSION_NONE, COMPRESSION_GZIP):
        # 3=brotli, 4=zstd per spec — not in this container; never
        # silently hand back compressed bytes.
        raise NotImplementedError(
            f"PMTiles tile_compression={tile_comp} (brotli/zstd) unsupported; "
            "swap in a cluster codec library"
        )
    ents = [dict(zip(("z", "x", "y", "off", "ln"), e)) for e in read_entries(path)]

    def fetch(r, f):
        f.seek(data_off + int(r.off))
        blob = f.read(int(r.ln))
        if tile_comp == COMPRESSION_GZIP:
            blob = gzip.decompress(blob)
        yield pd.DataFrame({
            "z": [int(r.z)],
            "tx": [int(r.x)],
            "ty": [(1 << int(r.z)) - 1 - int(r.y)],
            "tile": [blob],
        })

    return scan_manifest(
        spark, ents, "z int, tx int, ty int, tile binary", fetch, path)
