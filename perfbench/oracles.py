"""Independent oracles and the order-insensitive row digest.

A result is summarised as ``(rows, d1, d2)``: the row count and two
sums of a per-row polynomial hash of its key columns, modulo two
primes. The same integer arithmetic is written three times -- as a
Spark column, as DuckDB SQL and in NumPy -- and every intermediate
stays below 2**63, so the three agree exactly. Key values must be
non-negative integers below 2**31.

Oracles use no engine code, with two documented exceptions in the
tile_pyramid reference render: JPEG sources are compared with what the
engine's JPEG decoder returns (the lossy codec is the input, not the
output, of the pass), and the inputs themselves are encoded with the
engine's encoders.
"""

from __future__ import annotations

import math
import struct
import zlib

import numpy as np

HASHES = ((2147483647, 1000003), (2147483629, 999983))  # (modulus, multiplier)


def digest_np(*cols) -> tuple[int, int, int]:
    cols = [np.asarray(c, dtype=np.int64) for c in cols]
    n = len(cols[0]) if cols else 0
    out = [n]
    for m, p in HASHES:
        h = np.zeros(n, dtype=np.int64)
        for c in cols:
            h = (h * p + c) % m
        out.append(int(h.sum()))
    return tuple(out)


def digest_sql(cols: list[str]) -> str:
    """DuckDB select list computing ``(rows, d1, d2)`` over ``cols``."""
    parts = ["count(*)"]
    for m, p in HASHES:
        e = "0"
        for c in cols:
            e = f"(({e}) * {p} + CAST({c} AS BIGINT)) % {m}"
        parts.append(f"CAST(coalesce(sum({e}), 0) AS BIGINT)")
    return ", ".join(parts)


def digest_cols(cols: list[str]):
    """Spark columns ``h1, h2`` for :func:`digest_np`'s per-row hash."""
    from pyspark.sql import functions as F

    out = []
    for m, p in HASHES:
        e = F.lit(0).cast("long")
        for c in cols:
            e = F.pmod(e * F.lit(p).cast("long") + F.col(c).cast("long"), F.lit(m).cast("long"))
        out.append(e)
    return out


# ---------------------------------------------------------------------------
# bbox join and tile cover: DuckDB over the parquet inputs
# ---------------------------------------------------------------------------

ORIGIN_SHIFT = 2 * math.pi * 6378137.0 / 2.0


def _d(x: float) -> str:
    return f"CAST({x!r} AS DOUBLE)"


def _tile_sql(col: str, zoom: int, axis: str) -> str:
    """gdal2tiles MetersToTile: ``ceil(px / 256) - 1`` of the mercator
    pixel, as DuckDB SQL with DOUBLE literals."""
    res = (2 * math.pi * 6378137.0 / 256) / (2 ** zoom)
    if axis == "x":
        m = f"({col} * {_d(ORIGIN_SHIFT)} / {_d(180.0)})"
    else:
        inner = f"(({_d(90.0)} + {col}) * {_d(math.pi)} / {_d(360.0)})"
        m = f"(ln(tan({inner})) / {_d(math.pi / 180.0)} * {_d(ORIGIN_SHIFT)} / {_d(180.0)})"
    return f"CAST(ceil(({m} + {_d(ORIGIN_SHIFT)}) / {_d(res)} / {_d(256.0)}) - 1 AS BIGINT)"


def bbox_join_and_tiles(root: str, zoom: int = 12) -> dict:
    import duckdb

    con = duckdb.connect()
    try:
        fp = f"read_parquet('{root}/footprints/*.parquet')"
        aoi = f"read_parquet('{root}/aoi/*.parquet')"
        pairs = con.execute(
            f"SELECT {digest_sql(['f.image_id', 'a.aoi_id'])} FROM {fp} f JOIN {aoi} a "
            "ON f.lon_min <= a.lon_max AND a.lon_min <= f.lon_max "
            "AND f.lat_min <= a.lat_max AND a.lat_min <= f.lat_max"
        ).fetchone()
        cover = (
            f"SELECT image_id, {_tile_sql('lon_min', zoom, 'x')} AS tx0, "
            f"{_tile_sql('lon_max', zoom, 'x')} AS tx1, {_tile_sql('lat_min', zoom, 'y')} AS ty0, "
            f"{_tile_sql('lat_max', zoom, 'y')} AS ty1 FROM {fp}"
        )
        tiles = con.execute(
            f"SELECT {digest_sql(['image_id', 'tx', f'{(1 << zoom) - 1} - ty'])} FROM ({cover}) t, "
            "(SELECT unnest(generate_series(t.tx0, t.tx1)) AS tx), "
            "(SELECT unnest(generate_series(t.ty0, t.ty1)) AS ty)"
        ).fetchone()
    finally:
        con.close()
    return {"pairs": list(pairs), "tiles": list(tiles)}


# ---------------------------------------------------------------------------
# point-in-polygon and kNN: NumPy even-odd ray cast and brute-force top-k
# ---------------------------------------------------------------------------


def even_odd(px: np.ndarray, py: np.ndarray, rings) -> np.ndarray:
    """Even-odd rule over all rings: a point is inside when a rightward
    ray crosses an odd number of edges."""
    inside = np.zeros(px.shape, dtype=bool)
    for ring in rings:
        for (x1, y1), (x2, y2) in zip(ring[:-1], ring[1:]):
            straddle = (y1 > py) != (y2 > py)
            with np.errstate(divide="ignore", invalid="ignore"):
                xi = (x2 - x1) * (py - y1) / (y2 - y1) + x1
            inside ^= straddle & (px < xi)
    return inside


def pip_pairs(points: dict, polys: dict, rings) -> tuple[np.ndarray, np.ndarray]:
    px, py, pid = points["lon"], points["lat"], points["pt_id"]
    out_p, out_q = [], []
    for q, poly in enumerate(rings):
        m = ((px >= polys["lon_min"][q]) & (px <= polys["lon_max"][q])
             & (py >= polys["lat_min"][q]) & (py <= polys["lat_max"][q]))
        idx = np.flatnonzero(m)
        hit = idx[even_odd(px[idx], py[idx], poly)]
        out_p.append(pid[hit])
        out_q.append(np.full(len(hit), polys["poly_id"][q]))
    return np.concatenate(out_p), np.concatenate(out_q)


def knn_sample(points: dict, sites: dict, k: int, mod: int):
    """Brute-force top-k (by squared distance, then site id) for every
    query point with ``pt_id % mod == 0``; returns (pt_id, site_id, rank)."""
    sel = np.flatnonzero(points["pt_id"] % mod == 0)
    slon, slat, sid = sites["lon"], sites["lat"], sites["site_id"]
    q_out, s_out, r_out = [], [], []
    for i in sel:
        dx = slon - points["lon"][i]
        dy = slat - points["lat"][i]
        d2 = dx * dx + dy * dy
        top = np.lexsort((sid, d2))[:k]
        q_out.append(np.full(k, points["pt_id"][i]))
        s_out.append(sid[top])
        r_out.append(np.arange(1, k + 1))
    return np.concatenate(q_out), np.concatenate(s_out), np.concatenate(r_out)


def pip_and_knn(data: dict, k: int, mod: int) -> dict:
    p, q = pip_pairs(data["points"], data["polys"], data["rings"])
    kq, ks, kr = knn_sample(data["points"], data["sites"], k, mod)
    return {"pip": list(digest_np(p, q)), "knn_rows": len(data["points"]["pt_id"]) * k,
            "knn_sample": list(digest_np(kq, ks, kr))}


# ---------------------------------------------------------------------------
# tile_pyramid: own tile cover and reference render
# ---------------------------------------------------------------------------

_PRIMES = np.array([7, 11, 13, 17, 19, 23, 29, 31, 37, 41, 43], dtype=np.int64)
TS = 256


def gdal_checksum(band: np.ndarray) -> int:
    """GDALChecksumImage of one 8-bit band."""
    v = band.astype(np.int64).ravel()
    return int((v % _PRIMES[np.arange(v.size) % 11]).sum()) & 0xFFFF


def rgba_crc(rgba: np.ndarray) -> int:
    """CRC-32 of every pixel of all four bands, as a digest key (< 2**31)."""
    return zlib.crc32(np.ascontiguousarray(rgba, dtype=np.uint8).tobytes()) & 0x7FFFFFFF


# ---------------------------------------------------------------------------
# PNG decoder for the written tiles (zlib and the PNG spec, no engine code)
# ---------------------------------------------------------------------------

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}  # colour type -> samples per pixel


def _unfilter(f: np.ndarray, ft: np.ndarray, bpp: int) -> np.ndarray:
    """Undo the per-scanline filters (PNG spec section 9) of ``f``, an
    (h, stride) uint8 array. Rows filtered None/Sub/Up are undone row
    by row; with any Average or Paeth row the whole image is undone
    along anti-diagonals, every pixel once its left and upper
    neighbours are known."""
    h, stride = f.shape
    if not np.isin(ft, (0, 1, 2, 3, 4)).all():
        raise ValueError(f"bad PNG filter types {sorted(set(ft.tolist()))}")
    if (ft <= 2).all():
        out = np.empty_like(f)
        prior = np.zeros(stride, dtype=np.uint8)
        for r in range(h):
            if ft[r] == 1:
                out[r] = np.cumsum(f[r].reshape(-1, bpp), axis=0, dtype=np.uint8).ravel()
            elif ft[r] == 2:
                out[r] = f[r] + prior
            else:
                out[r] = f[r]
            prior = out[r]
        return out
    w = stride // bpp
    raw = f.reshape(h, w, bpp).astype(np.int32)
    o = np.zeros((h + 1, w + 1, bpp), dtype=np.int32)  # row 0, column 0: zero padding
    for d in range(h + w - 1):
        r = np.arange(max(0, d - w + 1), min(h, d + 1))
        c = d - r
        a, b, cc = o[r + 1, c], o[r, c + 1], o[r, c]  # left, up, upper left
        p = a + b - cc
        pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - cc)
        paeth = np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, cc))
        t = ft[r][:, None]
        pred = np.select([t == 1, t == 2, t == 3, t == 4], [a, b, (a + b) // 2, paeth], 0)
        o[r + 1, c + 1] = (raw[r, c] + pred) & 0xFF
    return o[1:, 1:].reshape(h, stride).astype(np.uint8)


def png_decode_rgba(buf: bytes) -> np.ndarray:
    """(h, w, 4) uint8 RGBA of an 8-bit, non-interlaced PNG of any
    colour type; chunk CRCs are checked."""
    if buf[:8] != _PNG_SIG:
        raise ValueError("not a PNG")
    pos, idat, ihdr, plte, trns = 8, [], None, None, None
    while pos < len(buf):
        (n,) = struct.unpack(">I", buf[pos: pos + 4])
        kind, data = buf[pos + 4: pos + 8], buf[pos + 8: pos + 8 + n]
        (crc,) = struct.unpack(">I", buf[pos + 8 + n: pos + 12 + n])
        if len(data) != n or zlib.crc32(kind + data) != crc:
            raise ValueError(f"truncated or corrupt {kind!r} chunk")
        if kind == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif kind == b"PLTE":
            plte = np.frombuffer(data, dtype=np.uint8).reshape(-1, 3)
        elif kind == b"tRNS":
            trns = data
        elif kind == b"IDAT":
            idat.append(data)
        elif kind == b"IEND":
            break
        pos += 12 + n
    else:
        raise ValueError("no IEND chunk")
    w, h, depth, ctype, _, _, interlace = ihdr
    if depth != 8 or interlace or ctype not in _CHANNELS:
        raise ValueError(f"unsupported PNG: depth {depth}, colour type {ctype}, interlace {interlace}")
    ch = _CHANNELS[ctype]
    f = np.frombuffer(zlib.decompress(b"".join(idat)), dtype=np.uint8)
    if f.size != h * (1 + w * ch):
        raise ValueError("IDAT size does not match IHDR")
    f = f.reshape(h, 1 + w * ch)
    px = _unfilter(f[:, 1:], f[:, 0], ch).reshape(h, w, ch)
    out = np.full((h, w, 4), 255, dtype=np.uint8)
    if ctype == 3:
        out[:, :, :3] = plte[px[:, :, 0]]
        if trns is not None:
            alpha = np.full(256, 255, dtype=np.uint8)
            alpha[: len(trns)] = np.frombuffer(trns, dtype=np.uint8)
            out[:, :, 3] = alpha[px[:, :, 0]]
    elif ctype in (0, 4):
        out[:, :, :3] = px[:, :, :1]
        if ctype == 4:
            out[:, :, 3] = px[:, :, 1]
    else:
        out[:, :, :ch] = px
    if trns is not None and ctype in (0, 2):
        key = struct.unpack(">HHH" if ctype == 2 else ">H", trns)
        out[:, :, 3][(px == np.array(key, dtype=np.uint8)).all(axis=2)] = 0
    return out


def _tile_centers(tx: int, ty: int, z: int):
    """Lon/lat of the pixel centres of mercator TMS tile (tx, ty, z)."""
    res = (2 * math.pi * 6378137.0 / TS) / (2 ** z)
    minx = tx * TS * res - ORIGIN_SHIFT
    maxx = (tx + 1) * TS * res - ORIGIN_SHIFT
    maxy = (ty + 1) * TS * res - ORIGIN_SHIFT
    step = (maxx - minx) / TS
    mx = minx + (np.arange(TS) + 0.5) * step
    my = maxy - (np.arange(TS) + 0.5) * step
    lon = (mx / ORIGIN_SHIFT) * 180.0
    lat = (my / ORIGIN_SHIFT) * 180.0
    lat = 180.0 / math.pi * (2.0 * np.arctan(np.exp(lat * math.pi / 180.0)) - math.pi / 2.0)
    return lon, lat


def _tile_index(lon: float, lat: float, z: int):
    n = 2 ** z
    x = int((lon + 180.0) / 360.0 * n)
    y = int((1.0 - math.asinh(math.tan(math.radians(lat))) / math.pi) / 2.0 * n)
    return x, n - 1 - y  # TMS y


def _render(arr, box, tx: int, ty: int, z: int):
    """Nearest-neighbour warp of one source into one tile, or None."""
    lon_min, lat_min, lon_max, lat_max = box
    lon, lat = _tile_centers(tx, ty, z)
    cols = np.flatnonzero((lon >= lon_min) & (lon <= lon_max))
    rows = np.flatnonzero((lat >= lat_min) & (lat <= lat_max))
    if not len(cols) or not len(rows):
        return None
    h, w = arr.shape[:2]
    sx = (lon[cols][None, :] - lon_min) / (lon_max - lon_min) * w
    sy = (lat_max - lat[rows][:, None]) / (lat_max - lat_min) * h
    xi = np.broadcast_to(np.floor(sx).astype(np.int64), (len(rows), len(cols)))
    yi = np.broadcast_to(np.floor(sy).astype(np.int64), (len(rows), len(cols)))
    ok = (xi >= 0) & (xi < w) & (yi >= 0) & (yi < h)
    if not ok.any():
        return None
    rgba = np.zeros((TS, TS, 4), dtype=np.uint8)
    sub = arr[np.clip(yi, 0, h - 1), np.clip(xi, 0, w - 1)]
    sub[~ok] = 0
    win = rgba[rows[0]: rows[-1] + 1, cols[0]: cols[-1] + 1]
    win[:, :, :3] = sub
    win[:, :, 3] = ok * 255
    return rgba


def tile_pyramid(cols: dict, arrays, min_zoom: int, max_zoom: int) -> dict:
    """Tile set, source counts, R-band GDAL checksums and RGBA CRCs of
    the pyramid: first-wins compose by image id at ``max_zoom``, then
    2x2 average (alpha: max) overviews down to ``min_zoom``."""
    level: dict = {}
    order = np.argsort(np.array(cols["image_id"]))
    for i in order:
        box = (cols["lon_min"][i], cols["lat_min"][i], cols["lon_max"][i], cols["lat_max"][i])
        x0, y0 = _tile_index(box[0], box[1], max_zoom)
        x1, y1 = _tile_index(box[2], box[3], max_zoom)
        for tx in range(x0 - 1, x1 + 2):
            for ty in range(y0 - 1, y1 + 2):
                part = _render(arrays[i], box, tx, ty, max_zoom)
                if part is None:
                    continue
                canvas, n = level.get((tx, ty), (np.zeros((TS, TS, 4), np.uint8), 0))
                put = (part[:, :, 3] > 0) & (canvas[:, :, 3] == 0)
                canvas[put] = part[put]
                level[(tx, ty)] = (canvas, n + 1)
    rows = []
    for z in range(max_zoom, min_zoom - 1, -1):
        for (tx, ty), (canvas, n) in level.items():
            rows.append((z, tx, (1 << z) - 1 - ty, n, gdal_checksum(canvas[:, :, 0]), rgba_crc(canvas)))
        if z == min_zoom:
            break
        parents: dict = {}
        for (tx, ty), (canvas, _) in level.items():
            big, n = parents.get((tx >> 1, ty >> 1), (np.zeros((2 * TS, 2 * TS, 4), np.uint8), 0))
            ox = (tx - 2 * (tx >> 1)) * TS
            oy = (1 - (ty - 2 * (ty >> 1))) * TS  # TMS y grows upward
            big[oy: oy + TS, ox: ox + TS] = canvas
            parents[(tx >> 1, ty >> 1)] = (big, n + 1)
        level = {}
        for key, (big, n) in parents.items():
            b = big.reshape(TS, 2, TS, 2, 4).astype(np.float64)
            rgb = np.floor(b[..., :3].mean(axis=(1, 3)) + 0.5)
            alpha = b[..., 3].max(axis=(1, 3))
            level[key] = (np.dstack([rgb, alpha]).astype(np.uint8), n)
    z, x, y, n, ck, crc = (np.array(c) for c in zip(*rows))
    return {"tiles": list(digest_np(z, x, y, n, ck, crc)),
            "per_zoom": {str(int(q)): int((z == q).sum()) for q in np.unique(z)},
            "partials": int(n[z == max_zoom].sum())}
