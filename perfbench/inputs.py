"""Seeded input tables for the two workloads.

Every table is generated from ``(workload, seed)`` alone with NumPy and
written once per seed as parquet, one file per scan split, so the
engine's scan parallelises the way a many-file table would. The engine
only ever sees these files.
"""

from __future__ import annotations

import hashlib
import os
import struct

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench.oracles import ORIGIN_SHIFT

# Region that holds every footprint, point and polygon (lon/lat degrees).
DOMAIN = (0.0, 40.0, 20.0, 52.0)
SPLITS = 4  # parquet files per table: one scan task per core on 4 vCPUs

JOIN_FOOTPRINTS = 40_000
JOIN_AOI_RECTS = 30
PQ_POINTS = 16_000
PQ_SITES = 10_000
PQ_CONVEX = 28
KNN_SAMPLE_MOD = 100  # kNN oracle checks pt_id % KNN_SAMPLE_MOD == 0
PYR_IMAGES = 48  # each (w, h, format) once
PYR_MIN_ZOOM, PYR_MAX_ZOOM = 11, 12
PYR_REGION = (10.0, 45.0, 10.6, 45.45)  # lon/lat box the images cover (8 x 6 lattice)

INITIAL_RESOLUTION = 2 * np.pi * 6378137 / 256.0  # gdal2tiles GlobalMercator, metres/pixel at z0


def _rng(seed: int, tag: str) -> np.random.Generator:
    return np.random.default_rng([seed, int.from_bytes(tag.encode()[:8], "little")])


def _write(path: str, table: pa.Table, splits: int = SPLITS) -> None:
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    bounds = np.linspace(0, n, min(splits, max(n, 1)) + 1).astype(int)
    for i, (a, b) in enumerate(zip(bounds[:-1], bounds[1:])):
        pq.write_table(table.slice(a, b - a), os.path.join(path, f"part-{i:03d}.parquet"))


def _strata(rng, n: int, lo: float = 0.0, hi: float = 1.0) -> np.ndarray:
    """One uniform draw in each of ``n`` equal strata of [lo, hi),
    shuffled: every seed gets the same spread of values, so sizes and
    costs that add up over a table barely move from seed to seed."""
    return lo + (hi - lo) * (rng.permutation(n) + rng.uniform(0.0, 1.0, n)) / n


def _clustered(rng, n: int, centers, sigma):
    """Half uniform over DOMAIN, half normal around ``centers`` in equal
    shares, clipped to DOMAIN, shuffled."""
    x0, y0, x1, y1 = DOMAIN
    half = n // 2
    uni = np.column_stack([rng.uniform(x0, x1, n - half), rng.uniform(y0, y1, n - half)])
    k = np.arange(half) % len(centers)
    sig = np.broadcast_to(np.asarray(sigma, dtype=float), (len(centers),))[k]
    clu = centers[k] + rng.normal(0.0, 1.0, (half, 2)) * sig[:, None]
    pts = np.vstack([uni, clu])
    pts[:, 0] = np.clip(pts[:, 0], x0, x1)
    pts[:, 1] = np.clip(pts[:, 1], y0, y1)
    return pts[rng.permutation(n)]


def wkb_polygon(rings) -> bytes:
    """Little-endian WKB Polygon from closed (n, 2) rings."""
    out = [struct.pack("<BII", 1, 3, len(rings))]
    for r in rings:
        r = np.ascontiguousarray(r, dtype="<f8")
        out.append(struct.pack("<I", len(r)))
        out.append(r.tobytes())
    return b"".join(out)


def _rect_ring(x0, y0, x1, y1) -> np.ndarray:
    return np.array([(x0, y0), (x1, y0), (x1, y1), (x0, y1), (x0, y0)], dtype=float)


def _bbox_columns(rings_list):
    b = np.array([[r[0][:, 0].min(), r[0][:, 1].min(), r[0][:, 0].max(), r[0][:, 1].max()]
                  for r in rings_list])
    return {"lon_min": b[:, 0], "lat_min": b[:, 1], "lon_max": b[:, 2], "lat_max": b[:, 3]}


# ---------------------------------------------------------------------------
# spatial_joins: footprints and AOI rectangles
# ---------------------------------------------------------------------------


def aoi_rects(seed: int):
    """Axis rectangles plus one oversized hot rectangle. Returns
    (columns, rings, cluster centres): the hot rectangle's centre and
    the centres of the four largest rectangles, placed apart so each
    holds its cluster whole and no other rectangle covers a cluster."""
    rng = _rng(seed, "aoi")
    x0, y0, x1, y1 = DOMAIN
    area = _strata(rng, JOIN_AOI_RECTS, 0.3**2, 1.5**2)
    aspect = np.exp(_strata(rng, JOIN_AOI_RECTS, -0.7, 0.7))
    w, h = np.sqrt(area * aspect), np.sqrt(area / aspect)
    big = np.argsort(area)[-4:]
    hot = (rng.uniform(x0 + 3, x1 - 3), rng.uniform(y0 + 2.5, y1 - 2.5))
    anchors = [hot]
    cx, cy = rng.uniform(x0 + 1.5, x1 - 1.5, JOIN_AOI_RECTS), rng.uniform(y0 + 1.5, y1 - 1.5, JOIN_AOI_RECTS)
    for i in big:
        while min(np.hypot(cx[i] - ax, cy[i] - ay) for ax, ay in anchors) < 3.5:
            cx[i], cy[i] = rng.uniform(x0 + 1.5, x1 - 1.5), rng.uniform(y0 + 1.5, y1 - 1.5)
        anchors.append((cx[i], cy[i]))
    for i in np.argsort(area)[:-4]:  # keep the other rectangles off the clusters
        while min(np.hypot(cx[i] - ax, cy[i] - ay) for ax, ay in anchors) < 2.5:
            cx[i], cy[i] = rng.uniform(x0 + 1.5, x1 - 1.5), rng.uniform(y0 + 1.5, y1 - 1.5)
    rings = [[_rect_ring(cx[i] - w[i] / 2, cy[i] - h[i] / 2, cx[i] + w[i] / 2, cy[i] + h[i] / 2)]
             for i in range(JOIN_AOI_RECTS)]
    rings.append([_rect_ring(hot[0] - 2.0, hot[1] - 1.5, hot[0] + 2.0, hot[1] + 1.5)])
    cols = {"aoi_id": np.arange(len(rings), dtype=np.int64)}
    cols.update(_bbox_columns(rings))
    cols["geom"] = [wkb_polygon(r) for r in rings]
    return cols, rings, np.array(anchors)


def footprints(seed: int, n: int, centers) -> dict:
    """Footprints half uniform, half clustered on ``centers``; each bbox
    side log-uniform over 0.001-0.1 degrees."""
    rng = _rng(seed, "fp")
    c = _clustered(rng, n, centers, 0.15)
    w = 10.0 ** _strata(rng, n, -3, -1)
    h = 10.0 ** _strata(rng, n, -3, -1)
    return {
        "image_id": np.arange(n, dtype=np.int64),
        "lon_min": c[:, 0] - w / 2, "lat_min": c[:, 1] - h / 2,
        "lon_max": c[:, 0] + w / 2, "lat_max": c[:, 1] + h / 2,
    }


# ---------------------------------------------------------------------------
# spatial_joins: polygons, query points and kNN sites
# ---------------------------------------------------------------------------


def pq_polygons(seed: int):
    """Jittered convex rings (8-200 vertices), one concave star, one
    ring with a hole. Returns (columns, rings per polygon)."""
    rng = _rng(seed, "poly")
    x0, y0, x1, y1 = DOMAIN
    radii = np.column_stack([_strata(rng, PQ_CONVEX + 2, 0.3, 1.0), _strata(rng, PQ_CONVEX + 2, 0.3, 1.0)])
    verts = np.round(_strata(rng, PQ_CONVEX, 8, 200)).astype(int)
    rings = []
    for i in range(PQ_CONVEX + 2):
        rx, ry = radii[i]
        cx, cy = rng.uniform(x0 + 1.2, x1 - 1.2), rng.uniform(y0 + 1.2, y1 - 1.2)
        if i == PQ_CONVEX:  # concave: 12-point star
            a = np.linspace(0, 2 * np.pi, 25)[:-1] + rng.uniform(0, 0.2)
            r = np.where(np.arange(24) % 2 == 0, 1.0, 0.45)
            ring = np.column_stack([cx + rx * r * np.cos(a), cy + ry * r * np.sin(a)])
            rings.append([np.vstack([ring, ring[:1]])])
            continue
        nv = int(verts[i]) if i < PQ_CONVEX else 64
        a = np.sort(rng.uniform(0, 2 * np.pi, nv))
        ring = np.column_stack([cx + rx * np.cos(a), cy + ry * np.sin(a)])
        poly = [np.vstack([ring, ring[:1]])]
        if i == PQ_CONVEX + 1:  # ring with a hole, hole wound the other way
            hole = np.column_stack([cx + 0.4 * rx * np.cos(a), cy + 0.4 * ry * np.sin(a)])[::-1]
            poly.append(np.vstack([hole, hole[:1]]))
        rings.append(poly)
    cols = {"poly_id": np.arange(len(rings), dtype=np.int64)}
    cols.update(_bbox_columns(rings))
    cols["geom"] = [wkb_polygon(r) for r in rings]
    return cols, rings


def pq_points(seed: int, n: int, rings) -> dict:
    rng = _rng(seed, "pts")
    centers = np.array([r[0][:-1].mean(axis=0) for r in rings])
    sig = np.array([0.5 * (np.ptp(r[0][:, 0]) + np.ptp(r[0][:, 1])) / 2 for r in rings])
    p = _clustered(rng, n, centers, sig)
    return {"pt_id": np.arange(n, dtype=np.int64), "lon": p[:, 0], "lat": p[:, 1]}


def pq_sites(seed: int, n: int) -> dict:
    """Sites spread over the globe, so the kNN grid the engine sizes
    from the site count holds a few sites per cell."""
    rng = _rng(seed, "sites")
    return {"site_id": np.arange(n, dtype=np.int64),
            "lon": rng.uniform(-180.0, 180.0, n), "lat": rng.uniform(-80.0, 80.0, n)}


# ---------------------------------------------------------------------------
# tile_pyramid
# ---------------------------------------------------------------------------


def _pix_lon(px):
    """Longitude of a z-max mercator pixel boundary."""
    res = INITIAL_RESOLUTION / 2 ** PYR_MAX_ZOOM
    return (px * res - ORIGIN_SHIFT) / ORIGIN_SHIFT * 180.0


def _pix_lat(py):
    res = INITIAL_RESOLUTION / 2 ** PYR_MAX_ZOOM
    lat = (py * res - ORIGIN_SHIFT) / ORIGIN_SHIFT * 180.0
    return 180.0 / np.pi * (2.0 * np.arctan(np.exp(lat * np.pi / 180.0)) - np.pi / 2.0)


def _lon_pix(lon):
    res = INITIAL_RESOLUTION / 2 ** PYR_MAX_ZOOM
    return (lon * ORIGIN_SHIFT / 180.0 + ORIGIN_SHIFT) / res


def _lat_pix(lat):
    res = INITIAL_RESOLUTION / 2 ** PYR_MAX_ZOOM
    my = np.log(np.tan((90.0 + lat) * np.pi / 360.0)) / (np.pi / 180.0) * ORIGIN_SHIFT / 180.0
    return (my + ORIGIN_SHIFT) / res


def image_pixels(rng, w: int, h: int) -> np.ndarray:
    """Smooth RGB gradient with mild noise (compresses like a photo);
    only the offsets are random, so every image compresses alike."""
    a, b, c = rng.uniform(0, 60, 3)
    gx = np.linspace(0, 120, w)[None, :]
    gy = np.linspace(0, 60, h)[:, None]
    base = np.stack([a + gx + gy, b + 120 - gx + gy, c + 0.5 * (gx + gy)], axis=2)
    return (base + rng.integers(0, 10, (h, w, 3))).astype(np.uint8)


def _encode(job):
    """Encoded payload of one image, plus the decoded pixels for JPEG."""
    from gdal_spark.raster import codec

    arr, fmt = job
    buf = codec.encode_image(arr, fmt, compress_level=1)
    return buf, (codec.decode_image(buf) if fmt == "jpeg" else arr)


def pyramid_images(seed: int, n: int):
    """Images on a jittered lattice dense enough that footprints overlap,
    so base tiles have several sources (and the covered area barely
    moves from seed to seed); footprint edges sit on max-zoom pixel
    boundaries, so every skip-blank decision is half a pixel away from a
    tie. Returns (columns, decoded source arrays as the engine's decoder
    sees them)."""
    rng = _rng(seed, "img")
    x0, y0, x1, y1 = PYR_REGION
    nx = int(np.ceil(np.sqrt(n * (x1 - x0) / (y1 - y0)) - 1e-9))
    ny = int(np.ceil(n / nx))
    cell = rng.permutation(nx * ny)[:n]
    dx, dy = (x1 - x0) / nx, (y1 - y0) / ny
    c = np.column_stack([x0 + (cell % nx + rng.uniform(0.25, 0.75, n)) * dx,
                         y0 + (cell // nx + rng.uniform(0.25, 0.75, n)) * dy])
    # every (w, h, format) of four sizes and three formats equally often,
    # in seeded order
    kinds = [(w, h, f) for w in (64, 128, 256, 512) for h in (64, 128, 256, 512)
             for f in ("png", "jpeg", "webp")]
    kinds = [kinds[i % len(kinds)] for i in rng.permutation(n)]
    # footprints scale with the image (about 0.0003 degrees per source
    # pixel, a z12 tile pixel is 0.00034), so every tile holds pixels of
    # the same density and the PNG bytes per covered pixel barely vary
    side = np.array([(w, h) for w, h, _ in kinds], dtype=float) * 0.0003 * rng.uniform(0.9, 1.1, (n, 1))
    px0 = np.floor(_lon_pix(c[:, 0] - side[:, 0] / 2))
    px1 = np.floor(_lon_pix(c[:, 0] + side[:, 0] / 2)) + 1
    py0 = np.floor(_lat_pix(c[:, 1] - side[:, 1] / 2))
    py1 = np.floor(_lat_pix(c[:, 1] + side[:, 1] / 2)) + 1
    jobs = [(image_pixels(rng, w, h), f) for w, h, f in kinds]
    encoded = [_encode(j) for j in jobs]
    cols = {"image_id": [f"img{i:06d}" for i in range(n)], "bytes": [b for b, _ in encoded],
            "w": [k[0] for k in kinds], "h": [k[1] for k in kinds], "fmt": [k[2] for k in kinds]}
    # the lossy format is checked against what a decoder returns
    arrays = [a for _, a in encoded]
    cols["lon_min"], cols["lon_max"] = _pix_lon(px0), _pix_lon(px1)
    cols["lat_min"], cols["lat_max"] = _pix_lat(py0), _pix_lat(py1)
    return cols, arrays


# ---------------------------------------------------------------------------
# per-seed materialisation
# ---------------------------------------------------------------------------


def _table(cols: dict) -> pa.Table:
    return pa.table({k: (pa.array(v, type=pa.binary()) if k in ("geom", "bytes") else v)
                     for k, v in cols.items()})


def build(workload: str, seed: int, root: str) -> dict:
    """Write the workload's tables under ``root``; return the in-memory
    columns the oracles need (keyed by table name)."""
    out = {}
    if workload == "spatial_joins":
        polys, rings = pq_polygons(seed)
        aoi, _, centers = aoi_rects(seed)
        out = {"polys": polys, "rings": rings, "aoi": aoi,
               "footprints": footprints(seed, JOIN_FOOTPRINTS, centers),
               "points": pq_points(seed, PQ_POINTS, rings),
               "sites": pq_sites(seed, PQ_SITES)}
        for name in ("polys", "aoi", "footprints", "points", "sites"):
            _write(os.path.join(root, name), _table(out[name]), 1 if name in ("polys", "aoi") else SPLITS)
    elif workload == "tile_pyramid":
        out["images"], out["arrays"] = pyramid_images(seed, PYR_IMAGES)
        _write(os.path.join(root, "images"), _table(out["images"]))
    else:
        raise ValueError(f"unknown workload {workload!r}")
    return out


def digest_dir(root: str) -> str:
    """sha256 over every input file (name and bytes), in name order."""
    h = hashlib.sha256()
    for dirpath, dirnames, files in sorted(os.walk(root)):
        dirnames.sort()
        for f in sorted(files):
            if f.endswith(".parquet"):
                p = os.path.join(dirpath, f)
                h.update(os.path.relpath(p, root).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()
