"""Single-process kernel microbench on the workload's own inputs.

Calls the engine's public kernel functions directly, outside Spark:
``raster.codec`` decode/encode (PNG, and JPEG/WebP through their
modules), ``raster.warp.warp_lonlat_to_merc_tile`` and
``functions.geometry.points_in_geom``. Throughput in MB/s counts the
bytes of the decoded pixel arrays (``w * h * bands``), as computed, not
the encoded payload.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow.parquet as pq

MIN_S = 0.3  # each kernel repeats its input set until this much time


def _timed(fn, items) -> tuple[float, int]:
    """Seconds and repetitions to run ``fn`` over ``items`` >= MIN_S."""
    reps, t0 = 0, time.perf_counter()
    while True:
        for it in items:
            fn(it)
        reps += 1
        dt = time.perf_counter() - t0
        if dt >= MIN_S:
            return dt, reps


def codec_and_warp(images: str, zoom: int) -> dict:
    from gdal_spark.functions.tile_math import GlobalMercator
    from gdal_spark.raster import codec
    from gdal_spark.raster.warp import warp_lonlat_to_merc_tile

    t = pq.read_table(images).to_pylist()
    out = {}
    decoded = []
    for fmt in ("png", "jpeg", "webp"):
        rows = [r for r in t if r["fmt"] == fmt]
        if not rows:
            continue
        arrs = [codec.decode_image(r["bytes"]) for r in rows]
        decoded += list(zip(rows, arrs))
        dt, reps = _timed(lambda r: codec.decode_image(r["bytes"]), rows)
        out[f"codec.decode_mbps.{fmt}"] = reps * sum(a.nbytes for a in arrs) / 2**20 / dt
    rgba = [np.dstack([a, np.full(a.shape[:2], 255, np.uint8)]) for _, a in decoded]
    dt, reps = _timed(lambda a: codec.png_encode(a, 3), rgba)
    out["codec.encode_mbps.png"] = reps * sum(a.nbytes for a in rgba) / 2**20 / dt
    m = GlobalMercator()
    jobs = []
    for r, a in decoded:
        x0, y0 = m.LatLonToTile(r["lat_min"], r["lon_min"], zoom)
        x1, y1 = m.LatLonToTile(r["lat_max"], r["lon_max"], zoom)
        for tx in range(x0, x1 + 1):
            for ty in range(y0, y1 + 1):
                jobs.append((a, r, m.TileBounds(tx, ty, zoom)))
    dt, reps = _timed(lambda j: warp_lonlat_to_merc_tile(
        j[0], j[1]["lon_min"], j[1]["lat_min"], j[1]["lon_max"], j[1]["lat_max"], j[2], 256, "near"), jobs)
    out["warp.tiles_per_s"] = reps * len(jobs) / dt
    return out


def point_in_polygon(polys: str, points: str) -> dict:
    """Point tests per second of ``points_in_geom`` over each polygon's
    bbox candidates."""
    from gdal_spark.functions import geometry as G

    q = pq.read_table(polys).to_pydict()
    p = pq.read_table(points).to_pydict()
    px, py = np.asarray(p["lon"]), np.asarray(p["lat"])
    jobs = []
    for i, wkb in enumerate(q["geom"]):
        sel = ((px >= q["lon_min"][i]) & (px <= q["lon_max"][i])
               & (py >= q["lat_min"][i]) & (py <= q["lat_max"][i]))
        jobs.append((G.parse_wkb(wkb), px[sel], py[sel]))
    dt, reps = _timed(lambda j: G.points_in_geom(j[1], j[2], j[0]), jobs)
    return {"geometry.pip_mpts_per_s": reps * sum(len(j[1]) for j in jobs) / 1e6 / dt}


def run(workload: str, root: str) -> dict:
    from gdal_spark import native

    out = {"native.loaded": float(native.get_lib() is not None)}
    if workload == "tile_pyramid":
        from perfbench.inputs import PYR_MAX_ZOOM

        out.update(codec_and_warp(os.path.join(root, "images"), PYR_MAX_ZOOM))
    else:
        out.update(point_in_polygon(os.path.join(root, "polys"), os.path.join(root, "points")))
    return out
