"""Viewshed — observer visibility over a DEM.

Re-expresses ``gdal_viewshed`` (``alg/viewshed/viewshed.cpp``; LOS
core ``alg/los.cpp``) as a per-image NumPy kernel: a cell is visible
when the sight line from the observer to the cell center clears the
bilinearly-sampled terrain at every intermediate sample (the sampled
line-of-sight formulation — the reference's Wang et al. ring
propagation is an O(n²) approximation of exactly this test).

Fully vectorized: all cells' rays are evaluated together as a
(cells × samples) array, chunked by rows to bound memory. Per-image
work distributes across images (mapInPandas), like every raster
operator here.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from gdal_spark.raster.checksum import checksum_band
from gdal_spark.raster.pipeline import map_images


def viewshed_mask(dem: np.ndarray, ox: int, oy: int, obs_height: float = 10.0, row_chunk: int = 32) -> np.ndarray:
    """Boolean visibility mask for an observer at pixel (ox, oy)
    elevated ``obs_height`` above the terrain."""
    dem = dem.astype(np.float64)
    h, w = dem.shape
    oz = dem[oy, ox] + obs_height
    n_samples = max(h, w)
    # interior sample parameters (exclusive of both endpoints)
    t = (np.arange(1, n_samples) / n_samples)[None, :]
    out = np.zeros((h, w), dtype=bool)
    for r0 in range(0, h, row_chunk):
        r1 = min(r0 + row_chunk, h)
        yy, xx = np.mgrid[r0:r1, 0:w]
        cx = xx.ravel().astype(np.float64)
        cy = yy.ravel().astype(np.float64)
        cz = dem[r0:r1].ravel()
        # sample positions along each ray
        sx = ox + (cx[:, None] - ox) * t
        sy = oy + (cy[:, None] - oy) * t
        # bilinear terrain sample
        x0 = np.clip(np.floor(sx).astype(np.int64), 0, w - 1)
        y0 = np.clip(np.floor(sy).astype(np.int64), 0, h - 1)
        x1 = np.clip(x0 + 1, 0, w - 1)
        y1 = np.clip(y0 + 1, 0, h - 1)
        fx = sx - x0
        fy = sy - y0
        tv = (
            dem[y0, x0] * (1 - fx) * (1 - fy)
            + dem[y0, x1] * fx * (1 - fy)
            + dem[y1, x0] * (1 - fx) * fy
            + dem[y1, x1] * fx * fy
        )
        # sight-line height at each sample; strictly-higher terrain at
        # any interior sample blocks the cell
        line = oz + (cz[:, None] - oz) * t
        blocked = tv > line
        vis = ~blocked.any(axis=1)
        out[r0:r1] = vis.reshape(r1 - r0, w)
        del sx, sy, tv, line, blocked
    out[oy, ox] = True
    return out


def viewshed_mask_wang(
    dem: np.ndarray, ox: int, oy: int, obs_height: float = 10.0
) -> np.ndarray:
    """Exact per-pixel viewshed at native resolution — the Wang et al.
    line propagation the reference implements
    (``alg/viewshed/viewshed.cpp:543``, CalcHeightLine/CalcHeightEdge
    cases): sweep rows outward from the observer keeping a per-cell
    max-elevation-angle accumulator; a cell's blocking threshold is
    the linear interpolation of the accumulator at the point where its
    sight line crosses the previous ROW (steep rays, |dy| ≥ |dx| —
    vectorized gather+lerp per row) or the previous COLUMN boundary
    (shallow rays, |dx| > |dy| — interpolates between the previous-row
    and already-computed same-row neighbor, a sequential outward scan
    over the two wedge spans). Visible iff the cell's own angle clears
    its threshold. O(n²) total, no sampling, no overview reduction
    (replaces round-2's sampled-LOS approximation)."""
    dem = dem.astype(np.float64)
    h, w = dem.shape
    oz = dem[oy, ox] + obs_height
    xs = np.arange(w, dtype=np.float64)
    vis = np.zeros((h, w), dtype=bool)

    def row_angles(y: int) -> np.ndarray:
        d = np.hypot(xs - ox, float(y - oy))
        with np.errstate(divide="ignore", invalid="ignore"):
            return (dem[y] - oz) / d

    # observer row: blocking = running max of angles strictly between
    ang0 = row_angles(oy)
    aux0 = np.full(w, -np.inf)
    vis[oy, ox] = True
    for step in (1, -1):
        run = -np.inf
        x = ox + step
        while 0 <= x < w:
            vis[oy, x] = ang0[x] >= run
            run = max(run, ang0[x])
            aux0[x] = run
            x += step
    for direction, rows in ((1, range(oy + 1, h)), (-1, range(oy - 1, -1, -1))):
        prev = aux0.copy()
        for y in rows:
            yp = y - direction
            dy = y - oy
            ang = row_angles(y)
            aux = np.empty(w)
            # --- steep case |dx| <= |dy|: crossing on the previous row
            lo = max(0, ox - abs(dy))
            hi = min(w - 1, ox + abs(dy))
            xv = xs[lo : hi + 1]
            px = ox + (xv - ox) * (yp - oy) / dy
            i0 = np.clip(np.floor(px).astype(np.int64), 0, w - 1)
            i1 = np.minimum(i0 + 1, w - 1)
            f = px - i0
            blocking = prev[i0] * (1.0 - f) + prev[i1] * f
            vis[y, lo : hi + 1] = ang[lo : hi + 1] >= blocking
            aux[lo : hi + 1] = np.maximum(ang[lo : hi + 1], blocking)
            # --- shallow case |dx| > |dy|: crossing on the previous
            # column boundary, between prev-row and same-row neighbors
            for sx in (1, -1):
                x = ox + sx * (abs(dy) + 1)
                while 0 <= x < w:
                    xc = x - sx
                    yc = oy + (xc - ox) * dy / (x - ox)
                    fy = abs(yc - yp)  # 0 at prev row, 1 at this row
                    b = prev[xc] * (1.0 - fy) + aux[xc] * fy
                    vis[y, x] = ang[x] >= b
                    aux[x] = ang[x] if ang[x] > b else b
                    x += sx
            prev = aux
    return vis


def _downsample(dem: np.ndarray, max_dim: int) -> np.ndarray:
    """Block-average the DEM so max(h, w) <= max_dim (the reference's
    practice of running viewshed on an overview level for speed)."""
    from gdal_spark.raster.resample import block_reduce

    h, w = dem.shape
    f = max(1, int(np.ceil(max(h, w) / max_dim)))
    if f == 1:
        return dem.astype(np.float64)
    h2, w2 = h // f, w // f
    return block_reduce(dem[: h2 * f, : w2 * f].astype(np.float64), h2, w2, "average")


def viewshed(images: DataFrame, obs_height: float = 10.0, max_dim: int | None = None) -> DataFrame:
    """Per-image viewshed of band 0 (treated as elevation) from the
    image-center observer — the exact Wang propagation at NATIVE
    resolution by default (``max_dim`` re-enables the overview
    reduction for callers that want the speed trade). Returns
    (image_id, n_visible, pct_visible, checksum) — checksum of the
    0/255 visibility raster, the golden currency."""
    schema = "image_id string, n_visible long, pct_visible double, checksum int"

    def fn(r, arr):
        dem = arr[:, :, 0] if arr.ndim == 3 else arr
        if max_dim is not None:
            dem = _downsample(dem, max_dim)
        h, w = dem.shape
        mask = viewshed_mask_wang(dem, w // 2, h // 2, obs_height)
        vis255 = (mask * 255).astype(np.uint8)
        yield (r.image_id, int(mask.sum()),
               round(float(mask.mean()) * 100.0, 4), checksum_band(vis255))

    return map_images(images, schema, fn)
