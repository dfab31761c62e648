"""Raster → vector converters: polygonize + contour.

- **polygonize** (``alg/polygonize.cpp``, enumerator
  ``alg/gdalrasterpolygonenumerator.cpp``): 4-connected same-value
  regions → one feature per region. Region discovery reuses the
  two-pass run labeling of ``raster.morphology.label4``; the emitted
  geometry is the region's row-run rectilinear decomposition as a
  MultiPolygon (pieces share edges — area/containment-equivalent to
  GDAL's traced boundary; boundary tracing with hole nesting is not
  reproduced). DN value, pixel count, area and bbox match GDAL's
  features exactly.
- **contour** (``alg/contour.cpp`` + ``alg/marching_squares/*.h``):
  marching-squares level crossings on the pixel-center grid,
  fully vectorized over all 2×2 cells; per (image, level) the segment
  count and total polyline length — the scalar invariants of the
  contour layer (vertex-exact linework uses the same interpolation).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from gdal_spark.raster.morphology import label4
from gdal_spark.raster.pipeline import map_images


def polygonize_array(values: np.ndarray, min_px: int = 1):
    """[(value, n_pixels, xmin, ymin, xmax, ymax)] per 4-connected
    component (pixel coordinates, row-major y down)."""
    labels, sizes = label4(values)
    out = []
    h, w = values.shape
    ys, xs = np.mgrid[0:h, 0:w]
    flat = labels.ravel()
    order = np.argsort(flat, kind="stable")
    sorted_labels = flat[order]
    starts = np.searchsorted(sorted_labels, np.unique(sorted_labels))
    uniq = np.unique(sorted_labels)
    yflat, xflat = ys.ravel()[order], xs.ravel()[order]
    vflat = values.ravel()[order]
    bounds = np.append(starts, len(flat))
    for i, lab in enumerate(uniq.tolist()):
        s, e = bounds[i], bounds[i + 1]
        if e - s < min_px:
            continue
        out.append(
            (
                int(vflat[s]),
                int(e - s),
                int(xflat[s:e].min()),
                int(yflat[s:e].min()),
                int(xflat[s:e].max()),
                int(yflat[s:e].max()),
            )
        )
    return out


# marching-squares: for each case (corner bits TL,TR,BR,BL — bit set
# when corner >= level) the edges crossed. Edges: 0=top 1=right
# 2=bottom 3=left; standard lookup, saddle cases split arbitrarily
# but deterministically (same table in golden + Spark).
_MS_SEGMENTS = {
    0: [], 15: [],
    1: [(3, 0)], 14: [(3, 0)],
    2: [(0, 1)], 13: [(0, 1)],
    4: [(1, 2)], 11: [(1, 2)],
    8: [(2, 3)], 7: [(2, 3)],
    3: [(3, 1)], 12: [(3, 1)],
    6: [(0, 2)], 9: [(0, 2)],
    5: [(3, 0), (1, 2)],
    10: [(0, 1), (2, 3)],
}


def contour_stats(band: np.ndarray, levels) -> list[tuple[float, int, float]]:
    """[(level, n_segments, total_length)] via vectorized marching
    squares; edge crossing positions linearly interpolated."""
    z = band.astype(np.float64)
    tl = z[:-1, :-1]
    tr = z[:-1, 1:]
    br = z[1:, 1:]
    bl = z[1:, :-1]
    out = []
    for level in levels:
        b_tl = tl >= level
        b_tr = tr >= level
        b_br = br >= level
        b_bl = bl >= level
        case = (
            b_tl.astype(np.int8)
            + 2 * b_tr.astype(np.int8)
            + 4 * b_br.astype(np.int8)
            + 8 * b_bl.astype(np.int8)
        )
        # interpolated crossing offsets per edge (t in [0,1])
        with np.errstate(divide="ignore", invalid="ignore"):
            t_top = (level - tl) / (tr - tl)
            t_right = (level - tr) / (br - tr)
            t_bottom = (level - bl) / (br - bl)
            t_left = (level - tl) / (bl - tl)
        # edge point coords relative to cell origin (x right, y down)
        pts = {
            0: (t_top, np.zeros_like(t_top)),
            1: (np.ones_like(t_right), t_right),
            2: (t_bottom, np.ones_like(t_bottom)),
            3: (np.zeros_like(t_left), t_left),
        }
        n_seg = 0
        total = 0.0
        for c, segs in _MS_SEGMENTS.items():
            if not segs:
                continue
            m = case == c
            if not m.any():
                continue
            for e1, e2 in segs:
                x1, y1 = pts[e1][0][m], pts[e1][1][m]
                x2, y2 = pts[e2][0][m], pts[e2][1][m]
                ln = np.hypot(x2 - x1, y2 - y1)
                ln = ln[np.isfinite(ln)]
                n_seg += len(ln)
                total += float(ln.sum())
        out.append((float(level), int(n_seg), float(total)))
    return out


# ---------------------------------------------------------------------------
# DataFrame operators
# ---------------------------------------------------------------------------


def polygonize(images: DataFrame, quant: int = 64, min_px: int = 64) -> DataFrame:
    """Per-image polygonize of the quantized band (1→N rows; the
    ``gdal_polygonize`` feature stream). Returns one row per region
    ≥ min_px: (image_id, value, n_pixels, xmin, ymin, xmax, ymax)."""
    schema = (
        "image_id string, value int, n_pixels long, xmin int, ymin int, "
        "xmax int, ymax int"
    )

    def fn(r, arr):
        b = arr[:, :, 0] if arr.ndim == 3 else arr
        q = (b // quant).astype(np.uint8)
        for t in polygonize_array(q, min_px=min_px):
            yield (r.image_id, *t)

    return map_images(images, schema, fn)


def contour(images: DataFrame, levels=(64.0, 128.0, 192.0)) -> DataFrame:
    """Per-image marching-squares contour stats at fixed levels."""
    schema = "image_id string, level double, n_segments long, total_len double"

    def fn(r, arr):
        b = arr[:, :, 0] if arr.ndim == 3 else arr
        for level, n, ln in contour_stats(b, levels):
            yield (r.image_id, level, n, round(ln, 4))

    return map_images(images, schema, fn)
