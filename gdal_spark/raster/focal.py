"""``gdal raster neighbors`` — focal / moving-window filtering.

Reimplements the reference's kernel-filtered-source semantics
(``apps/gdalalg_raster_neighbors.cpp:33-77`` named kernels;
``frmts/vrt/vrtfilters.cpp:485-700`` FilterData):

- the window is padded by **edge replication** past the raster border
  (``vrtfilters.cpp:338-378`` "we replicate the edge valid values
  out"), so every output pixel is filtered;
- each in-window value is multiplied by its kernel coefficient BEFORE
  the statistic (``vrtfilters.cpp:600-601``), and zero-coefficient
  cells are skipped entirely (``:597-599``);
- ``mean`` divides by the sum of participating coefficients
  (``:692-694``); ``sum`` is the unnormalized total (``:688``);
  ``stddev`` is the population deviation (``:648-651``); ``median``
  averages the two middles on even counts (``:658-682``); ``mode``
  keeps the FIRST value to reach the winning count in window scan
  order (``:624-631`` — strictly-greater update);
- default method per kernel: ``sum`` for zero-sum kernels, ``mean``
  otherwise (``gdalalg_raster_neighbors.cpp:453-461``).

All kernels run vectorized over a sliding-window view (one NumPy pass
per image — no per-pixel Python); ``mode`` runs the reference's exact
incremental scan, vectorized across pixels with one step per window
cell.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from gdal_spark.raster.checksum import checksum_band
from gdal_spark.raster.pipeline import map_images

# apps/gdalalg_raster_neighbors.cpp:48-77 (gaussian/unsharp named by
# size there; "equal" is the all-ones box built from --size)
KERNELS: dict[str, np.ndarray] = {
    "u": np.array([[0, 0, 0], [-1, 0, 1], [0, 0, 0]], dtype=np.float64),
    "v": np.array([[0, -1, 0], [0, 0, 0], [0, 1, 0]], dtype=np.float64),
    "edge1": np.array([[0, -1, 0], [-1, 4, -1], [0, -1, 0]], dtype=np.float64),
    "edge2": np.array([[-1, -1, -1], [-1, 8, -1], [-1, -1, -1]], dtype=np.float64),
    "sharpen": np.array([[0, -1, 0], [-1, 5, -1], [0, -1, 0]], dtype=np.float64),
    "gaussian-3x3": np.array([[1, 2, 1], [2, 4, 2], [1, 2, 1]], dtype=np.float64),
    "gaussian-5x5": np.array(
        [
            [1, 4, 6, 4, 1],
            [4, 16, 24, 16, 4],
            [6, 24, 36, 24, 6],
            [4, 16, 24, 16, 4],
            [1, 4, 6, 4, 1],
        ],
        dtype=np.float64,
    ),
    "equal": np.ones((3, 3), dtype=np.float64),
    "equal-5x5": np.ones((5, 5), dtype=np.float64),
}

METHODS = ("mean", "sum", "min", "max", "stddev", "median", "mode")


def default_method(kernel: np.ndarray) -> str:
    """gdalalg_raster_neighbors.cpp:453-461."""
    return "sum" if float(kernel.sum()) == 0.0 else "mean"


def neighbors_array(band: np.ndarray, kernel: np.ndarray, method: str) -> np.ndarray:
    """Filter one 2-D band; float64 result (the VRT derived band is
    typed by --type; checksums round, so float64 keeps it exact)."""
    if method not in METHODS:
        raise ValueError(f"method {method!r} not in {METHODS}")
    k = kernel.shape[0]
    pad = k // 2
    p = np.pad(band.astype(np.float64), pad, mode="edge")
    win = np.lib.stride_tricks.sliding_window_view(p, (k, k))  # H,W,k,k
    coef = kernel.reshape(1, 1, k, k)
    nz = kernel.ravel() != 0.0
    v = (win * coef).reshape(win.shape[0], win.shape[1], k * k)[:, :, nz]
    if method == "sum":
        return v.sum(axis=2)
    if method == "mean":
        ks = float(kernel.sum())
        if ks == 0.0:  # vrtfilters.cpp:690-692: no valid normalizer → 0
            return np.zeros(band.shape, dtype=np.float64)
        return v.sum(axis=2) / ks
    if method == "min":
        return v.min(axis=2)
    if method == "max":
        return v.max(axis=2)
    if method == "stddev":
        return v.std(axis=2)  # population, matches Welford M2/n
    if method == "median":
        return np.median(v, axis=2)
    # mode: the reference's incremental first-to-reach-max scan
    # (vrtfilters.cpp:624-631), one vectorized step per window cell in
    # the same row-major scan order (iII outer, iJJ inner).
    h, w = band.shape
    npx = h * w
    vals = v.reshape(npx, -1)
    # counts keyed by (pixel, value); values here are val*coef which
    # for integer bands and integer coefs are exact integers
    uniq, inv = np.unique(vals, return_inverse=True)
    inv = inv.reshape(npx, -1)
    counts = np.zeros((npx, uniq.size), dtype=np.int32)
    best = np.zeros(npx, dtype=np.float64)
    maxcount = np.zeros(npx, dtype=np.int32)
    rows = np.arange(npx)
    for j in range(vals.shape[1]):
        idx = inv[:, j]
        counts[rows, idx] += 1
        c = counts[rows, idx]
        upd = c > maxcount
        maxcount[upd] = c[upd]
        best[upd] = vals[upd, j]
    return best.reshape(h, w)


# the showcase matrix for the driver query: every stat over the box
# kernel plus every named convolution at its reference-default method
DEFAULT_SPECS: tuple[tuple[str, str], ...] = (
    ("equal", "mean"),
    ("equal", "sum"),
    ("equal", "min"),
    ("equal", "max"),
    ("equal", "stddev"),
    ("equal", "median"),
    ("equal", "mode"),
    ("equal-5x5", "mean"),
    ("u", "sum"),
    ("v", "sum"),
    ("edge1", "sum"),
    ("edge2", "sum"),
    ("sharpen", "mean"),
    ("gaussian-3x3", "mean"),
    ("gaussian-5x5", "mean"),
)


def neighbors(
    images: DataFrame,
    specs: tuple[tuple[str, str], ...] = DEFAULT_SPECS,
    band: int = 0,
) -> DataFrame:
    """One row per (image, kernel, method): checksum of the filtered
    band. Decodes each image once; the per-spec filters share the
    decode (same shape as ``resample_matrix``)."""
    schema = "image_id string, kernel string, method string, checksum int"

    def fn(r, arr):
        b = arr[:, :, band] if arr.ndim == 3 else arr
        for kname, method in specs:
            out = neighbors_array(b, KERNELS[kname], method)
            yield (r.image_id, kname, method, checksum_band(out))

    return map_images(images, schema, fn)
