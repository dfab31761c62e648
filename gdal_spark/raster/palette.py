"""RGB → paletted raster: median-cut quantization + FS dithering.

Re-expresses ``GDALComputeMedianCutPCT`` (``alg/gdalmediancut.cpp``)
and ``GDALDitherRGB2PCT`` (``alg/gdaldither.cpp``) as per-image NumPy
kernels:

- **median_cut**: iteratively split the color box with the largest
  pixel population at the median of its widest channel until
  ``n_colors`` boxes remain; palette = per-box mean color (rounded).
  Fully deterministic (stable sorts, fixed split order).
- **nearest mapping**: exact nearest palette entry per pixel
  (squared-distance argmin, vectorized; ties → lower palette index).
- **dither_fs**: Floyd–Steinberg error diffusion (the reference's
  default) — inherently sequential pixel order, kept exact; the
  non-dithered nearest mapping is the vectorized scale path.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from gdal_spark.raster.checksum import checksum_band
from gdal_spark.raster.pipeline import map_images


def median_cut(arr: np.ndarray, n_colors: int = 16) -> np.ndarray:
    """(n_colors, 3) uint8 palette via deterministic median cut."""
    px = arr.reshape(-1, 3).astype(np.int32)
    boxes = [px]
    while len(boxes) < n_colors:
        # split the most populous splittable box
        order = sorted(range(len(boxes)), key=lambda i: -len(boxes[i]))
        for bi in order:
            b = boxes[bi]
            spans = b.max(axis=0) - b.min(axis=0)
            if spans.max() == 0 or len(b) < 2:
                continue
            ch = int(np.argmax(spans))  # widest channel (ties → lowest)
            idx = np.argsort(b[:, ch], kind="stable")
            half = len(b) // 2
            boxes[bi : bi + 1] = [b[idx[:half]], b[idx[half:]]]
            break
        else:
            break  # nothing splittable
    pal = np.array(
        [np.floor(b.mean(axis=0) + 0.5) for b in boxes], dtype=np.int32
    )
    pal = np.clip(pal, 0, 255).astype(np.uint8)
    # canonical order: sort palette rows (deterministic output)
    key = pal[:, 0].astype(np.int64) * 65536 + pal[:, 1] * 256 + pal[:, 2]
    return pal[np.argsort(key, kind="stable")]


def map_nearest(arr: np.ndarray, pal: np.ndarray) -> np.ndarray:
    """Per-pixel nearest palette index (vectorized, ties → lower idx)."""
    px = arr.reshape(-1, 3).astype(np.int32)
    d = ((px[:, None, :] - pal[None, :, :].astype(np.int32)) ** 2).sum(axis=2)
    return np.argmin(d, axis=1).astype(np.uint8).reshape(arr.shape[:2])


def dither_fs(arr: np.ndarray, pal: np.ndarray) -> np.ndarray:
    """Floyd–Steinberg error-diffused palette indices (exact serpentine-
    free left-to-right order, as GDALDitherRGB2PCT)."""
    h, w = arr.shape[:2]
    buf = arr.astype(np.float64).copy()
    out = np.zeros((h, w), dtype=np.uint8)
    palf = pal.astype(np.float64)
    for y in range(h):
        for x in range(w):
            old = buf[y, x]
            i = int(np.argmin(((palf - old) ** 2).sum(axis=1)))
            out[y, x] = i
            err = old - palf[i]
            if x + 1 < w:
                buf[y, x + 1] += err * (7 / 16)
            if y + 1 < h:
                if x > 0:
                    buf[y + 1, x - 1] += err * (3 / 16)
                buf[y + 1, x] += err * (5 / 16)
                if x + 1 < w:
                    buf[y + 1, x + 1] += err * (1 / 16)
    return out


def rgb_to_palette(images: DataFrame, n_colors: int = 16) -> DataFrame:
    """Per-image median-cut quantization: returns (image_id, n_colors,
    checksum_idx — checksum of the index raster, palette_hash —
    checksum of the flattened palette bytes)."""
    schema = "image_id string, n_colors int, checksum_idx int, palette_hash int"

    def fn(r, arr):
        if arr.ndim == 2:
            arr = np.repeat(arr[:, :, None], 3, axis=2)
        pal = median_cut(arr, n_colors)
        idx = map_nearest(arr, pal)
        yield (r.image_id, len(pal), checksum_band(idx), checksum_band(pal.reshape(1, -1)))

    return map_images(images, schema, fn)


def palette_expand(idx: np.ndarray, pal: np.ndarray) -> np.ndarray:
    """pct2rgb: paletted index raster → RGB via the color-table LUT
    (``osgeo_utils/pct2rgb.py``; per-pixel ``GDALGetColorEntry``).
    One ``np.take`` — vectorized, no per-pixel Python."""
    return pal[idx]


def pct_roundtrip(images: DataFrame, n_colors: int = 16) -> DataFrame:
    """rgb2pct → pct2rgb round trip per image: quantize (median cut +
    nearest map), expand back through the palette LUT, and report the
    expanded raster's band-0 checksum plus the quantization error
    stats vs the original (max |err| and rounded MSE). Map-only."""
    schema = (
        "image_id string, n_colors int, checksum_r int,"
        " max_err int, mse double"
    )

    def fn(r, arr):
        if arr.ndim == 2:
            arr = np.repeat(arr[:, :, None], 3, axis=2)
        pal = median_cut(arr, n_colors)
        idx = map_nearest(arr, pal)
        rgb = palette_expand(idx, pal)
        err = rgb.astype(np.int32) - arr.astype(np.int32)
        yield (r.image_id, len(pal), checksum_band(rgb[:, :, 0]),
               int(np.abs(err).max()),
               round(float((err.astype(np.float64) ** 2).mean()), 6))

    return map_images(images, schema, fn)
