"""Raster comparison — ``gdal raster compare`` / gdalcompare.py.

Reference: ``apps/gdalalg_raster_compare.cpp`` (band-by-band pixel
comparison; PSNR metric at :74 and :1094-1098) and the older
``swig/python/gdal-utils/osgeo_utils/gdalcompare.py`` (returns the
count of differences).  Per image pair this computes the same
verdict surface: differing-pixel count, max absolute difference,
sum of squared differences, and PSNR.

Spark-first: one Arrow batch stage over (bytes_a, bytes_b) pairs —
decode through the repo codec, vectorized NumPy diff, tiny stats out.
Map-only; the 100 TB shape is a self-join of two image tables on
image_id followed by this stage.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from gdal_spark.raster.codec import decode_image
from gdal_spark.session import ensure_pixel_batch_size


def compare_arrays(a: np.ndarray, b: np.ndarray) -> dict:
    """gdalalg_raster_compare pixel stats for one pair (same shape)."""
    if a.shape != b.shape:
        raise ValueError(f"shape mismatch {a.shape} vs {b.shape}")
    d = a.astype(np.float64) - b.astype(np.float64)
    ad = np.abs(d)
    n_diff = int((ad != 0).sum())
    ssq = float((d * d).sum())
    mse = ssq / d.size
    psnr = float("inf") if mse == 0 else float(
        10.0 * np.log10(255.0 * 255.0 / mse))
    return {"n_diff": n_diff, "max_abs": float(ad.max()) if ad.size else 0.0,
            "ssq": ssq, "psnr": psnr}


def compare_images(df: DataFrame, col_a: str = "bytes_a",
                   col_b: str = "bytes_b",
                   key: str = "image_id") -> DataFrame:
    """Per-row comparison of two encoded payload columns → stats."""
    ensure_pixel_batch_size(df.sparkSession)

    def run(batches):
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                d = row._asdict()
                stats = compare_arrays(
                    decode_image(bytes(d[col_a])), decode_image(bytes(d[col_b])))
                out.append((d[key], stats["n_diff"], stats["max_abs"],
                            stats["ssq"], stats["psnr"]))
            yield pd.DataFrame(
                out, columns=[key, "n_diff", "max_abs", "ssq", "psnr"])

    ktype = dict(df.dtypes)[key]
    return df.select(key, col_a, col_b).mapInPandas(
        run, schema=f"{key} {ktype}, n_diff long, max_abs double, "
                    "ssq double, psnr double")
