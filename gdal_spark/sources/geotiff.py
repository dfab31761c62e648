"""GeoTIFF directory source — ingest GDAL's native format as a DataFrame.

The reference opens a directory/glob of `.tif` files as datasets
(``frmts/gtiff/gtiffdataset.cpp``; tile-index mosaics ``frmts/gti/``).
Spark-first equivalent: a ``binaryFile`` listing (``sources/scan.py``)
turns the files into splits (one row per file, content read lazily per
partition), and the in-repo TIFF codec (``gdal_spark/raster/tiff.py``, externally
oracle-tested) decodes header metadata or pixels inside Arrow batches.

Two read modes mirror GDAL's two access patterns:

- :func:`read_geotiff_metadata` — the ``gdalinfo`` / tile-index scan:
  parses ONLY the IFD (tags live in the first KBs) and emits the
  footprint row (w, h, bands, dtype, geotransform, EPSG, nodata,
  compression, block layout, overview count).  No pixel decode.
- :func:`read_geotiffs` — the full scan: emits the ``input_hint``
  image-table shape (``image_id, bytes, w, h, fmt, ...``) so every
  downstream operator (checksums, translate, warp, tiler, joins) runs
  unchanged on real GeoTIFF payloads.

Scale: one task per file (binaryFile splits); a 10^8-file collection
is just more splits, and the metadata mode reads each file once but
touches only header bytes after the fetch — on object storage the
cluster path would use a range-read VSI analogue; in-container
binaryFile delivers whole files, which is the honest local equivalent.
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from gdal_spark.raster import tiff
from gdal_spark.sources.scan import scan_files

_META_SCHEMA = (
    "path string, image_id string, w int, h int, bands int, dtype string, "
    "compression int, tiled boolean, planar int, n_ifds int, "
    "gt_x0 double, gt_px double, gt_y0 double, gt_py double, "
    "epsg int, nodata double"
)

_IMAGE_SCHEMA = (
    "image_id string, bytes binary, w int, h int, fmt string, "
    "gt_x0 double, gt_px double, gt_y0 double, gt_py double, epsg int"
)


def read_geotiff_metadata(
    spark: SparkSession, path: str, glob: str = "*.tif*"
) -> DataFrame:
    """gdalinfo-style footprint scan: IFD tags only, no pixel decode."""

    def decode(fpath, buf):
        bo, big, off = tiff._read_header(buf)
        tags, _ = tiff._read_ifd(buf, bo, big, off)
        info = tiff._geo(tags)
        gt = info["geotransform"] or (None,) * 6
        bits = tiff._as_list(tags.get(258, 8))[0]
        fmt = tiff._as_list(tags.get(339, 1))[0]
        kind = {1: "u", 2: "i", 3: "f"}.get(fmt, "?")
        yield pd.DataFrame([(
            fpath,
            os.path.splitext(os.path.basename(fpath))[0],
            int(tags[256]), int(tags[257]), int(tags.get(277, 1)),
            f"{kind}{bits // 8}",
            int(tags.get(259, 1)), 322 in tags, int(tags.get(284, 1)),
            len(tiff.ifd_offsets(buf)),
            gt[0], gt[1], gt[3], gt[5],
            info["epsg"], info["nodata"],
        )], columns=[
            "path", "image_id", "w", "h", "bands", "dtype",
            "compression", "tiled", "planar", "n_ifds",
            "gt_x0", "gt_px", "gt_y0", "gt_py", "epsg", "nodata",
        ])

    return scan_files(spark, path, _META_SCHEMA, decode, glob)


def read_geotiffs(
    spark: SparkSession, path: str, glob: str = "*.tif*", ifd_index: int = 0
) -> DataFrame:
    """Full image-table scan: the ``input_hint`` shape over real GeoTIFFs.

    ``bytes`` holds the ORIGINAL file payload (decode stays lazy in the
    downstream operator, exactly like the synth table), so the scan
    itself moves no pixels through Python. ``ifd_index`` selects an
    overview level, mirroring ``GDALRasterBand::GetOverview``.
    """

    def decode(fpath, buf):
        bo, big, off = tiff._read_header(buf)
        for _ in range(ifd_index):
            _, off = tiff._read_ifd(buf, bo, big, off)
        tags, _ = tiff._read_ifd(buf, bo, big, off)
        info = tiff._geo(tags)
        gt = info["geotransform"] or (None,) * 6
        yield pd.DataFrame([(
            os.path.splitext(os.path.basename(fpath))[0],
            buf, int(tags[256]), int(tags[257]), "gtiff",
            gt[0], gt[1], gt[3], gt[5], info["epsg"],
        )], columns=[
            "image_id", "bytes", "w", "h", "fmt",
            "gt_x0", "gt_px", "gt_y0", "gt_py", "epsg",
        ])

    return scan_files(spark, path, _IMAGE_SCHEMA, decode, glob)
