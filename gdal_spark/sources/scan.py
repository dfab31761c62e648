"""The Spark side of every file reader — one scan skeleton.

GDAL opens every format through one I/O layer (VSI,
``port/cpl_vsil_*.cpp``) and each driver keeps only its own parsing.
Here the two partition shapes of the engine's file readers live in
one place, and a reader keeps only its planner (which files, or which
byte/rowid ranges) and a per-item ``decode``:

- :func:`scan_files` — one item per file of a ``binaryFile`` listing
  (a directory of GeoTIFFs, a Zarr store's chunk files);
- :func:`scan_manifest` — one item per driver-planned manifest row
  (byte ranges of one shapefile, FGB, netCDF, HDF5, PMTiles or ENVI
  file; rowid ranges of a GeoPackage layer).

Both own the decisions every reader used to copy: an empty input is an
empty frame with the full schema, a manifest is re-spread over
``min(rows, 2 × defaultParallelism)`` partitions (no Exchange for one
row, none ever for a file scan), the columns come out in ``schema``
order and an empty batch is never yielded.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from contextlib import nullcontext

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

Frames = Iterator[pd.DataFrame]


def _emit(frames: Frames, cols: list[str]) -> Frames:
    for frame in frames:
        if len(frame):
            yield frame[cols]


def scan_files(
    spark: SparkSession,
    paths: str | list[str],
    schema: str,
    decode: Callable[[str, bytes], Frames],
    glob: str | None = None,
) -> DataFrame:
    """One task item per file: ``decode(path, content)`` yields pandas
    frames. ``paths`` is a file, a directory (``glob`` filters its
    listing) or a list of files; the listing is the partitioning."""
    if not paths:
        return spark.createDataFrame([], schema)
    reader = spark.read.format("binaryFile")
    if glob is not None:
        reader = reader.option("pathGlobFilter", glob)
    files = reader.load(paths).select("path", "content")
    cols = StructType.fromDDL(schema).fieldNames()

    def run(batches):
        for pdf in batches:
            for path, content in zip(pdf["path"], pdf["content"]):
                yield from _emit(decode(path, bytes(content)), cols)

    return files.mapInPandas(run, schema=schema)


def scan_manifest(
    spark: SparkSession,
    rows: list[dict],
    schema: str,
    decode: Callable[..., Frames],
    path: str | None = None,
) -> DataFrame:
    """One task item per driver-planned manifest row: ``decode(row)``
    yields pandas frames (``row`` is a namedtuple of the dict's keys).
    When every row reads the one file at ``path``, each task opens it
    once and calls ``decode(row, f)`` with the open binary handle."""
    if not rows:
        return spark.createDataFrame([], schema)
    man = spark.createDataFrame(pd.DataFrame(rows))
    if len(rows) > 1:
        man = man.repartition(
            min(len(rows), 2 * spark.sparkContext.defaultParallelism))
    cols = StructType.fromDDL(schema).fieldNames()

    def run(batches):
        with open(path, "rb") if path else nullcontext() as f:
            for pdf in batches:
                for row in pdf.itertuples(index=False):
                    items = decode(row) if f is None else decode(row, f)
                    yield from _emit(items, cols)

    return man.mapInPandas(run, schema=schema)
