"""Arrow IPC stream export/import — the reference's columnar bridge.

``OGRLayer::GetArrowStream`` (``ogr/ogrsf_frmts/ogrsf_frmts.h:223``,
generic impl ``ogr/ogrsf_frmts/generic/ogrlayerarrow.cpp``) streams any
layer as Arrow RecordBatches — default batch 65,536 features
(``ogrlayerarrow.cpp:2079``), geometry as WKB binary columns
(``GEOMETRY_ENCODING=WKB``, ``:2734``); ``WriteArrowBatch``
(``ogrsf_frmts.h:231``) is the reverse.  The reference benchmarks this
exact path (``perftests/bench_ogr_to_geopandas.py``,
``perftests/ogr2ogr_arrow.py``) — it is the BASELINE.md "Arrow export
throughput" row.

Spark-first this is almost the identity: DataFrames with WKB binary
geometry already ARE that format.  This module materializes it as
Arrow IPC stream files:

- :func:`write_arrow_stream` — distributed sink: every partition
  writes its own ``.arrows`` IPC stream (RecordBatches capped at the
  reference's 65,536 rows), returns the file manifest.  On a cluster
  the directory is shared storage; locally it is a directory.
- :func:`read_arrow_stream` — distributed source: one task per file
  (``binaryFile``), zero-copy ``pyarrow.ipc.open_stream`` decode.

Round-trips are bit-exact for every type (Arrow is the repo's wire
format already — no text re-encode anywhere).
"""

from __future__ import annotations

import io
import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from gdal_spark.sources.scan import scan_files

DEFAULT_BATCH_ROWS = 65536  # ogrlayerarrow.cpp:2079


def write_arrow_stream(df: DataFrame, path: str,
                       batch_rows: int = DEFAULT_BATCH_ROWS) -> list[dict]:
    """Distributed Arrow IPC export.  Returns the manifest
    [{file, rows}, ...] (one entry per non-empty partition)."""
    import pyarrow  # noqa: F401  (fail fast on the driver)

    os.makedirs(path, exist_ok=True)

    def sink(batches):
        import pyarrow as pa
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        fn = os.path.join(path, f"part-{pid:05d}.arrows")
        writer = None
        n = 0
        for pdf in batches:
            tbl = pa.Table.from_pandas(pdf, preserve_index=False)
            if writer is None:
                writer = pa.ipc.new_stream(fn, tbl.schema)
            for b in tbl.to_batches(max_chunksize=batch_rows):
                writer.write_batch(b)
                n += b.num_rows
        if writer is not None:
            writer.close()
            yield pd.DataFrame({"file": [fn], "rows": [n]})

    manifest = df.mapInPandas(sink, schema="file string, rows long").collect()
    return [r.asDict() for r in manifest]


def read_arrow_stream(spark: SparkSession, path: str) -> DataFrame:
    """Distributed Arrow IPC import: one task per ``.arrows`` file.

    The Spark schema is taken from the first file's Arrow schema
    (read driver-side from the stream header — a few KB)."""
    import pyarrow as pa

    files = sorted(f for f in os.listdir(path) if f.endswith(".arrows"))
    if not files:
        raise FileNotFoundError(f"no .arrows files under {path}")
    with open(os.path.join(path, files[0]), "rb") as f:
        rdr = pa.ipc.open_stream(f)
        arrow_schema = rdr.schema

    def _ddl(field) -> str:
        t = field.type
        if pa.types.is_integer(t):
            return "long"
        if pa.types.is_floating(t):
            return "double"
        if pa.types.is_boolean(t):
            return "boolean"
        if pa.types.is_binary(t) or pa.types.is_large_binary(t):
            return "binary"
        return "string"

    ddl = ", ".join(f"`{f.name}` {_ddl(f)}" for f in arrow_schema)

    def parse(_, content):
        for batch in pa.ipc.open_stream(io.BytesIO(content)):
            yield batch.to_pandas()

    return scan_files(spark, path, ddl, parse, "*.arrows")
