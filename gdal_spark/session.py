"""SparkSession factory tuned for the engine.

Defaults target local[N] testing but every knob is the one you would
set on a 1000-executor cluster: AQE on (runtime skew-join + partition
coalescing), Arrow enabled with a bounded batch size (the pandas-UDF
analogue of GDAL's 65,536-feature Arrow batches,
``ogr/ogrsf_frmts/generic/ogrlayerarrow.cpp:2079``), and a cluster-sized
``max(32, cores)`` shuffle partition count that AQE coalesces at run
time on every shuffle, those inside persisted (cached) plans included.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Arrow batch granularity: OGR's Arrow stream uses 65,536 features
# (ogrlayerarrow.cpp:2079) for slim vector rows. Image-bearing rows are
# ~300 KB encoded, so a batch must be far smaller: 256 rows ≈ 75 MB per
# in-flight batch per task — bounded so (concurrent tasks × batch)
# stays inside the executor heap (measured: 1024-row batches at 16
# concurrent tasks thrash an 8g heap 10×).
DEFAULT_ARROW_BATCH = 256


def ensure_pixel_batch_size(spark: SparkSession, max_rows: int = DEFAULT_ARROW_BATCH) -> None:
    """Clamp Arrow batch size before a pixel-bearing pandas-UDF stage.

    Pixel operators must work inside ANY caller's session (the
    correctness driver builds its own). Spark's default
    ``maxRecordsPerBatch`` is 10,000 — at ~300 KB encoded per row that
    is a ~3 GB Arrow batch per task. The conf is runtime-settable, so
    clamp it here; slim-row operators are unaffected by a smaller
    batch (it only bounds, not pads)."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    try:
        cur = int(spark.conf.get(key, "10000"))
    except ValueError:
        cur = 10000
    if cur <= 0 or cur > max_rows:
        spark.conf.set(key, str(max_rows))


def get_spark(
    app_name: str = "gdal_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    arrow_batch: int = DEFAULT_ARROW_BATCH,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env) or
    ``local[*]``. On a real cluster you simply do not pass ``master``
    and let spark-submit decide; every other conf is cluster-safe.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        try:
            n = int(master.split("[")[1].rstrip("]*")) if "[" in master else 0
        except ValueError:
            n = 0
        shuffle_partitions = max(32, n or 32)

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime partition coalescing + skew-join splitting. The
        # explicit hot-cell salting in operators/spatial_join.py handles
        # build-side skew; AQE handles residual probe-side skew.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # By default AQE does not coalesce the final shuffle of a
        # persist()ed plan, so every tracked tile-pyramid level and
        # kNN / LSH round would run exactly shuffle.partitions Python
        # tasks at ~0.2-0.3 s fixed cost each (measured on 4 vCPUs:
        # build_pyramid(11, 12) + write_tiles 455 tasks -> 57, cached
        # levels 32 partitions -> 3-4). Spark reads this when persist()
        # is called, so it is set here, before any operator runs.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow for pandas UDFs; bounded batches so decoded-pixel
        # payloads (256*256*3 bytes/row post-decode) stay in memory.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch)
        )
        # Image rows are wide (binary payloads): keep scan splits modest
        # so a partition of encoded tiles fits alongside shuffle buffers.
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.python.worker.reuse", "true")
        .config("spark.python.worker.faulthandler.enabled", "true")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
