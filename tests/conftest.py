import pytest


@pytest.fixture(scope="session")
def spark():
    from gdal_spark.session import get_spark

    s = get_spark("gdal_spark_tests", master="local[4]", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def skewed_points(spark, sf_dir):
    """The customer points, each 8 times over, with 6 of the 8 copies
    folded into lon [0, 2.8) × lat [0, 2.7): one zoom-7 cell then holds
    far more than 1/20 of the points (the hot-cell threshold the salted
    join is tested at)."""
    from pyspark.sql import functions as F

    from gdal_spark.sources import synth

    rep = 8
    p = synth.points(spark, sf_dir)
    p = p.withColumn("_r", F.explode(F.sequence(F.lit(0), F.lit(rep - 1))))
    hot = F.col("_r") % 5 < 3
    return p.select(
        (F.col("pt_id") * rep + F.col("_r")).alias("pt_id"),
        F.when(hot, F.pmod(F.col("lon"), F.lit(2.8))).otherwise(F.col("lon")).alias("lon"),
        F.when(hot, F.pmod(F.col("lat"), F.lit(2.7))).otherwise(F.col("lat")).alias("lat"),
    ).cache()
