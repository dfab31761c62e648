"""Plan properties of the tile pyramid: the shape of the physical plan
and the task count of its Python stages, not just its output. Also
the header-only ``raster_info`` scan."""

import re

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as E
from gdal_spark import cache
from gdal_spark.plans.inspect import formatted_plan, simple_plan
from gdal_spark.raster import tiler
from gdal_spark.sources import synth


@pytest.fixture(scope="module")
def images(spark, sf_dir, tmp_path_factory):
    """50 images read back from one parquet file, so the only Python
    stages in a pyramid plan are the tiler's own and the render stage
    runs only a task per scan split of that file."""
    path = str(tmp_path_factory.mktemp("plan_props") / "images")
    imgs = synth.images(spark, sf_dir).filter(F.col("image_id") < "img000000000050")
    imgs.coalesce(1).write.parquet(path)
    return spark.read.parquet(path)


def test_pyramid_is_two_python_stages_and_one_exchange(images):
    """Render, one Exchange on the ancestor tile, one subtree stage:
    no per-level shuffle, union or finalize pass."""
    plan = simple_plan(tiler.build_pyramid(images, 9, 11))
    assert plan.count("MapInPandas") == 2, plan
    render = plan.rindex("MapInPandas")  # the tree prints parents first
    subtree = plan.index("MapInPandas")
    assert plan[subtree:render].count("Exchange") == 1, plan
    assert plan.count("Exchange") == 1, plan
    assert "Union" not in plan and "InMemoryTableScan" not in plan, plan


def test_shallow_pyramid_persists_nothing(images):
    tiler.build_pyramid(images, 9, 11)
    assert cache._TRACKED == []
    tiler.build_pyramid(images, 6, 11)  # 11→8, then 8→6: one persisted round
    assert len(cache._TRACKED) == 1
    cache.release_all()


def _stage_tasks(spark, group: str, run) -> list[int]:
    """Tasks of every stage of the jobs ``run()`` starts."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    st = sc.statusTracker()
    stages = {s for j in st.getJobIdsForGroup(group) for s in st.getJobInfo(j).stageIds}
    return [st.getStageInfo(s).numTasks for s in sorted(stages)]


def test_cached_subtree_stage_is_coalesced(spark, images, tmp_path):
    """``write_tiles`` caches the pyramid, so its subtree stage runs
    inside a persisted plan: AQE may coalesce that shuffle only because
    ``get_spark`` sets ``canChangeCachedPlanOutputPartitioning``. Every
    stage then runs fewer tasks than ``spark.sql.shuffle.partitions``
    (the render stage reads one file)."""
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    tasks = _stage_tasks(spark, "plan_props_write", lambda: tiler.write_tiles(
        spark, tiler.build_pyramid(images, 9, 11), str(tmp_path)))
    assert tasks and max(tasks) < n, (tasks, n)


def test_persisted_round_is_coalesced(spark, images):
    """The persisted first round of a deep pyramid caches fewer
    partitions than ``spark.sql.shuffle.partitions``."""
    jsc = spark.sparkContext._jsc.sc()
    earlier = {i.id() for i in jsc.getRDDStorageInfo()}
    assert tiler.build_pyramid(images, 6, 11).select("z").collect()
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    cached = [i for i in jsc.getRDDStorageInfo() if i.id() not in earlier]
    assert len(cached) == 1
    assert 0 < cached[0].numCachedPartitions() < n, (cached[0].numCachedPartitions(), n)
    cache.release_all()


def test_raster_info_header_sniff_is_map_only(spark, sf_dir):
    """The header sniff neither joins nor shuffles: the only Exchanges
    are the two the synth source adds (its deterministic spread and
    the post-filter load-balancing repartition)."""
    plan = formatted_plan(E.queries()["raster_info"](spark, sf_dir))
    assert "Join" not in plan, plan
    assert len(re.findall(r"^\(\d+\) Exchange", plan, flags=re.M)) <= 2, plan
