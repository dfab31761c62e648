"""Plan properties: the shape of the physical plan, not just its output.

The engine's scale contract (SCALE.md) is a set of plan properties:
small dims broadcast, no CartesianProduct or BroadcastNestedLoopJoin,
no shuffle added by map-only scans, Python only in designated stages.
``PLAN_CHECKS`` holds one row per ``queries()`` entry and the checks
its plan must pass. The tile pyramid, the ``raster_info`` header
sniff, the salted join and the bucketed cell join have tests of their
own below."""

import re
from typing import Callable, NamedTuple

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

import __spark_entry__ as E
from gdal_spark import cache
from gdal_spark.operators import spatial_join as SJ
from gdal_spark.plans.inspect import (
    count_exchanges,
    count_python_stages,
    formatted_plan,
    simple_plan,
)
from gdal_spark.raster import tiler
from gdal_spark.sources import synth


class Plan(NamedTuple):
    name: str
    df: DataFrame
    text: str  # the formatted plan
    sf_dir: str


Check = Callable[[Plan], None]


def has(node: str, msg: str | None = None) -> Check:
    def check(p: Plan) -> None:
        assert node in p.text, (msg or f"expected {node}").format(name=p.name) + (
            " in plan:\n" + p.text[:4000])
    return check


def lacks(node: str, msg: str | None = None) -> Check:
    def check(p: Plan) -> None:
        assert node not in p.text, (msg or node).format(name=p.name) + (
            " in plan:\n" + p.text[:4000])
    return check


def exchanges(n: int, msg: str, exact: bool = False) -> Check:
    """At most (or, if ``exact``, exactly) ``n`` shuffle Exchanges."""
    def check(p: Plan) -> None:
        got = count_exchanges(p.df)
        assert got == n if exact else got <= n, msg.format(name=p.name)
    return check


def python_stages(n: int, msg: str | None = None) -> Check:
    def check(p: Plan) -> None:
        assert count_python_stages(p.df) == n, msg
    return check


def no_shuffle_past_images(where: str, msg: str, added_stages: int | None = None) -> Check:
    """Only the synth image source (read with ``where``) shuffles; the
    operator adds no Exchange and, if given, exactly ``added_stages``
    Python stages to the source's own."""
    def check(p: Plan) -> None:
        base = synth.images(p.df.sparkSession, p.sf_dir, where=where)
        n_src, n_q = count_exchanges(base), count_exchanges(p.df)
        assert n_q == n_src, msg.format(n_q, n_src)
        if added_stages is not None:
            assert count_python_stages(p.df) == count_python_stages(base) + added_stages
    return check


# Run with the planner's size threshold at -1 (``no_auto_broadcast``),
# so only the engine's own ``F.broadcast`` hint can broadcast: dropped,
# a hash join plans as a SortMergeJoin and a nested loop as a
# CartesianProduct.
broadcast_hash_join = has("BroadcastHashJoin", "expected a broadcast join")
broadcast_nested_loop = has("BroadcastNestedLoopJoin", "expected a broadcast join")

no_join = lacks("Join")
no_cartesian = lacks("CartesianProduct")
# the two unbounded-comparison join shapes that do not survive a 100x scale-up
no_nested_loop = (no_cartesian, lacks("BroadcastNestedLoopJoin"))
# synth-image codec round trips: map-only past the source's re-spreads
image_round_trip = (lacks("Join", "{name} must not join"),
                    exchanges(2, "only the synth re-spreads"))
# per-order round trips (``_per_order``): map-only past its one re-spread
order_round_trip = (lacks("Join", "{name} must not join"),
                    exchanges(1, "only the order re-spread"))
# byte-range manifest scans: the only Exchange is the manifest re-spread
manifest_scan = (exchanges(1, "{name} adds shuffle"), no_cartesian)
# newline-splittable text scans
text_scan = (exchanges(0, "{name} must not shuffle"), no_cartesian)


def _mdim_pieces(spark, sf_dir):
    """``mdim_translate`` executes eagerly inside its query; its piece
    fan-out is checked un-executed."""
    from gdal_spark.sources import mdim, netcdf

    blocks = netcdf.read_netcdf_slabs(spark, E._nc3_fixture(), "temp", E._NC3_WIN)
    return mdim.piece_fanout(blocks, E._NC3_WIN, [2, 0, 1], (8, 3, 5))


def one_chunk_key_shuffle(p: Plan) -> None:
    n_fan = count_exchanges(p.df)
    assert n_fan <= 1, "piece fan-out must be map-only past the manifest"
    n_all = count_exchanges(p.df.groupBy("ck").count())
    assert n_all == n_fan + 1, "translate must shuffle exactly once (chunk key)"


PLAN_CHECKS: dict[str, tuple[Check, ...]] = {
    # the dim side is broadcast by the engine's hint
    "pip_join": (broadcast_hash_join, no_cartesian),
    "bbox_join": (broadcast_hash_join,),
    "raster_cutline": (broadcast_nested_loop,),
    "ogr_geocode_reverse": (broadcast_nested_loop, no_cartesian),
    # cell equi-joins: never a cartesian or a nested loop
    "knn_3": no_nested_loop,
    "vector_clip": no_nested_loop,
    "raster_interp_at_points": no_nested_loop,
    "layer_update": no_nested_loop,
    "layer_symdifference": no_nested_loop,
    "ogr_first_match_join": (
        lacks("BroadcastNestedLoopJoin", "first-match join must not nested-loop"),),
    "ogr_sql_text": (no_cartesian,),
    "ogr_sql_union_text": (has("Union"), *no_nested_loop),
    "mbtiles_roundtrip": (no_cartesian,),
    # pure SQL: no Python stage
    "tile_assign_z12": (no_cartesian, python_stages(0, "tile assign must be UDF-free")),
    "reproject_lcc": (python_stages(0, "LCC must be UDF-free"),),
    "ogr_style_parse": (python_stages(0, "style parse must be UDF-free"),
                        lacks("Exchange", "style parse must not shuffle")),
    "tile_kml_superoverlay": (python_stages(0, "kml gen must be UDF-free"),
                              no_cartesian),
    "text_boilerplate": (python_stages(0, "boilerplate must be UDF-free"),
                         no_cartesian),
    # countDistinct: partial -> distinct-partial -> final aggregate
    "ogr_info": (python_stages(0, "layer summary must be UDF-free"),
                 exchanges(2, "partial->final agg exchanges only"), no_join),
    # map-only per-image digests over the synth image source
    "geotiff_cog": (no_shuffle_past_images(
        "okey % 40 = 0", "cog adds shuffle: {} vs source {}"),),
    "raster_neighbors": (no_shuffle_past_images(
        "okey % 200 = 0", "neighbors adds shuffle: {} vs {}", added_stages=1),),
    # manifest and text scans
    "netcdf_window": (exchanges(1, "netcdf adds shuffle"), no_cartesian),
    "netcdf4_window": (exchanges(1, "nc4 adds shuffle"), no_cartesian),
    "shapefile_roundtrip": manifest_scan,
    "gpkg_roundtrip": manifest_scan,
    "envi_window_read": manifest_scan,
    "fgb_roundtrip": manifest_scan,
    "fgb_bbox_read": manifest_scan,
    "geojson_roundtrip": text_scan,
    "csv_wkt_roundtrip": text_scan,
    "arrow_export_roundtrip": (exchanges(0, "arrow import must not shuffle"),),
    "linear_referencing": (exchanges(0, "linear ref must not shuffle"),),
    "vector_wrapdateline": (exchanges(0, "wrapdateline is map-only"),),
    "zarr_v3_window": (exchanges(0, "chunk scan + explode is map-only"),),
    "zarr_zstd_window": (exchanges(0, "chunk scan + explode is map-only"),),
    "st_spatialite_misc": (lacks("Join", "ST_ misc is per-row, no joins"),),
    "mvt_tiles": (no_cartesian,
                  exchanges(1, "exactly the tile-key shuffle", exact=True)),
    "grid_shift_points": (no_join, exchanges(0, "grid shift is map-only"), python_stages(1)),
    "aaigrid_roundtrip": (exchanges(1, "aaigrid: want exactly the re-spread", exact=True),
                          python_stages(1)),
    "mdim_translate": (one_chunk_key_shuffle,),
    # map-only codec round trips
    "jpeg_progressive": image_round_trip,
    "webp_lz77_roundtrip": image_round_trip,
    **dict.fromkeys((
        "dted_roundtrip", "terrain_grid_roundtrip", "usgsdem_roundtrip",
        "ehdr_roundtrip", "gpx_roundtrip", "rmf_roundtrip", "pds_roundtrip",
        "ers_roundtrip", "ilwis_roundtrip", "legacy_raster_formats",
        "gml_roundtrip", "saga_kro_roundtrip", "hfa_roundtrip", "isis3_read",
        "mif_read", "dxf_read", "georss_read", "nitf_read", "gif_roundtrip",
        "bmp_roundtrip", "tga_roundtrip", "tiff_codec_matrix",
        "micro_formats_read"), order_round_trip),
}


@pytest.fixture
def no_auto_broadcast(spark):
    """Only an explicit broadcast hint broadcasts while the test runs."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    yield
    spark.conf.set(key, old)


@pytest.mark.parametrize("name", PLAN_CHECKS)
def test_query_plan(name, spark, sf_dir, request):
    checks = PLAN_CHECKS[name]
    if broadcast_hash_join in checks or broadcast_nested_loop in checks:
        request.getfixturevalue("no_auto_broadcast")
    build = _mdim_pieces if name == "mdim_translate" else E.queries()[name]
    try:
        df = build(spark, sf_dir)
        plan = Plan(name, df, formatted_plan(df), sf_dir)
        for check in checks:
            check(plan)
    finally:
        cache.release_all()


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
    df = E.queries()["raster_info"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "Join" not in plan, plan
    assert count_exchanges(df) <= 2, plan


def test_salted_join_keys_carry_the_salt(spark, sf_dir, skewed_points, no_auto_broadcast):
    """On a hot cell the shuffled PIP join salts: ``_salt`` is a join
    key on both sides, and the pairs are those of the unsalted join."""
    n = skewed_points.count()
    hot = SJ.hot_cells(SJ.with_point_cell(skewed_points), threshold=n // 20)
    assert hot, "no hot cell: the salt would fold out of the plan"
    polys = synth.aoi(spark, sf_dir)
    salted = SJ.point_in_polygon_join(
        skewed_points, polys, salt=16, hot=hot, broadcast_polys=False)
    plan = formatted_plan(salted)
    for side in ("Left", "Right"):
        assert re.search(side + r" keys \[2\]: \[cell#\d+L, _salt#\d+\]", plan), plan
    unsalted = SJ.point_in_polygon_join(skewed_points, polys)
    assert _pairs(salted) == _pairs(unsalted)


def _pairs(df):
    return sorted(df.select("pt_id", "poly_id").collect())


def test_bucketed_cell_join_has_no_exchange(spark, sf_dir, tmp_path, no_auto_broadcast):
    """Both cell tables bucketed by cell into the same 8 buckets: the
    cell join is co-located, with no Exchange at all, where the same
    join of the unbucketed tables shuffles both sides."""
    fp = SJ.explode_bbox_cells(synth.footprints(spark, sf_dir).select(
        "image_id", "lon_min", "lat_min", "lon_max", "lat_max")).select("image_id", "cell")
    aoi = SJ.explode_bbox_cells(synth.aoi(spark, sf_dir, with_wkb=False)).select(
        "poly_id", "cell")
    try:
        for df, table in ((fp, "fp_b"), (aoi, "aoi_b")):
            (df.write.option("path", str(tmp_path / table))
             .bucketBy(8, "cell").sortBy("cell").saveAsTable(table))
        bucketed = spark.table("fp_b").join(spark.table("aoi_b"), "cell")
        shuffled = fp.join(aoi, "cell")
        assert count_exchanges(bucketed) == 0, formatted_plan(bucketed)
        assert count_exchanges(shuffled) > 0, formatted_plan(shuffled)
        assert bucketed.count() == shuffled.count() > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS fp_b")
        spark.sql("DROP TABLE IF EXISTS aoi_b")
