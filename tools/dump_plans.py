"""Dump `.explain("formatted")` of the headline queries to docs/PLANS.md
and assert the scale-critical plan properties (SCALE.md)."""

from __future__ import annotations

import sys

sys.path.insert(0, ".")

import __spark_entry__ as em  # noqa: E402
from gdal_spark.plans import inspect as PI  # noqa: E402
from gdal_spark.session import get_spark  # noqa: E402

HEADLINE = [
    "pip_join",
    "bbox_join",
    "tile_assign_z12",
    "knn_3",
    "dedup_minhash_lsh",
    "ann_topk",
    "tile_pyramid",
    "vector_clip",
    "ogr_first_match_join",
    "raster_interp_at_points",
    "geotiff_cog",
    "raster_cutline",
    "raster_neighbors",
    "reproject_lcc",
    "layer_update",
    "ogr_sql_text",
    "ogr_style_parse",
    "ogr_geocode_reverse",
    "netcdf_window",
    "shapefile_roundtrip",
    "gpkg_roundtrip",
    "geojson_roundtrip",
    "csv_wkt_roundtrip",
    "envi_window_read",
    "aaigrid_roundtrip",
    "arrow_export_roundtrip",
    "tile_kml_superoverlay",
    "linear_referencing",
    "layer_symdifference",
    "ogr_info",
    "raster_info",
    "st_spatialite_misc",
    "mvt_tiles",
    "text_boilerplate",
    "vector_wrapdateline",
    "zarr_v3_window",
    # round 5
    "fgb_roundtrip",
    "fgb_bbox_read",
    "jpeg_progressive",
    "webp_lz77_roundtrip",
    "netcdf4_window",
    "grid_shift_points",
    "ogr_sql_union_text",
    "mbtiles_roundtrip",
    "st_constrained_delaunay",
    "image_exif",
    "gif_roundtrip",
    "bmp_roundtrip",
    "tiff_codec_matrix",
    "tga_roundtrip",
    "zarr_zstd_window",
    "dted_roundtrip",
    "terrain_grid_roundtrip",
    "usgsdem_roundtrip",
    "ehdr_roundtrip",
    "gpx_roundtrip",
    "rmf_roundtrip",
    "pds_roundtrip",
    "ers_roundtrip",
    "ilwis_roundtrip",
    "legacy_raster_formats",
    "gml_roundtrip",
    "saga_kro_roundtrip",
    "hfa_roundtrip",
    "isis3_read",
    "mif_read",
    "dxf_read",
    "georss_read",
    "nitf_read",
]

# queries whose round-1 plans had a CartesianProduct or
# BroadcastNestedLoopJoin scale hazard — must stay clean
NO_NESTED_LOOP = ["vector_clip", "raster_interp_at_points", "knn_3"]


def _n_exchanges(plan: str) -> int:
    """Count physical Exchange NODES (the formatted text mentions each
    node twice: tree line + detail header)."""
    import re

    return len(re.findall(r"^\(\d+\) Exchange", plan, flags=re.M))


def main():
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("plan-dump")
    spark.sparkContext.setLogLevel("ERROR")
    qs = em.queries()
    out = ["# PLANS — physical plans of the headline queries\n"]
    out.append(
        "Generated by `python tools/dump_plans.py`. Reviewed properties:\n"
        "broadcast joins for dim sides, no cartesian products, pixel\n"
        "`bytes` pruned from non-pixel plans, bounded Python stages.\n"
    )
    checks = []
    for name in HEADLINE:
        df = qs[name](spark, sf)
        plan = PI.formatted_plan(df)
        npy = PI.count_python_stages(df)
        wsc = PI.whole_stage_codegen_spans(df)
        out.append(f"\n## {name}\n")
        out.append(f"Python stages: {npy} · WholeStageCodegen spans: {wsc}\n")
        out.append("```\n" + plan[:8000] + ("\n… (truncated)" if len(plan) > 8000 else "") + "\n```\n")
        try:
            if name in ("pip_join", "bbox_join"):
                PI.assert_broadcast_join(df)
                checks.append(f"{name}: broadcast join OK")
            if name in ("pip_join", "tile_assign_z12", "knn_3"):
                PI.assert_no_cartesian(df)
                checks.append(f"{name}: no cartesian OK")
            if name == "tile_assign_z12":
                assert PI.count_python_stages(df) == 0, "tile assign must be UDF-free"
                checks.append("tile_assign_z12: UDF-free OK")
            if name in NO_NESTED_LOOP:
                PI.assert_no_nested_loop(df)
                checks.append(f"{name}: no cartesian/BNL OK")
            if name == "geotiff_cog":
                # the only Exchanges allowed are the synth source's
                # load-balancing re-spread — the operator itself must
                # add NO shuffle downstream of the image source
                from gdal_spark.sources import synth as _synth

                base = _synth.images(spark, sf, where="okey % 40 = 0")
                n_src = PI.formatted_plan(base).count("Exchange")
                n_q = PI.formatted_plan(df).count("Exchange")
                assert n_q == n_src, f"cog adds shuffle: {n_q} vs source {n_src}"
                checks.append("geotiff_cog: no shuffle beyond source re-spread OK")
            if name == "raster_neighbors":
                # embarrassingly parallel per-image digest: one Python
                # stage, no shuffle beyond the source re-spread
                from gdal_spark.sources import synth as _synth

                base = _synth.images(spark, sf, where="okey % 200 = 0")
                n_src = PI.formatted_plan(base).count("Exchange")
                n_q = PI.formatted_plan(df).count("Exchange")
                assert n_q == n_src, f"neighbors adds shuffle: {n_q} vs {n_src}"
                # exactly ONE Python stage beyond the synth source's own
                assert (
                    PI.count_python_stages(df)
                    == PI.count_python_stages(base) + 1
                )
                checks.append("raster_neighbors: map-only, no added shuffle OK")
            if name == "raster_cutline":
                PI.assert_broadcast_join(df)
                checks.append("raster_cutline: broadcast AOI join OK")
            if name == "ogr_first_match_join":
                assert "BroadcastNestedLoopJoin" not in PI.formatted_plan(df), (
                    "first-match join must not nested-loop"
                )
                checks.append("ogr_first_match_join: no BNL OK")
            if name == "reproject_lcc":
                # Snyder forward is pure codegen SQL — no UDF anywhere
                assert PI.count_python_stages(df) == 0, "LCC must be UDF-free"
                checks.append("reproject_lcc: UDF-free codegen OK")
            if name == "layer_update":
                PI.assert_no_nested_loop(df)
                checks.append("layer_update: no cartesian/BNL OK")
            if name == "ogr_sql_text":
                assert "CartesianProduct" not in PI.formatted_plan(df)
                checks.append("ogr_sql_text: no cartesian OK")
            if name == "ogr_style_parse":
                # pure regexp/conv scalar transform: codegen only,
                # no UDF, no shuffle
                p = PI.formatted_plan(df)
                assert PI.count_python_stages(df) == 0, "style parse must be UDF-free"
                assert "Exchange" not in p, "style parse must not shuffle"
                checks.append("ogr_style_parse: UDF-free map-only OK")
            if name == "ogr_geocode_reverse":
                # the gazetteer side must be broadcast (a deliberate
                # BroadcastNestedLoopJoin over the 25-row dim); the
                # probe side must never land in a CartesianProduct
                p = PI.formatted_plan(df)
                assert "CartesianProduct" not in p
                assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
                checks.append("ogr_geocode_reverse: broadcast gazetteer, no cartesian OK")
            if name == "netcdf_window":
                # byte-range slab scan: the only Exchange allowed is
                # the tiny manifest's round-robin re-spread; the data
                # path (seek+read+explode) must add none
                p = PI.formatted_plan(df)
                assert _n_exchanges(p) <= 1, "netcdf adds shuffle"
                assert "CartesianProduct" not in p
                checks.append("netcdf_window: manifest re-spread only OK")
            if name in ("shapefile_roundtrip", "gpkg_roundtrip",
                        "envi_window_read"):
                # record/rowid/line-block range scans: the only
                # Exchange allowed is the tiny manifest re-spread;
                # the data path (seek+read per slice) adds none
                p = PI.formatted_plan(df)
                assert _n_exchanges(p) <= 1, f"{name} adds shuffle"
                assert "CartesianProduct" not in p
                checks.append(f"{name}: manifest re-spread only OK")
            if name in ("geojson_roundtrip", "csv_wkt_roundtrip"):
                # newline-splittable text scans: map-only end to end
                p = PI.formatted_plan(df)
                assert _n_exchanges(p) == 0, f"{name} must not shuffle"
                assert "CartesianProduct" not in p
                checks.append(f"{name}: map-only text scan OK")
            if name == "arrow_export_roundtrip":
                # per-file Arrow IPC scan: map-only decode
                p = PI.formatted_plan(df)
                assert _n_exchanges(p) == 0, "arrow import must not shuffle"
                checks.append("arrow_export_roundtrip: map-only IPC scan OK")
            if name == "tile_kml_superoverlay":
                # UDF-free SQL string generation; one shuffle pair for
                # the children left-join + groupBy (same key, AQE may
                # coalesce); never a cartesian
                p = PI.formatted_plan(df)
                assert PI.count_python_stages(df) == 0, "kml gen must be UDF-free"
                assert "CartesianProduct" not in p
                checks.append("tile_kml_superoverlay: UDF-free, no cartesian OK")
            if name == "linear_referencing":
                # explode + Arrow kernels: map-only, no shuffle
                p = PI.formatted_plan(df)
                assert _n_exchanges(p) == 0, "linear ref must not shuffle"
                checks.append("linear_referencing: map-only OK")
            if name == "layer_symdifference":
                # both directions are cell equi-joins + per-feature
                # Arrow erase: never a cartesian/BNL even with the
                # non-broadcast B−A side
                PI.assert_no_cartesian(df)
                PI.assert_no_nested_loop(df)
                checks.append("layer_symdifference: no cartesian/BNL OK")
            if name == "ogr_info":
                # ogrinfo -so = one partial+final aggregate, JVM-side
                p = PI.formatted_plan(df)
                assert PI.count_python_stages(df) == 0, "layer summary must be UDF-free"
                # countDistinct adds the standard two-phase distinct
                # rewrite: partial → distinct-partial → final
                assert _n_exchanges(p) <= 2, "partial->final agg exchanges only"
                assert "Join" not in p
                checks.append("ogr_info: UDF-free single-pass agg OK")
            if name == "st_spatialite_misc":
                p = PI.formatted_plan(df)
                assert "Join" not in p, "ST_ misc is per-row, no joins"
                checks.append("st_spatialite_misc: map-only ST_ surface OK")
            if name == "mvt_tiles":
                # one shuffle on the tile key (assign+quantize are SQL)
                # then the per-tile encode + decode Arrow stages
                p = PI.formatted_plan(df)
                assert "CartesianProduct" not in p
                assert _n_exchanges(p) == 1, "exactly the tile-key shuffle"
                checks.append("mvt_tiles: one tile-key shuffle OK")
            if name == "text_boilerplate":
                # segment df agg + join back + per-doc regroup, no UDF
                p = PI.formatted_plan(df)
                assert PI.count_python_stages(df) == 0, "boilerplate must be UDF-free"
                assert "CartesianProduct" not in p
                checks.append("text_boilerplate: UDF-free join/agg OK")
            if name == "vector_wrapdateline":
                p = PI.formatted_plan(df)
                assert _n_exchanges(p) == 0, "wrapdateline is map-only"
                checks.append("vector_wrapdateline: map-only OK")
            if name == "zarr_v3_window":
                p = PI.formatted_plan(df)
                assert _n_exchanges(p) == 0, "chunk scan + explode is map-only"
                checks.append("zarr_v3_window: map-only pruned chunk scan OK")
            if name in ("fgb_roundtrip", "fgb_bbox_read"):
                # feature-range / R-tree-pruned manifest scans: the
                # only Exchange is the tiny manifest re-spread
                p = PI.formatted_plan(df)
                assert _n_exchanges(p) <= 1, f"{name} adds shuffle"
                assert "CartesianProduct" not in p
                checks.append(f"{name}: manifest re-spread only OK")
            if name in ("jpeg_progressive", "webp_lz77_roundtrip",
                        "dted_roundtrip", "terrain_grid_roundtrip",
                        "usgsdem_roundtrip", "ehdr_roundtrip",
                        "gpx_roundtrip", "rmf_roundtrip",
                        "pds_roundtrip", "ers_roundtrip",
                        "ilwis_roundtrip", "legacy_raster_formats",
                        "gml_roundtrip", "saga_kro_roundtrip",
                        "hfa_roundtrip", "isis3_read", "mif_read",
                        "dxf_read", "georss_read", "nitf_read"):
                # per-image codec round trips: map-only past the synth
                # source re-spread, never a join
                p = PI.formatted_plan(df)
                assert "Join" not in p, f"{name} must not join"
                assert _n_exchanges(p) <= 2, "only the synth re-spreads"
                checks.append(f"{name}: map-only codec round trip OK")
            if name == "netcdf4_window":
                # HDF5 chunk-manifest scan: manifest re-spread only,
                # chunk pruning happened driver-side before the plan
                p = PI.formatted_plan(df)
                assert _n_exchanges(p) <= 1, "nc4 adds shuffle"
                assert "CartesianProduct" not in p
                checks.append("netcdf4_window: pruned chunk manifest only OK")
            if name == "grid_shift_points":
                # broadcast grid arrays inside one Arrow stage, no
                # shuffle, no join
                p = PI.formatted_plan(df)
                assert "Join" not in p
                assert _n_exchanges(p) == 0, "grid shift is map-only"
                assert PI.count_python_stages(df) == 1
                checks.append("grid_shift_points: one Arrow stage, map-only OK")
            if name == "ogr_sql_union_text":
                # per-branch plans concatenate under one Union node —
                # no cartesian, no BNL anywhere in the chain
                p = PI.formatted_plan(df)
                assert "Union" in p
                assert "CartesianProduct" not in p
                assert "BroadcastNestedLoopJoin" not in p
                checks.append("ogr_sql_union_text: positional Union, no BNL OK")
            if name == "mbtiles_roundtrip":
                # container re-read is a local-file manifest scan; the
                # only shuffle is mvt's tile-key groupBy upstream
                p = PI.formatted_plan(df)
                assert "CartesianProduct" not in p
                checks.append("mbtiles_roundtrip: no cartesian OK")
            if name == "aaigrid_roundtrip":
                # one deliberate load-balancing repartition, then one
                # Arrow stage doing encode+decode+stats
                p = PI.formatted_plan(df)
                assert _n_exchanges(p) == 1, "aaigrid: want exactly the re-spread"
                assert PI.count_python_stages(df) == 1
                checks.append("aaigrid_roundtrip: re-spread + one Arrow stage OK")
        except AssertionError as e:
            checks.append(f"{name}: FAILED {e}")
    # mdim_translate executes eagerly inside its query; audit its two
    # stages un-executed via the factored piece fan-out
    try:
        from gdal_spark.sources import mdim as _mdim, netcdf as _nc

        import __spark_entry__ as _em

        src = _em._nc3_fixture()
        blocks = _nc.read_netcdf_slabs(spark, src, "temp", _em._NC3_WIN)
        pieces = _mdim.piece_fanout(blocks, _em._NC3_WIN, [2, 0, 1], (8, 3, 5))
        grouped = pieces.groupBy("ck").count()
        n_fan = _n_exchanges(PI.formatted_plan(pieces))
        n_all = _n_exchanges(PI.formatted_plan(grouped))
        assert n_fan <= 1, "piece fan-out must be map-only past the manifest"
        assert n_all == n_fan + 1, "translate must shuffle exactly once (chunk key)"
        checks.append("mdim_translate: one chunk-grid shuffle OK")
    except AssertionError as e:
        checks.append(f"mdim_translate: FAILED {e}")
    out.append("\n## Property checks\n")
    out.extend(f"- {c}\n" for c in checks)
    with open("docs/PLANS.md", "w") as f:
        f.writelines(out)
    print("\n".join(checks))
    spark.stop()
    if any("FAILED" in c for c in checks):
        sys.exit(1)


if __name__ == "__main__":
    import os

    os.makedirs("docs", exist_ok=True)
    main()
