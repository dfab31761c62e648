"""Gate queries against their DuckDB oracles, with the compare of
``tools/check_oracle.py`` (row count, column names, canonicalised
values).

Covers the per-order codec round trips built on
``__spark_entry__._per_order``, the point-format round trips whose
fixtures share ``_customer_points``, and the image-table operators
built on ``raster.pipeline.map_images``, whose golden oracles are
stored at sf0.001 as well.
"""

import pytest

import __spark_entry__ as E
from tools.check_oracle import compare, duckdb_views

PER_ORDER = [
    "aaigrid_roundtrip",
    "gif_roundtrip",
    "bmp_roundtrip",
    "tga_roundtrip",
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
    "micro_formats_read",
    "tiff_codec_matrix",
    "raster_compare",
]

CUSTOMER_POINTS = [
    "shapefile_roundtrip",
    "fgb_roundtrip",
    "gpkg_roundtrip",
    "csv_wkt_roundtrip",
    "arrow_export_roundtrip",
]


# image-table operators, compared against golden/sf0.001/<name>.parquet
GOLDEN = [
    "raster_checksums",
    "geotiff_cog",
    "raster_cutline",
    "raster_color_relief",
    "raster_translate",
    "raster_resample_kernels",
    "raster_band_stats",
    "raster_reclassify",
    "raster_band_calc",
    "raster_dem_metrics",
    "raster_color_map",
    "raster_psnr_gate",
    "jpeg_progressive",
    "webp_lz77_roundtrip",
    "webp_lossy_vp8",
    "raster_warp_utm",
    "raster_warp_lcc",
    "raster_warp_gcp",
    "raster_warp_geoloc",
    "raster_rpc_ortho",
    "raster_proximity",
    "raster_sieve",
    "raster_fillnodata",
    "raster_polygonize",
    "raster_contour",
    "raster_palette",
    "raster_pct_roundtrip",
    "raster_histogram",
    "raster_pansharpen",
    "raster_viewshed",
    "raster_neighbors",
    "raster_clean_collar",
    "raster_footprint",
    "raster_nodata_alpha",
]


@pytest.fixture(scope="module")
def oracle_db(sf_dir):
    con = duckdb_views(sf_dir)
    yield con
    con.close()


def _check(spark, sf_dir, oracle_db, name, oracle):
    sdf = E.queries()[name](spark, sf_dir)
    srows = sdf.collect()
    res = oracle_db.execute(oracle)
    ocols = [d[0] for d in res.description]
    orows = res.fetchall()
    assert srows
    assert compare(sdf.columns, srows, ocols, orows) == []


@pytest.mark.parametrize("name", PER_ORDER + CUSTOMER_POINTS)
def test_query_matches_oracle(spark, sf_dir, oracle_db, name):
    _check(spark, sf_dir, oracle_db, name, E.oracle_sql()[name])


@pytest.mark.parametrize("name", GOLDEN)
def test_image_query_matches_golden(spark, sf_dir, oracle_db, name):
    _check(spark, sf_dir, oracle_db, name, E._golden_oracle(name, "sf0.001"))
