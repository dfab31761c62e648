"""Gate queries against their DuckDB oracles, with the compare of
``tools/check_oracle.py`` (row count, column names, canonicalised
values).

Covers the per-order codec round trips built on
``__spark_entry__._per_order`` and the point-format round trips whose
fixtures share ``_customer_points``.
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


@pytest.fixture(scope="module")
def oracle_db(sf_dir):
    con = duckdb_views(sf_dir)
    yield con
    con.close()


@pytest.mark.parametrize("name", PER_ORDER + CUSTOMER_POINTS)
def test_query_matches_oracle(spark, sf_dir, oracle_db, name):
    sdf = E.queries()[name](spark, sf_dir)
    srows = sdf.collect()
    res = oracle_db.execute(E.oracle_sql()[name])
    ocols = [d[0] for d in res.description]
    orows = res.fetchall()
    assert srows
    assert compare(sdf.columns, srows, ocols, orows) == []
