"""The scan skeleton (``sources/scan.py``) and the rules every reader
built on it inherits: an input that plans nothing is an empty frame
with the reader's full schema, a manifest re-spreads with one Exchange
(none for one row, none for a file scan), and the columns come out in
schema order with no empty batches."""

from __future__ import annotations

import numpy as np
import pandas as pd

from gdal_spark.functions import geometry as G
from gdal_spark.plans.inspect import count_exchanges
from gdal_spark.sources import flatgeobuf as FGB
from gdal_spark.sources import netcdf as NC
from gdal_spark.sources import zarr as Z
from gdal_spark.sources.hdf5 import read_h5_window_distributed, write_h5
from gdal_spark.sources.scan import scan_files, scan_manifest


def test_manifest_orders_columns_and_drops_empty_frames(spark):
    def decode(row):
        yield pd.DataFrame({"b": [], "a": []})
        yield pd.DataFrame({"b": [row.k * 2], "a": [row.k]})

    df = scan_manifest(spark, [{"k": k} for k in range(5)], "a long, b long", decode)
    assert df.columns == ["a", "b"]
    assert sorted(tuple(r) for r in df.collect()) == [(k, 2 * k) for k in range(5)]
    assert count_exchanges(df) == 1
    one = scan_manifest(spark, [{"k": 3}], "a long, b long", decode)
    assert count_exchanges(one) == 0 and [tuple(r) for r in one.collect()] == [(3, 6)]


def test_manifest_opens_path_once_per_task(spark, tmp_path):
    p = tmp_path / "bytes.bin"
    p.write_bytes(bytes(range(100)))

    def decode(row, f):
        f.seek(row.off)
        yield pd.DataFrame({"off": [row.off], "byte": [f.read(1)[0]]})

    rows = [{"off": o} for o in range(0, 100, 7)]
    got = scan_manifest(spark, rows, "off long, byte int", decode, str(p)).collect()
    assert sorted((r.off, r.byte) for r in got) == [(o, o) for o in range(0, 100, 7)]


def test_file_scan_adds_no_exchange(spark, tmp_path):
    for i in range(3):
        (tmp_path / f"f{i}.txt").write_bytes(b"x" * (i + 1))

    def decode(path, content):
        yield pd.DataFrame({"n": [len(content)]})

    df = scan_files(spark, str(tmp_path), "n long", decode, "*.txt")
    assert count_exchanges(df) == 0
    assert sorted(r.n for r in df.collect()) == [1, 2, 3]


def test_empty_inputs_keep_the_schema(spark):
    for df in (scan_files(spark, [], "n long", None),
               scan_manifest(spark, [], "a long, b string", None)):
        assert df.count() == 0
    assert scan_manifest(spark, [], "a long, b string", None).columns == ["a", "b"]


def test_fgb_bbox_read_that_hits_nothing_is_empty(spark, tmp_path):
    df = spark.createDataFrame(
        [(G.wkb_point(float(i), float(i)), i, f"p{i}") for i in range(10)],
        "geom binary, k long, name string")
    path = str(tmp_path / "pts.fgb")
    FGB.write_fgb(df, path, geometry_type=FGB.GT_POINT)
    got = FGB.read_fgb(spark, path, bbox=(100.0, 100.0, 200.0, 200.0))
    assert got.count() == 0
    assert got.dtypes == [("fid", "bigint"), ("geom", "binary"),
                          ("k", "bigint"), ("name", "string")]


def test_h5_window_with_no_cells_is_empty(spark, tmp_path):
    cube = np.arange(24, dtype=np.float64).reshape(2, 3, 4)
    p = str(tmp_path / "c.h5")
    write_h5(p, {"v": (cube, (1, 2, 2))})
    got = read_h5_window_distributed(
        spark, p, "v", [(1, 1), (0, 3), (0, 4)], dim_names=["t", "y", "x"])
    assert got.count() == 0
    assert got.columns == ["t", "y", "x", "value"]


def test_netcdf_and_zarr_reads_that_plan_nothing_are_empty(spark, tmp_path):
    arr = np.arange(60, dtype=np.float64).reshape(3, 4, 5)
    nc = str(tmp_path / "v.nc")
    NC.write_netcdf(nc, {"t": None, "y": 4, "x": 5}, {"v": (["t", "y", "x"], arr)})
    slabs = NC.read_netcdf_slabs(spark, nc, "v", [(10, 2), (0, 4), (0, 5)])
    assert slabs.count() == 0 and slabs.columns == ["origin", "dims", "values"]
    no_records = str(tmp_path / "s.nc")
    NC.write_netcdf(no_records, {"n": None, "len": 8},
                    {"s": (["n", "len"], np.zeros((0, 8), dtype="S1"))})
    strings = NC.read_netcdf_strings(spark, no_records, "s")
    assert strings.count() == 0 and strings.columns == ["origin", "value"]
    store = str(tmp_path / "v.zarr")
    Z.write_zarr_nd(store, arr, (2, 2, 2))
    chunks = Z.read_zarr_chunks_nd(spark, store, [(10, 2), (0, 4), (0, 5)])
    assert chunks.count() == 0 and chunks.columns == ["idx", "origin", "dims", "values"]
