"""HDF5 / netCDF-4 reader+writer tests.

External oracles: the reference autotest's real libnetcdf-written
files with GDAL-published expectations —
``autotest/gdrivers/netcdf.py``: checksum 4672 + block [15, 6] for
byte_chunked_not_multiple.nc (test_netcdf_chunked_not_multiple),
exact uint64 values (test_netcdf_read_uint64), and the classic
trmm.nc vs netCDF-4 trmm-nc4*.nc cross-container bit-compare.
Skips when the reference tree is absent.
"""

from __future__ import annotations

import os

import numpy as np
import pytest

from gdal_spark.sources.hdf5 import H5Error, H5File, write_h5

REF = "/root/reference/autotest/gdrivers/data/netcdf"
needs_ref = pytest.mark.skipif(
    not os.path.isdir(REF), reason="reference autotest data not available"
)


# ---------------------------------------------------------------------------
# external oracles (real libnetcdf files, GDAL-published expectations)
# ---------------------------------------------------------------------------


@needs_ref
def test_byte_chunked_not_multiple_checksum():
    """autotest/gdrivers/netcdf.py test_netcdf_chunked_not_multiple:
    block size [15, 6], GDAL checksum 4672 (north-up flip)."""
    from gdal_spark.raster.checksum import checksum_band

    h = H5File(f"{REF}/byte_chunked_not_multiple.nc")
    inv = h.inventory()["Band1"]
    assert inv["shape"] == (20, 20)
    assert inv["chunks"] == (6, 15)  # [y, x] == GDAL's [15, 6] block [x, y]
    assert inv["filters"] == [2, 1]  # shuffle + deflate
    arr = h.read("Band1")
    assert checksum_band(arr[::-1]) == 4672


@needs_ref
def test_byte_chunked_multiple_checksum():
    from gdal_spark.raster.checksum import checksum_band

    h = H5File(f"{REF}/byte_chunked_multiple.nc")
    arr = h.read("Band1")
    assert checksum_band(arr[::-1]) == 4672  # same byte.tif source


@needs_ref
def test_uint64_exact_values():
    """test_netcdf_read_uint64: (10000000001, 1, 0, 10000000000)."""
    h = H5File(f"{REF}/uint64.nc")
    arr = h.read("Band1")
    assert arr.dtype == np.uint64
    assert tuple(arr[::-1].ravel().tolist()) == (
        10000000001, 1, 0, 10000000000,
    )


@needs_ref
def test_int64_dtype():
    h = H5File(f"{REF}/int64.nc")
    assert h.inventory()["Band1"]["dtype"] == "<i8"
    h.read("Band1")


@needs_ref
@pytest.mark.parametrize("nc4", ["trmm-nc4.nc", "trmm-nc4c.nc"])
def test_trmm_nc4_bit_identical_to_classic(nc4):
    """The same TRMM cube in classic and netCDF-4 containers must
    decode bit-identically (cross-container oracle: two independent
    read paths, one truth)."""
    from gdal_spark.sources import netcdf as NC

    hdr = NC.read_netcdf_header(f"{REF}/trmm.nc")
    v = hdr["vars"]["pcp"]
    with open(f"{REF}/trmm.nc", "rb") as f:
        f.seek(v["begin"])
        classic = np.frombuffer(
            f.read(v["vsize"]), dtype=v["dtype"]
        ).reshape(v["shape"])
    h = H5File(f"{REF}/{nc4}")
    arr = h.read("pcp")
    assert arr.shape == tuple(v["shape"])
    assert np.array_equal(
        arr.astype(">f4", copy=False), classic, equal_nan=True
    )


@needs_ref
def test_trmm_nc4z_deflate_shuffle_values():
    """The deflate+shuffle variant carries the same grid values."""
    from gdal_spark.sources import netcdf as NC

    hdr = NC.read_netcdf_header(f"{REF}/trmm.nc")
    v = hdr["vars"]["pcp"]
    with open(f"{REF}/trmm.nc", "rb") as f:
        f.seek(v["begin"])
        classic = np.frombuffer(
            f.read(v["vsize"]), dtype=v["dtype"]
        ).reshape(v["shape"])[0]
    h = H5File(f"{REF}/trmm-nc4z.nc")
    arr = h.read("pcp")  # 2-D, stored north-up (flipped latitude axis)
    assert arr.shape == classic.shape
    assert np.array_equal(
        arr[::-1].astype(">f4", copy=False), classic, equal_nan=True
    )


@needs_ref
def test_dimension_list_resolution():
    h = H5File(f"{REF}/trmm-nc4.nc")
    assert h.netcdf_dims("pcp") == ["time", "latitude", "longitude"]


@needs_ref
def test_nested_groups():
    h = H5File(f"{REF}/cf_dimsindiff_4326.nc")
    inv = h.inventory()
    assert "data/temp" in inv and "dims/lat" in inv


@needs_ref
def test_sweep_parse_all_nc4_files():
    """Every HDF5-based .nc in the autotest set either parses or
    raises a clear H5Error naming the unsupported feature."""
    import glob

    parsed = failed = 0
    for p in glob.glob(f"{REF}/*.nc"):
        with open(p, "rb") as f:
            if f.read(4) != b"\x89HDF":
                continue
        try:
            H5File(p).inventory()
            parsed += 1
        except H5Error:
            failed += 1
        except Exception:
            if "truncated" in p or "corrupt" in p:
                failed += 1  # intentionally-broken fixtures
            else:
                raise
    assert parsed >= 33  # 33 of 34 (only the truncated fixture fails)
    assert failed <= 1


# ---------------------------------------------------------------------------
# writer round trips (in-repo fixture path)
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "dtype,chunks,deflate",
    [
        (np.float64, (2, 16, 20), 6),
        (np.float32, (8, 32, 40), 0),
        (np.int32, (3, 7, 11), 1),
        (np.uint16, None, 6),
    ],
)
def test_write_read_roundtrip(tmp_path, dtype, chunks, deflate):
    rng = np.random.default_rng(3)
    arr = rng.integers(0, 200, (8, 32, 40)).astype(dtype)
    p = str(tmp_path / "t.h5")
    write_h5(p, {"v": (arr, chunks)}, deflate=deflate)
    h = H5File(p)
    assert np.array_equal(h.read("v"), arr)
    w = [(2, 6), (8, 24), (10, 30)]
    assert np.array_equal(
        h.read("v", w), arr[2:6, 8:24, 10:30]
    )


def test_writer_multiple_datasets(tmp_path):
    a = np.arange(24, dtype=np.float64).reshape(4, 6)
    b = (np.arange(12) % 7).astype(np.int32).reshape(3, 4)
    p = str(tmp_path / "m.h5")
    write_h5(p, {"alpha": (a, (2, 3)), "beta": (b, None)})
    h = H5File(p)
    assert np.array_equal(h.read("alpha"), a)
    assert np.array_equal(h.read("beta"), b)
    inv = h.inventory()
    assert inv["alpha"]["chunks"] == (2, 3)


def test_distributed_window_matches_driver_read(spark, tmp_path):
    from gdal_spark.sources.hdf5 import read_h5_window_distributed

    t, y, x = np.meshgrid(
        np.arange(6), np.arange(20), np.arange(24), indexing="ij"
    )
    cube = ((t * 5 + y * 2 + x) % 89).astype(np.float64)
    p = str(tmp_path / "cube.h5")
    write_h5(p, {"temp": (cube, (1, 8, 12))})
    df = read_h5_window_distributed(
        spark, p, "temp", [(1, 4), (4, 16), (6, 20)]
    )
    got = {(r[0], r[1], r[2]): r[3] for r in df.collect()}
    assert len(got) == 3 * 12 * 14
    for (d0, d1, d2), v in got.items():
        assert v == float(cube[d0, d1, d2])


def test_netcdf_window_transparent_dispatch(spark, tmp_path):
    """netcdf_window on an HDF5 container routes to the chunk reader
    with the identical output contract (GDAL driver transparency)."""
    from gdal_spark.sources import netcdf as NC

    cube = (np.arange(2 * 4 * 6) % 13).astype(np.float64).reshape(2, 4, 6)
    p = str(tmp_path / "nc4.nc")
    write_h5(p, {"v": (cube, (1, 2, 3))})
    df = NC.netcdf_window(spark, p, "v", [(0, 2), (1, 3), (2, 4)])
    got = {(r.d0, r.d1, r.d2): r.value for r in df.collect()}
    assert len(got) == 2 * 3 * 4
    for (d0, d1, d2), v in got.items():
        assert v == cube[d0, d1, d2]


@needs_ref
def test_alldatatypes_dense_group_values():
    """alldatatypes.nc stores its links in a fractal heap (dense
    group). Expected values published in
    autotest/gdrivers/netcdf_multidim.py
    test_netcdf_multidim_var_alldatatypes."""
    h = H5File(f"{REF}/alldatatypes.nc")
    expected = [
        ("ubyte_var", "<u1", (255, 254)),
        ("byte_var", "<i1", (-128, -127)),
        ("ushort_var", "<u2", (65534, 65533)),
        ("short_var", "<i2", (-32768, -32767)),
        ("uint_var", "<u4", (4294967294, 4294967293)),
        ("int_var", "<i4", (-2147483648, -2147483647)),
        ("uint64_var", "<u8", (18446744073709551613, 18446744073709551612)),
        ("int64_var", "<i8", (-9223372036854775808, -9223372036854775807)),
        ("float_var", "<f4", (1.25, 2.25)),
        ("double_var", "<f8", (1.25125, 2.25125)),
    ]
    inv = h.inventory()
    for name, dt, vals in expected:
        assert name in inv, name
        assert inv[name]["dtype"] == dt, name
        got = tuple(h.read(name).ravel().tolist())
        assert got == vals, (name, got)


@needs_ref
def test_dense_group_sweep():
    """All four dense-link files from the r4 raise-list now parse."""
    for name in [
        "alldatatypes.nc",
        "fake_EMIT_L2A_with_good_wavelengths.nc",
        "nc_mixed_raster_vector.nc",
        "sen3_sral_mwr_fake_standard_measurement.nc",
    ]:
        inv = H5File(f"{REF}/{name}").inventory()
        assert len(inv) > 0, name


def test_distributed_window_reads_unallocated_chunks_as_fill(spark, tmp_path, monkeypatch):
    """A chunk the B-tree does not list (never written) is uniformly
    the fill value; the distributed read must cover it like
    ``H5File.read`` does instead of dropping its cells."""
    from gdal_spark.sources import hdf5 as H5
    from gdal_spark.sources.hdf5 import read_h5_window_distributed

    cube = (np.arange(4 * 6 * 8) % 17 + 1).astype(np.float64).reshape(4, 6, 8)
    p = str(tmp_path / "sparse.h5")
    write_h5(p, {"v": (cube, (2, 3, 4))})
    listed = H5._H5.chunk_manifest
    monkeypatch.setattr(H5._H5, "chunk_manifest", lambda self, name: [
        e for e in listed(self, name) if tuple(e[:3]) != (2, 3, 4)])
    win = [(1, 4), (2, 6), (3, 8)]
    want = H5File(p).read("v", win)
    assert (want == 0).sum() == 2 * 3 * 4  # the unallocated chunk's cells
    df = read_h5_window_distributed(spark, p, "v", win)
    got = {(r[0], r[1], r[2]): r[3] for r in df.collect()}
    assert len(got) == want.size
    for (d0, d1, d2), v in got.items():
        assert v == want[d0 - 1, d1 - 2, d2 - 3]
