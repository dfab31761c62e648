"""AAIGrid / XYZ / PNM / ENVI raw format round-trips.

Reference drivers: ``frmts/aaigrid/aaigriddataset.cpp``,
``frmts/xyz/xyzdataset.cpp``, ``frmts/pnm/pnmdataset.cpp``,
``frmts/raw/envidataset.cpp``; correctness models
``autotest/gdrivers/{aaigrid,xyz,pnm,envi}.py``.
"""

import os
import subprocess
import sys
import tempfile

import numpy as np
import pytest

from gdal_spark.raster import simple_formats as SF
from gdal_spark.raster.codec import decode_image, encode_image


def _grid(h=13, w=17):
    r, c = np.meshgrid(np.arange(h), np.arange(w), indexing="ij")
    return ((3 * r + 7 * c) % 97).astype(np.int32)


def test_aaigrid_roundtrip_int_and_float():
    a = _grid()
    buf = SF.aaigrid_encode(a, xll=100.0, yll=-50.0, cellsize=0.5, nodata=-9999)
    back, hdr = SF.aaigrid_decode(buf)
    assert np.array_equal(back, a)
    assert hdr["xllcorner"] == 100.0 and hdr["nodata_value"] == -9999.0
    f = a.astype(np.float64) / 8.0  # binary fractions -> %.8g exact
    back2, _ = SF.aaigrid_decode(SF.aaigrid_encode(f))
    assert np.array_equal(back2, f)


def test_aaigrid_xllcenter_variant():
    a = _grid(4, 5)
    buf = SF.aaigrid_encode(a, xll=10.0, yll=20.0, cellsize=2.0, corner=False)
    back, hdr = SF.aaigrid_decode(buf)
    assert np.array_equal(back, a)
    assert hdr["xllcorner"] == 9.0 and hdr["yllcorner"] == 19.0  # center-2/2


def test_xyz_roundtrip_and_grid_inference():
    a = _grid(6, 9).astype(np.float64)
    buf = SF.xyz_encode(a, x0=5.0, y0=100.0, dx=0.25, dy=0.5)
    back, geo = SF.xyz_decode(buf)
    assert np.array_equal(back, a)
    assert geo["x0"] == 5.0 and geo["y0"] == 100.0
    assert geo["dx"] == 0.25 and geo["dy"] == 0.5


def test_xyz_rejects_irregular():
    bad = b"0 0 1\n1 0 2\n3 0 3\n0 1 4\n1 1 5\n3 1 6\n"
    with pytest.raises(ValueError):
        SF.xyz_decode(bad)  # x spacing 1 then 2


def test_pnm_via_codec_dispatch():
    gray = (_grid(8, 11) % 256).astype(np.uint8)
    rgb = np.dstack([gray, gray[::-1], gray.T[:11, :8].T[:8, :11]]).astype(np.uint8)
    assert np.array_equal(decode_image(encode_image(gray, "pgm")), gray)
    got = decode_image(encode_image(rgb, "ppm"))
    assert got.shape == rgb.shape and np.array_equal(got, rgb)
    # comment handling per the spec
    assert np.array_equal(
        SF.pnm_decode(b"P5\n# c\n3 2\n255\n" + bytes(range(6))),
        np.arange(6, dtype=np.uint8).reshape(2, 3))


def test_envi_roundtrip_all_interleaves(spark):
    cube = np.stack([_grid(20, 30) + b * 100 for b in range(3)]).astype(np.int32)
    for il in ("bsq", "bil", "bip"):
        base = os.path.join(tempfile.mkdtemp(prefix="envi_"), f"cube_{il}")
        SF.write_envi(base, cube, interleave=il)
        h = SF.read_envi_header(base)
        assert (h["samples"], h["lines"], h["bands"]) == (30, 20, 3)
        assert os.path.getsize(base) == 3 * 20 * 30 * 4
    # distributed window read (bsq)
    base = os.path.join(tempfile.mkdtemp(prefix="envi_"), "cube")
    SF.write_envi(base, cube, interleave="bsq")
    got = SF.read_envi_window(spark, base, band=2, row0=3, row1=17,
                              col0=5, col1=25, rows_per_task=4)
    rows = got.collect()
    assert len(rows) == 14 * 20
    vals = {(r.row, r.col): r.value for r in rows}
    assert vals[(3, 5)] == float(cube[2, 3, 5])
    assert vals[(16, 24)] == float(cube[2, 16, 24])


def test_compare_arrays_verdict_surface():
    # gdal raster compare semantics (apps/gdalalg_raster_compare.cpp)
    from gdal_spark.raster.compare import compare_arrays

    a = _grid(8, 8).astype(np.uint8)
    st = compare_arrays(a, a.copy())
    assert st["n_diff"] == 0 and st["psnr"] == float("inf")
    b = a.copy()
    b[0, 0] += 10
    b[3, 4] -= 2
    st = compare_arrays(a, b)
    assert st["n_diff"] == 2 and st["max_abs"] == 10.0
    assert st["ssq"] == 104.0
    import math
    assert abs(st["psnr"] - 10 * math.log10(255**2 / (104 / 64))) < 1e-12


def test_envi_window_bil_bip_match_bsq(spark):
    """BIL/BIP slab window reads return the identical window as BSQ
    (frmts/raw/envidataset.cpp interleave offsets)."""
    import os
    import tempfile

    rng = np.random.default_rng(11)
    cube = rng.integers(0, 4000, (3, 21, 30)).astype(np.int16)
    ref = None
    for il in ("bsq", "bil", "bip"):
        base = os.path.join(tempfile.mkdtemp(prefix=f"envi_{il}_"), "cube")
        SF.write_envi(base, cube, interleave=il)
        got = SF.read_envi_window(
            spark, base, band=1, row0=2, row1=19, col0=4, col1=27, rows_per_task=5
        )
        vals = {(r.row, r.col): r.value for r in got.collect()}
        assert len(vals) == 17 * 23
        assert vals[(2, 4)] == float(cube[1, 2, 4])
        assert vals[(18, 26)] == float(cube[1, 18, 26])
        if ref is None:
            ref = vals
        else:
            assert vals == ref


def test_pnm_16bit_roundtrip():
    """P5/P6 with maxval 65535: 2-byte big-endian samples (pnm(5))."""
    rng = np.random.default_rng(5)
    g16 = rng.integers(0, 65536, (7, 9)).astype(np.uint16)
    rgb16 = rng.integers(0, 65536, (6, 4, 3)).astype(np.uint16)
    for a in (g16, rgb16):
        buf = SF.pnm_encode(a)
        out = SF.pnm_decode(buf)
        assert out.dtype == np.uint16
        assert np.array_equal(out, a)
    # header declares the 16-bit maxval and big-endian body
    assert b"65535" in SF.pnm_encode(g16)[:20]


def test_pnm_decode_imports_neither_pandas_nor_pyspark():
    """Decoding a PNM blob loads ``simple_formats`` but not the Spark
    stack: pandas and pyspark are imported by the ENVI window reader
    only, so a codec-only worker stays light."""
    code = (
        "import sys; from gdal_spark.raster import codec;"
        "a = codec.decode_image(b'P5\\n4 3\\n255\\n' + bytes(range(12)));"
        "assert a.shape[:2] == (3, 4), a.shape;"
        "assert 'gdal_spark.raster.simple_formats' in sys.modules;"
        "sys.exit(sorted({'pandas', 'pyspark'} & set(sys.modules)) or None)"
    )
    subprocess.run(
        [sys.executable, "-c", code],
        check=True,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        timeout=120,
    )
