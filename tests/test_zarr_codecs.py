"""Zarr zstd / lz4 / F-order support (frmts/zarr reads these through
the codec libraries; numcodecs formats: Zstd = one standard zstd
frame, LZ4 = 4-byte little-endian original-size prefix + one LZ4
block per ``numcodecs/lz4.pyx``).

The compressed bytes come from the real libzstd/liblz4 via the
capability-probed bindings, so frame-format fidelity is pinned by the
libraries themselves; skips cleanly where a library is absent.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pytest

from gdal_spark.native.lz4_lib import get_liblz4
from gdal_spark.native.zstd_lib import get_libzstd
from gdal_spark.sources import zarr as Z

needs_zstd = pytest.mark.skipif(get_libzstd() is None,
                                reason="libzstd not available")
needs_lz4 = pytest.mark.skipif(get_liblz4() is None,
                               reason="liblz4 not available")


def _collect_2d(spark, path, shape):
    df = Z.read_zarr_chunks_nd(spark, path)
    out = np.zeros(shape)
    for r in df.collect():
        (y0, x0), (h, w) = r.origin, r.dims
        out[y0:y0 + h, x0:x0 + w] = np.array(r.values).reshape(h, w)
    return out


@needs_zstd
def test_zstd_2d_roundtrip(spark, tmp_path):
    rng = np.random.default_rng(1)
    a = rng.integers(0, 1000, (37, 53)).astype(np.int32)
    p = str(tmp_path / "zs")
    Z.write_zarr_nd(p, a, (16, 16), compressor="zstd", level=3)
    meta = json.load(open(os.path.join(p, ".zarray")))
    assert meta["compressor"]["id"] == "zstd"
    assert np.array_equal(_collect_2d(spark, p, a.shape), a)


@needs_lz4
def test_lz4_2d_roundtrip(spark, tmp_path):
    rng = np.random.default_rng(2)
    a = (rng.random((29, 41)) * 100).astype(np.float32)
    p = str(tmp_path / "l4")
    Z.write_zarr_nd(p, a, (16, 16), compressor="lz4")
    meta = json.load(open(os.path.join(p, ".zarray")))
    assert meta["compressor"]["id"] == "lz4"
    assert np.allclose(_collect_2d(spark, p, a.shape), a)


@needs_zstd
def test_distributed_writer_zstd(spark, tmp_path):
    # the distributed sink writes the compressor its .zarray names
    a = np.arange(37 * 53, dtype=np.float64).reshape(37, 53)
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    Z.write_zarr_nd(src, a, (16, 16), compressor=None)
    Z.write_zarr_distributed(Z.read_zarr_chunks_nd(spark, src), dst, a.shape,
                             (16, 16), compressor="zstd", level=3)
    meta = json.load(open(os.path.join(dst, ".zarray")))
    assert meta["compressor"] == {"id": "zstd", "level": 3}
    raw = open(os.path.join(dst, "0.0"), "rb").read()
    assert raw[:4] == b"\x28\xb5\x2f\xfd"  # zstd frame magic
    assert np.array_equal(_collect_2d(spark, dst, a.shape), a)


@needs_lz4
def test_lz4_frame_format_is_numcodecs():
    # <u4 original size, then one LZ4 block (numcodecs/lz4.pyx)
    from gdal_spark.native import lz4_lib

    raw = bytes(range(256)) * 5
    frame = lz4_lib.compress_frame(raw)
    assert int.from_bytes(frame[:4], "little") == len(raw)
    assert lz4_lib.decompress_frame(frame) == raw


@needs_zstd
def test_zstd_nd_and_v3(spark, tmp_path):
    rng = np.random.default_rng(3)
    a = rng.integers(0, 99, (4, 10, 12)).astype(np.int16)
    p2 = str(tmp_path / "nd")
    Z.write_zarr_nd(p2, a, (2, 4, 8), compressor="zstd")
    got = {tuple(r.idx): (r.dims, r.values)
           for r in Z.read_zarr_chunks_nd(spark, p2).collect()}
    dims, vals = got[(0, 0, 0)]
    assert np.array_equal(
        np.array(vals).reshape(dims), a[:2, :4, :8].astype(float))

    p3 = str(tmp_path / "v3")
    Z.write_zarr_v3(p3, a, (2, 4, 8), codec="zstd")
    m = Z.read_zarr_meta_v3(p3)
    assert m["compressor"] == {"id": "zstd"}
    got3 = {tuple(r.idx): (r.dims, r.values)
            for r in Z.read_zarr_chunks_nd(spark, p3).collect()}
    dims3, vals3 = got3[(1, 2, 1)]
    assert np.array_equal(
        np.array(vals3).reshape(dims3),
        a[2:4, 8:10, 8:12].astype(float))


def test_f_order_chunks(spark, tmp_path):
    # hand-built store with order "F": chunk bytes are column-major
    a = np.arange(48, dtype=np.int32).reshape(6, 8)
    p = str(tmp_path / "fo")
    os.makedirs(p)
    json.dump({"zarr_format": 2, "shape": [6, 8], "chunks": [6, 8],
               "dtype": "<i4", "order": "F", "compressor": None,
               "fill_value": 0, "filters": None},
              open(os.path.join(p, ".zarray"), "w"))
    open(os.path.join(p, "0.0"), "wb").write(a.tobytes(order="F"))
    assert np.array_equal(_collect_2d(spark, p, a.shape), a)


def test_unknown_compressor_still_raises(tmp_path):
    p = str(tmp_path / "uk")
    os.makedirs(p)
    json.dump({"zarr_format": 2, "shape": [4, 4], "chunks": [4, 4],
               "dtype": "<i4", "order": "C",
               "compressor": {"id": "lzfoo"}, "fill_value": 0},
              open(os.path.join(p, ".zarray"), "w"))
    with pytest.raises(NotImplementedError, match="lzfoo"):
        Z.read_zarray_meta_nd(p)
