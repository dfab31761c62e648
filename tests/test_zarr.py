"""Zarr v2 source tests (gcore/multidim model, frmts/zarr encoding)."""

import numpy as np
import pytest

from gdal_spark.sources import zarr as Z


def make_arr(h=37, w=53):
    # deterministic, covers negative values and edge chunks
    y, x = np.mgrid[0:h, 0:w]
    return ((y * w + x) % 251 - 17).astype(np.int32)


def test_write_read_roundtrip(spark, tmp_path):
    arr = make_arr()
    p = str(tmp_path / "z1")
    Z.write_zarr_nd(p, arr, chunks=(16, 16))
    rows = Z.zarr_window_values(spark, p, (0, 0, 37, 53)).collect()
    assert len(rows) == 37 * 53
    got = np.zeros_like(arr, dtype=np.float64)
    for r in rows:
        got[r.y, r.x] = r.value
    assert (got == arr).all()


def test_uncompressed_and_dtypes(spark, tmp_path):
    arr = (np.arange(100, dtype=np.float32).reshape(10, 10)) / 4.0
    p = str(tmp_path / "z2")
    Z.write_zarr_nd(p, arr, chunks=(4, 4), compressor=None)
    stats = Z.zarr_band_stats(spark, p).collect()[0]
    assert stats["count"] == 100
    assert stats.vmin == 0.0 and stats.vmax == pytest.approx(99 / 4.0)
    assert stats.mean == pytest.approx(float(arr.mean()), abs=1e-6)


def test_window_prunes_chunk_files(spark, tmp_path):
    arr = make_arr(64, 64)
    p = str(tmp_path / "z3")
    Z.write_zarr_nd(p, arr, chunks=(16, 16))  # 4x4 = 16 chunk files
    # window entirely inside chunk (1,1)..(2,2) → at most 4 files scanned
    df = Z.read_zarr_chunks_nd(spark, p, window=[(20, 20), (20, 20)])
    chunk_rows = df.collect()
    assert len(chunk_rows) == 4
    assert {tuple(r.idx) for r in chunk_rows} == {(1, 1), (1, 2), (2, 1), (2, 2)}
    # window values correct
    vals = Z.zarr_window_values(spark, p, (20, 20, 20, 20)).collect()
    assert len(vals) == 400
    for r in vals[:50]:
        assert r.value == float(arr[r.y, r.x])


def test_edge_chunks_trimmed(spark, tmp_path):
    arr = make_arr(18, 18)  # chunks 16 → edge chunks 2 wide
    p = str(tmp_path / "z4")
    Z.write_zarr_nd(p, arr, chunks=(16, 16), fill_value=-999)
    stats = Z.zarr_band_stats(spark, p).collect()[0]
    assert stats["count"] == 18 * 18
    assert stats.vmin == float(arr.min())  # fill padding never leaks


def test_unsupported_compressor_raises(tmp_path):
    import json
    import os

    p = str(tmp_path / "z5")
    os.makedirs(p)
    with open(os.path.join(p, ".zarray"), "w") as f:
        json.dump(
            {"zarr_format": 2, "shape": [4, 4], "chunks": [4, 4],
             "dtype": "<i4", "order": "C",
             "compressor": {"id": "blosc"}, "fill_value": 0}, f
        )
    with pytest.raises(NotImplementedError, match="blosc"):
        Z.read_zarray_meta_nd(p)


def test_distributed_zarr_writer_roundtrip(spark, tmp_path):
    """read → transform → distributed write → read back; atomic-rename
    resume safety and edge-chunk padding included."""
    import numpy as np
    from pyspark.sql import functions as F

    from gdal_spark.sources.zarr import (
        read_zarr_chunks_nd,
        write_zarr_distributed,
        write_zarr_nd,
    )

    rng = np.random.default_rng(17)
    arr = (rng.random((70, 53)) * 100).astype("<f8")  # non-divisible by chunks
    src = str(tmp_path / "src.zarr")
    dst = str(tmp_path / "dst.zarr")
    write_zarr_nd(src, arr, chunks=(32, 16))

    chunks = read_zarr_chunks_nd(spark, src)
    doubled = chunks.withColumn(
        "values", F.transform("values", lambda v: v * F.lit(2.0))
    )
    write_zarr_distributed(
        doubled, dst, shape=arr.shape, chunk_shape=(32, 16), dtype="<f8"
    )

    back = read_zarr_chunks_nd(spark, dst).collect()
    out = np.zeros_like(arr)
    for r in back:
        (y0, x0), (h, w) = r.origin, r.dims
        out[y0 : y0 + h, x0 : x0 + w] = np.asarray(r.values).reshape(h, w)
    assert np.array_equal(out, arr * 2.0)

    # window read on the written store still prunes to the right values
    win = read_zarr_chunks_nd(spark, dst, window=[(40, 10), (20, 10)]).collect()
    assert all(r.origin[0] + r.dims[0] > 32 for r in win)  # only bottom chunk rows listed

    # re-write is idempotent (atomic replace, same bytes)
    write_zarr_distributed(
        doubled, dst, shape=arr.shape, chunk_shape=(32, 16), dtype="<f8"
    )
    back2 = read_zarr_chunks_nd(spark, dst).collect()
    out2 = np.zeros_like(arr)
    for r in back2:
        (y0, x0), (h, w) = r.origin, r.dims
        out2[y0 : y0 + h, x0 : x0 + w] = np.asarray(r.values).reshape(h, w)
    assert np.array_equal(out2, arr * 2.0)


def test_absent_chunk_reads_as_fill_value(spark, tmp_path):
    """A chunk file that is absent is uniformly fill_value (the Zarr v2
    spec; zarr-python omits all-fill chunks by default): stats and
    window reads count it, and a null fill_value names the chunk."""
    import json
    import os

    arr = np.arange(64, dtype=np.float64).reshape(8, 8)
    arr[:4, :4] = 0.0  # chunk 0.0 is all fill
    p = str(tmp_path / "sparse")
    Z.write_zarr_nd(p, arr, chunks=(4, 4), compressor=None, fill_value=0)
    os.remove(os.path.join(p, "0.0"))
    stats = Z.zarr_band_stats(spark, p).collect()[0]
    assert stats["count"] == 64
    assert stats.mean == pytest.approx(float(arr.mean()))
    vals = Z.zarr_window_values(spark, p, (0, 0, 8, 8)).collect()
    assert len(vals) == 64
    assert all(r.value == arr[r.y, r.x] for r in vals)

    meta_path = os.path.join(p, ".zarray")
    meta = json.load(open(meta_path))
    meta["fill_value"] = None
    json.dump(meta, open(meta_path, "w"))
    with pytest.raises(ValueError, match="'0.0'"):
        Z.read_zarr_chunks_nd(spark, p)


# ---------------------------------------------------------------------------
# round-4 N-D hypercubes (VERDICT r03 item 9)
# ---------------------------------------------------------------------------


def _cube(shape=(6, 10, 12)):
    t, y, x = np.meshgrid(*[np.arange(s) for s in shape], indexing="ij")
    return ((t * 7 + y * 3 + x) % 101).astype(np.float64)


def test_nd_roundtrip_and_window(spark, tmp_path):
    from gdal_spark.sources import zarr as Z

    arr = _cube()
    p = str(tmp_path / "cube")
    Z.write_zarr_nd(p, arr, (2, 4, 5))
    win = [(1, 3), (2, 6), (3, 7)]
    rows = Z.zarr_hypercube_window(spark, p, win).collect()
    assert len(rows) == 3 * 6 * 7
    for r in rows:
        assert arr[r.d0, r.d1, r.d2] == r.value


def test_nd_chunk_pruning(spark, tmp_path):
    """A window touching one chunk lists exactly that chunk file."""
    from gdal_spark.sources import zarr as Z

    arr = _cube()
    p = str(tmp_path / "cube2")
    Z.write_zarr_nd(p, arr, (2, 4, 5))
    df = Z.read_zarr_chunks_nd(spark, p, [(0, 2), (0, 4), (0, 5)])
    rows = df.collect()
    assert len(rows) == 1 and rows[0].idx == [0, 0, 0]
    # full scan sees the whole 3x3x3 chunk grid
    assert Z.read_zarr_chunks_nd(spark, p).count() == 27


def test_nd_axis_stats(spark, tmp_path):
    from gdal_spark.sources import zarr as Z

    arr = _cube()
    p = str(tmp_path / "cube3")
    Z.write_zarr_nd(p, arr, (2, 4, 5), compressor=None)
    out = {r.i: r for r in Z.zarr_axis_stats(spark, p, axis=0).collect()}
    for t in range(arr.shape[0]):
        sl = arr[t]
        assert out[t]["count"] == sl.size
        assert out[t].vmin == sl.min() and out[t].vmax == sl.max()
        assert abs(out[t].vsum - sl.sum()) < 1e-6
    # per-band axis too
    out1 = {r.i: r for r in Z.zarr_axis_stats(spark, p, axis=1).collect()}
    assert out1[3]["count"] == arr.shape[0] * arr.shape[2]


def test_nd_4d(spark, tmp_path):
    """Rank-4 (time, band, y, x) hypercube."""
    from gdal_spark.sources import zarr as Z

    rng = np.random.default_rng(0)
    arr = rng.integers(0, 255, (3, 2, 8, 9)).astype(np.float64)
    p = str(tmp_path / "cube4")
    Z.write_zarr_nd(p, arr, (2, 1, 4, 4))
    win = [(1, 2), (0, 2), (2, 5), (3, 4)]
    rows = Z.zarr_hypercube_window(spark, p, win).collect()
    assert len(rows) == 2 * 2 * 5 * 4
    for r in rows:
        assert arr[r.d0, r.d1, r.d2, r.d3] == r.value


def test_zarr_v3_roundtrip_and_window(spark, tmp_path):
    """Zarr v3 core spec: zarr.json array node, c/-separated chunk
    keys, bytes+gzip codec chain; window read matches the source and
    the v2 reader's contract (frmts/zarr reads both versions)."""
    import numpy as np

    from gdal_spark.sources import zarr as Z

    rng = np.random.default_rng(2)
    arr = rng.integers(0, 1000, (9, 14, 11)).astype(np.int32)
    p = str(tmp_path / "v3")
    Z.write_zarr_v3(p, arr, (4, 5, 6))
    meta = Z.read_zarr_meta_v3(p)
    assert meta["shape"] == [9, 14, 11] and meta["dtype"] == "<i4"
    win = [(2, 5), (3, 8), (1, 9)]
    rows = Z.zarr_hypercube_window(spark, p, win).collect()
    assert len(rows) == 5 * 8 * 9
    got = {(r.d0, r.d1, r.d2): r.value for r in rows}
    for t in range(2, 7):
        for y in range(3, 11):
            for x in range(1, 10):
                assert got[(t, y, x)] == float(arr[t, y, x])
    # uncompressed v3 (bytes codec only) also reads
    p2 = str(tmp_path / "v3raw")
    Z.write_zarr_v3(p2, arr, (4, 5, 6), codec=None)
    assert Z.read_zarr_meta_v3(p2)["compressor"] is None
    n = Z.zarr_hypercube_window(spark, p2, win).count()
    assert n == 5 * 8 * 9


def test_zarr_v3_rejects_unknown_codec(tmp_path):
    import json as _json

    from gdal_spark.sources import zarr as Z

    p = str(tmp_path / "bad")
    import os

    os.makedirs(p)
    meta = {
        "zarr_format": 3,
        "node_type": "array",
        "shape": [4],
        "data_type": "float64",
        "chunk_grid": {"name": "regular", "configuration": {"chunk_shape": [4]}},
        "chunk_key_encoding": {"name": "default", "configuration": {"separator": "/"}},
        "fill_value": 0,
        "codecs": [
            {"name": "bytes", "configuration": {"endian": "little"}},
            {"name": "blosc", "configuration": {}},
        ],
    }
    with open(os.path.join(p, "zarr.json"), "w") as f:
        _json.dump(meta, f)
    import pytest as _pt

    with _pt.raises(NotImplementedError, match="blosc"):
        Z.read_zarr_meta_v3(p)
