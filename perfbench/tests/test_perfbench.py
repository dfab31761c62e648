"""Smoke tests of the benchmark on small inputs.

    python3 -m pytest perfbench/tests -q

The Spark tests run traced passes of each workload on inputs a few
times to a few hundred times smaller than the benchmark's and check the
traced row counters of the first pass against a brute-force ``count()``
of the same result.
"""

from __future__ import annotations

import os
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, REPO)

from perfbench import inputs, oracles, run, tracing  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402


def test_digest_agrees_with_duckdb():
    import duckdb

    rng = np.random.default_rng(0)
    a, b = rng.integers(0, 2**31 - 1, 500), rng.integers(0, 5000, 500)
    con = duckdb.connect()
    con.register("t", pa.table({"a": a, "b": b}))
    got = con.execute(f"SELECT {oracles.digest_sql(['a', 'b'])} FROM t").fetchone()
    assert list(got) == list(oracles.digest_np(a, b))
    # order-insensitive, and sensitive to which rows are present
    p = rng.permutation(500)
    assert oracles.digest_np(a[p], b[p]) == oracles.digest_np(a, b)
    assert oracles.digest_np(a[1:], b[1:]) != oracles.digest_np(a, b)


def test_metric_value_formats():
    assert tracing.metric_value("1,234") == 1234
    assert tracing.metric_value("12 ms") == pytest.approx(0.012)
    assert tracing.metric_value("total (min, med, max (stageId: taskId))\n2.1 s (1 ms, 2 ms)") == 2.1
    assert tracing.metric_value("total (min, med, max)\n3.0 KiB (1.0 KiB, ...)") == 3072


def test_self_times_sum_to_pass_wall():
    spans = [
        {"depth": 0, "start": 0.0, "end": 10.0},
        {"depth": 1, "start": 1.0, "end": 9.0},
        {"depth": 2, "start": 2.0, "end": 6.0},
        {"depth": 2, "start": 4.0, "end": 8.0},  # overlaps the job above
        {"depth": 3, "start": 2.5, "end": 3.0},
    ]
    tracing.self_times(spans)
    assert sum(s["self_s"] for s in spans) == pytest.approx(10.0)
    assert spans[0]["self_s"] == pytest.approx(2.0)
    assert spans[1]["self_s"] == pytest.approx(2.0)
    assert spans[4]["self_s"] == pytest.approx(0.5)


def _png(arr: np.ndarray, filters) -> bytes:
    """RGBA PNG with scanline ``r`` filtered by ``filters[r % len]``,
    written straight from the PNG spec."""
    import struct
    import zlib

    h, w, ch = arr.shape
    raw = arr.reshape(h, w * ch).astype(np.int64)
    rows = []
    for r in range(h):
        ft = filters[r % len(filters)]
        up = raw[r - 1] if r else np.zeros(w * ch, np.int64)
        line = [ft]
        for i in range(w * ch):
            a, b, c = (raw[r, i - ch] if i >= ch else 0), up[i], (up[i - ch] if i >= ch else 0)
            p = a + b - c
            paeth = a if abs(p - a) <= min(abs(p - b), abs(p - c)) else (b if abs(p - b) <= abs(p - c) else c)
            line.append((raw[r, i] - (0, a, b, (a + b) // 2, paeth)[ft]) & 255)
        rows.append(bytes(line))

    def chunk(kind, data):
        return struct.pack(">I", len(data)) + kind + data + struct.pack(">I", zlib.crc32(kind + data))

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 6, 0, 0, 0)
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr) + chunk(b"IDAT", zlib.compress(b"".join(rows)))
            + chunk(b"IEND", b""))


@pytest.mark.parametrize("filters", [[0], [1], [2], [3], [4], [0, 1, 2], [4, 3, 2, 1, 0]])
def test_png_decoder_every_filter(filters):
    arr = np.random.default_rng(1).integers(0, 256, (9, 7, 4), dtype=np.uint8)
    assert (oracles.png_decode_rgba(_png(arr, filters)) == arr).all()


def test_png_decoder_reads_engine_tiles_and_rejects_damage():
    from gdal_spark.raster import codec

    arr = np.random.default_rng(2).integers(0, 256, (32, 32, 4), dtype=np.uint8)
    buf = codec.png_encode(arr, 3)
    assert (oracles.png_decode_rgba(buf) == arr).all()
    rgb = oracles.png_decode_rgba(codec.png_encode(arr[:, :, :3].copy(), 3))
    assert (rgb[:, :, :3] == arr[:, :, :3]).all() and (rgb[:, :, 3] == 255).all()
    for bad in (buf[:-20], buf[:40] + bytes([buf[40] ^ 1]) + buf[41:], b""):
        with pytest.raises(Exception):
            oracles.png_decode_rgba(bad)
    # a change in any band moves the tile's CRC
    for band in range(4):
        other = arr.copy()
        other[5, 5, band] ^= 1
        assert oracles.rgba_crc(other) != oracles.rgba_crc(arr)


def test_even_odd_hole_and_concave():
    _, rings = inputs.pq_polygons(1)
    star, holed = rings[inputs.PQ_CONVEX], rings[inputs.PQ_CONVEX + 1]
    c = holed[0][:-1].mean(axis=0)  # centre of the ring with a hole
    assert not oracles.even_odd(np.array([c[0]]), np.array([c[1]]), holed)[0]
    s = star[0][:-1].mean(axis=0)
    assert oracles.even_odd(np.array([s[0]]), np.array([s[1]]), star)[0]


def test_refuses_to_run_outside_a_checkout(tmp_path):
    r = subprocess.run(
        [sys.executable, os.path.join(REPO, "perfbench", "run.py"), "--workload", "spatial_joins",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert r.returncode != 0 and r.stdout == ""


# -- Spark smoke tests ------------------------------------------------------------


@pytest.fixture(scope="module")
def session(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("work"))
    run._prepare_env(REPO, work)
    spark = run.start_session(work, ui=True)
    yield spark, work
    run.stop_jvm()


def _traced_pass(spark, work, wl, seed):
    root = os.path.join(work, "inputs", wl.name)
    data = inputs.build(wl.name, seed, root)
    expected = {"oracle": wl.oracle(root, data)}
    tr = tracing.Tracer(spark)
    passes = run.timed_passes(spark, wl, root, expected, work, 0, tr)
    assert all(p["ok"] for p in passes)
    rest = tr.collect()
    return root, tracing.pass_layers(tr.passes[0], rest, expected["oracle"].get("knn_rows", 0)), expected


def test_spatial_joins_counters(session, monkeypatch):
    spark, work = session
    monkeypatch.setattr(inputs, "JOIN_FOOTPRINTS", 3000)
    monkeypatch.setattr(inputs, "PQ_POINTS", 2000)
    monkeypatch.setattr(inputs, "PQ_SITES", 500)
    wl = WORKLOADS["spatial_joins"]
    root, L, _ = _traced_pass(spark, work, wl, 5)

    from gdal_spark.operators.spatial_join import bbox_intersection_join, point_in_polygon_join

    read = lambda t: spark.read.parquet(os.path.join(root, t))  # noqa: E731
    fp, aoi, pts, polys = read("footprints"), read("aoi"), read("points"), read("polys")
    assert L["refine.rows_out"] == bbox_intersection_join(fp, aoi).count()
    assert L["refine.rows_in"] == L["join.candidates"] == L["refine.rows_out"]  # all rectangles
    assert L["pip.refine.rows_out"] == point_in_polygon_join(pts, polys).count()
    assert L["pip.refine.rows_in"] == L["pip.candidates"] > L["pip.refine.rows_out"]
    assert L["knn.sql_executions"] >= 1 and L["knn.candidates_per_result"] >= 1
    assert L["refine.python_s"] > 0 and L["jvm.run_s"] > 0 and 0 < L["python_share"]


def test_tile_pyramid_counters(session, monkeypatch):
    spark, work = session
    monkeypatch.setattr(inputs, "PYR_IMAGES", 12)
    wl = WORKLOADS["tile_pyramid"]
    root, L, expected = _traced_pass(spark, work, wl, 5)
    assert L["scan.rows"] == spark.read.parquet(os.path.join(root, "images")).count()
    assert L["tiler.partials"] == expected["oracle"]["partials"]
    for stage in ("render", "compose", "overview", "finalize"):
        assert L[f"tiler.{stage}.python_s"] > 0, stage
