"""Raster pipeline + tiler end-to-end tests vs the single-node oracle."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from gdal_spark.functions import tile_math as tm
from gdal_spark.raster import codec, pipeline, tiler
from gdal_spark.raster.checksum import checksum_bands
from gdal_spark.raster.warp import warp_lonlat_to_merc_tile
from gdal_spark.sources import synth


@pytest.fixture(scope="module")
def imgs(spark, sf_dir):
    # small deterministic subset with pixels
    return synth.images(spark, sf_dir).filter(F.col("image_id") < "img000000000050").cache()


def test_images_schema_and_captions(imgs, spark, sf_dir):
    rows = imgs.collect()
    assert len(rows) == 50
    for r in rows:
        assert r.caption.startswith("synthetic scene ")
        assert r.fmt in ("png", "jpeg", "webp")
        arr = codec.decode_image(r.bytes, r.fmt)
        assert arr.shape == (r.h, r.w, 3)


def test_checksums_lossless_exact_and_lossy_psnr(imgs):
    rows = imgs.collect()
    got = {r.image_id: r for r in pipeline.with_checksums(imgs).collect()}
    for r in rows:
        okey = int(r.image_id[3:])
        ref = synth.synth_pixels(r.image_id, r.w, r.h)
        dec = codec.decode_image(r.bytes, r.fmt)
        g = got[r.image_id]
        assert g.caption == f"synthetic scene {okey} tags:{okey % 17}"  # exact captions
        if r.fmt == "png":
            # lossless path: checksum-exact vs oracle pixels
            assert np.array_equal(dec, ref)
            assert [g.checksum_b0, g.checksum_b1, g.checksum_b2] == checksum_bands(ref)
        else:
            # lossy path: PSNR >= 40 dB (north rule)
            assert codec.psnr(ref, dec) >= 40.0
            assert [g.checksum_b0, g.checksum_b1, g.checksum_b2] == checksum_bands(dec)


def test_translate_window_scale(imgs):
    out = pipeline.translate(
        imgs, srcwin=(4, 4, 32, 32), out_size=(16, 16), scale=(0.5, 10.0), bands=[0]
    ).collect()
    assert all(r.w == 16 and r.h == 16 and r.fmt == "png" for r in out)
    one = next(r for r in out if r.image_id.endswith("0"))
    arr = codec.decode_image(one.bytes, "png")
    assert arr.shape == (16, 16)
    assert arr.max() <= 255 // 2 + 11  # scaled


def test_as_features_roundtrip(imgs, spark):
    one = imgs.filter(F.col("image_id") == "img000000000000")
    feats = pipeline.as_features(one).collect()
    r = one.collect()[0]
    arr = codec.decode_image(r.bytes, r.fmt)
    assert len(feats) == r.w * r.h
    m = {(f.row, f.col): f.value for f in feats}
    assert m[(0, 0)] == int(arr[0, 0, 0])
    assert m[(r.h - 1, r.w - 1)] == int(arr[r.h - 1, r.w - 1, 0])


def test_assign_tiles_matches_reference_math(spark, sf_dir):
    fps = synth.footprints(spark, sf_dir).limit(100)
    z = 11
    got = {
        (r.image_id, r.tx, r.ty, r.x, r.y, r.quadkey)
        for r in tiler.assign_tiles(fps, z).collect()
    }
    m = tm.GlobalMercator()
    exp = set()
    for f in fps.collect():
        txmin, tymin = m.LatLonToTile(f.lat_min, f.lon_min, z)
        txmax, tymax = m.LatLonToTile(f.lat_max, f.lon_max, z)
        for tx in range(txmin, txmax + 1):
            for ty in range(tymin, tymax + 1):
                exp.add((f.image_id, tx, ty, tx, (2**z - 1) - ty, m.QuadTree(tx, ty, z)))
    assert got == exp


def test_render_base_tiles_vs_oracle(imgs):
    z = 11
    tiles = tiler.render_base_tiles(imgs, z).collect()
    assert tiles
    rows = {r.image_id: r for r in imgs.collect()}
    m = tm.GlobalMercator()
    # oracle: single-node render of every tile of every image
    oracle = {}
    for r in rows.values():
        arr = codec.decode_image(r.bytes, r.fmt)
        txmin, tymin = m.LatLonToTile(r.lat_min, r.lon_min, z)
        txmax, tymax = m.LatLonToTile(r.lat_max, r.lon_max, z)
        for tx in range(txmin, txmax + 1):
            for ty in range(tymin, tymax + 1):
                tile, valid = warp_lonlat_to_merc_tile(
                    arr, r.lon_min, r.lat_min, r.lon_max, r.lat_max,
                    m.TileBounds(tx, ty, z), 256, "near",
                )
                if not valid.any():
                    continue
                cur = oracle.get((tx, ty))
                canvas = (
                    cur if cur is not None else np.zeros((256, 256, 4), np.uint8)
                )
                put = valid & (canvas[:, :, 3] == 0)
                canvas[:, :, :3][put] = tile[put]
                canvas[:, :, 3][put] = 255
                oracle[(tx, ty)] = canvas
    got = {(t.tx, t.ty): t for t in tiles}
    assert set(got) == set(oracle)
    for key, canvas in oracle.items():
        t = got[key]
        dec = codec.png_decode(bytes(t.tile))
        assert np.array_equal(dec, canvas), key
        from gdal_spark.raster.checksum import checksum

        assert t.checksum == checksum(canvas[:, :, 0])
        assert t.quadkey == m.QuadTree(t.tx, t.ty, z)


def test_pyramid_and_resume(imgs, spark, tmp_path):
    out_dir = str(tmp_path / "tiles_out")
    pyr = tiler.build_pyramid(imgs, min_zoom=9, max_zoom=11)
    info = tiler.write_tiles(spark, pyr, out_dir)
    assert info["n_tiles"] > 0
    zs = {r.z for r in spark.read.parquet(f"{out_dir}/tiles").select("z").distinct().collect()}
    assert zs == {9, 10, 11}
    # parent/child consistency: every z=10 tile has a z=11 child
    t = spark.read.parquet(f"{out_dir}/tiles")
    kids = {(r.tx // 2, r.ty // 2) for r in t.filter("z = 11").collect()}
    parents = {(r.tx, r.ty) for r in t.filter("z = 10").collect()}
    assert parents == kids
    # resume: rerendering with the manifest renders ZERO new base tiles
    manifest = tiler.read_manifest(spark, out_dir)
    again = tiler.render_base_tiles(imgs, 11, resume_manifest=manifest)
    assert again.count() == 0
    # metrics/lineage rows were appended
    metrics = spark.read.parquet(f"{out_dir}/metrics")
    assert metrics.count() > 0
    assert {"run_id", "n_tiles", "bytes", "wall_sec"} <= set(metrics.columns)


def test_partial_resume_is_full_pyramid_minus_manifest(imgs):
    """A manifest holding part of the base level (the z=11 tiles with
    even tx): the resumed pyramid is the full one anti-joined with the
    manifest, each tile once and byte-identical — overviews above the
    remaining base tiles are composed from all their base tiles."""
    def key(t):
        return t.z, t.tx, t.ty

    full = tiler.build_pyramid(imgs, 9, 11).collect()
    done = {key(t) for t in full if t.z == 11 and t.tx % 2 == 0}
    want = {key(t): t for t in full if key(t) not in done}
    manifest = imgs.sparkSession.createDataFrame(sorted(done), "z int, tx int, ty int")
    got = tiler.build_pyramid(imgs, 9, 11, resume_manifest=manifest).collect()
    assert done and {9, 10} <= {z for z, _, _ in want}
    assert len(got) == len({key(t) for t in got}) == len(want)
    for t in got:
        assert t == want[key(t)], key(t)


def test_geodetic_tiles_vs_oracle(imgs):
    """Geodetic profile render (plate carrée): distributed tiles equal
    the single-node warp of the same GlobalGeodetic tile bounds."""
    from gdal_spark.raster.warp import warp_lonlat_to_grid

    z = 10
    tiles = tiler.render_base_tiles(imgs, z, profile="geodetic").collect()
    assert tiles
    gg = tm.GlobalGeodetic(tmscompatible=True)
    rows = {r.image_id: r for r in imgs.collect()}
    oracle = {}
    for r in rows.values():
        arr = codec.decode_image(r.bytes, r.fmt)
        tx0, ty0 = gg.LonLatToTile(r.lon_min, r.lat_min, z)
        tx1, ty1 = gg.LonLatToTile(r.lon_max, r.lat_max, z)
        for tx in range(tx0, tx1 + 1):
            for ty in range(ty0, ty1 + 1):
                tile, valid = warp_lonlat_to_grid(
                    arr, r.lon_min, r.lat_min, r.lon_max, r.lat_max,
                    gg.TileBounds(tx, ty, z), 4326, 256, 256, "near",
                )
                if not valid.any():
                    continue
                canvas = oracle.get((tx, ty))
                if canvas is None:
                    canvas = np.zeros((256, 256, 4), np.uint8)
                put = valid & (canvas[:, :, 3] == 0)
                canvas[:, :, :3][put] = tile[put]
                canvas[:, :, 3][put] = 255
                oracle[(tx, ty)] = canvas
    got = {(t.tx, t.ty): t for t in tiles}
    assert set(got) == set(oracle)
    for key, canvas in oracle.items():
        t = got[key]
        assert np.array_equal(codec.png_decode(bytes(t.tile)), canvas), key
        assert t.quadkey == ""  # quadkeys are a mercator convention
        assert t.y == (1 << z) - 1 - t.ty


def test_band_histogram_non_divisor_bins(imgs):
    """n_bins=48 (256 % 48 != 0) crashed pre-r3: integer-truncated width
    overflowed the bin range. Verify counts vs a per-image NumPy oracle
    and bin-label consistency with the bucketing rule."""
    n_bins = 48
    width = 256.0 / n_bins
    sub = imgs.filter(F.col("image_id") < "img000000000010")
    got = pipeline.band_histogram(sub, band=1, n_bins=n_bins).collect()
    by_img = {}
    for r in got:
        by_img.setdefault(r.image_id, {})[r.bin] = r
    for r in sub.collect():
        arr = codec.decode_image(r.bytes, r.fmt)
        b = arr[:, :, 1].ravel()
        idx = np.clip(np.floor(b / width), 0, n_bins - 1).astype(np.int64)
        oracle = np.bincount(idx, minlength=n_bins)[:n_bins]
        rows = by_img[r.image_id]
        assert len(rows) == n_bins
        for k in range(n_bins):
            assert rows[k].n == oracle[k]
            assert rows[k].bin_min == pytest.approx(k * width - 0.5)
            assert rows[k].bin_max == pytest.approx((k + 1) * width - 0.5)


def test_mbtiles_sink_roundtrip(imgs, spark, tmp_path):
    """MBTiles 1.3 sink (frmts/mbtiles): pyramid → single-file SQLite →
    read back bit-identical; metadata zoom range; TMS row convention."""
    import sqlite3

    from gdal_spark.raster.mbtiles import (
        mbtiles_metadata,
        read_mbtiles,
        write_mbtiles,
    )

    pyr = tiler.build_pyramid(imgs, min_zoom=10, max_zoom=11).cache()
    path = str(tmp_path / "pyr.mbtiles")
    meta = write_mbtiles(pyr, path, name="t")
    assert meta["minzoom"] == "10" and meta["maxzoom"] == "11"
    assert mbtiles_metadata(path)["format"] == "png"

    src = {(r.z, r.tx, r.ty): bytes(r.tile) for r in pyr.collect()}
    back = {(r.z, r.tx, r.ty): bytes(r.tile) for r in read_mbtiles(spark, path).collect()}
    assert back == src
    assert meta["tile_count"] == len(src)

    # spec: tile_row is TMS; the y column (XYZ) must equal 2^z-1-tile_row
    con = sqlite3.connect(path)
    z, tx, trow = con.execute("SELECT zoom_level, tile_column, tile_row FROM tiles LIMIT 1").fetchone()
    con.close()
    xyz = {(r.z, r.tx): r.y for r in pyr.select("z", "tx", "ty", "y").collect() if r.ty == trow and r.tx == tx and r.z == z}
    assert xyz[(z, tx)] == (1 << z) - 1 - trow

    # unique index: rewriting replaces, not duplicates
    write_mbtiles(pyr, path, name="t")
    con = sqlite3.connect(path)
    n = con.execute("SELECT count(*) FROM tiles").fetchone()[0]
    con.close()
    assert n == len(src)
    pyr.unpersist()



def _cutline_stage(spark, sf_dir):
    from gdal_spark.raster.rasterize import warp_cutline

    images, aoi = synth.images(spark, sf_dir), synth.aoi(spark, sf_dir)
    return lambda: warp_cutline(images, aoi)


def _compare_stage(spark, sf_dir):
    from gdal_spark.raster.compare import compare_images

    blob = codec.encode_image(np.zeros((4, 4, 3), dtype=np.uint8), "png")
    pairs = spark.createDataFrame(
        [("a", blob, blob)], "image_id string, bytes_a binary, bytes_b binary"
    )
    return lambda: compare_images(pairs)


@pytest.mark.parametrize("stage", [_cutline_stage, _compare_stage])
def test_pixel_stage_clamps_arrow_batch(spark, sf_dir, stage):
    """Building a pixel-bearing stage clamps the session's Arrow batch
    size when the caller's session runs at Spark's 10,000-row default.
    The inputs are built first: ``synth.images`` clamps on its own."""
    from gdal_spark.session import DEFAULT_ARROW_BATCH

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    build = stage(spark, sf_dir)
    try:
        spark.conf.set(key, "10000")
        build()
        assert int(spark.conf.get(key)) <= DEFAULT_ARROW_BATCH
    finally:
        spark.conf.set(key, prev)


def test_persisted_plans_are_coalesced(spark, sf_dir):
    """AQE coalesces the shuffles inside persisted plans: every block
    cached by the kNN rounds spans fewer partitions than
    ``spark.sql.shuffle.partitions`` (about one per core), so each
    round runs that few Python tasks. The tile pyramid's plan shape is
    checked in ``tests/test_plan_properties.py``."""
    from gdal_spark.operators.knn import knn_join

    sc = spark.sparkContext._jsc.sc()
    earlier = {i.id() for i in sc.getRDDStorageInfo()}
    pts = synth.points(spark, sf_dir).limit(40)
    assert len(knn_join(pts, synth.sites(spark, sf_dir), k=5).collect()) == 200
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    cached = [i for i in sc.getRDDStorageInfo() if i.id() not in earlier]
    assert cached
    assert all(i.numCachedPartitions() < n for i in cached), [
        (i.name(), i.numCachedPartitions(), n) for i in cached]


def _overview_reference(level: dict, ts: int = 256) -> dict:
    """NumPy 2×2 overview: {(tx, ty): (rgba, n)} at z → z−1, RGB the
    rounded mean, alpha the max, n the number of children present."""
    big = {}
    for (tx, ty), (rgba, _) in level.items():
        b, n = big.get((tx // 2, ty // 2), (np.zeros((2 * ts, 2 * ts, 4), np.uint8), 0))
        oy, ox = (1 - ty % 2) * ts, (tx % 2) * ts  # TMS: higher ty on top
        b[oy : oy + ts, ox : ox + ts] = rgba
        big[(tx // 2, ty // 2)] = (b, n + 1)
    out = {}
    for key, (b, n) in big.items():
        q = b.reshape(ts, 2, ts, 2, 4).astype(np.float64)
        rgb = np.floor(q[..., :3].mean(axis=(1, 3)) + 0.5)
        alpha = q[..., 3].max(axis=(1, 3))
        out[key] = (np.dstack([rgb, alpha]).astype(np.uint8), n)
    return out


def test_deep_pyramid_vs_numpy_overviews(imgs):
    """A pyramid of six levels runs two subtree rounds (11→8, then 8→6
    from the raw z=8 canvases); every tile equals NumPy overviews of
    the single-level base tiles."""
    from gdal_spark import cache
    from gdal_spark.raster.checksum import checksum

    lo, hi = 6, 11
    base = tiler.build_pyramid(imgs, hi, hi).collect()
    level = {(t.tx, t.ty): (codec.png_decode(bytes(t.tile)), t.n_srcs) for t in base}
    want = {(hi, *k): v for k, v in level.items()}
    for z in range(hi - 1, lo - 1, -1):
        level = _overview_reference(level)
        want.update({(z, *k): v for k, v in level.items()})

    pyr = tiler.build_pyramid(imgs, lo, hi)
    assert len(cache._TRACKED) == 1  # the 11→8 round feeds the 8→6 one
    rows = pyr.collect()
    got = {(t.z, t.tx, t.ty): t for t in rows}
    assert len(got) == len(rows)  # each tile once: z=8 ends one round, starts the next
    assert set(got) == set(want)
    m = tm.GlobalMercator()
    for (z, tx, ty), (rgba, n) in want.items():
        t = got[(z, tx, ty)]
        assert np.array_equal(codec.png_decode(bytes(t.tile)), rgba), (z, tx, ty)
        assert t.n_srcs == n
        assert t.checksum == checksum(rgba[:, :, 0])
        assert t.quadkey == m.QuadTree(tx, ty, z)
        assert t.y == (1 << z) - 1 - ty
    assert {z for z, _, _ in got} == set(range(lo, hi + 1))
