"""Distributed tile-pyramid builder — the north-star operator.

Re-expresses ``gdal2tiles.py`` / ``gdal raster tile``
(``apps/gdalalg_raster_tile.cpp``) as three Spark stages:

1. **assign** (pure SQL, no UDF): explode image footprints to covering
   XYZ tiles per zoom — the distributed ``tminmax`` enumeration of
   ``generate_base_tiles`` (gdal2tiles.py:2801-2824).
2. **render partials** (``mapInPandas``): per (image, tile) pair
   decode-once-per-image (partition-local cache — tiles of one image
   are adjacent after explode, so no shuffle is needed for reuse),
   inverse-mercator warp into the 256² tile window
   (gdal2tiles ``geo_query`` + ``scale_query_to_tile``, :2968/:838).
3. **subtrees** (one shuffle + one ``mapInPandas``): the partials are
   hash-partitioned on their ancestor tile three levels up (or at
   ``min_zoom``) and sorted (ancestor, tx, ty, image_id). One Python
   call walks each ancestor's rows and, in memory, composes its base
   tiles (first-wins over alpha by image_id, the mosaic rule), builds
   the 2×2 overviews (``create_overview_tile``,
   gdal2tiles.py:1466-1545) and PNG-encodes every tile of the subtree.

Plan shape: the payloads between render and subtrees are
zlib-compressed raw RGBA buffers, not PNG, and no raw payload leaves
the subtree stage, so PNG filter/chunk work happens once per final
tile and a pyramid of ≤4 levels is exactly two Python stages with one
Exchange between them and nothing persisted. Stage and task count,
not kernel time, bound this pipeline (a Python task costs ~0.2-0.3 s
fixed on 4 vCPUs): a stage, shuffle or persist per level would cost
more than the kernels it runs. Deeper pyramids repeat the subtree
stage over the raw ancestor canvases, three levels per round; only
those rounds are persisted.

Resume = anti-join against the tile manifest (replacing the
reference's per-file existence checks, gdal2tiles.py:2852-2855), of
base tiles whose whole ancestry is done and of finished tiles;
per-partition lineage + metrics rows are appended on every run
(north-rule checkpointing). Writes are parquet partitioned by ``z``
((z, x) directory layout ≈ the XYZ disk layout; swap for Iceberg
``writeTo`` on a cluster with an Iceberg catalog).
"""

from __future__ import annotations

import os
import time
import uuid
import zlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gdal_spark.functions import tile_math as tm
from gdal_spark.operators.spatial_join import explode_bbox_cells
from gdal_spark.raster import codec
from gdal_spark.raster.checksum import checksum
from gdal_spark.raster.resample import block_reduce
from gdal_spark.raster.warp import warp_lonlat_to_merc_tile

TILE_SIZE = 256


def assign_tiles(footprints: DataFrame, zoom: int) -> DataFrame:
    """Tile cover of each footprint at ``zoom`` — pure column math."""
    e = explode_bbox_cells(footprints, zoom=zoom)
    return e.select(
        "image_id",
        F.lit(zoom).alias("z"),
        F.col("_tx").alias("tx"),
        F.col("_ty").alias("ty"),
        F.col("_tx").alias("x"),
        tm.google_y(F.col("_ty"), zoom).alias("y"),
        tm.quadkey(F.col("_tx"), F.col("_ty"), zoom).alias("quadkey"),
    )


def assign_tiles_geodetic(
    footprints: DataFrame, zoom: int, tmscompatible: bool = True
) -> DataFrame:
    """Tile cover in the GlobalGeodetic profile (gdal2tiles.py:535-633;
    ``gdal raster tile --tiling-scheme geodetic``,
    apps/gdalalg_raster_tile.cpp:199-214) — plate-carrée tiles, 2×1
    root layout when tmscompatible. Pure column math like the mercator
    path."""
    txmin = tm.geodetic_tile_x(F.col("lon_min"), zoom, tmscompatible)
    txmax = tm.geodetic_tile_x(F.col("lon_max"), zoom, tmscompatible)
    tymin = tm.geodetic_tile_y(F.col("lat_min"), zoom, tmscompatible)
    tymax = tm.geodetic_tile_y(F.col("lat_max"), zoom, tmscompatible)
    return (
        footprints.withColumn("_gtx", F.explode(F.sequence(txmin, txmax)))
        .withColumn("_gty", F.explode(F.sequence(tymin, tymax)))
        .select(
            "image_id",
            F.lit(zoom).alias("z"),
            F.col("_gtx").alias("tx"),
            F.col("_gty").alias("ty"),
        )
    )


def _pack(canvas: np.ndarray) -> bytes:
    """Raw stage payload: zlib-1 of the RGBA buffer (no PNG filters)."""
    return zlib.compress(np.ascontiguousarray(canvas).tobytes(), 1)


def _unpack(buf: bytes, tile_size: int) -> np.ndarray:
    return np.frombuffer(zlib.decompress(bytes(buf)), np.uint8).reshape(
        tile_size, tile_size, 4
    )


_EMIT_BATCH = 32  # finished tiles per yielded Arrow batch


def _render_partials(
    images: DataFrame,
    min_zoom: int,
    zoom: int,
    tile_size: int,
    resampling: str,
    resume_manifest: DataFrame | None,
    profile: str = "mercator",
) -> DataFrame:
    """(tx, ty, image_id, rgba=zlib raw) partial renders at ``zoom``.

    ``profile="geodetic"`` renders plate-carrée tiles
    (GlobalGeodetic, tmscompatible 2×1 root layout): tile bounds are
    lon/lat rectangles, so the per-tile sampling is a pure linear
    window resample (no mercator inversion)."""
    from gdal_spark.session import ensure_pixel_batch_size

    ensure_pixel_batch_size(images.sparkSession)
    m = tm.GlobalMercator(tile_size)
    geodetic = profile == "geodetic"
    gg = tm.GlobalGeodetic(tmscompatible=True, tile_size=tile_size)
    if geodetic:
        work = (
            images.withColumn(
                "wtx",
                F.explode(
                    F.sequence(
                        tm.geodetic_tile_x(F.col("lon_min"), zoom),
                        tm.geodetic_tile_x(F.col("lon_max"), zoom),
                    )
                ),
            )
            .withColumn(
                "wty",
                F.explode(
                    F.sequence(
                        tm.geodetic_tile_y(F.col("lat_min"), zoom),
                        tm.geodetic_tile_y(F.col("lat_max"), zoom),
                    )
                ),
            )
        )
    else:
        # rename helpers: pandas itertuples mangles leading underscores
        work = (
            explode_bbox_cells(images, zoom=zoom)
            .withColumnRenamed("_tx", "wtx")
            .withColumnRenamed("_ty", "wty")
        )
    if resume_manifest is not None:
        # a base tile whose ancestors down to min_zoom are all done
        done = resume_manifest.filter(F.col("z") == zoom).select(
            F.col("tx").alias("_mtx"), F.col("ty").alias("_mty")
        )
        for z in range(min_zoom, zoom):
            up = resume_manifest.filter(F.col("z") == z)
            done = done.join(
                up,
                (F.shiftright(done["_mtx"], zoom - z) == up["tx"])
                & (F.shiftright(done["_mty"], zoom - z) == up["ty"]),
                "left_semi",
            )
        work = work.join(
            done,
            (work["wtx"] == done["_mtx"]) & (work["wty"] == done["_mty"]),
            "left_anti",
        )

    partial_schema = "tx int, ty int, image_id string, rgba binary"

    def render(it):
        from gdal_spark.raster.warp import warp_lonlat_to_grid

        cache: dict[str, np.ndarray] = {}
        for pdf in it:
            rows = []
            for r in pdf.itertuples():
                arr = cache.get(r.image_id)
                if arr is None:
                    cache.clear()  # tiles per image are adjacent: keep 1
                    arr = codec.decode_image(r.bytes, r.fmt)
                    cache[r.image_id] = arr
                if geodetic:
                    tb = gg.TileBounds(r.wtx, r.wty, zoom)
                    tile, valid = warp_lonlat_to_grid(
                        arr, r.lon_min, r.lat_min, r.lon_max, r.lat_max,
                        tb, 4326, tile_size, tile_size, resampling,
                    )
                else:
                    tb = m.TileBounds(r.wtx, r.wty, zoom)
                    tile, valid = warp_lonlat_to_merc_tile(
                        arr,
                        r.lon_min,
                        r.lat_min,
                        r.lon_max,
                        r.lat_max,
                        tb,
                        tile_size,
                        resampling,
                    )
                if not valid.any():
                    continue  # skip-blank (gdal2tiles exclude_transparent)
                if tile.ndim == 2:
                    tile = np.repeat(tile[:, :, None], 3, axis=2)
                rgba = np.dstack([tile, (valid * 255).astype(np.uint8)])
                rows.append((r.wtx, r.wty, r.image_id, _pack(rgba)))
            if rows:
                yield pd.DataFrame(rows, columns=["tx", "ty", "image_id", "rgba"])

    return work.mapInPandas(render, schema=partial_schema)


def _overview(level: dict, tile_size: int) -> dict:
    """One pyramid step in memory, ``{(tx, ty): (canvas, n)}`` at z to
    z−1: each parent pastes its ≤4 children into a 2·ts canvas, then
    averages RGB and takes the max alpha over 2×2 blocks; ``n`` counts
    the children present."""
    ts = tile_size
    big: dict = {}
    for (tx, ty), (canvas, _) in level.items():
        key = (tx >> 1, ty >> 1)
        if key not in big:
            big[key] = [np.zeros((2 * ts, 2 * ts, 4), np.uint8), 0]
        cell = big[key]
        ox = (tx & 1) * ts
        # TMS y grows upward; canvas row 0 is the top (higher ty)
        oy = (1 - (ty & 1)) * ts
        cell[0][oy : oy + ts, ox : ox + ts] = canvas
        cell[1] += 1
    return {
        key: (
            np.dstack([
                block_reduce(b[:, :, :3], ts, ts, "average"),
                block_reduce(b[:, :, 3], ts, ts, "max"),
            ]),
            n,
        )
        for key, (b, n) in big.items()
    }


def _subtrees(
    partials: DataFrame,
    top: int,
    bottom: int,
    tile_size: int,
    profile: str,
    first: bool,
    last: bool,
) -> DataFrame:
    """One round of the pyramid: ``partials`` (tx, ty, image_id, rgba)
    at zoom ``top`` are shuffled once by their ancestor tile at
    ``bottom``; one ``mapInPandas`` call walks each ancestor's rows
    (sorted ancestor, tx, ty, image_id), composes its base tiles
    first-wins by image_id, builds the overviews down to ``bottom`` in
    memory and PNG-finalizes every level. ``first=False`` skips the
    ``top`` level (the round before finalized it as its bottom);
    ``last=False`` also returns each ancestor's raw canvas in a ``raw``
    column, the partials of the next round."""
    d = top - bottom
    anc = [F.shiftright("tx", d), F.shiftright("ty", d)]
    parts = partials.repartition(*anc).sortWithinPartitions(*anc, "tx", "ty", "image_id")
    schema = TILE_SCHEMA if last else TILE_SCHEMA + ", raw binary"

    def tree(level: dict) -> list[dict]:
        rows = []
        for z in range(top, bottom - 1, -1):
            if first or z < top:
                rows += [
                    _finalize(canvas, z, tx, ty, n, tile_size, profile)
                    for (tx, ty), (canvas, n) in level.items()
                ]
            if z > bottom:
                level = _overview(level, tile_size)
        if not last:
            (root,) = level.values()
            for row in rows:
                row["raw"] = None
            rows[-1]["raw"] = _pack(root[0])  # the bottom tile comes last
        return rows

    def walk(it):
        key, level, out = None, {}, []
        for pdf in it:
            for tx, ty, rgba in zip(pdf.tx, pdf.ty, pdf.rgba):
                if (tx >> d, ty >> d) != key:
                    out += tree(level) if level else []
                    key, level = (tx >> d, ty >> d), {}
                    if len(out) >= _EMIT_BATCH:
                        yield pd.DataFrame(out)
                        out = []
                if (tx, ty) not in level:
                    level[(tx, ty)] = [np.zeros((tile_size, tile_size, 4), np.uint8), 0]
                cell = level[(tx, ty)]
                part = _unpack(rgba, tile_size)
                put = (part[:, :, 3] > 0) & (cell[0][:, :, 3] == 0)
                cell[0][put] = part[put]
                cell[1] += 1
        out += tree(level) if level else []
        if out:
            yield pd.DataFrame(out)

    return parts.mapInPandas(walk, schema=schema)


def render_base_tiles(
    images: DataFrame,
    zoom: int,
    tile_size: int = TILE_SIZE,
    resampling: str = "near",
    resume_manifest: DataFrame | None = None,
    profile: str = "mercator",
) -> DataFrame:
    """Stage 2: rendered + composed base tiles at ``zoom``.

    ``images`` needs (image_id, bytes, fmt, lon_min/lat_min/lon_max/
    lat_max). Returns (z, tx, ty, x, y, quadkey, tile(png RGBA),
    checksum, n_srcs). ``profile``: "mercator" (WebMercatorQuad) or
    "geodetic" (plate carrée, tmscompatible)."""
    return build_pyramid(
        images, zoom, zoom, tile_size, resampling, resume_manifest, profile
    )


def _finalize(canvas: np.ndarray, z: int, txv: int, tyv: int, n: int, tile_size: int, profile: str = "mercator"):
    x = txv
    y = (1 << z) - 1 - tyv
    m = tm.GlobalMercator(tile_size)
    # quadkeys are a mercator (Bing) convention; geodetic tiles get ""
    qk = m.QuadTree(txv, tyv, z) if profile == "mercator" else ""
    return {
        "z": z,
        "tx": txv,
        "ty": tyv,
        "x": x,
        "y": y,
        "quadkey": qk,
        # level 3: ~2× encode CPU of level 6 for ~10% larger tiles —
        # the right side of the trade for a render-bound pipeline
        "tile": codec.png_encode(canvas, 3),
        "checksum": checksum(canvas[:, :, 0]),
        "n_srcs": n,
    }


TILE_SCHEMA = (
    "z int, tx int, ty int, x int, y int, quadkey string, tile binary, "
    "checksum int, n_srcs int"
)


def build_pyramid(
    images: DataFrame,
    min_zoom: int,
    max_zoom: int,
    tile_size: int = TILE_SIZE,
    resampling: str = "near",
    resume_manifest: DataFrame | None = None,
    profile: str = "mercator",
) -> DataFrame:
    """Base tiles at max_zoom + overview levels down to min_zoom.

    Rounds of at most four levels: a round from ``top`` runs down to
    ``bottom = max(min_zoom, top − 3)`` in one shuffle plus one Python
    stage (:func:`_subtrees`), so a group holds at most 64 base tiles.
    A pyramid of ≤4 levels is one round and persists nothing. A deeper
    one feeds each round's raw ``bottom`` canvases to the next round as
    its partials; only those rounds are persisted (tracked), because
    they feed both the output union and the next round. The 4→1
    overview recurrence is profile-agnostic (both schemes halve both
    tile axes per level).

    With ``resume_manifest`` the result is the full pyramid anti-joined
    with the manifest on (z, tx, ty), tile for tile the same bytes."""
    from gdal_spark.cache import release_all, track_persist

    release_all()
    parts = _render_partials(
        images, min_zoom, max_zoom, tile_size, resampling, resume_manifest, profile
    )
    top, done = max_zoom, None
    while True:
        bottom = max(min_zoom, top - 3)
        last = bottom == min_zoom
        rnd = _subtrees(
            parts, top, bottom, tile_size, profile, top == max_zoom, last
        )
        if not last:
            rnd = track_persist(rnd)
            parts = rnd.filter(F.col("raw").isNotNull()).select(
                "tx", "ty", F.lit("").alias("image_id"), F.col("raw").alias("rgba")
            )
            rnd = rnd.drop("raw")
        done = rnd if done is None else done.unionByName(rnd)
        if last:
            if resume_manifest is not None:
                done = done.join(
                    resume_manifest.select("z", "tx", "ty"), ["z", "tx", "ty"], "left_anti"
                )
            return done
        top = bottom


# ---------------------------------------------------------------------------
# Sink + resume manifest + lineage (north rule)
# ---------------------------------------------------------------------------


def iceberg_available(spark: SparkSession, catalog: str = "iceberg") -> bool:
    """True when an Iceberg catalog is configured in this session
    (``spark.sql.catalog.<name>`` set and the classes on the
    classpath). This sandbox ships no Iceberg jars, so tests exercise
    the parquet fallback; on a cluster, setting the catalog conf flips
    every sink to ``writeTo``/``partitionedBy`` with no code change."""
    try:
        impl = spark.conf.get(f"spark.sql.catalog.{catalog}", None)
    except Exception:
        impl = None
    if not impl:
        return False
    try:
        spark.sql(f"SHOW NAMESPACES IN {catalog}")
        return True
    except Exception:
        return False


def write_tiles(
    spark: SparkSession,
    tiles: DataFrame,
    out_dir: str,
    run_id: str | None = None,
    iceberg_table: str | None = None,
) -> dict:
    """Write tiles partitioned by z, update the manifest, and append
    per-partition lineage/metrics rows. Idempotent: rerunning with
    ``read_manifest(out_dir)`` passed as ``resume_manifest`` renders
    zero new tiles.

    ``iceberg_table`` (e.g. ``iceberg.db.tiles``): when an Iceberg
    catalog is configured, tiles append transactionally via
    ``writeTo(...).partitionedBy(z)`` — the north-rule exactly-once
    sink (snapshot isolation replaces the directory-append layout).
    Without a catalog the parquet ``partitionBy(z)`` layout below is
    the fallback; the manifest/metrics paths are identical in both."""
    run_id = run_id or uuid.uuid4().hex[:12]
    t0 = time.time()
    tiles = tiles.cache()
    n = tiles.count()
    if iceberg_table and iceberg_available(spark, iceberg_table.split(".")[0]):
        # Append-if-exists, create-if-absent. A rerun/resume must APPEND
        # the newly rendered tiles — createOrReplace on every call would
        # drop tiles the manifest already marks done (they'd never be
        # re-rendered), breaking the exactly-once claim. NOTE: this gated
        # path is unexercised in this container (no Iceberg runtime);
        # the table-exists check + append is the contract a cluster run
        # relies on.
        if spark.catalog.tableExists(iceberg_table):
            tiles.writeTo(iceberg_table).append()
        else:
            tiles.writeTo(iceberg_table).partitionedBy(F.col("z")).create()
    else:
        tiles.write.mode("append").partitionBy("z").parquet(f"{out_dir}/tiles")
    manifest = tiles.select("z", "tx", "ty", "x", "y", "quadkey", "checksum")
    manifest.write.mode("append").parquet(f"{out_dir}/manifest")
    # per-partition metrics (progress-callback analogue,
    # ogrlayer.cpp:5372 → accumulated rows instead of a callback)
    part_counts = (
        tiles.withColumn("_pid", F.spark_partition_id())
        .groupBy("_pid")
        .agg(F.count("*").alias("n_tiles"), F.sum(F.length("tile")).alias("bytes"))
        .withColumn("run_id", F.lit(run_id))
        .withColumn("wall_sec", F.lit(time.time() - t0))
    )
    part_counts.write.mode("append").parquet(f"{out_dir}/metrics")
    tiles.unpersist()
    return {"run_id": run_id, "n_tiles": n, "wall_sec": time.time() - t0}


def read_manifest(spark: SparkSession, out_dir: str) -> DataFrame | None:
    path = f"{out_dir}/manifest"
    if not os.path.exists(path):
        return None
    return spark.read.parquet(path)
