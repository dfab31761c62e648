"""The two workloads: one pass each, through the engine's public API.

A pass reads the seeded parquet tables, calls the public operators and
runs the action that consumes their result. Join results are consumed
by a digest aggregate -- ``(rows, d1, d2)`` from :mod:`perfbench.oracles`
-- so the action that runs the join is also the output check; the same
aggregate sums the size of every value of every column, so the whole
result is computed, as it would be for a caller that writes it. Tile
pyramids are written to a fresh directory, as ``jobs/tile_job.py``
does, and read back for the check after the pass's clock stops.

Each pass function takes ``tr``, the tracer, and wraps every public
call plus its action in ``tr.call(name)``.
"""

from __future__ import annotations

import os
import shutil

from perfbench import inputs
from perfbench.oracles import digest_cols


# bytes per value of the fixed-width Spark types
_WIDTH = {"bigint": 8, "double": 8, "timestamp": 8, "int": 4, "float": 4, "date": 4,
          "smallint": 2, "tinyint": 1, "boolean": 1}


def value_bytes(df):
    """Aggregate column: bytes of every non-null value of ``df``, at the
    type's width, or the byte length of strings and binaries (and of the
    string form of any other type)."""
    from pyspark.sql import functions as F

    sizes = []
    for f in df.schema.fields:
        c, t = F.col(f"`{f.name}`"), f.dataType.simpleString()
        if t in _WIDTH:
            sizes.append(F.when(c.isNotNull(), F.lit(_WIDTH[t])).otherwise(0))
        else:
            size = F.octet_length(c if t in ("string", "binary") else c.cast("string"))
            sizes.append(F.coalesce(size, F.lit(0)))
    return F.sum(sum(sizes[1:], sizes[0]).cast("long"))


def collect_digest(df, cols, where=None, extra=()) -> list:
    """``[rows, d1, d2]`` over ``cols`` of ``df`` in one action; with
    ``where`` the two hash sums cover only matching rows and a fourth
    entry counts them. ``extra`` aggregates are appended."""
    from pyspark.sql import functions as F

    h = digest_cols(cols)
    if where is None:
        aggs = [F.count(F.lit(1))] + [F.coalesce(F.sum(x), F.lit(0)) for x in h]
    else:
        aggs = ([F.count(F.lit(1))]
                + [F.coalesce(F.sum(F.when(where, x)), F.lit(0)) for x in h]
                + [F.sum(F.when(where, 1).otherwise(0))])
    return [int(v or 0) for v in df.agg(*aggs, *extra).collect()[0]]


class SpatialJoins:
    """The join layer used two ways in one pass: the headline
    bbox_intersection_join(footprints, aoi) + assign_tiles(footprints, 12),
    whose AOI rectangles take the refine's rectangle fast path, then an
    analyst's point_in_polygon_join(points, polys) + knn_join(points,
    sites, k=3), whose polygons need the exact ray-cast refine."""

    name = "spatial_joins"
    unit = "footprints+points"
    modules = ["gdal_spark.operators.spatial_join", "gdal_spark.operators.knn", "gdal_spark.raster.tiler"]
    k = 3
    # timed passes at least: after the warm-up pass the JIT is still busy
    # for two more; how its work splits between them varies from run to
    # run while their sum does not, so the median (= mean) of two is
    # steady where either pass alone, or the median of three, is not
    min_passes = 2

    def rows(self):
        return inputs.JOIN_FOOTPRINTS + inputs.PQ_POINTS

    def oracle(self, root, data):
        from perfbench import oracles

        out = oracles.bbox_join_and_tiles(root)
        out.update(oracles.pip_and_knn(data, self.k, inputs.KNN_SAMPLE_MOD))
        return out

    def run(self, spark, root, tr, out_dir):
        from pyspark.sql import functions as F

        from gdal_spark.operators.knn import knn_join
        from gdal_spark.operators.spatial_join import bbox_intersection_join, point_in_polygon_join
        from gdal_spark.raster import tiler

        with tr.call("read"):
            fp, aoi, pts, polys, sites = (spark.read.parquet(os.path.join(root, t)) for t in
                                          ("footprints", "aoi", "points", "polys", "sites"))
        with tr.call("bbox_intersection_join"):
            joined = bbox_intersection_join(fp, aoi)
            *pairs, b1 = collect_digest(joined, ["image_id", "aoi_id"], extra=[value_bytes(joined)])
        with tr.call("assign_tiles"):
            tiles_df = tiler.assign_tiles(fp, 12)
            *tiles, b2 = collect_digest(tiles_df, ["image_id", "x", "y"], extra=[value_bytes(tiles_df)])
        with tr.call("point_in_polygon_join"):
            pip_df = point_in_polygon_join(pts, polys)
            *pip, b3 = collect_digest(pip_df, ["pt_id", "poly_id"], extra=[value_bytes(pip_df)])
        with tr.call("knn_join"):
            knn_df = knn_join(pts, sites, k=self.k)
            sample = F.col("pt_id") % inputs.KNN_SAMPLE_MOD == 0
            *knn, b4 = collect_digest(knn_df, ["pt_id", "site_id", "rank"], where=sample,
                                      extra=[value_bytes(knn_df)])
        return {"pairs": pairs, "tiles": tiles, "pip": pip, "knn": knn}, b1 + b2 + b3 + b4

    def verify(self, spark, got, out_dir):
        return got

    def check(self, got, want):
        rows, d1, d2, n_sample = got["knn"]
        return (got["pairs"] == want["pairs"] and got["tiles"] == want["tiles"]
                and got["pip"] == want["pip"] and rows == want["knn_rows"]
                and [n_sample, d1, d2] == want["knn_sample"])


class TilePyramid:
    """tiler.build_pyramid(images, 11, 12) + tiler.write_tiles to a fresh directory."""

    name = "tile_pyramid"
    unit = "images"
    modules = ["gdal_spark.raster.tiler", "gdal_spark.raster.jpeg", "gdal_spark.raster.webp"]
    min_passes = 1  # a pass takes longer than a run's --seconds

    def rows(self):
        return inputs.PYR_IMAGES

    def oracle(self, root, data):
        from perfbench import oracles

        return oracles.tile_pyramid(data["images"], data["arrays"],
                                    inputs.PYR_MIN_ZOOM, inputs.PYR_MAX_ZOOM)

    def run(self, spark, root, tr, out_dir):
        from gdal_spark.raster import tiler

        with tr.call("read"):
            images = spark.read.parquet(os.path.join(root, "images"))
        with tr.call("build_pyramid"):
            pyramid = tiler.build_pyramid(images, inputs.PYR_MIN_ZOOM, inputs.PYR_MAX_ZOOM)
        with tr.call("write_tiles"):
            tiler.write_tiles(spark, pyramid, out_dir)
        return None, None

    def verify(self, spark, got, out_dir):
        """Read the written tiles back and decode every one with the
        benchmark's own PNG decoder: digest over the key, the source
        count, the engine's checksum and the CRC of all four bands;
        per-zoom counts; bytes."""
        from perfbench.oracles import digest_np, png_decode_rgba, rgba_crc

        rows = (spark.read.parquet(os.path.join(out_dir, "tiles"))
                .select("z", "x", "y", "n_srcs", "checksum", "tile").collect())
        shutil.rmtree(out_dir, ignore_errors=True)
        z, x, y, n, ck = ([r[i] for r in rows] for i in range(5))
        crc = [rgba_crc(png_decode_rgba(bytes(r.tile))) for r in rows]
        per_zoom = {str(q): z.count(q) for q in sorted(set(z))}
        return {"tiles": list(digest_np(z, x, y, n, ck, crc)), "per_zoom": per_zoom,
                "tile_bytes": sum(len(r.tile) for r in rows)}

    def check(self, got, want):
        return got["tiles"] == want["tiles"] and got["per_zoom"] == want["per_zoom"]


WORKLOADS = {w.name: w for w in (SpatialJoins(), TilePyramid())}
