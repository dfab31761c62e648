"""Rasterize: burn vector polygons into tile rasters.

Re-expresses ``gdal rasterize`` (``alg/gdalrasterize.cpp``; pixel
inclusion rule = cell-center containment when ``ALL_TOUCHED`` is off,
scanline core ``alg/llrasterize.cpp``; ``MERGE_ALG`` REPLACE/ADD
``gdalrasterize.cpp:796-834``) as the tile-directed spatial join:

1. polygons explode to covering XYZ tiles (pure SQL — the same
   ``explode_bbox_cells`` the spatial join uses),
2. per (tile, polygon) pair a pandas UDF evaluates the vectorized
   even-odd test (``geometry.points_in_rings``) on the 256² grid of
   pixel centers — the batch analogue of GDAL's scanline fill,
3. ``groupBy(tile)`` composition merges burns (REPLACE = max of burn
   values for determinism, ADD = sum), yielding one raster per tile.

Returns per-tile checksums (the reference's golden-test currency,
``alg/gdalchecksum.cpp:48``) plus burn statistics.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gdal_spark.functions import geometry as G
from gdal_spark.functions import tile_math as tm
from gdal_spark.operators.spatial_join import explode_bbox_cells
from gdal_spark.raster.checksum import checksum_band
from gdal_spark.raster.pipeline import map_images

TILE_SIZE = 256


def rasterize(
    polys: DataFrame,
    zoom: int,
    burn_col: str = "burn",
    geom: str = "geom",
    tile_size: int = TILE_SIZE,
    merge: str = "replace",
) -> DataFrame:
    """Burn polygons (WKB + bbox columns) into mercator tiles at
    ``zoom``. Returns (z, x, y, checksum, n_burned_px, n_polys)."""
    m = tm.GlobalMercator(tile_size)
    work = (
        explode_bbox_cells(polys, zoom=zoom)
        .withColumnRenamed("_tx", "wtx")
        .withColumnRenamed("_ty", "wty")
        .select("wtx", "wty", geom, burn_col)
    )

    out_schema = "z int, x int, y int, checksum int, n_burned_px long, n_polys int"

    def burn(key, pdf: pd.DataFrame) -> pd.DataFrame:
        txv, tyv = int(key[0]), int(key[1])
        minx, miny, maxx, maxy = m.TileBounds(txv, tyv, zoom)
        res = (maxx - minx) / tile_size
        # pixel-center grid in mercator, converted to lon/lat
        from gdal_spark.raster.warp import merc_to_lat, merc_to_lon

        mx = minx + (np.arange(tile_size) + 0.5) * res
        my = maxy - (np.arange(tile_size) + 0.5) * res
        lon = merc_to_lon(mx)
        lat = merc_to_lat(my)
        glon = np.broadcast_to(lon[None, :], (tile_size, tile_size)).ravel()
        glat = np.broadcast_to(lat[:, None], (tile_size, tile_size)).ravel()
        canvas = np.zeros(tile_size * tile_size, dtype=np.float64)
        for r in pdf.itertuples():
            g = G.parse_wkb(bytes(getattr(r, geom)))
            inside = G.points_in_rings(glon, glat, g.rings)
            bv = float(getattr(r, burn_col))
            if merge == "add":  # MERGE_ALG=ADD (gdalrasterize.cpp:806)
                canvas[inside] += bv
            else:  # REPLACE, deterministic via max
                canvas[inside] = np.maximum(canvas[inside], bv)
        arr = np.clip(canvas, 0, 255).reshape(tile_size, tile_size).astype(np.uint8)
        return pd.DataFrame(
            [
                {
                    "z": zoom,
                    "x": txv,
                    "y": (1 << zoom) - 1 - tyv,
                    "checksum": checksum_band(arr),
                    "n_burned_px": int((arr > 0).sum()),
                    "n_polys": len(pdf),
                }
            ]
        )

    return work.groupBy("wtx", "wty").applyInPandas(burn, schema=out_schema)


def reclassify_expr(mapping: list[tuple[int, int, int]]):
    """Build a NumPy LUT from (lo, hi, new) inclusive ranges — the
    ``gdal raster reclassify`` table (apps/gdalalg_raster_reclassify)."""
    lut = np.arange(256, dtype=np.uint8)
    for lo, hi, new in mapping:
        lut[lo : hi + 1] = new
    return lut


def reclassify(images: DataFrame, mapping: list[tuple[int, int, int]]) -> DataFrame:
    """Apply a value-range reclassification to band 0 of each image;
    returns (image_id, checksum_before, checksum_after, n_changed)."""
    lut = reclassify_expr(mapping)
    schema = "image_id string, checksum_before int, checksum_after int, n_changed long"

    def fn(r, arr):
        b = arr[:, :, 0] if arr.ndim == 3 else arr
        out = lut[b]  # np.take LUT — the vectorized reclass
        yield (r.image_id, checksum_band(b), checksum_band(out), int((out != b).sum()))

    return map_images(images, schema, fn)


# ---------------------------------------------------------------------------
# gdalwarp -cutline / -crop_to_cutline
# ---------------------------------------------------------------------------


def cutline_array(arr, bounds, g):
    """The per-pair cutline kernel (``gdalwarp -cutline`` +
    ``-crop_to_cutline``, ``apps/gdalwarp_lib.cpp`` cutline path;
    mask semantics ``alg/gdalwarper.h:72-111``): pixels whose CENTER
    falls outside the polygon are set to nodata 0; the cropped window
    is the pixel range intersecting the cutline envelope.

    Returns (masked_full, cropped, n_valid). ``bounds`` =
    (lon_min, lat_min, lon_max, lat_max) of the image footprint;
    pixel (row, col) center maps linearly into it (north-up grid).
    """
    h, w = arr.shape[:2]
    lon_min, lat_min, lon_max, lat_max = (float(v) for v in bounds)
    px = (lon_max - lon_min) / w
    py = (lat_max - lat_min) / h
    lon = lon_min + (np.arange(w) + 0.5) * px
    lat = lat_max - (np.arange(h) + 0.5) * py
    glon = np.broadcast_to(lon[None, :], (h, w)).ravel()
    glat = np.broadcast_to(lat[:, None], (h, w)).ravel()
    inside = G.points_in_rings(glon, glat, g.rings).reshape(h, w)
    masked = arr.copy()
    masked[~inside] = 0
    gx0, gy0, gx1, gy1 = G.geom_bbox(g)
    c0 = max(0, int(np.floor((gx0 - lon_min) / px)))
    c1 = min(w, int(np.ceil((gx1 - lon_min) / px)))
    r0 = max(0, int(np.floor((lat_max - gy1) / py)))
    r1 = min(h, int(np.ceil((lat_max - gy0) / py)))
    cropped = masked[r0:r1, c0:c1] if (r1 > r0 and c1 > c0) else masked[:0, :0]
    return masked, cropped, int(inside.sum())


def warp_cutline(images: DataFrame, aoi: DataFrame) -> DataFrame:
    """Cutline-masked warp output per intersecting (image, AOI) pair.

    Plan: broadcast the dimension-sized AOI layer, bbox-overlap
    equi-free join (Catalyst turns the range predicates into a
    BroadcastNestedLoop over the broadcast side only — no shuffle of
    the fact table), then one Arrow batch per partition masks pixels.
    Emits checksums of the masked and cropped rasters plus valid-pixel
    counts — the gdalwarp golden currency.
    """
    pairs = images.join(
        F.broadcast(
            aoi.select(
                "poly_id",
                F.col("lon_min").alias("a_lon_min"),
                F.col("lat_min").alias("a_lat_min"),
                F.col("lon_max").alias("a_lon_max"),
                F.col("lat_max").alias("a_lat_max"),
                F.col("geom").alias("aoi_wkb"),
            )
        ),
        on=(
            (F.col("lon_min") < F.col("a_lon_max"))
            & (F.col("lon_max") > F.col("a_lon_min"))
            & (F.col("lat_min") < F.col("a_lat_max"))
            & (F.col("lat_max") > F.col("a_lat_min"))
        ),
        how="inner",
    )
    schema = (
        "image_id string, poly_id long, cs_masked int, cs_cropped int, "
        "crop_w int, crop_h int, n_valid long, valid_frac double"
    )

    def fn(r, arr):
        band = arr if arr.ndim == 2 else arr[:, :, 0]
        g = G.parse_wkb(bytes(r.aoi_wkb))
        masked, cropped, n_valid = cutline_array(
            band, (r.lon_min, r.lat_min, r.lon_max, r.lat_max), g
        )
        yield (
            r.image_id, int(r.poly_id), checksum_band(masked),
            checksum_band(cropped) if cropped.size else 0,
            cropped.shape[1], cropped.shape[0], n_valid,
            round(n_valid / band.size, 9),
        )

    return map_images(pairs, schema, fn)
