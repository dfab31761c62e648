"""``gdal raster clean-collar`` (nearblack) and ``gdal raster
footprint`` (gdal_footprint) over warped imagery.

Both consume the engine's own gdalwarp output — the pipeline a GDAL
user actually runs (``gdalwarp`` leaves 0-filled collars around the
rotated source envelope; ``nearblack``/``gdal_footprint`` then clean /
vectorize the valid region).

clean-collar semantics (``apps/nearblack_lib.cpp``):

- a pixel matches a transparent color iff EVERY band is within
  ``threshold`` of that color's band value (``nearblack_lib.cpp:
  588-598``: non-match when ``|color[b]-pix| > nNearDist``), and the
  collar is the union over all colors (``:578-603``);
- ``algorithm=floodfill`` (``gdalalg_raster_clean_collar.h:45``)
  removes only the border-connected matching region — interior dark
  lakes survive (4-connected fill, ``alg/gdal_simplesurf``-style
  GDALFloodFill in ``nearblack_lib.cpp:334``);
- collar pixels are set to 0 (255 when the single color is white,
  ``nearblack_lib.cpp:552-556``) and alpha/mask drops to 0.

footprint semantics (``apps/gdal_footprint_lib.cpp``): valid mask =
any band != nodata, polygonized into 4-connected rings, rings below
``min_ring_area`` dropped (``-min_ring_area``), optional convex hull
(``-convex_hull``); output georeferenced in the raster's SRS. Here
the per-ring digest (count, pixel area in m², hull area) stands in
for the ring WKT — ring tracing is exercised by ``raster_polygonize``.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from gdal_spark.raster.checksum import checksum_band
from gdal_spark.raster.morphology import label4
from gdal_spark.raster.pipeline import map_images

BLACK = (0, 0, 0)
WHITE = (255, 255, 255)


def near_color_mask(arr: np.ndarray, colors=(BLACK,), threshold: int = 15) -> np.ndarray:
    """HxW bool: pixel within ``threshold`` of ANY color on ALL bands."""
    a = arr.astype(np.int32)
    if a.ndim == 2:
        a = a[:, :, None]
    mask = np.zeros(a.shape[:2], dtype=bool)
    for color in colors:
        m = np.ones(a.shape[:2], dtype=bool)
        for b in range(a.shape[2]):
            m &= np.abs(a[:, :, b] - int(color[b % len(color)])) <= threshold
        mask |= m
    return mask


def border_connected(mask: np.ndarray) -> np.ndarray:
    """Flood fill from every border pixel, constrained to ``mask``
    (4-connected): True where a masked pixel reaches the border."""
    labels, _ = label4(mask.astype(np.uint8))
    border_labels = np.unique(
        np.concatenate(
            [
                labels[0, :][mask[0, :]],
                labels[-1, :][mask[-1, :]],
                labels[:, 0][mask[:, 0]],
                labels[:, -1][mask[:, -1]],
            ]
        )
    )
    return mask & np.isin(labels, border_labels)


def clean_collar_array(
    arr: np.ndarray, colors=(BLACK,), threshold: int = 15
) -> tuple[np.ndarray, np.ndarray]:
    """Returns (cleaned HxWxC, alpha HxW uint8: 0 at collar, 255 else)."""
    collar = border_connected(near_color_mask(arr, colors, threshold))
    replace = 255 if (len(colors) == 1 and colors[0][0] == 255) else 0
    out = arr.copy()
    out[collar] = replace
    alpha = np.where(collar, 0, 255).astype(np.uint8)
    return out, alpha


def _hull_area(xs: np.ndarray, ys: np.ndarray) -> float:
    """Convex-hull area over point sets (shoelace over the hull)."""
    from gdal_spark.operators.vector_ops import convex_hull_points

    pts = np.stack([xs, ys], axis=1).astype(np.float64)
    hull = convex_hull_points(pts)
    if len(hull) < 3:
        return 0.0
    x, y = hull[:, 0], hull[:, 1]
    # np.sum (fixed pairwise order), NOT np.dot: BLAS ddot picks its
    # SIMD tail handling by pointer alignment, so the same hull can
    # yield 1-ulp-different areas across allocations — which breaks
    # the bit-exact golden gate run-to-run
    cross = x * np.roll(y, -1) - y * np.roll(x, -1)
    return float(abs(cross.sum()) / 2.0)


def warp_utm_array(
    arr: np.ndarray,
    lon: float,
    lat: float,
    lon_min: float,
    lat_min: float,
    lon_max: float,
    lat_max: float,
    out_size: tuple[int, int] = (64, 64),
):
    """Shared gdalwarp front end (same chain as pipeline.warp_to_utm).
    Returns (warped, epsg, px_w_m, px_h_m) — used by both the Spark
    UDFs below and tools/make_golden.py."""
    from gdal_spark.functions import srs as S
    from gdal_spark.raster.warp import warp_lonlat_to_grid

    ow, oh = out_size
    zone = int((lon + 180.0) // 6) + 1
    south = lat < 0
    epsg = (32700 if south else 32600) + zone
    ce, cn = S.utm_forward_np(
        [lon_min, lon_max, lon_min, lon_max],
        [lat_min, lat_min, lat_max, lat_max],
        zone,
        south,
    )
    bounds = (float(ce.min()), float(cn.min()), float(ce.max()), float(cn.max()))
    out, _valid = warp_lonlat_to_grid(
        arr, lon_min, lat_min, lon_max, lat_max, bounds, epsg, ow, oh, "near"
    )
    px_w = (bounds[2] - bounds[0]) / ow
    px_h = (bounds[3] - bounds[1]) / oh
    return out, epsg, px_w, px_h


def clean_collar(
    images: DataFrame,
    colors=(BLACK, WHITE),
    threshold: int = 15,
    out_size: tuple[int, int] = (64, 64),
) -> DataFrame:
    """gdalwarp → nearblack per image. Emits the collar size and the
    checksums of the cleaned band 0 + alpha band (the ``-setalpha``
    output)."""
    schema = (
        "image_id string, epsg int, n_collar int, checksum_b0 int, checksum_alpha int"
    )

    def fn(r, arr):
        warped, epsg, _pw, _ph = warp_utm_array(
            arr, r.lon, r.lat, r.lon_min, r.lat_min, r.lon_max, r.lat_max, out_size
        )
        cleaned, alpha = clean_collar_array(warped, colors, threshold)
        b0 = cleaned[:, :, 0] if cleaned.ndim == 3 else cleaned
        yield (r.image_id, epsg, int((alpha == 0).sum()),
               checksum_band(b0), checksum_band(alpha))

    return map_images(images, schema, fn)


def footprint_digest(
    warped: np.ndarray,
    px_w: float,
    px_h: float,
    nodata: int = 0,
    min_ring_area: int = 4,
) -> tuple[int, int, float, float]:
    """(n_rings, valid_px, area_m2, hull_area_m2) of one warped raster."""
    a = warped if warped.ndim == 3 else warped[:, :, None]
    valid = (a != nodata).any(axis=2)
    labels, sizes = label4(valid.astype(np.uint8))
    valid_labels = np.unique(labels[valid])
    ring_labels = [int(l) for l in valid_labels if sizes[int(l)] >= min_ring_area]
    ys, xs = np.nonzero(valid)
    keep = np.isin(labels[ys, xs], ring_labels)
    ys, xs = ys[keep], xs[keep]
    n_rings = len({int(l) for l in labels[ys, xs]}) if len(ys) else 0
    if len(ys):
        cx = np.concatenate([xs, xs + 1, xs, xs + 1]).astype(np.float64) * px_w
        cy = np.concatenate([ys, ys, ys + 1, ys + 1]).astype(np.float64) * px_h
        hull = _hull_area(cx, cy)
    else:
        hull = 0.0
    return n_rings, int(len(ys)), float(len(ys)) * px_w * px_h, hull


def footprint(
    images: DataFrame,
    nodata: int = 0,
    min_ring_area: int = 4,
    out_size: tuple[int, int] = (64, 64),
) -> DataFrame:
    """gdalwarp → gdal_footprint per image: valid mask (any band !=
    nodata), 4-connected rings, sub-``min_ring_area`` rings dropped,
    areas georeferenced by the UTM pixel size; ``hull_area_m2`` is the
    ``-convex_hull`` variant (hull of valid pixel corners)."""
    schema = (
        "image_id string, epsg int, n_rings int, valid_px int, "
        "area_m2 double, hull_area_m2 double"
    )

    def fn(r, arr):
        warped, epsg, px_w, px_h = warp_utm_array(
            arr, r.lon, r.lat, r.lon_min, r.lat_min, r.lon_max, r.lat_max, out_size
        )
        n_rings, valid_px, area, hull = footprint_digest(
            warped, px_w, px_h, nodata, min_ring_area
        )
        yield (r.image_id, epsg, n_rings, valid_px, area, hull)

    return map_images(images, schema, fn)


def nodata_to_alpha(
    images: DataFrame, nodata: int = 0, out_size: tuple[int, int] = (64, 64)
) -> DataFrame:
    """``gdal raster nodata-to-alpha``
    (apps/gdalalg_raster_nodata_to_alpha.cpp): append an alpha band
    that is 0 wherever EVERY band equals the nodata value, 255
    elsewhere, and drop the nodata flag. Unlike clean-collar this
    marks ALL nodata pixels — interior lakes included, no floodfill.
    Runs over the engine's own gdalwarp output (the real source of
    nodata pixels for this table)."""
    schema = (
        "image_id string, epsg int, n_transparent int, "
        "checksum_b0 int, checksum_alpha int"
    )

    def fn(r, arr):
        warped, epsg, _pw, _ph = warp_utm_array(
            arr, r.lon, r.lat, r.lon_min, r.lat_min, r.lon_max, r.lat_max, out_size
        )
        a = warped if warped.ndim == 3 else warped[:, :, None]
        transparent = (a == nodata).all(axis=2)
        alpha = np.where(transparent, 0, 255).astype(np.uint8)
        yield (r.image_id, epsg, int(transparent.sum()),
               checksum_band(a[:, :, 0]), checksum_band(alpha))

    return map_images(images, schema, fn)
