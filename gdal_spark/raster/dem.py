"""DEM derivatives: slope / aspect / hillshade / roughness / TPI / TRI.

Re-expresses the ``gdal raster slope|aspect|hillshade|roughness|tpi|tri``
operators (``apps/gdalalg_raster_slope.cpp``, ``_aspect.cpp``,
``_hillshade.cpp``, ``_roughness.cpp``, ``_tpi.cpp``, ``_tri.cpp``;
shared 3×3-window engine ``alg/gdaldem_lib.cpp`` — Horn's formula for
gradients, ZevenbergenThorne optional) as one vectorized NumPy window
kernel inside ``mapInPandas``.

Window algebra on the 8 neighbors of every interior pixel:

    a b c
    d e f      gx = (c + 2f + i) - (a + 2d + g)   (Horn)
    g h i      gy = (g + 2h + i) - (a + 2b + c)

Edge pixels follow GDAL's default (computed from the clamped window —
``bComputeAtEdges=False`` drops the 1-px border; we mirror that by
emitting the interior only, matching checksum comparisons).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from gdal_spark.raster.checksum import checksum_band
from gdal_spark.raster.pipeline import map_images


def _windows(z: np.ndarray):
    """The 9 shifted views of the interior of a 2-D array."""
    a = z[:-2, :-2]; b = z[:-2, 1:-1]; c = z[:-2, 2:]
    d = z[1:-1, :-2]; e = z[1:-1, 1:-1]; f = z[1:-1, 2:]
    g = z[2:, :-2]; h = z[2:, 1:-1]; i = z[2:, 2:]
    return a, b, c, d, e, f, g, h, i


def slope_deg(z: np.ndarray, xres: float = 1.0, yres: float = 1.0, zfactor: float = 1.0) -> np.ndarray:
    a, b, c, d, e, f, g, h, i = _windows(z.astype(np.float64) * zfactor)
    gx = ((c + 2 * f + i) - (a + 2 * d + g)) / (8.0 * xres)
    gy = ((g + 2 * h + i) - (a + 2 * b + c)) / (8.0 * yres)
    return np.degrees(np.arctan(np.hypot(gx, gy)))


def aspect_deg(z: np.ndarray) -> np.ndarray:
    """Azimuth 0..360 clockwise from north (gdaldem aspect default)."""
    a, b, c, d, e, f, g, h, i = _windows(z.astype(np.float64))
    gx = (c + 2 * f + i) - (a + 2 * d + g)
    gy = (g + 2 * h + i) - (a + 2 * b + c)
    asp = np.degrees(np.arctan2(gy, -gx))
    out = np.where(asp < 0, 90.0 - asp, np.where(asp > 90.0, 360.0 - asp + 90.0, 90.0 - asp))
    flat = (gx == 0) & (gy == 0)
    out = np.where(flat, 0.0, out)
    return out


def hillshade(z: np.ndarray, azimuth: float = 315.0, altitude: float = 45.0,
              xres: float = 1.0, yres: float = 1.0, zfactor: float = 1.0) -> np.ndarray:
    """0-255 shaded relief (gdaldem hillshade, Horn gradients)."""
    a, b, c, d, e, f, g, h, i = _windows(z.astype(np.float64) * zfactor)
    gx = ((c + 2 * f + i) - (a + 2 * d + g)) / (8.0 * xres)
    gy = ((g + 2 * h + i) - (a + 2 * b + c)) / (8.0 * yres)
    slope = np.arctan(np.hypot(gx, gy))
    aspect = np.arctan2(gy, -gx)
    az = np.radians(360.0 - azimuth + 90.0)
    alt = np.radians(altitude)
    shaded = np.sin(alt) * np.cos(slope) + np.cos(alt) * np.sin(slope) * np.cos(az - aspect)
    return np.clip(np.floor(255.0 * np.maximum(shaded, 0.0) + 0.5), 0, 255).astype(np.uint8)


def roughness(z: np.ndarray) -> np.ndarray:
    """max - min of the 3×3 window (gdaldem roughness)."""
    ws = _windows(z.astype(np.float64))
    stack = np.stack(ws)
    return stack.max(axis=0) - stack.min(axis=0)


def tpi(z: np.ndarray) -> np.ndarray:
    """center minus mean of the 8 neighbors (gdaldem TPI)."""
    a, b, c, d, e, f, g, h, i = _windows(z.astype(np.float64))
    return e - (a + b + c + d + f + g + h + i) / 8.0


def tri(z: np.ndarray) -> np.ndarray:
    """mean |center - neighbor| (gdaldem TRI, Wilson default)."""
    a, b, c, d, e, f, g, h, i = _windows(z.astype(np.float64))
    return sum(np.abs(e - n) for n in (a, b, c, d, f, g, h, i)) / 8.0


_DEM_FUNCS = {
    "slope": lambda z: slope_deg(z),
    "aspect": aspect_deg,
    "hillshade": hillshade,
    "roughness": roughness,
    "tpi": tpi,
    "tri": tri,
}


def dem_metrics(images: DataFrame, ops: tuple = ("slope", "hillshade", "roughness", "tpi", "tri", "aspect")) -> DataFrame:
    """Per-image DEM derivatives of band 0 (treated as elevation):
    returns checksum of each derivative raster (rounded to uint8 range
    for non-hillshade metrics the way gdaldem writes Byte output)."""
    for op in ops:
        if op not in _DEM_FUNCS:
            raise ValueError(f"unknown DEM op {op!r}")
    cols = ", ".join(f"cs_{op} int" for op in ops)
    schema = f"image_id string, {cols}"

    def fn(r, arr):
        z = (arr[:, :, 0] if arr.ndim == 3 else arr).astype(np.float64)
        vals = [r.image_id]
        for op in ops:
            out = _DEM_FUNCS[op](z)
            if out.dtype != np.uint8:
                out = np.clip(np.floor(np.abs(out) + 0.5), 0, 255).astype(np.uint8)
            vals.append(checksum_band(out))
        yield tuple(vals)

    return map_images(images, schema, fn)


# ---------------------------------------------------------------------------
# gdaldem hillshade variants: -combined / -multidirectional / -igor
# (apps/gdaldem_lib.cpp:1151-1180, 1255-1311, 947-1013)
# ---------------------------------------------------------------------------


def _horn_xy(z: np.ndarray, xres: float, yres: float):
    """Reference-convention Horn gradients (gdaldem_lib.cpp:783-796):
    x = (west − east) / ewres, y = (south − north) / nsres, with the
    north-up geotransform's nsres = −yres. The /8 of the classic Horn
    kernel lives in z_factor = z/8 (gdaldem_lib.cpp:1195)."""
    a, b, c, d, e, f, g, h, i = _windows(z.astype(np.float64))
    x = ((a + 2 * d + g) - (c + 2 * f + i)) / xres
    y = ((g + 2 * h + i) - (a + 2 * b + c)) / (-yres)
    return x, y


def hillshade_combined(z, azimuth: float = 315.0, altitude: float = 45.0,
                       xres: float = 1.0, yres: float = 1.0,
                       zfactor: float = 1.0) -> np.ndarray:
    """gdaldem hillshade -combined (GDALHillshadeCombinedAlg,
    gdaldem_lib.cpp:1151-1180): oblique shading attenuated by
    arctan(slope), output 1..255 float (Byte conversion downstream)."""
    x, y = _horn_xy(z, xres, yres)
    zf = zfactor / 8.0
    az = np.radians(azimuth)
    alt = np.radians(altitude)
    slope = (x * x + y * y) * zf * zf
    num = np.sin(alt) - (y * np.cos(az) * np.cos(alt) * zf
                         - x * np.sin(az) * np.cos(alt) * zf)
    cang = np.arccos(np.clip(num / np.sqrt(1.0 + slope), -1.0, 1.0))
    cang = 1.0 - cang * np.arctan(np.sqrt(slope)) / ((np.pi * np.pi) / 4.0)
    return np.where(cang <= 0.0, 1.0, 1.0 + 254.0 * cang)


def hillshade_multidirectional(z, altitude: float = 45.0, xres: float = 1.0,
                               yres: float = 1.0, zfactor: float = 1.0) -> np.ndarray:
    """gdaldem hillshade -multidirectional (USGS OF 92-422;
    GDALHillshadeMultiDirectionalAlg, gdaldem_lib.cpp:1255-1311):
    sin²-weighted blend of the 225/270/315/360° azimuths."""
    x, y = _horn_xy(z, xres, yres)
    zf = zfactor / 8.0
    alt = np.radians(altitude)
    xx, yy = x * x, y * y
    s = xx + yy
    sin127 = 127.0 * np.sin(alt)
    c225 = np.cos(np.radians(225.0)) * np.cos(alt) * zf  # negative
    czm = np.cos(alt) * zf
    v225 = np.maximum(sin127 + (x - y) * 127.0 * c225, 0.0)
    v270 = np.maximum(sin127 - x * 127.0 * czm, 0.0)
    v315 = np.maximum(sin127 + (x + y) * 127.0 * c225, 0.0)
    v360 = np.maximum(sin127 - y * 127.0 * czm, 0.0)
    w225 = 0.5 * s - x * y
    w270 = xx
    w315 = s - w225
    w360 = yy
    with np.errstate(divide="ignore", invalid="ignore"):
        blend = (w225 * v225 + w270 * v270 + w315 * v315 + w360 * v360) / s
        cang = 1.0 + blend / np.sqrt(1.0 + zf * zf * s)
    return np.where(s == 0.0, 1.0 + 254.0 * np.sin(alt), cang)


def hillshade_igor(z, azimuth: float = 315.0, xres: float = 1.0,
                   yres: float = 1.0, zfactor: float = 1.0) -> np.ndarray:
    """gdaldem hillshade -igor (GDALHillshadeIgorAlg,
    gdaldem_lib.cpp:947-1013): shadowness = slope strength × aspect
    alignment with the anti-light direction, output 0..255."""
    x, y = _horn_xy(z, xres, yres)
    zf = zfactor / 8.0
    slope_degrees = np.degrees(np.arctan(np.sqrt(x * x + y * y) * zf))
    a, b, c, d, e, f, g, h, i = _windows(z.astype(np.float64))
    dx = (c + 2 * f + i) - (a + 2 * d + g)      # east − west, unscaled
    dy2 = (g + 2 * h + i) - (a + 2 * b + c)     # south − north, unscaled
    aspect = np.arctan2(dy2, -dx)
    az = np.radians(azimuth)
    two_pi = 2.0 * np.pi
    target = 1.5 * np.pi - az
    diff = np.abs(np.mod(aspect, two_pi) - np.mod(target, two_pi))
    diff = np.where(diff > np.pi, two_pi - diff, diff)
    aspect_strength = 1.0 - diff / np.pi
    shadowness = 1.0 - (slope_degrees / 90.0) * aspect_strength
    return 255.0 * shadowness


_DEM_FUNCS["hillshade_combined"] = hillshade_combined
_DEM_FUNCS["hillshade_md"] = hillshade_multidirectional
_DEM_FUNCS["hillshade_igor"] = hillshade_igor
