"""General SRS reprojection — closed-form transform chains, no PROJ.

Re-expresses the reference's transformer chain
(``alg/gdaltransformer.cpp:2236`` ``GDALCreateGenImgProjTransformer2``,
``GDALGenImgProjTransform`` ``:3087``; ``ogr2ogr -t_srs``
``apps/ogr2ogr_lib.cpp:440``) for the CRS family the engine supports:

- **EPSG:4326**  (WGS84 lon/lat degrees)
- **EPSG:3857**  (spherical web-mercator meters)
- **EPSG:326xx / 327xx** (WGS84 UTM north/south, zones 1-60)

UTM uses the standard transverse-Mercator series in the third
flattening n (Krüger series as used by PROJ/Karney, truncated at n³ —
sub-millimeter inside a zone, which is far below the reference's own
transformer tolerance ``dfMaxError``). All public-textbook math.

Every transform exists in THREE synchronized forms:

1. **SQL text** (``utm_sql``, ``merc_sql``, …) valid in both Spark SQL
   and DuckDB — built from sin/cos/atan/asin/exp/ln/sqrt only (the
   intersection of both engines' function sets; sinh/cosh/atanh are
   expanded through exp/ln). This makes reprojection a pure-JVM
   column expression (whole-stage codegen, no UDF) AND oracle-checkable.
2. **NumPy kernels** (``utm_forward_np`` / ``utm_inverse_np``) for the
   pixel-warp path (target-grid inverse projection inside a pandas UDF).
3. The same NumPy kernels drive the WKB geometry transform of
   ``operators.warped_layer`` (``OGRWarpedLayer``,
   ``ogr/ogrsf_frmts/generic/ogrwarpedlayer.h:33``).

Cross-engine note: outputs are transcendental, so Spark and DuckDB
can differ by 1-2 ulp (different libm). Driver-facing queries round
coordinates to 1e-4 m / 1e-9 deg — far above the ulp noise, far below
any geodetic tolerance.
"""

from __future__ import annotations

import math

import numpy as np

# WGS84
A_WGS84 = 6378137.0
F_WGS84 = 1.0 / 298.257223563
K0 = 0.9996
E0 = 500000.0
N0_SOUTH = 10000000.0

_n = F_WGS84 / (2.0 - F_WGS84)
# rectifying radius A = a/(1+n) (1 + n²/4 + n⁴/64 + …)
A_RECT = A_WGS84 / (1.0 + _n) * (1.0 + _n**2 / 4.0 + _n**4 / 64.0)
# forward series coefficients α, inverse β, latitude δ (Krüger, O(n³))
ALPHA = (
    _n / 2.0 - 2.0 * _n**2 / 3.0 + 5.0 * _n**3 / 16.0,
    13.0 * _n**2 / 48.0 - 3.0 * _n**3 / 5.0,
    61.0 * _n**3 / 240.0,
)
BETA = (
    _n / 2.0 - 2.0 * _n**2 / 3.0 + 37.0 * _n**3 / 96.0,
    _n**2 / 48.0 + _n**3 / 15.0,
    17.0 * _n**3 / 480.0,
)
DELTA = (
    2.0 * _n - 2.0 * _n**2 / 3.0 - 2.0 * _n**3,
    7.0 * _n**2 / 3.0 - 8.0 * _n**3 / 5.0,
    56.0 * _n**3 / 15.0,
)
# 2√n/(1+n) — the conformal-latitude eccentricity term
_ECC = 2.0 * math.sqrt(_n) / (1.0 + _n)

ORIGIN_SHIFT = 20037508.342789244
DEG = math.pi / 180.0


def utm_zone_lon0(zone: int) -> float:
    """Central meridian of UTM zone (degrees)."""
    return -183.0 + 6.0 * zone


def parse_epsg(epsg: int) -> dict:
    """Classify an EPSG code into the supported family.

    Codes beyond the WGS84 fast family (4326/3857/WGS84-UTM) resolve
    through the general registry in :mod:`gdal_spark.functions.proj`
    (LCC, Albers, polar stereographic, national TM grids, Helmert
    datums) and come back as ``{"kind": "general", "crs": CRS}``."""
    if epsg == 4326:
        return {"kind": "lonlat"}
    if epsg == 3857:
        return {"kind": "mercator"}
    if 32601 <= epsg <= 32660:
        return {"kind": "utm", "zone": epsg - 32600, "south": False}
    if 32701 <= epsg <= 32760:
        return {"kind": "utm", "zone": epsg - 32700, "south": True}
    from gdal_spark.functions import proj as _proj

    crs = _proj.lookup(epsg)
    if crs is not None:
        return {"kind": "general", "crs": crs}
    raise ValueError(
        f"EPSG:{epsg} not in the supported family (4326/3857/UTM) nor the "
        "projection registry (functions/proj.py EPSG table — add its "
        "Snyder parameters there to enable it)"
    )


# ---------------------------------------------------------------------------
# NumPy kernels
# ---------------------------------------------------------------------------


def utm_forward_np(lon, lat, zone: int, south: bool = False):
    """(lon, lat) degrees → UTM (easting, northing) meters, vectorized."""
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    lam = (lon - utm_zone_lon0(zone)) * DEG
    phi = lat * DEG
    s = np.sin(phi)
    t = np.sinh(np.arctanh(s) - _ECC * np.arctanh(_ECC * s))
    xi = np.arctan2(t, np.cos(lam))
    eta = np.arctanh(np.sin(lam) / np.sqrt(1.0 + t * t))
    e_ = eta
    n_ = xi
    for j, a in enumerate(ALPHA, start=1):
        e_ = e_ + a * np.cos(2 * j * xi) * np.sinh(2 * j * eta)
        n_ = n_ + a * np.sin(2 * j * xi) * np.cosh(2 * j * eta)
    easting = E0 + K0 * A_RECT * e_
    northing = (N0_SOUTH if south else 0.0) + K0 * A_RECT * n_
    return easting, northing


def utm_inverse_np(easting, northing, zone: int, south: bool = False):
    """UTM meters → (lon, lat) degrees, vectorized."""
    easting = np.asarray(easting, dtype=np.float64)
    northing = np.asarray(northing, dtype=np.float64)
    xi = (northing - (N0_SOUTH if south else 0.0)) / (K0 * A_RECT)
    eta = (easting - E0) / (K0 * A_RECT)
    xi_ = xi
    eta_ = eta
    for j, b in enumerate(BETA, start=1):
        xi_ = xi_ - b * np.sin(2 * j * xi) * np.cosh(2 * j * eta)
        eta_ = eta_ - b * np.cos(2 * j * xi) * np.sinh(2 * j * eta)
    chi = np.arcsin(np.sin(xi_) / np.cosh(eta_))
    phi = chi
    for j, d in enumerate(DELTA, start=1):
        phi = phi + d * np.sin(2 * j * chi)
    lam = np.arctan2(np.sinh(eta_), np.cos(xi_))
    return utm_zone_lon0(zone) + lam / DEG, phi / DEG


def merc_forward_np(lon, lat):
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    mx = lon * ORIGIN_SHIFT / 180.0
    my = np.log(np.tan((90.0 + lat) * math.pi / 360.0)) / (math.pi / 180.0)
    return mx, my * ORIGIN_SHIFT / 180.0


def merc_inverse_np(mx, my):
    mx = np.asarray(mx, dtype=np.float64)
    my = np.asarray(my, dtype=np.float64)
    lon = (mx / ORIGIN_SHIFT) * 180.0
    lat = (my / ORIGIN_SHIFT) * 180.0
    lat = 180.0 / math.pi * (2.0 * np.arctan(np.exp(lat * math.pi / 180.0)) - math.pi / 2.0)
    return lon, lat


def transform_np(x, y, src_epsg: int, dst_epsg: int):
    """Arbitrary supported src→dst, chained through WGS84 lon/lat (the
    reference's transformer-chain shape, gdaltransformer.cpp:3087;
    datum shifts ride the chain's hub exactly like PROJ pipelines)."""
    s = parse_epsg(src_epsg)
    d = parse_epsg(dst_epsg)
    if s["kind"] == "lonlat":
        lon, lat = np.asarray(x, dtype=np.float64), np.asarray(y, dtype=np.float64)
    elif s["kind"] == "mercator":
        lon, lat = merc_inverse_np(x, y)
    elif s["kind"] == "utm":
        lon, lat = utm_inverse_np(x, y, s["zone"], s["south"])
    else:
        from gdal_spark.functions import proj as _proj

        lon, lat = _proj.to_lonlat_wgs84(s["crs"], x, y)
    if d["kind"] == "lonlat":
        return lon, lat
    if d["kind"] == "mercator":
        return merc_forward_np(lon, lat)
    if d["kind"] == "utm":
        return utm_forward_np(lon, lat, d["zone"], d["south"])
    from gdal_spark.functions import proj as _proj

    return _proj.from_lonlat_wgs84(d["crs"], lon, lat)


# ---------------------------------------------------------------------------
# shared SQL text (Spark SQL ∩ DuckDB: sin cos atan atan2 asin exp ln sqrt)
# ---------------------------------------------------------------------------


def _sinh(x: str) -> str:
    return f"((exp({x}) - exp(-({x}))) / 2.0)"


def _cosh(x: str) -> str:
    return f"((exp({x}) + exp(-({x}))) / 2.0)"


def _atanh(x: str) -> str:
    return f"(0.5 * ln((1.0 + {x}) / (1.0 - {x})))"


def utm_sql(lon_expr: str, lat_expr: str, zone: int, south: bool = False) -> tuple[str, str]:
    """(easting_sql, northing_sql) — identical text for Spark + DuckDB.

    The series is fully inlined; constants are exact double literals
    (repr round-trip). Cost: one codegen'd expression tree per output
    column — JVM-side, no UDF, no shuffle.
    """
    lon0 = repr(utm_zone_lon0(zone))
    deg = repr(DEG)
    ecc = repr(_ECC)
    lam = f"(({lon_expr}) - {lon0}) * {deg}"
    phi = f"({lat_expr}) * {deg}"
    s = f"sin({phi})"
    t = _sinh(f"{_atanh(s)} - {ecc} * {_atanh(f'({ecc} * {s})')}")
    # bind t/xi/eta once via textual reuse: DuckDB and Spark both CSE
    # repeated subexpressions, and the string is deterministic either way
    xi = f"atan2({t}, cos({lam}))"
    eta = _atanh(f"(sin({lam}) / sqrt(1.0 + ({t}) * ({t})))")
    e_terms = [eta]
    n_terms = [xi]
    for j, a in enumerate(ALPHA, start=1):
        aj = repr(a)
        e_terms.append(f"{aj} * cos({2 * j} * ({xi})) * {_sinh(f'({2 * j} * ({eta}))')}")
        n_terms.append(f"{aj} * sin({2 * j} * ({xi})) * {_cosh(f'({2 * j} * ({eta}))')}")
    ka = repr(K0 * A_RECT)
    easting = f"({E0!r} + {ka} * ({' + '.join(e_terms)}))"
    n0 = repr(N0_SOUTH) if south else "0.0"
    northing = f"(CAST({n0} AS DOUBLE) + {ka} * ({' + '.join(n_terms)}))"
    return easting, northing


def merc_sql(lon_expr: str, lat_expr: str) -> tuple[str, str]:
    """lon/lat → EPSG:3857 as shared SQL text (gdal2tiles LatLonToMeters)."""
    pi = repr(math.pi)
    mx = f"(({lon_expr}) * {ORIGIN_SHIFT!r} / 180.0)"
    my = (
        f"(ln(tan((90.0 + ({lat_expr})) * {pi} / 360.0)) / ({pi} / 180.0)"
        f" * {ORIGIN_SHIFT!r} / 180.0)"
    )
    return mx, my


def reproject_cols(df, src_epsg: int, dst_epsg: int, x: str, y: str, out_x: str = "x_out", out_y: str = "y_out"):
    """``OGRWarpedLayer``'s column form: attach reprojected coordinate
    columns as pure SQL expressions (lonlat source only for the SQL
    path; other sources go through ``operators.warped_layer``)."""
    from pyspark.sql import functions as F

    if parse_epsg(src_epsg)["kind"] != "lonlat":
        raise ValueError("SQL reprojection path expects EPSG:4326 input")
    d = parse_epsg(dst_epsg)
    if d["kind"] == "mercator":
        ex, ny = merc_sql(x, y)
    elif d["kind"] == "utm":
        ex, ny = utm_sql(x, y, d["zone"], d["south"])
    elif d["kind"] == "general":
        from gdal_spark.functions import proj as _proj

        ex, ny = _proj.forward_sql(dst_epsg, x, y)
    else:
        return df.withColumn(out_x, F.col(x)).withColumn(out_y, F.col(y))
    return df.withColumn(out_x, F.expr(ex)).withColumn(out_y, F.expr(ny))
