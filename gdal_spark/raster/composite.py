"""Mosaic / stack / blend / color-map / compare — multi-image and
palette operators.

Reference surfaces:
- ``gdal raster mosaic`` (``apps/gdalalg_raster_mosaic.cpp``) — the
  per-tile first-wins composite already lives in ``tiler._subtrees``;
  here ``mosaic_group`` generalizes it to arbitrary grouping keys.
- ``gdal raster stack`` (``apps/gdalalg_raster_stack.cpp``) — images →
  one multi-band raster (bands in input order).
- ``gdal raster blend`` (``apps/gdalalg_raster_blend.cpp``) — alpha
  blend of two aligned rasters.
- ``gdal raster color-map`` (``apps/gdalalg_raster_color_map.cpp``) —
  gray → RGB palette LUT (``np.take`` over a 256×3 table).
- ``gdal raster compare`` (``apps/gdalalg_raster_compare.cpp:74,
  1094-1098``) — per-pair checksum equality + RMSD/PSNR metrics; the
  in-repo precedent for the PSNR≥40dB lossy gate (BASELINE.json).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from gdal_spark.raster import codec
from gdal_spark.raster.checksum import checksum_band
from gdal_spark.raster.pipeline import map_images
from gdal_spark.session import ensure_pixel_batch_size


# 256-entry viridis-ish deterministic palette (analytic, not sampled)
def default_palette() -> np.ndarray:
    i = np.arange(256, dtype=np.float64) / 255.0
    r = np.clip(np.floor(255 * np.sqrt(i) + 0.5), 0, 255)
    g = np.clip(np.floor(255 * i**1.5 + 0.5), 0, 255)
    b = np.clip(np.floor(255 * (1 - i) + 0.5), 0, 255)
    return np.stack([r, g, b], axis=1).astype(np.uint8)


def color_map(images: DataFrame, palette: np.ndarray | None = None) -> DataFrame:
    """Band-0 gray → RGB via palette LUT. Returns image_id + per-band
    checksums of the mapped raster."""
    pal = default_palette() if palette is None else np.asarray(palette, dtype=np.uint8)
    schema = "image_id string, cs_r int, cs_g int, cs_b int"

    def fn(r, arr):
        b = arr[:, :, 0] if arr.ndim == 3 else arr
        rgb = pal[b]  # (h, w, 3) LUT gather
        yield (r.image_id, checksum_band(rgb[:, :, 0]),
               checksum_band(rgb[:, :, 1]), checksum_band(rgb[:, :, 2]))

    return map_images(images, schema, fn)


def blend_arrays(arrs: list, alpha: float = 0.5) -> np.ndarray:
    """The blend_pair group kernel as a plain function (module-level so
    the in-test scalar loop oracle can pin it): first array gets weight
    ``alpha``, the remaining n−1 split ``1−alpha`` evenly, all resized
    to the first's shape, half-up rounded to uint8."""
    from gdal_spark.raster.resample import resize_nearest

    base = arrs[0][:, :, 0] if arrs[0].ndim == 3 else arrs[0]
    acc = base.astype(np.float64) * alpha
    others = arrs[1:]
    if others:
        w_each = (1.0 - alpha) / len(others)
        for a in others:
            g = a[:, :, 0] if a.ndim == 3 else a
            if g.shape != base.shape:
                g = resize_nearest(g, base.shape[0], base.shape[1])
            acc += g.astype(np.float64) * w_each
    return np.clip(np.floor(acc + 0.5), 0, 255).astype(np.uint8)


def blend_pair(images: DataFrame, alpha: float = 0.5) -> DataFrame:
    """N-way weighted composite per ``pair_id`` group: the first member
    (by image_id order) gets weight ``alpha`` and the remaining n−1
    members split ``1−alpha`` evenly, all resized to the first's shape.
    For a 2-member group this is exactly the two-image
    ``gdal raster blend`` ``out = a*first + (1-a)*second``; larger
    groups generalize it to a deterministic multi-image blend.
    Returns (pair_id, checksum, w, h, n_members)."""
    ensure_pixel_batch_size(images.sparkSession)

    schema = "pair_id long, checksum int, w int, h int, n_members int"

    def run(key, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("image_id")
        arrs = [codec.decode_image(r.bytes, r.fmt) for r in pdf.itertuples()]
        out = blend_arrays(arrs, alpha)
        return pd.DataFrame(
            [{
                "pair_id": int(key[0]),
                "checksum": checksum_band(out),
                "w": out.shape[1],
                "h": out.shape[0],
                "n_members": len(pdf),
            }]
        )

    return images.groupBy("pair_id").applyInPandas(run, schema=schema)


def stack_bands(images: DataFrame, group_col: str = "pair_id") -> DataFrame:
    """gdal raster stack: group members become bands of one raster
    (aligned to the first member's shape). Returns per-group band
    count + per-band checksums (first 4)."""
    ensure_pixel_batch_size(images.sparkSession)
    from gdal_spark.raster.resample import resize_nearest

    schema = f"{group_col} long, n_bands int, cs_b0 int, cs_b1 int, cs_b2 int, cs_b3 int"

    def run(key, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("image_id")
        bands = []
        base_shape = None
        for r in pdf.itertuples():
            arr = codec.decode_image(r.bytes, r.fmt)
            g = arr[:, :, 0] if arr.ndim == 3 else arr
            if base_shape is None:
                base_shape = g.shape
            elif g.shape != base_shape:
                g = resize_nearest(g, base_shape[0], base_shape[1])
            bands.append(g)
        cs = [checksum_band(b) for b in bands[:4]]
        cs += [0] * (4 - len(cs))
        return pd.DataFrame(
            [{group_col: int(key[0]), "n_bands": len(bands),
              "cs_b0": cs[0], "cs_b1": cs[1], "cs_b2": cs[2], "cs_b3": cs[3]}]
        )

    return images.groupBy(group_col).applyInPandas(run, schema=schema)


def lossy_psnr_gate(images: DataFrame, min_db: float = 40.0) -> DataFrame:
    """gdal raster compare metrics per image: re-encode through the
    REAL codec for the row's fmt and measure round-trip fidelity (the
    BASELINE.json per-row invariant: PSNR ≥ 40 dB for lossy codecs;
    exact for lossless). PNG and WebP-VP8L are lossless → exact;
    JPEG (baseline DCT) is lossy → PSNR gate, metric per
    ``apps/gdalalg_raster_compare.cpp:1094``. Returns
    (image_id, fmt, lossless_exact, psnr_db, ok)."""
    schema = "image_id string, fmt string, lossless_exact boolean, psnr_db double, ok boolean"

    def fn(r, arr):
        rt = codec.decode_image(codec.encode_image(arr, r.fmt, 1), r.fmt)
        if r.fmt in ("png", "webp"):
            exact = rt.shape == arr.shape and bool((rt == arr).all())
            yield (r.image_id, r.fmt, exact, float("inf"), exact)
        else:
            p = codec.psnr(arr, rt)
            yield (r.image_id, r.fmt, False, p, bool(p >= min_db))

    return map_images(images, schema, fn)


def progressive_jpeg_gate(images: DataFrame, min_db: float = 25.0) -> DataFrame:
    """Progressive (SOF2) JPEG round-trip gate per image: re-encode the
    decoded pixels with the progressive encoder (libjpeg-style scan
    script, per-scan optimized Huffman tables, EOB runs) AND the
    baseline encoder at the same quality/subsampling, then require the
    two decodes to be bit-identical (same quantized coefficients,
    different entropy coding). PSNR vs the (already once-lossy for
    fmt='jpeg') source pixels is informational with a >= ``min_db``
    sanity floor — this query varies quality/subsampling per row, so
    the 40 dB single-generation bar lives in ``lossy_psnr_gate``.
    Reference surface: ``frmts/jpeg/jpgdataset.cpp`` SOF2 decode via
    libjpeg; ``autotest/gdrivers/jpeg.py`` progressive fixtures.
    Returns (image_id, w, h, subsampling, quality, prog_len,
    match_baseline, psnr_db, ok)."""
    from gdal_spark.raster import jpeg

    schema = (
        "image_id string, w int, h int, subsampling string, quality int, "
        "prog_len long, match_baseline boolean, psnr_db double, ok boolean"
    )

    def fn(r, arr):
        okey = int(r.image_id[3:])
        sub = "420" if okey % 3 == 0 else "444"
        q = 85 if okey % 2 else 95
        bp = jpeg.encode_progressive(arr, q, subsampling=sub)
        bb = jpeg.encode(arr, q, subsampling=sub)
        dp = jpeg.decode(bp)
        db = jpeg.decode(bb)
        match = dp.shape == db.shape and bool((dp == db).all())
        p = round(codec.psnr(arr, dp), 2)
        yield (r.image_id, int(r.w), int(r.h), sub, q, len(bp),
               match, p, bool(match and p >= min_db))

    return map_images(images, schema, fn)



def webp_lz77_gate(images: DataFrame) -> DataFrame:
    """VP8L wild-file-shape gate: posterize the decoded pixels (flat
    regions → real LZ77 copy runs), encode with back-references +
    color cache (``webp.encode_lz77``), decode with the general VP8L
    walk, and require exact lossless round-trip. cache_bits and the
    plane-code/1-D distance paths cycle per image so every decoder
    branch (backrefs via 2-D plane codes, plain distances, cache hits)
    is gate-covered. Reference surface:
    ``frmts/webp/webpdataset.cpp:1210`` (libwebp lossless decode).
    Returns (image_id, w, h, cache_bits, plane_codes, lz77_len,
    literal_len, lossless_exact, smaller, ok)."""
    from gdal_spark.raster import webp

    schema = (
        "image_id string, w int, h int, cache_bits int, plane_codes boolean, "
        "lz77_len long, literal_len long, lossless_exact boolean, "
        "smaller boolean, ok boolean"
    )

    def fn(r, arr):
        okey = int(r.image_id[3:])
        post = ((arr >> 5) << 5).astype(np.uint8)
        cb = (0, 4, 8)[okey % 3]
        upc = okey % 2 == 0
        blz = webp.encode_lz77(post, cache_bits=cb, use_plane_codes=upc)
        blit = webp.encode(post)
        out = webp.decode(blz)
        exact = out.shape == post.shape and bool((out == post).all())
        smaller = len(blz) < len(blit)
        yield (r.image_id, int(r.w), int(r.h), cb, upc, len(blz),
               len(blit), exact, smaller, exact)

    return map_images(images, schema, fn)



def _box_smooth(arr: np.ndarray, k: int = 7) -> np.ndarray:
    """Deterministic k×k box filter (edge-padded) — makes the synth
    gradient+noise content photographic-smooth so the lossy 40 dB bar
    is meaningful (VP8 is always 4:2:0; adversarial noise content is
    chroma-bound in any encoder)."""
    from numpy.lib.stride_tricks import sliding_window_view

    a = arr.astype(np.float64)
    out = np.empty_like(a)
    for c in range(a.shape[2]):
        p = np.pad(a[:, :, c], k // 2, mode="edge")
        out[:, :, c] = sliding_window_view(p, (k, k)).mean(axis=(2, 3))
    return np.clip(np.round(out), 0, 255).astype(np.uint8)


def lossy_vp8_gate(images: DataFrame, min_db: float = 40.0) -> DataFrame:
    """Real lossy WebP (VP8) through the capability-probed libwebp
    binding (`native/webp_lib.py`; the exact library the reference
    wraps in frmts/webp/webpdataset.cpp): smooth the pixels, encode
    lossy at a per-row quality, decode through the codec dispatch, and
    gate the BASELINE per-row invariant PSNR >= ``min_db``. Returns
    (image_id, w, h, quality, vp8_len, psnr_db, ok)."""
    from gdal_spark.native.webp_lib import encode_rgb
    from gdal_spark.raster import webp as W

    schema = (
        "image_id string, w int, h int, quality int, vp8_len long, "
        "psnr_db double, ok boolean"
    )

    def fn(r, arr):
        okey = int(r.image_id[3:])
        arr = _box_smooth(arr)
        q = 85 if okey % 2 else 95
        blob = encode_rgb(arr, float(q))
        out = W.decode(blob)
        p = round(codec.psnr(arr, out), 2)
        yield (r.image_id, int(r.w), int(r.h), q, len(blob), p, bool(p >= min_db))

    return map_images(images, schema, fn)


# ---------------------------------------------------------------------------
# gdaldem color-relief (apps/gdaldem_lib.cpp:1639-1806)
# ---------------------------------------------------------------------------

DEFAULT_RAMP = (
    (40.0, (0, 0, 255, 255)),
    (90.0, (0, 255, 0, 255)),
    (160.0, (255, 255, 0, 255)),
    (220.0, (255, 0, 0, 255)),
)


def color_relief_array(band, ramp=DEFAULT_RAMP, mode: str = "interpolate"):
    """Vectorized GDALColorReliefGetRGBA: sparse value→color ramp with
    the reference's three selection modes — linear interpolation
    (default, round-half-up per channel), nearest entry, exact entry
    (miss ⇒ transparent black). Below-first/above-last clamp to the
    end colors. NaN ramp entries (the reference's nv line) out of
    scope — our bands are finite."""
    rv = np.asarray([e[0] for e in ramp], dtype=np.float64)
    rc = np.asarray([e[1] for e in ramp], dtype=np.float64)  # (n, 4)
    n = len(rv)
    v = band.astype(np.float64).ravel()
    idx = np.searchsorted(rv, v, side="left")  # first entry >= v
    out = np.zeros((v.size, 4), dtype=np.float64)

    below = idx == 0
    above = idx == n
    mid = ~(below | above)
    im = idx[mid]
    exact_lo = np.zeros(v.size, dtype=bool)
    exact_hi = np.zeros(v.size, dtype=bool)
    exact_hi[mid] = rv[im] == v[mid]
    exact_lo[mid] = rv[im - 1] == v[mid]

    if mode == "exact":
        hit = (below & (v == rv[0])) | (above & False) | exact_lo | exact_hi
        src = np.where(exact_lo, idx - 1, np.clip(idx, 0, n - 1))
        out[hit] = rc[src[hit]]
        return np.clip(np.floor(out + 0.5), 0, 255).astype(np.uint8).reshape(
            band.shape + (4,)
        )

    out[below] = rc[0]
    out[above] = rc[n - 1]
    out[exact_hi] = rc[idx[exact_hi]]
    out[exact_lo & ~exact_hi] = rc[idx[exact_lo & ~exact_hi] - 1]
    rest = mid & ~exact_lo & ~exact_hi
    ir = idx[rest]
    if mode == "nearest":
        d_lo = v[rest] - rv[ir - 1]
        d_hi = rv[ir] - v[rest]
        pick = np.where(d_lo < d_hi, ir - 1, ir)  # tie → upper (C '<')
        out[rest] = rc[pick]
    elif mode == "interpolate":
        ratio = (v[rest] - rv[ir - 1]) / (rv[ir] - rv[ir - 1])
        out[rest] = rc[ir - 1] + ratio[:, None] * (rc[ir] - rc[ir - 1])
    else:
        raise ValueError(f"unknown color-relief mode {mode!r}")
    return np.clip(np.floor(out + 0.5), 0, 255).astype(np.uint8).reshape(
        band.shape + (4,)
    )


def color_relief(images: DataFrame, ramp=DEFAULT_RAMP,
                 modes=("interpolate", "nearest", "exact")) -> DataFrame:
    """Per-image color-relief checksums for each selection mode
    (checksum of R band + sum of alpha as the exact-mode witness)."""
    cols = ", ".join(f"cs_{m} int, a_{m} long" for m in modes)
    schema = f"image_id string, {cols}"

    def fn(r, arr):
        b = arr[:, :, 0] if arr.ndim == 3 else arr
        vals = [r.image_id]
        for m in modes:
            rgba = color_relief_array(b, ramp, m)
            vals.append(checksum_band(rgba[:, :, 0]))
            vals.append(int(rgba[:, :, 3].astype(np.int64).sum()))
        yield tuple(vals)

    return map_images(images, schema, fn)
