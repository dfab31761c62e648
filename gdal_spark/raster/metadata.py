"""Cross-format image metadata domains — XMP, ICC, text.

Reference surface: the per-driver metadata collectors the reference
exposes as GDAL metadata domains —

- JPEG: ``jpgdataset.cpp:450`` ReadXMPMetadata, ``:1358``
  ReadICCProfile (handled in :mod:`gdal_spark.raster.exif`);
- PNG: ``pngdataset.cpp:1559`` CollectMetadata (tEXt/zTXt/iTXt →
  default domain with ``' '``, ``'='``, ``':'`` munged to ``'_'`` in
  keys), ``:1609`` CollectXMPMetadata (iTXt keyword
  ``XML:com.adobe.xmp``), ``:1692`` iCCP → COLOR_PROFILE;
- WebP: ``webpdataset.cpp:265`` GetMetadata(xml:XMP) reading the RIFF
  ``META`` chunk (the historical fourcc; modern libwebp mux writes
  ``XMP ``, accepted too);
- GeoTIFF: TIFFTAG_XMLPACKET (700) → xml:XMP.

Parity is pinned by the reference's own cross-driver matrix
(``autotest/gdrivers/xmp.py``) in ``tests/test_metadata.py``.

:func:`image_xmp` and :func:`image_metadata` pick the collector from
the ``xmp`` and ``metadata`` hooks of the ``fmt``'s row in
:data:`gdal_spark.raster.codec.FORMATS`.

All of it is header-scan work per image — a map-only column transform
at corpus scale, same posture as :func:`gdal_spark.raster.exif
.with_exif`.
"""

from __future__ import annotations

import struct
import zlib

from gdal_spark.raster import codec
from gdal_spark.raster import exif as _exif
from gdal_spark.raster.codec import png_chunks

# ---------------------------------------------------------------------------
# PNG


def _munge_key(k: str) -> str:
    """pngdataset.cpp:1590: ' ', '=', ':' → '_' in metadata keys."""
    return k.replace(" ", "_").replace("=", "_").replace(":", "_")


_PNG_XMP_KEYWORD = b"XML:com.adobe.xmp"


def _itxt_fields(data: bytes):
    """iTXt: keyword\\0 compflag compmethod lang\\0 translated\\0 text."""
    i = data.find(b"\x00")
    if i < 0 or len(data) < i + 3:
        return None
    keyword = data[:i]
    comp_flag = data[i + 1]
    rest = data[i + 3:]
    j = rest.find(b"\x00")
    if j < 0:
        return None
    k = rest.find(b"\x00", j + 1)
    if k < 0:
        return None
    text = rest[k + 1:]
    if comp_flag:
        try:
            text = zlib.decompress(text)
        except zlib.error:
            return None
    return keyword, text


def png_text(buf: bytes) -> dict[str, str]:
    """tEXt/zTXt/iTXt → default-domain metadata, GDAL key munge;
    the XMP iTXt is routed to its own domain, not here (libpng hands
    GDAL that text too, but GDAL reads XMP via its own scan)."""
    out: dict[str, str] = {}
    for ctype, data in png_chunks(buf):
        if ctype == b"tEXt":
            i = data.find(b"\x00")
            if i >= 0:
                out[_munge_key(data[:i].decode("latin-1"))] = (
                    data[i + 1:].decode("latin-1")
                )
        elif ctype == b"zTXt":
            i = data.find(b"\x00")
            if i >= 0 and len(data) > i + 2:
                try:
                    text = zlib.decompress(data[i + 2:])
                except zlib.error:
                    continue
                out[_munge_key(data[:i].decode("latin-1"))] = (
                    text.decode("latin-1")
                )
        elif ctype == b"iTXt":
            f = _itxt_fields(data)
            if f is None or f[0] == _PNG_XMP_KEYWORD:
                continue
            out[_munge_key(f[0].decode("latin-1"))] = (
                f[1].decode("utf-8", "replace")
            )
    return out


def png_xmp(buf: bytes) -> str | None:
    """pngdataset.cpp:1609 CollectXMPMetadata: the iTXt chunk whose
    keyword is ``XML:com.adobe.xmp``."""
    for ctype, data in png_chunks(buf):
        if ctype != b"iTXt":
            continue
        f = _itxt_fields(data)
        if f is not None and f[0] == _PNG_XMP_KEYWORD:
            return f[1].decode("utf-8", "replace")
    return None


def png_icc_profile(buf: bytes):
    """iCCP chunk → (profile_name, profile_bytes) or None
    (pngdataset.cpp:1692 → SOURCE_ICC_PROFILE/_NAME)."""
    for ctype, data in png_chunks(buf):
        if ctype != b"iCCP":
            continue
        i = data.find(b"\x00")
        if i < 0 or len(data) < i + 2:
            return None
        try:
            profile = zlib.decompress(data[i + 2:])
        except zlib.error:
            return None
        return data[:i].decode("latin-1"), profile
    return None


def build_png_text_chunk(key: str, value: str) -> bytes:
    """A spec-shaped tEXt chunk (write side / fixtures)."""
    return codec._chunk(b"tEXt", key.encode("latin-1") + b"\x00" + value.encode("latin-1"))


def build_png_itxt_xmp(xmp: str) -> bytes:
    return codec._chunk(
        b"iTXt", _PNG_XMP_KEYWORD + b"\x00\x00\x00" + b"\x00" + b"\x00" + xmp.encode("utf-8")
    )


def insert_png_chunks(png: bytes, chunks: list[bytes]) -> bytes:
    """Insert raw chunks right after IHDR."""
    if not codec.PNG.identify(png):
        raise ValueError("not a PNG")
    (ln,) = struct.unpack_from(">I", png, 8)
    end_ihdr = 8 + 12 + ln
    return png[:end_ihdr] + b"".join(chunks) + png[end_ihdr:]


# ---------------------------------------------------------------------------
# WebP


def _webp_chunk(buf: bytes, *tags: bytes) -> bytes | None:
    """Payload of the first RIFF chunk whose fourcc is one of ``tags``."""
    from gdal_spark.raster.webp import chunks

    return next((data for tag, data in chunks(buf) if tag in tags), None)


def webp_xmp(buf: bytes) -> str | None:
    """webpdataset.cpp:265: the ``META`` chunk is served as xml:XMP;
    modern libwebp mux writes ``XMP `` — both accepted."""
    data = _webp_chunk(buf, b"META", b"XMP ")
    return None if data is None else data.rstrip(b"\x00").decode("utf-8", "replace")


def webp_exif(buf: bytes) -> dict[str, str]:
    """``EXIF`` chunk (libwebp mux): same TIFF IFD payload as JPEG
    APP1, with or without the ``Exif\\0\\0`` prefix. (The reference's
    WebP driver exposes only XMP; this extends the same parse to the
    container's standard EXIF chunk.)"""
    data = _webp_chunk(buf, b"EXIF")
    if data is None:
        return {}
    if data[:6] == b"Exif\x00\x00":
        data = data[6:]
    return {
        name: _exif._format_value(vtype, values)
        for name, (vtype, values) in _exif._parse_tiff_exif_raw(data).items()
    }


def webp_icc_profile(buf: bytes) -> bytes | None:
    """``ICCP`` chunk of a VP8X container."""
    data = _webp_chunk(buf, b"ICCP")
    return None if data is None else bytes(data)


# ---------------------------------------------------------------------------
# GeoTIFF


def tiff_xmp(buf: bytes) -> str | None:
    """TIFFTAG_XMLPACKET (700) → xml:XMP."""
    from gdal_spark.raster import tiff as T

    try:
        bo, big, off = T._read_header(buf)
        tags, _ = T._read_ifd(buf, bo, big, off)
    except Exception:
        return None
    v = tags.get(700)
    if v is None:
        return None
    return bytes(v).decode("utf-8", "replace")


# ---------------------------------------------------------------------------
# ``metadata`` hooks of the codec.FORMATS rows:
# (default-domain items, ICC profile bytes or None, ICC profile name)


def _jpeg_metadata(buf: bytes):
    return _exif.parse_exif(buf), _exif.parse_icc_profile(buf), "ICC Profile"


def _png_metadata(buf: bytes):
    name, icc = png_icc_profile(buf) or (None, None)
    return png_text(buf), icc, name


def _webp_metadata(buf: bytes):
    return webp_exif(buf), webp_icc_profile(buf), "ICC Profile"


# ---------------------------------------------------------------------------
# lookups by fmt


def image_xmp(buf: bytes, fmt: str) -> str | None:
    """XMP packet by format — the reference's cross-driver xml:XMP
    surface (autotest/gdrivers/xmp.py matrix)."""
    f = codec.format_of(fmt)
    return f.xmp(bytes(buf)) if f and f.xmp else None


def image_metadata(buf: bytes, fmt: str) -> dict[str, dict[str, str]]:
    """domain → items, GDAL-style: '' (EXIF for JPEG, text chunks for
    PNG), 'xml:XMP', 'COLOR_PROFILE'."""
    buf = bytes(buf)
    f = codec.format_of(fmt)
    default, icc, icc_name = f.metadata(buf) if f and f.metadata else ({}, None, None)
    out: dict[str, dict[str, str]] = {}
    if default:
        out[""] = default
    xmp = image_xmp(buf, fmt)
    if xmp is not None:
        out["xml:XMP"] = {"XMP": xmp}
    if icc:
        import base64

        out["COLOR_PROFILE"] = {
            "SOURCE_ICC_PROFILE": base64.b64encode(icc).decode("ascii"),
        }
        if icc_name:
            out["COLOR_PROFILE"]["SOURCE_ICC_PROFILE_NAME"] = icc_name
    return out
