"""EXIF metadata for JPEG payloads — the wild-web-corpus essentials.

Reference surface: the JPEG driver's EXIF path
(``frmts/jpeg/jpgdataset.cpp:343`` ``ReadEXIFMetadata`` →
``gcore/gdalexif.cpp`` ``EXIFInit``/``EXIFExtractMetadata``) plus the
``APPLY_ORIENTATION`` open option (``jpgdataset.cpp:3190``).  GDAL
exposes each tag as an ``EXIF_<Name>`` → string metadata item; value
formatting mirrors ``EXIFPrintData`` (``gcore/gdalexif.cpp:257``):
ASCII stripped of trailing spaces/NULs, integer types space-separated
``%u``/``%d``, rationals ``(%g)`` with a zero denominator printed as
``(0)``, BYTE/UNDEFINED as ``0x%02x`` pairs.  Unknown tags fall back
to ``EXIF_<decimal>`` (``gdalexif.cpp:664``).

Everything here is a per-row pure-bytes kernel: on a 10^12-image
corpus EXIF extraction is a map-only column transform over the
``bytes`` column (header scan only — the entropy-coded body is never
touched), so it composes with the same pruned scans as the header
sniffers in ``operators/info.py``.

Original implementation from the published EXIF 2.3 / TIFF 6.0
layouts (APP1 marker → ``Exif\\0\\0`` → TIFF header → IFD chain with
the 0x8769 Exif-IFD and 0x8825 GPS-IFD pointer tags).
"""

from __future__ import annotations

import struct

# EXIF/TIFF field types (TIFF 6.0 §2; gcore/gdalexif.h:18-34)
_T_BYTE = 1
_T_ASCII = 2
_T_SHORT = 3
_T_LONG = 4
_T_RATIONAL = 5
_T_SBYTE = 6
_T_UNDEFINED = 7
_T_SSHORT = 8
_T_SLONG = 9
_T_SRATIONAL = 10
_T_FLOAT = 11
_T_DOUBLE = 12
_T_IFD = 13

_TYPE_SIZE = {
    _T_BYTE: 1, _T_ASCII: 1, _T_SHORT: 2, _T_LONG: 4, _T_RATIONAL: 8,
    _T_SBYTE: 1, _T_UNDEFINED: 1, _T_SSHORT: 2, _T_SLONG: 4,
    _T_SRATIONAL: 8, _T_FLOAT: 4, _T_DOUBLE: 8, _T_IFD: 4,
}

_EXIF_IFD_TAG = 0x8769
_GPS_IFD_TAG = 0x8825
_INTEROP_IFD_TAG = 0xA005

# tag → GDAL metadata name for IFD0 + the Exif IFD (the reference uses
# ONE table for both: gcore/gdalexif.cpp:98 `exiftags[]`; subset here —
# unknown tags still surface as EXIF_<decimal>)
TAG_NAMES = {
    0x100: "EXIF_Image_Width",
    0x101: "EXIF_Image_Length",
    0x10E: "EXIF_ImageDescription",
    0x10F: "EXIF_Make",
    0x110: "EXIF_Model",
    0x112: "EXIF_Orientation",
    0x11A: "EXIF_XResolution",
    0x11B: "EXIF_YResolution",
    0x128: "EXIF_ResolutionUnit",
    0x131: "EXIF_Software",
    0x132: "EXIF_DateTime",
    0x13B: "EXIF_Artist",
    0x8298: "EXIF_Copyright",
    0x829A: "EXIF_ExposureTime",
    0x829D: "EXIF_FNumber",
    0x8822: "EXIF_ExposureProgram",
    0x8827: "EXIF_ISOSpeedRatings",
    0x9000: "EXIF_ExifVersion",
    0x9003: "EXIF_DateTimeOriginal",
    0x9004: "EXIF_DateTimeDigitized",
    0x9201: "EXIF_ShutterSpeedValue",
    0x9202: "EXIF_ApertureValue",
    0x9204: "EXIF_ExposureBiasValue",
    0x9207: "EXIF_MeteringMode",
    0x9208: "EXIF_LightSource",
    0x9209: "EXIF_Flash",
    0x920A: "EXIF_FocalLength",
    0x9286: "EXIF_UserComment",
    0xA000: "EXIF_FlashpixVersion",
    0xA001: "EXIF_ColorSpace",
    0xA002: "EXIF_PixelXDimension",
    0xA003: "EXIF_PixelYDimension",
    0xA402: "EXIF_ExposureMode",
    0xA403: "EXIF_WhiteBalance",
    0xA406: "EXIF_SceneCaptureType",
    0xA431: "EXIF_BodySerialNumber",
    0xA434: "EXIF_LensModel",
}

# GPS IFD tag → name (gcore/gdalexif.cpp:63 `gpstags[]`)
GPS_TAG_NAMES = {
    0x00: "EXIF_GPSVersionID",
    0x01: "EXIF_GPSLatitudeRef",
    0x02: "EXIF_GPSLatitude",
    0x03: "EXIF_GPSLongitudeRef",
    0x04: "EXIF_GPSLongitude",
    0x05: "EXIF_GPSAltitudeRef",
    0x06: "EXIF_GPSAltitude",
    0x07: "EXIF_GPSTimeStamp",
    0x12: "EXIF_GPSMapDatum",
    0x1D: "EXIF_GPSDateStamp",
}

_NAME_TO_TAG = {v: k for k, v in TAG_NAMES.items()}
_GPS_NAME_TO_TAG = {v: k for k, v in GPS_TAG_NAMES.items()}


# ---------------------------------------------------------------------------
# parse


def _fmt_g(x: float) -> str:
    """C ``%g`` — what EXIFPrintData uses for rationals/floats."""
    return "%g" % x


def _format_value(vtype: int, values) -> str:
    """EXIFPrintData semantics (gcore/gdalexif.cpp:257)."""
    if vtype == _T_ASCII:
        s = values  # already bytes
        return s.rstrip(b"\x00 ").decode("latin-1", "replace")
    if vtype in (_T_BYTE, _T_UNDEFINED):
        return " ".join("0x%02x" % b for b in values)
    if vtype in (_T_SHORT, _T_LONG, _T_IFD, _T_SSHORT, _T_SLONG, _T_SBYTE):
        return " ".join(str(v) for v in values)
    if vtype in (_T_RATIONAL, _T_SRATIONAL):
        return " ".join(
            "(0)" if den == 0 else "(%s)" % _fmt_g(num / den)
            for num, den in values
        )
    if vtype in (_T_FLOAT, _T_DOUBLE):
        return " ".join(_fmt_g(v) for v in values)
    return ""


def _read_entry(buf: bytes, off: int, e: str, tiff0: int):
    """One 12-byte IFD entry → (tag, type, raw python values)."""
    tag, vtype, count = struct.unpack_from(e + "HHI", buf, off)
    size = _TYPE_SIZE.get(vtype, 0) * count
    if size == 0:
        return tag, vtype, None
    if size <= 4:
        voff = off + 8
    else:
        (rel,) = struct.unpack_from(e + "I", buf, off + 8)
        voff = tiff0 + rel
    if voff + size > len(buf):
        return tag, vtype, None
    if vtype == _T_ASCII:
        return tag, vtype, buf[voff:voff + count]
    if vtype in (_T_BYTE, _T_UNDEFINED):
        return tag, vtype, list(buf[voff:voff + count])
    if vtype == _T_SBYTE:
        return tag, vtype, list(struct.unpack_from(e + "%db" % count, buf, voff))
    if vtype in (_T_SHORT, _T_SSHORT):
        c = "H" if vtype == _T_SHORT else "h"
        return tag, vtype, list(struct.unpack_from(e + "%d%s" % (count, c), buf, voff))
    if vtype in (_T_LONG, _T_SLONG, _T_IFD):
        c = "I" if vtype != _T_SLONG else "i"
        return tag, vtype, list(struct.unpack_from(e + "%d%s" % (count, c), buf, voff))
    if vtype in (_T_RATIONAL, _T_SRATIONAL):
        c = "II" if vtype == _T_RATIONAL else "ii"
        flat = struct.unpack_from(e + c * count, buf, voff)
        return tag, vtype, [(flat[i], flat[i + 1]) for i in range(0, 2 * count, 2)]
    if vtype == _T_FLOAT:
        return tag, vtype, list(struct.unpack_from(e + "%df" % count, buf, voff))
    if vtype == _T_DOUBLE:
        return tag, vtype, list(struct.unpack_from(e + "%dd" % count, buf, voff))
    return tag, vtype, None


def _walk_ifd(buf: bytes, tiff0: int, ifd_off: int, e: str, names, out_raw):
    """Collect (name → (type, values)) for one IFD; return pointer tags."""
    pointers = {}
    if ifd_off + 2 > len(buf):
        return pointers
    (n,) = struct.unpack_from(e + "H", buf, ifd_off)
    if n > 512:  # gdalexif.cpp:529 unlikely-entry-count guard
        return pointers
    for i in range(n):
        off = ifd_off + 2 + 12 * i
        if off + 12 > len(buf):
            break
        tag, vtype, values = _read_entry(buf, off, e, tiff0)
        if tag in (_EXIF_IFD_TAG, _GPS_IFD_TAG, _INTEROP_IFD_TAG):
            if values:
                pointers[tag] = values[0]
            continue
        if values is None:
            continue
        name = names.get(tag, "EXIF_%u" % tag)
        out_raw[name] = (vtype, values)
    return pointers


def parse_exif_raw(jpeg: bytes) -> dict[str, tuple[int, object]]:
    """``EXIF_<Name>`` → (tiff_type, python values) from a JPEG buffer.

    Raw (unformatted) view — exact rationals as (num, den) tuples; the
    GDAL-string view is :func:`parse_exif`.
    """
    return _parse_tiff_exif_raw(next(
        (seg[6:] for marker, seg in _iter_segments(jpeg)
         if marker == 0xE1 and seg[:6] == b"Exif\x00\x00"),
        b"",
    ))


def _parse_tiff_exif_raw(buf: bytes) -> dict[str, tuple[int, object]]:
    """:func:`parse_exif_raw` of a bare EXIF TIFF payload: an APP1 body
    after ``Exif\\0\\0``, or a WebP ``EXIF`` chunk."""
    if len(buf) < 8:
        return {}
    if buf[0:2] == b"II":
        e = "<"
    elif buf[0:2] == b"MM":
        e = ">"
    else:
        return {}
    (magic, ifd0) = struct.unpack_from(e + "HI", buf, 2)
    if magic != 42:
        return {}
    out: dict[str, tuple[int, object]] = {}
    pointers = _walk_ifd(buf, 0, ifd0, e, TAG_NAMES, out)
    if _EXIF_IFD_TAG in pointers:
        sub = _walk_ifd(buf, 0, pointers[_EXIF_IFD_TAG], e, TAG_NAMES, out)
        pointers.update({k: v for k, v in sub.items() if k not in pointers})
    if _GPS_IFD_TAG in pointers:
        _walk_ifd(buf, 0, pointers[_GPS_IFD_TAG], e, GPS_TAG_NAMES, out)
    return out


# UNDEFINED/BYTE tags the reference re-types to ASCII for readability
# (gcore/gdalexif.cpp:693-699; the reference compares case-insensitively)
_FORCE_ASCII = {
    "exif_exifversion", "exif_flashpixversion", "exif_makernote",
    "gpsprocessingmethod", "exif_xmlpacket",
}


def parse_exif(jpeg: bytes) -> dict[str, str]:
    """GDAL-style ``EXIF_<Name>`` → formatted string metadata."""
    out = {}
    for name, (vtype, values) in parse_exif_raw(jpeg).items():
        if name.lower() in _FORCE_ASCII and vtype in (_T_UNDEFINED, _T_BYTE):
            vtype, values = _T_ASCII, bytes(values)
        out[name] = _format_value(vtype, values)
    return out


def gps_decimal(raw: dict, which: str = "lat") -> float | None:
    """Signed decimal degrees from the raw GPS rationals + ref."""
    key = "EXIF_GPSLatitude" if which == "lat" else "EXIF_GPSLongitude"
    ref_key = key + "Ref"
    if key not in raw:
        return None
    vals = raw[key][1]
    deg = 0.0
    scale = 1.0
    for num, den in vals[:3]:
        if den:
            deg += (num / den) / scale
        scale *= 60.0
    if ref_key in raw:
        ref = raw[ref_key][1]
        r = ref.rstrip(b"\x00 ").decode("latin-1", "replace") \
            if isinstance(ref, (bytes, bytearray)) else str(ref)
        if r in ("S", "W"):
            deg = -deg
    return deg


def _iter_segments(jpeg: bytes):
    """Yield (marker, payload) for every header segment before SOS.
    Stray bytes and 0xFF fill bytes before a marker are skipped, as
    are the standalone markers TEM, RSTn, SOI and EOI (T.81 B.1.1)."""
    if len(jpeg) < 4 or jpeg[0:2] != b"\xff\xd8":
        return
    off = 2
    while off + 4 <= len(jpeg):
        marker = jpeg[off + 1]
        if jpeg[off] != 0xFF or marker == 0xFF:
            off += 1
            continue
        if marker == 0x01 or 0xD0 <= marker <= 0xD9:
            off += 2
            continue
        if marker == 0xDA:
            break
        (seglen,) = struct.unpack_from(">H", jpeg, off + 2)
        yield marker, jpeg[off + 4:off + 2 + seglen]
        off += 2 + seglen


_XMP_SIG = b"http://ns.adobe.com/xap/1.0/\x00"


def parse_xmp(jpeg: bytes) -> str | None:
    """XMP packet from the APP1 chunk GDAL surfaces as the ``xml:XMP``
    metadata domain (jpgdataset.cpp:450 ReadXMPMetadata; XMP spec
    part 3 §2.1.3: APP1 + null-terminated namespace signature)."""
    for marker, seg in _iter_segments(jpeg):
        if marker == 0xE1 and seg.startswith(_XMP_SIG):
            return seg[len(_XMP_SIG):].decode("utf-8", "replace")
    return None


def parse_icc_profile(jpeg: bytes) -> bytes | None:
    """Concatenated ICC profile from APP2 ``ICC_PROFILE\\0`` chunks
    (jpgdataset.cpp:1358 ReadICCProfile — GDAL base64s this into
    ``SOURCE_ICC_PROFILE`` of the COLOR_PROFILE domain): each chunk
    carries (id, max_id) bytes; reassemble in id order, reject
    inconsistent max ids / duplicates / gaps like the reference."""
    chunks: dict[int, bytes] = {}
    max_id = None
    for marker, seg in _iter_segments(jpeg):
        if marker != 0xE2 or not seg.startswith(b"ICC_PROFILE\x00"):
            continue
        if len(seg) < 14:
            return None
        cid, cmax = seg[12], seg[13]
        if max_id is None:
            max_id = cmax
        if cmax != max_id or cid == 0 or cid > max_id or cid in chunks:
            return None  # inconsistent chunk set, like the reference
        chunks[cid] = seg[14:]
    if max_id is None or len(chunks) != max_id:
        return None
    return b"".join(chunks[i] for i in range(1, max_id + 1))


def build_icc_app2(profile: bytes, chunk_size: int = 65519 - 14) -> list[bytes]:
    """Split a profile into spec-shaped APP2 segments (marker bytes
    included) for the write side."""
    n = max(1, -(-len(profile) // chunk_size))
    segs = []
    for i in range(n):
        part = profile[i * chunk_size:(i + 1) * chunk_size]
        payload = b"ICC_PROFILE\x00" + bytes([i + 1, n]) + part
        segs.append(b"\xff\xe2" + struct.pack(">H", len(payload) + 2) + payload)
    return segs


# ---------------------------------------------------------------------------
# orientation (EXIF 2.3 §4.6.4.A; jpgdataset.cpp APPLY_ORIENTATION)


def oriented_size(w: int, h: int, orientation: int) -> tuple[int, int]:
    """(w, h) after applying the EXIF orientation (5–8 transpose)."""
    return (h, w) if 5 <= orientation <= 8 else (w, h)


def apply_exif_orientation(arr, orientation: int):
    """Rotate/flip an (h, w[, bands]) array to orientation 1 ("top
    left") — what GDAL's ``APPLY_ORIENTATION=YES`` open option does."""
    import numpy as np

    o = int(orientation)
    if o <= 1 or o > 8:
        return arr
    if o == 2:  # mirrored horizontal
        return arr[:, ::-1]
    if o == 3:  # rotated 180
        return arr[::-1, ::-1]
    if o == 4:  # mirrored vertical
        return arr[::-1, :]
    t = np.swapaxes(arr, 0, 1)
    if o == 5:  # mirrored horizontal, rotated 270 CW
        return t
    if o == 6:  # rotated 90 CW
        return t[:, ::-1]
    if o == 7:  # mirrored horizontal, rotated 90 CW
        return t[::-1, ::-1]
    return t[::-1, :]  # 8: rotated 270 CW


# ---------------------------------------------------------------------------
# build (EXIFCreate analogue, gcore/gdalexif.cpp; little-endian)


def _coerce(value):
    """Python value → (tiff_type, encoded payload bytes, count)."""
    if isinstance(value, str):
        b = value.encode("latin-1") + b"\x00"
        return _T_ASCII, b, len(b)
    if isinstance(value, bytes):
        return _T_UNDEFINED, value, len(value)
    if isinstance(value, int):
        if 0 <= value < 0x10000:
            return _T_SHORT, struct.pack("<H", value), 1
        return _T_LONG, struct.pack("<I", value & 0xFFFFFFFF), 1
    if isinstance(value, tuple) and len(value) == 2:
        return _T_RATIONAL, struct.pack("<II", *value), 1
    if isinstance(value, list):
        if all(isinstance(v, tuple) for v in value):
            return (
                _T_RATIONAL,
                b"".join(struct.pack("<II", *v) for v in value),
                len(value),
            )
        if all(isinstance(v, int) for v in value):
            if all(0 <= v < 0x10000 for v in value):
                return (
                    _T_SHORT,
                    b"".join(struct.pack("<H", v) for v in value),
                    len(value),
                )
            return (
                _T_LONG,
                b"".join(struct.pack("<I", v & 0xFFFFFFFF) for v in value),
                len(value),
            )
    raise ValueError(f"unsupported EXIF value: {value!r}")


def _build_ifd(entries, data_off: int):
    """entries: list of (tag, type, count, payload). Returns
    (ifd_bytes, tail_bytes) with the tail starting at ``data_off``."""
    entries = sorted(entries)
    ifd = struct.pack("<H", len(entries))
    tail = b""
    for tag, vtype, count, payload in entries:
        if len(payload) <= 4:
            inline = payload + b"\x00" * (4 - len(payload))
            ifd += struct.pack("<HHI", tag, vtype, count) + inline
        else:
            ifd += struct.pack("<HHII", tag, vtype, count,
                               data_off + len(tail))
            tail += payload
            if len(tail) % 2:
                tail += b"\x00"
    ifd += struct.pack("<I", 0)  # next-IFD pointer
    return ifd, tail


def build_exif_app1(metadata: dict[str, object]) -> bytes:
    """APP1 segment bytes (marker included) from ``EXIF_<Name>`` →
    python values (str / int / (num, den) / lists). Names route to
    IFD0, the Exif IFD, or the GPS IFD by the reference's tables."""
    ifd0_raw, exif_raw, gps_raw = [], [], []
    for name, value in metadata.items():
        vtype, payload, count = _coerce(value)
        if name in _GPS_NAME_TO_TAG:
            gps_raw.append((_GPS_NAME_TO_TAG[name], vtype, count, payload))
        elif name in _NAME_TO_TAG:
            tag = _NAME_TO_TAG[name]
            # IFD0 tags per TIFF 6.0; everything >= 0x8000 except the
            # pointer targets lives in the Exif IFD
            if tag < 0x8000:
                ifd0_raw.append((tag, vtype, count, payload))
            else:
                exif_raw.append((tag, vtype, count, payload))
        else:
            raise ValueError(f"unknown EXIF tag name: {name}")

    def ifd_size(n_entries):
        return 2 + 12 * n_entries + 4

    n0 = len(ifd0_raw) + (1 if exif_raw else 0) + (1 if gps_raw else 0)
    ifd0_off = 8
    exif_off = ifd0_off + ifd_size(n0)
    gps_off = exif_off + (ifd_size(len(exif_raw)) if exif_raw else 0)
    tail_off = gps_off + (ifd_size(len(gps_raw)) if gps_raw else 0)

    # lay out tails sequentially: IFD0's, then Exif's, then GPS's
    # (sizes are known only after building, so build in order)
    ptr_entries = list(ifd0_raw)
    if exif_raw:
        ptr_entries.append(
            (_EXIF_IFD_TAG, _T_LONG, 1, struct.pack("<I", exif_off))
        )
    if gps_raw:
        ptr_entries.append(
            (_GPS_IFD_TAG, _T_LONG, 1, struct.pack("<I", gps_off))
        )
    ifd0, tail0 = _build_ifd(ptr_entries, tail_off)
    exif_b, tail1 = (b"", b"")
    if exif_raw:
        exif_b, tail1 = _build_ifd(exif_raw, tail_off + len(tail0))
    gps_b, tail2 = (b"", b"")
    if gps_raw:
        gps_b, tail2 = _build_ifd(gps_raw, tail_off + len(tail0) + len(tail1))

    tiff = (b"II" + struct.pack("<HI", 42, ifd0_off)
            + ifd0 + exif_b + gps_b + tail0 + tail1 + tail2)
    payload = b"Exif\x00\x00" + tiff
    return b"\xff\xe1" + struct.pack(">H", len(payload) + 2) + payload


def insert_exif(jpeg: bytes, metadata: dict[str, object]) -> bytes:
    """Insert an APP1 Exif segment right after SOI (where libjpeg and
    the reference's CreateCopy put it)."""
    if jpeg[0:2] != b"\xff\xd8":
        raise ValueError("not a JPEG")
    return jpeg[0:2] + build_exif_app1(metadata) + jpeg[2:]


# ---------------------------------------------------------------------------
# DataFrame surface


def with_exif(df, bytes_col: str = "bytes", out_col: str = "exif"):
    """Append a ``map<string,string>`` column of GDAL-style EXIF
    metadata extracted from a JPEG ``bytes`` column.

    Header-scan only (stops at SOS), so on a 10^12-image corpus this
    is a cheap map-only transform — but it still has to FETCH the
    ``bytes`` column; run it next to a decode stage, or on a format
    with range reads, to avoid paying the scan twice.
    """
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import MapType, StringType

    @pandas_udf(MapType(StringType(), StringType()))
    def _exif_udf(b: pd.Series) -> pd.Series:
        return b.map(lambda v: {} if v is None else parse_exif(bytes(v)))

    return df.withColumn(out_col, _exif_udf(df[bytes_col]))
