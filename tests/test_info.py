"""gdalinfo/ogrinfo analogues: header-only sniff vs the encoders
(apps/gdalinfo_lib.cpp identify+size probe; apps/ogrinfo_lib.cpp -so).
"""

from __future__ import annotations

import struct

import numpy as np
import pytest

from gdal_spark.raster import codec, tiff


@pytest.mark.parametrize(
    "fmt,shape,bands",
    [
        ("png", (13, 21, 3), 3),
        ("png", (8, 5), 1),
        ("jpeg", (16, 24, 3), 3),
        ("webp", (9, 7, 3), 3),
        ("tiff", (12, 10, 3), 3),
        ("pnm", (6, 11, 3), 3),
        ("pnm", (6, 11), 1),
    ],
)
def test_sniff_matches_encoder(fmt, shape, bands):
    rng = np.random.default_rng(7)
    arr = rng.integers(0, 255, shape, dtype=np.uint8)
    buf = codec.encode_image(arr, fmt)
    drv, w, h, b = codec.sniff_info(buf)
    canon = {"tif": "tiff"}.get(fmt, fmt)
    assert drv == canon
    assert (w, h, b) == (shape[1], shape[0], bands)


def test_sniff_rejects_garbage():
    with pytest.raises(NotImplementedError):
        codec.sniff_info(b"\x00" * 64)


def test_sniff_jpeg_skips_app_segments():
    """SOF must be found past APPn/DQT/DHT segments (T.81 B.2.2)."""
    arr = np.full((4, 6, 3), 128, dtype=np.uint8)
    buf = codec.encode_image(arr, "jpeg")
    # inject an APP1 segment right after SOI
    app1 = b"\xff\xe1" + (10).to_bytes(2, "big") + b"Exif\x00\x00\x01\x02"
    patched = buf[:2] + app1 + buf[2:]
    drv, w, h, b = codec.sniff_info(patched)
    assert (drv, w, h, b) == ("jpeg", 6, 4, 3)


_H, _W = 6, 11  # odd, non-square: catches w/h swaps


def _px(*shape, dtype=np.uint8):
    return np.random.default_rng(3).integers(0, np.iinfo(dtype).max, (_H, _W, *shape), dtype=dtype)


def _libwebp():
    from gdal_spark.native import webp_lib

    if webp_lib.get_libwebp() is None:
        pytest.skip("libwebp not available on this host")
    return webp_lib


def _vp8x() -> bytes:
    """An RGBA VP8L file's chunk re-wrapped in an extended (VP8X)
    container with the alpha flag set; decoding it takes libwebp."""
    _libwebp()
    vp8l = codec.encode_image(_px(4), "webp")
    vp8x = bytes([0x10, 0, 0, 0])
    vp8x += (_W - 1).to_bytes(3, "little") + (_H - 1).to_bytes(3, "little")
    riff = b"WEBP" + b"VP8X" + struct.pack("<I", len(vp8x)) + vp8x + vp8l[12:]
    return b"RIFF" + struct.pack("<I", len(riff)) + riff


# (encoder, expected sniff_info, expected decode_image shape)
_TABLE_CASES = {
    "png-gray8": (lambda: codec.encode_image(_px(), "png"), ("png", _W, _H, 1), (_H, _W)),
    "png-gray16": (
        lambda: codec.encode_image(_px(dtype=np.uint16), "png"), ("png", _W, _H, 1), (_H, _W),
    ),
    "png-rgb": (lambda: codec.encode_image(_px(3), "png"), ("png", _W, _H, 3), (_H, _W, 3)),
    "png-rgba": (lambda: codec.encode_image(_px(4), "png"), ("png", _W, _H, 4), (_H, _W, 4)),
    "jpeg": (lambda: codec.encode_image(_px(3), "jpg"), ("jpeg", _W, _H, 3), (_H, _W, 3)),
    "webp-vp8l": (lambda: codec.encode_image(_px(3), "webp"), ("webp", _W, _H, 3), (_H, _W, 3)),
    "webp-vp8x": (_vp8x, ("webp", _W, _H, 4), (_H, _W, 4)),
    "webp-vp8": (
        lambda: _libwebp().encode_rgb(_px(3), quality=90), ("webp", _W, _H, 3), (_H, _W, 3),
    ),
    "tiff": (lambda: codec.encode_image(_px(3), "gtiff"), ("tiff", _W, _H, 3), (_H, _W, 3)),
    "bigtiff": (
        lambda: tiff.encode_geotiff(_px(3), bigtiff=True), ("tiff", _W, _H, 3), (_H, _W, 3),
    ),
    "pnm-p5": (lambda: codec.encode_image(_px(), "pgm"), ("pnm", _W, _H, 1), (_H, _W)),
    "pnm-p6": (lambda: codec.encode_image(_px(3), "ppm"), ("pnm", _W, _H, 3), (_H, _W, 3)),
    "gif": (lambda: codec.encode_image(_px(), "gif"), ("gif", _W, _H, 1), (_H, _W, 3)),
    "bmp-8": (lambda: codec.encode_image(_px(), "bmp"), ("bmp", _W, _H, 1), (_H, _W, 3)),
    "bmp-24": (lambda: codec.encode_image(_px(3), "bmp"), ("bmp", _W, _H, 3), (_H, _W, 3)),
}


def test_table_cases_cover_every_format():
    assert {c[1][0] for c in _TABLE_CASES.values()} == {f.name for f in codec.FORMATS}


@pytest.mark.parametrize("case", list(_TABLE_CASES))
def test_format_table_sniff_and_decode(case):
    """Every row of codec.FORMATS: the header sniff of an encoded
    payload and the shape its decode returns."""
    encode, info, shape = _TABLE_CASES[case]
    buf = encode()
    assert codec.sniff_info(buf) == info
    assert codec.decode_image(buf).shape == shape


def _unrecognized(fn, buf, message) -> bool:
    try:
        fn(buf)
    except NotImplementedError as e:
        return message in str(e)
    except Exception:  # a format accepted the blob, then failed on it
        pass
    return False


_BLOBS = {
    "zeros": b"\x00" * 64,
    # BM shorter than the bit count at bytes 28-30, then long enough
    "bmp-19": b"BM" + b"\x00" * 17,
    "bmp-29": b"BM" + b"\x00" * 27,
    "bmp-30": b"BM" + b"\x00" * 28,
    "tiff-II00*": b"II\x00*" + b"\x00" * 12,  # mixed byte-order magics
    "tiff-MM*0": b"MM*\x00" + b"\x00" * 12,
    "tiff-II*0": b"II*\x00" + b"\x00" * 12,
    "pnm-p5": b"P5 2 2 255\n" + b"\x00" * 4,
    "pnm-p5x": b"P5x",
    "gif": b"GIF89a" + b"\x00" * 8,
    "webp-alph-first": b"RIFF\x00\x00\x00\x00WEBPALPH\x00\x00\x00\x00",
    "jpeg-soi-eoi": b"\xff\xd8\xff\xd9",
    "png-sig-only": codec.PNG_SIG,
}


@pytest.mark.parametrize("blob", list(_BLOBS))
def test_decode_and_sniff_accept_the_same_blobs(blob):
    """Each magic test is written once, in its codec.FORMATS row."""
    buf = _BLOBS[blob]
    assert _unrecognized(codec.decode_image, buf, "payload is not") == _unrecognized(
        codec.sniff_info, buf, "unrecognized header"
    )


def test_layer_summary(spark):
    from gdal_spark.operators.info import layer_summary

    df = spark.createDataFrame(
        [
            (0.0, 0.0, 2.0, 2.0, "a", 5),
            (1.0, -1.0, 3.0, 1.0, "b", None),
            (4.0, 4.0, 5.0, 9.0, "a", 5),
        ],
        "lon_min double, lat_min double, lon_max double, lat_max double,"
        " category string, population int",
    )
    r = layer_summary(df, fields=("category", "population")).collect()[0]
    assert r.feature_count == 3
    assert (r.ext_lon_min, r.ext_lat_min, r.ext_lon_max, r.ext_lat_max) == (
        0.0,
        -1.0,
        5.0,
        9.0,
    )
    assert (r.null_category, r.distinct_category) == (0, 2)
    assert (r.null_population, r.distinct_population) == (1, 1)


_WEBP_REF = "/root/reference/autotest/gdrivers/data/webp"
_GCORE_REF = "/root/reference/autotest/gcore/data"


def _ref_bytes(path):
    import os

    if not os.path.exists(path):
        pytest.skip("reference autotest data not present")
    with open(path, "rb") as f:
        return f.read()


def test_sniff_lossy_vp8_and_vp8x():
    """Wild-web WebP variants: lossy VP8 key-frame header (RFC 6386
    §9.1) and VP8X canvas size + alpha flag."""
    d = _ref_bytes(f"{_WEBP_REF}/rgbsmall.webp")
    assert codec.sniff_info(d) == ("webp", 50, 50, 3)
    d = _ref_bytes(f"{_WEBP_REF}/rgbsmall_with_xmp.webp")  # VP8X wrap
    assert codec.sniff_info(d) == ("webp", 50, 50, 3)


@pytest.mark.parametrize(
    "name,w,h",
    [
        ("bigtiff_one_block_long8.tif", 1, 1),
        ("bigtiff_one_block_be_long8.tif", 1, 1),
        ("bigtiff_four_strip_be_short.tif", 1, 4),
    ],
)
def test_sniff_bigtiff(name, w, h):
    """BigTIFF (magic 43): 8-byte offsets, 20-byte entries, LONG8 dims
    — against the reference's own gcore fixtures, both endians."""
    d = _ref_bytes(f"{_GCORE_REF}/{name}")
    drv, sw, sh, sb = codec.sniff_info(d)
    assert (drv, sw, sh) == ("tiff", w, h)
