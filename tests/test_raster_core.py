"""Codec, checksum, resample kernel tests."""

import numpy as np
import pytest

from gdal_spark.raster import checksum as CK
from gdal_spark.raster import codec as C
from gdal_spark.raster import resample as R


def synth(h=32, w=48, c=3, seed=7):
    rng = np.random.default_rng(seed)
    base = (
        np.linspace(0, 255, w)[None, :, None]
        + np.linspace(0, 128, h)[:, None, None]
    )
    noise = rng.integers(0, 40, (h, w, c))
    arr = np.clip(base + noise, 0, 255).astype(np.uint8)
    return arr[:, :, 0] if c == 1 else arr


def test_png_roundtrip_rgb():
    a = synth()
    assert np.array_equal(C.png_decode(C.png_encode(a)), a)


def test_png_roundtrip_gray():
    a = synth(c=1)
    assert np.array_equal(C.png_decode(C.png_encode(a)), a)


def test_png_filters_decode():
    # craft a PNG with Up filter (type 2) by hand and decode
    import struct
    import zlib

    a = synth(8, 8, 1)
    rows = []
    prev = np.zeros(8, dtype=np.uint8)
    for r in range(8):
        rows.append(b"\x02" + (a[r] - prev).astype(np.uint8).tobytes())
        prev = a[r]
    ihdr = struct.pack(">IIBBBBB", 8, 8, 8, 0, 0, 0, 0)
    buf = (
        C.PNG_SIG
        + C._chunk(b"IHDR", ihdr)
        + C._chunk(b"IDAT", zlib.compress(b"".join(rows)))
        + C._chunk(b"IEND", b"")
    )
    assert np.array_equal(C.png_decode(buf), a)


def test_decode_dispatch():
    a = synth(c=1)
    assert np.array_equal(C.decode_image(C.encode_image(a, "png")), a)
    # VP8L stores ARGB: gray comes back as identical R=G=B planes
    wrt = C.decode_image(C.encode_image(a, "webp"))
    assert wrt.shape == a.shape + (3,)
    assert all(np.array_equal(wrt[:, :, i], a) for i in range(3))
    assert C.decode_image(C.encode_image(a, "jpeg")).shape == a.shape  # real T.81
    # garbage VP8 chunk: NotImplementedError without libwebp,
    # ValueError from the library (lossy VP8 IS supported when the
    # capability probe finds libwebp.so)
    with pytest.raises((NotImplementedError, ValueError)):
        C.decode_image(b"RIFF....WEBPVP8 real webp not supported")


def test_checksum_formula():
    # direct scalar loop oracle of alg/gdalchecksum.cpp:360-367
    a = synth(5, 7, 1)
    primes = [7, 11, 13, 17, 19, 23, 29, 31, 37, 41, 43]
    cs = 0
    ip = 0
    for v in a.ravel():
        cs += int(v) % primes[ip]
        ip = (ip + 1) % 11
        cs &= 0xFFFF
    assert CK.checksum(a) == cs


def test_checksum_float_rounding():
    a = np.array([[1.4, 1.6], [-1.4, 250.7]])
    # GDALCopyWords: +0.5 then floor → 1, 2, -0 (floor(-0.9)=-1), 251
    primes = [7, 11, 13, 17]
    vals = [1, 2, -1, 251]
    exp = sum(abs(v) % [7, 11, 13, 17][i] * (1 if v >= 0 else -1) for i, v in enumerate(vals)) & 0xFFFF
    assert CK.checksum(a) == exp


def test_resize_nearest_identity():
    a = synth()
    assert np.array_equal(R.resize_nearest(a, *a.shape[:2]), a)


def test_block_average_2x():
    a = np.array([[0, 2], [4, 6]], dtype=np.uint8)
    out = R.block_reduce(a, 1, 1, "average")
    assert out.item() == 3  # (0+2+4+6)/4 = 3


def test_block_stats():
    a = np.arange(16, dtype=np.uint8).reshape(4, 4)
    assert R.block_reduce(a, 2, 2, "min")[0, 0] == 0
    assert R.block_reduce(a, 2, 2, "max")[1, 1] == 15
    m = R.block_reduce(np.array([[1, 1], [2, 3]], dtype=np.uint8), 1, 1, "mode")
    assert m.item() == 1


def test_kernel_resize_constant_preserved():
    a = np.full((32, 32), 100, dtype=np.uint8)
    for k in ("bilinear", "cubic", "cubicspline", "lanczos"):
        out = R.resize_kernel(a, 16, 16, k)
        assert out.shape == (16, 16)
        assert np.all(out == 100), k


def _gauss_scalar_oracle(a, out_h, out_w):
    """Independent per-pixel re-derivation of GDALResampleChunk_Gauss
    (gcore/overview.cpp:1996-2210): scalar loops, no shared code with
    resize_gauss's vectorized gather."""
    h, w = a.shape
    ry = h / out_h
    rx = w / out_w
    res_factor = int(0.5 + ry)
    dim = 3 if res_factor <= 2 else (5 if res_factor <= 4 else 7)
    kern = {3: R._GAUSS_3, 5: R._GAUSS_5, 7: R._GAUSS_7}[dim]
    out = np.zeros((out_h, out_w), dtype=np.float64)
    for i in range(out_h):
        y0 = int(0.5 + i * ry)
        y1 = int(0.5 + (i + 1) * ry) + 1
        y0 = y0 + (y1 - y0) // 2 - dim // 2
        for j in range(out_w):
            x0 = int(0.5 + j * rx)
            x1 = int(0.5 + (j + 1) * rx) + 1
            x0 = x0 + (x1 - x0) // 2 - dim // 2
            tot = 0.0
            cnt = 0.0
            for dy in range(dim):
                for dx in range(dim):
                    yy, xx = y0 + dy, x0 + dx
                    if 0 <= yy < h and 0 <= xx < w:
                        tot += a[yy, xx] * kern[dy, dx]
                        cnt += kern[dy, dx]
            out[i, j] = tot / cnt if cnt else 0.0
    return np.clip(np.floor(out + 0.5), 0, 255).astype(np.uint8)


def test_gauss_matches_scalar_oracle():
    rng = np.random.default_rng(7)
    for (h, w, oh, ow) in [(16, 16, 8, 8), (20, 24, 5, 6), (33, 31, 4, 4), (17, 13, 8, 6)]:
        a = rng.integers(0, 256, size=(h, w), dtype=np.uint8)
        got = R.resample(a, oh, ow, "gauss")
        want = _gauss_scalar_oracle(a, oh, ow)
        assert np.array_equal(got, want), (h, w, oh, ow)


def test_gauss_constant_preserved_and_3band():
    a = np.full((32, 32, 3), 77, dtype=np.uint8)
    out = R.resample(a, 16, 16, "gauss")
    assert out.shape == (16, 16, 3)
    assert np.all(out == 77)


def test_resample_dispatch_average_matches_block():
    a = synth(32, 32, 1)
    assert np.array_equal(R.resample(a, 16, 16, "average"), R.block_reduce(a, 16, 16, "average"))


def test_png_all_filters_mixed_rows():
    """Encode rows with cycling filter types 0..4 using the PNG spec's
    forward filters, then assert the vectorized decoder reconstructs
    the original exactly (RGB and gray)."""
    import struct
    import zlib

    def paeth(a, b, c):
        p = int(a) + int(b) - int(c)
        pa, pb, pc = abs(p - int(a)), abs(p - int(b)), abs(p - int(c))
        if pa <= pb and pa <= pc:
            return a
        return b if pb <= pc else c

    def encode_with_filters(a, channels):
        h, w = a.shape[:2]
        stride = w * channels
        flat = a.reshape(h, stride)
        out = []
        prev = np.zeros(stride, dtype=np.uint8)
        for r in range(h):
            ft = r % 5
            line = flat[r]
            enc = np.zeros(stride, dtype=np.uint8)
            for i in range(stride):
                left = int(line[i - channels]) if i >= channels else 0
                up = int(prev[i])
                ul = int(prev[i - channels]) if i >= channels else 0
                x = int(line[i])
                if ft == 0:
                    enc[i] = x
                elif ft == 1:
                    enc[i] = (x - left) & 0xFF
                elif ft == 2:
                    enc[i] = (x - up) & 0xFF
                elif ft == 3:
                    enc[i] = (x - ((left + up) >> 1)) & 0xFF
                else:
                    enc[i] = (x - paeth(left, up, ul)) & 0xFF
            out.append(bytes([ft]) + enc.tobytes())
            prev = line
        color_type = {1: 0, 3: 2, 4: 6}[channels]
        ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
        return (
            C.PNG_SIG
            + C._chunk(b"IHDR", ihdr)
            + C._chunk(b"IDAT", zlib.compress(b"".join(out)))
            + C._chunk(b"IEND", b"")
        )

    rng = np.random.default_rng(3)
    for c in (1, 3, 4):
        shape = (11, 13) if c == 1 else (11, 13, c)
        a = rng.integers(0, 256, shape, dtype=np.uint8)
        buf = encode_with_filters(a, c)
        assert np.array_equal(C.png_decode(buf), a), f"channels={c}"


def test_png_sub_filter_runs():
    """Long Sub runs (the cumsum lane path) on wide RGB rows."""
    import struct
    import zlib

    rng = np.random.default_rng(4)
    a = rng.integers(0, 256, (4, 64, 3), dtype=np.uint8)
    h, w, c = a.shape
    flat = a.reshape(h, w * c)
    rows = []
    for r in range(h):
        line = flat[r].astype(np.int64)
        enc = line.copy()
        enc[c:] = (line[c:] - line[:-c]) & 0xFF
        rows.append(b"\x01" + enc.astype(np.uint8).tobytes())
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    buf = (
        C.PNG_SIG
        + C._chunk(b"IHDR", ihdr)
        + C._chunk(b"IDAT", zlib.compress(b"".join(rows)))
        + C._chunk(b"IEND", b"")
    )
    assert np.array_equal(C.png_decode(buf), a)


def test_cutline_kernel_closed_form():
    """gdalwarp -cutline semantics on a hand-checkable grid: 8x8 image over
    [0,8]x[0,8], cutline = rectangle [0,0]-[3.5,8] → pixel centers 0.5..7.5,
    columns with center < 3.5 survive (cols 0,1,2), crop window spans
    cols 0..ceil(3.5)=4."""
    import numpy as np

    from gdal_spark.functions.geometry import parse_wkb, wkb_bbox_polygon
    from gdal_spark.raster.rasterize import cutline_array

    arr = np.arange(64, dtype=np.uint8).reshape(8, 8) + 1  # no zeros
    g = parse_wkb(wkb_bbox_polygon(0.0, 0.0, 3.5, 8.0))
    masked, cropped, n_valid = cutline_array(arr, (0.0, 0.0, 8.0, 8.0), g)
    assert n_valid == 3 * 8
    assert (masked[:, :3] > 0).all() and (masked[:, 3:] == 0).all()
    assert cropped.shape == (8, 4)
    # scalar re-derivation of the masked checksum
    from gdal_spark.raster.checksum import checksum_band

    expect = arr.copy()
    expect[:, 3:] = 0
    assert checksum_band(masked) == checksum_band(expect)
    # cutline fully outside → everything masked, empty crop
    g2 = parse_wkb(wkb_bbox_polygon(100.0, 100.0, 101.0, 101.0))
    m2, c2, nv2 = cutline_array(arr, (0.0, 0.0, 8.0, 8.0), g2)
    assert nv2 == 0 and (m2 == 0).all() and c2.size == 0
