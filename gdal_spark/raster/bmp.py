"""BMP codec — Windows device-independent bitmaps.

Reference surface: the BMP driver (``frmts/bmp/bmpdataset.cpp``) —
1/4/8-bit palette (exposed as one index band + color table like the
reference), 16/24/32-bit BGR(A), RLE4/RLE8 decompression, bottom-up
and top-down row order, 4-byte row alignment.  Decode pinned on the
reference autotest's published checksums
(``autotest/gcore/bmp_read.py``: 1bit→200, 4bit_pal/4bit_rle4→2587,
8bit_pal/byte_rle8→4672, red_rgb_1x1→3) in ``tests/test_bmp.py``.

Original implementation from the published BITMAPFILEHEADER /
BITMAPINFOHEADER layout.  Per-image pure-NumPy kernel — map-only at
corpus scale like the other codecs.
"""

from __future__ import annotations

import struct

import numpy as np


class BmpInfo(dict):
    __getattr__ = dict.__getitem__


def _rle_decode(data: bytes, w: int, h: int, four_bit: bool) -> np.ndarray:
    """RLE8 / RLE4 (BMP spec §'Bitmap Compression'): encoded runs,
    absolute mode, end-of-line (0,0), end-of-bitmap (0,1), delta
    (0,2).  Returns bottom-up index rows (h, w)."""
    out = np.zeros((h, w), dtype=np.uint8)
    x = y = 0
    i = 0
    n = len(data)
    while i + 1 < n:
        cnt = data[i]
        val = data[i + 1]
        i += 2
        if cnt > 0:  # encoded run
            if four_bit:
                pair = [(val >> 4) & 0xF, val & 0xF]
                for k in range(cnt):
                    if x < w and y < h:
                        out[y, x] = pair[k & 1]
                    x += 1
            else:
                end = min(x + cnt, w)
                if y < h:
                    out[y, x:end] = val
                x += cnt
            continue
        # escape codes
        if val == 0:  # end of line
            x = 0
            y += 1
        elif val == 1:  # end of bitmap
            break
        elif val == 2:  # delta
            x += data[i]
            y += data[i + 1]
            i += 2
        else:  # absolute mode: val pixels follow
            if four_bit:
                nbytes = (val + 1) // 2
                chunk = data[i:i + nbytes]
                for k in range(val):
                    b = chunk[k // 2]
                    v = (b >> 4) & 0xF if k % 2 == 0 else b & 0xF
                    if x < w and y < h:
                        out[y, x] = v
                    x += 1
                i += nbytes + (nbytes & 1)  # word-aligned
            else:
                if y < h:
                    end = min(x + val, w)
                    out[y, x:end] = np.frombuffer(
                        data, dtype=np.uint8, count=min(val, end - x), offset=i
                    )
                x += val
                i += val + (val & 1)  # word-aligned
    return out


def decode_full(buf: bytes) -> BmpInfo:
    """BMP → ``index``/``pixels`` + ``palette``: palette files keep
    the index band (the reference's band-1 view); 16/24/32-bit return
    ``pixels`` as (h, w, 3|4) RGB(A)."""
    buf = bytes(buf)
    if buf[:2] != b"BM":
        raise ValueError("not a BMP")
    (data_off,) = struct.unpack_from("<I", buf, 10)
    (hdr_size,) = struct.unpack_from("<I", buf, 14)
    if hdr_size < 40:
        raise NotImplementedError("BITMAPCOREHEADER (OS/2 v1) unsupported")
    w, h_raw = struct.unpack_from("<ii", buf, 18)
    planes, bits = struct.unpack_from("<HH", buf, 26)
    (comp,) = struct.unpack_from("<I", buf, 30)
    (clr_used,) = struct.unpack_from("<I", buf, 46)
    top_down = h_raw < 0
    h = abs(h_raw)
    palette = None
    if bits <= 8:
        n_pal = clr_used or (1 << bits)
        pal_off = 14 + hdr_size
        quads = np.frombuffer(
            buf, dtype=np.uint8, count=4 * n_pal, offset=pal_off
        ).reshape(n_pal, 4)
        palette = quads[:, [2, 1, 0]].copy()  # BGRx → RGB

    if comp in (1, 2):  # RLE8 / RLE4
        if bits not in (4, 8) or (comp == 1) != (bits == 8):
            raise ValueError("inconsistent BMP RLE header")
        idx = _rle_decode(buf[data_off:], w, h, four_bit=(bits == 4))
        if not top_down:
            idx = idx[::-1]
        return BmpInfo(index=idx, pixels=None, palette=palette, w=w, h=h,
                       bits=bits)
    if comp == 3 and bits not in (16, 32):
        raise NotImplementedError("BITFIELDS on this depth unsupported")
    if comp not in (0, 3):
        raise NotImplementedError(f"BMP compression {comp} unsupported")

    stride = ((w * bits + 31) // 32) * 4
    rows = np.frombuffer(
        buf, dtype=np.uint8, count=h * stride, offset=data_off
    ).reshape(h, stride)
    if not top_down:
        rows = rows[::-1]
    if bits == 8:
        return BmpInfo(index=rows[:, :w].copy(), pixels=None,
                       palette=palette, w=w, h=h, bits=bits)
    if bits in (1, 4):
        bits_arr = np.unpackbits(rows, axis=1)[:, : w * bits]
        if bits == 1:
            idx = bits_arr.astype(np.uint8)
        else:
            v = bits_arr.reshape(h, w, 4)
            idx = (
                (v * np.array([8, 4, 2, 1], dtype=np.uint8)).sum(
                    axis=2, dtype=np.uint16
                )
            ).astype(np.uint8)
        return BmpInfo(index=idx, pixels=None, palette=palette, w=w, h=h,
                       bits=bits)
    if bits == 24:
        px = rows[:, : w * 3].reshape(h, w, 3)[:, :, ::-1].copy()  # BGR→RGB
        return BmpInfo(index=None, pixels=px, palette=None, w=w, h=h,
                       bits=bits)
    if bits == 32:
        px = rows[:, : w * 4].reshape(h, w, 4)[:, :, [2, 1, 0, 3]].copy()
        return BmpInfo(index=None, pixels=px, palette=None, w=w, h=h,
                       bits=bits)
    if bits == 16:  # 5-5-5 default
        u16 = rows[:, : w * 2].copy().view("<u2").reshape(h, w)
        r = ((u16 >> 10) & 31).astype(np.uint8) << 3
        g = ((u16 >> 5) & 31).astype(np.uint8) << 3
        b = (u16 & 31).astype(np.uint8) << 3
        return BmpInfo(index=None, pixels=np.dstack([r, g, b]),
                       palette=None, w=w, h=h, bits=bits)
    raise NotImplementedError(f"BMP bit depth {bits} unsupported")


def info(buf: bytes) -> tuple[int, int, int]:
    """(w, h, bands) from BITMAPINFOHEADER width, height and bit count."""
    w, h = struct.unpack_from("<ii", buf, 18)
    (bits,) = struct.unpack_from("<H", buf, 28)
    return w, abs(h), 1 if bits <= 8 else bits // 8


def decode(buf: bytes) -> np.ndarray:
    """Pixel view: palette files expand through the color table."""
    g = decode_full(buf)
    if g.pixels is not None:
        return g.pixels
    return g.palette[g.index]


def encode(arr: np.ndarray, palette: np.ndarray | None = None) -> bytes:
    """(h, w) indices + palette → 8-bit BMP; (h, w, 3) → 24-bit BMP.
    The CreateCopy surface of the reference driver (uncompressed,
    bottom-up)."""
    arr = np.asarray(arr, dtype=np.uint8)
    if arr.ndim == 2:
        h, w = arr.shape
        pal = (
            np.repeat(np.arange(256, dtype=np.uint8)[:, None], 3, axis=1)
            if palette is None else
            np.asarray(palette, dtype=np.uint8).reshape(-1, 3)
        )
        n_pal = 256
        quads = np.zeros((n_pal, 4), dtype=np.uint8)
        quads[: len(pal), [2, 1, 0]] = pal
        stride = ((w + 3) // 4) * 4
        rows = np.zeros((h, stride), dtype=np.uint8)
        rows[:, :w] = arr[::-1]
        data_off = 14 + 40 + 4 * n_pal
        body = quads.tobytes() + rows.tobytes()
        bits = 8
    elif arr.ndim == 3 and arr.shape[2] == 3:
        h, w = arr.shape[:2]
        stride = ((w * 3 + 3) // 4) * 4
        rows = np.zeros((h, stride), dtype=np.uint8)
        rows[:, : w * 3] = arr[::-1, :, ::-1].reshape(h, w * 3)
        data_off = 14 + 40
        body = rows.tobytes()
        bits = 24
    else:
        raise ValueError("bmp encode expects (h,w) indices or (h,w,3) RGB")
    info = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, bits, 0, len(rows.tobytes()),
        2835, 2835, 0 if bits == 24 else 256, 0,
    )
    header = b"BM" + struct.pack(
        "<IHHI", data_off + len(rows.tobytes()) if bits == 24
        else 14 + 40 + 1024 + len(rows.tobytes()), 0, 0, data_off
    )
    return header + info + body
