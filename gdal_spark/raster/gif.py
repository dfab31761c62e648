"""GIF 87a/89a codec — the fourth wild-web raster format.

Reference surface: the GIF driver (``frmts/gif/gifdataset.cpp`` via
giflib; ``frmts/gif/gifabstractdataset.cpp:58`` GIFCollectXMPMetadata)
— GDAL exposes the first image as ONE palette-indexed band with a
color table, ``GIF_BACKGROUND`` band metadata, and a nodata value on
the transparent index.  Decode pinned on the autotest's bug407.gif
(band checksum 57921, 16-entry colormap, background 0) in
``tests/test_gif.py``.

Original implementation from the published GIF89a specification
(variable-width LSB-first LZW, interlace passes, graphic-control and
application extension blocks).  Per-image pure-Python/NumPy kernel —
map-only column transform at corpus scale, like the other codecs.
"""

from __future__ import annotations

import struct

import numpy as np


class GifInfo(dict):
    __getattr__ = dict.__getitem__


def _read_palette(buf: bytes, off: int, n: int):
    pal = np.frombuffer(buf, dtype=np.uint8, count=3 * n, offset=off)
    return pal.reshape(n, 3).copy(), off + 3 * n


def _sub_blocks(buf: bytes, off: int) -> tuple[bytes, int]:
    """Concatenate data sub-blocks, return (data, offset past block
    terminator)."""
    parts = []
    while True:
        n = buf[off]
        off += 1
        if n == 0:
            break
        parts.append(buf[off:off + n])
        off += n
    return b"".join(parts), off


def _lzw_decode(data: bytes, min_code: int, npix: int) -> np.ndarray:
    """GIF-LZW (variable width, LSB-first, clear/EOI codes)."""
    clear = 1 << min_code
    eoi = clear + 1
    width = min_code + 1
    # dictionary of output strings; roots are single indices
    dic: list[bytes] = [bytes([i]) for i in range(clear)] + [b"", b""]
    out = bytearray()
    acc = 0
    nbits = 0
    prev: bytes | None = None
    pos = 0
    data_len = len(data)
    while len(out) < npix:
        while nbits < width:
            if pos >= data_len:
                # truncated stream: pad with background-ish zeros the
                # way giflib surfaces partial images
                out.extend(b"\x00" * (npix - len(out)))
                return np.frombuffer(bytes(out), dtype=np.uint8, count=npix)
            acc |= data[pos] << nbits
            pos += 1
            nbits += 8
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        if code == clear:
            dic = dic[: clear + 2]
            width = min_code + 1
            prev = None
            continue
        if code == eoi:
            break
        if prev is None:
            entry = dic[code]
        elif code < len(dic):
            entry = dic[code]
            dic.append(prev + entry[:1])
        elif code == len(dic):
            entry = prev + prev[:1]
            dic.append(entry)
        else:
            raise ValueError("corrupt GIF LZW stream")
        out.extend(entry)
        prev = entry
        if len(dic) == (1 << width) and width < 12:
            width += 1
    if len(out) < npix:
        out.extend(b"\x00" * (npix - len(out)))
    return np.frombuffer(bytes(out[:npix]), dtype=np.uint8, count=npix)


def _deinterlace(idx: np.ndarray) -> np.ndarray:
    h = idx.shape[0]
    order = (
        list(range(0, h, 8)) + list(range(4, h, 8))
        + list(range(2, h, 4)) + list(range(1, h, 2))
    )
    out = np.empty_like(idx)
    out[order] = idx
    return out


def decode_indices(buf: bytes) -> GifInfo:
    """First image → palette indices + color table (the band GDAL
    exposes): keys ``index (h, w) uint8``, ``palette (n, 3) uint8``,
    ``transparent`` (index or None), ``background`` (index),
    ``w``/``h`` (logical screen)."""
    buf = bytes(buf)
    if buf[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF (87a/89a)")
    sw, sh, flags, background, _ = struct.unpack_from("<HHBBB", buf, 6)
    off = 13
    palette = None
    if flags & 0x80:
        palette, off = _read_palette(buf, off, 2 << (flags & 7))
    transparent = None
    while off < len(buf):
        b0 = buf[off]
        if b0 == 0x3B:  # trailer
            break
        if b0 == 0x21:  # extension
            label = buf[off + 1]
            if label == 0xF9:  # graphic control
                gflags = buf[off + 3]
                if gflags & 1:
                    transparent = buf[off + 6]
            _, off = _sub_blocks(buf, off + 2)
            continue
        if b0 == 0x2C:  # image descriptor
            ix, iy, iw, ih, iflags = struct.unpack_from("<HHHHB", buf, off + 1)
            off += 10
            pal = palette
            if iflags & 0x80:
                pal, off = _read_palette(buf, off, 2 << (iflags & 7))
            if pal is None:
                raise ValueError("GIF image without a color table")
            min_code = buf[off]
            data, off = _sub_blocks(buf, off + 1)
            idx = _lzw_decode(data, min_code, iw * ih).reshape(ih, iw)
            if iflags & 0x40:
                idx = _deinterlace(idx)
            # compose onto the logical screen (first frame only, like
            # the reference's single-band GIF dataset)
            if (ix, iy, iw, ih) != (0, 0, sw, sh):
                full = np.full((sh, sw), background, dtype=np.uint8)
                full[iy:iy + ih, ix:ix + iw] = idx
                idx = full
            return GifInfo(
                index=idx, palette=pal, transparent=transparent,
                background=background, w=sw, h=sh,
            )
        raise ValueError(f"unknown GIF block 0x{b0:02x}")
    raise ValueError("GIF without an image block")


def decode(buf: bytes) -> np.ndarray:
    """Palette-expanded pixels: (h, w, 3) uint8, or (h, w, 4) when a
    transparent index is declared (alpha 0 there, 255 elsewhere)."""
    g = decode_indices(buf)
    rgb = g.palette[g.index]
    if g.transparent is None:
        return rgb
    alpha = np.where(g.index == g.transparent, 0, 255).astype(np.uint8)
    return np.dstack([rgb, alpha])


def gif_xmp(buf: bytes) -> str | None:
    """XMP from the ``XMP DataXMP`` application extension
    (gifabstractdataset.cpp:58): text runs to the first NUL; the
    258-byte "magic trailer" (0x01 0xFF 0xFE … 0x01 0x02 0x01) is
    stripped when present, exactly like the reference."""
    buf = bytes(buf)
    i = buf.find(b"\x21\xff\x0bXMP DataXMP")
    if i < 0:
        return None
    start = i + 14
    end = buf.find(b"\x00", start)
    if end < 0:
        end = len(buf)
    text = buf[start:end]
    n = len(text)
    if (
        n > 256 and text[n - 1] == 0x01 and text[n - 2] == 0x02
        and text[n - 255] == 0xFF and text[n - 256] == 0x01
    ):
        text = text[: n - 256]
    return text.decode("utf-8", "replace")


# ---------------------------------------------------------------------------
# encode (CreateCopy parity: palette-indexed input, optional interlace)


def _lzw_encode(idx: bytes, min_code: int) -> bytes:
    clear = 1 << min_code
    eoi = clear + 1
    width = min_code + 1
    dic: dict[bytes, int] = {bytes([i]): i for i in range(clear)}
    next_code = clear + 2
    out = bytearray()
    acc = 0
    nbits = 0

    def emit(code: int):
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    emit(clear)
    w = b""
    for ch in idx:
        wc = w + bytes([ch])
        if wc in dic:
            w = wc
            continue
        emit(dic[w])
        dic[wc] = next_code
        next_code += 1
        if next_code - 1 == (1 << width) and width < 12:
            width += 1
        if next_code >= 4096:
            emit(clear)
            dic = {bytes([i]): i for i in range(clear)}
            next_code = clear + 2
            width = min_code + 1
        w = bytes([ch])
    if w:
        emit(dic[w])
    emit(eoi)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def encode(
    index: np.ndarray, palette: np.ndarray | None = None,
    transparent: int | None = None, interlace: bool = False,
    background: int = 0,
) -> bytes:
    """Indices + palette → GIF89a bytes (first-frame writer, the
    CreateCopy surface of the reference driver: a single gray/palette
    band). Without ``palette``, gray bytes become indices into an
    identity gray ramp."""
    index = np.asarray(index, dtype=np.uint8)
    if index.ndim != 2:
        raise ValueError("gif encode expects a single (palette/gray) band")
    if palette is None:
        palette = np.repeat(np.arange(256, dtype=np.uint8)[:, None], 3, axis=1)
    h, w = index.shape
    palette = np.asarray(palette, dtype=np.uint8).reshape(-1, 3)
    bits = max(1, int(np.ceil(np.log2(max(len(palette), 2)))))
    n_pal = 1 << bits
    pal = np.zeros((n_pal, 3), dtype=np.uint8)
    pal[: len(palette)] = palette
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0x80 | ((bits - 1) & 7), background, 0)
    out += pal.tobytes()
    if transparent is not None:
        out += b"\x21\xf9\x04\x01\x00\x00" + bytes([transparent]) + b"\x00"
    iflags = 0x40 if interlace else 0
    out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, iflags)
    rows = index
    if interlace:
        hh = h
        order = (
            list(range(0, hh, 8)) + list(range(4, hh, 8))
            + list(range(2, hh, 4)) + list(range(1, hh, 2))
        )
        rows = index[order]
    min_code = max(2, bits)
    out.append(min_code)
    data = _lzw_encode(rows.tobytes(), min_code)
    for i in range(0, len(data), 255):
        chunk = data[i:i + 255]
        out.append(len(chunk))
        out += chunk
    out += b"\x00\x3b"
    return bytes(out)
