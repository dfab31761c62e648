"""NITF reader vs the reference's published oracle values
(``autotest/gdrivers/nitf.py`` over the shipped fixtures)."""

from __future__ import annotations

import os

import numpy as np
import pytest

from gdal_spark.raster import nitf
from gdal_spark.raster.checksum import checksum_band

D = "/root/reference/autotest/gdrivers/data/nitf"
needs_ref = pytest.mark.skipif(
    not os.path.isdir(D), reason="reference autotest data absent")


def _load(name):
    return open(os.path.join(D, name), "rb").read()


@needs_ref
def test_rgb_checksum_and_adjusted_igeolo_gt():
    """test_nitf_6: band 3 checksum 21349, WGS84, and the published
    'adjusted IGEOLO interp' geotransform (half-pixel corner GCPs
    through the least-squares affine)."""
    arr, info = nitf.read_nitf(_load("rgb.ntf"))
    assert info["bands"] == 3
    assert checksum_band(arr[:, :, 2]) == 21349
    assert info["srs"] == "WGS84"
    gt = info["geotransform"]
    assert gt[0] == pytest.approx(-44.842029478458, abs=1e-10)
    assert gt[1] == pytest.approx(0.003503401360, abs=1e-10)
    assert gt[3] == pytest.approx(-22.930748299319, abs=1e-9)


@needs_ref
@pytest.mark.parametrize("name", ["i_3034c.ntf", "i_3034f.ntf",
                                  "ns3034d.nsf"])
def test_1bit_images_170(name):
    """test_nitf_11/38/61-ish: 1-bit NITF 2.1 + NSIF variants (plain
    and masked NM) all checksum 170."""
    arr, info = nitf.read_nitf(_load(name))
    assert checksum_band(arr) == 170
    assert info["nbpp"] == 1
    assert (info["w"], info["h"]) == (35, 18)


@needs_ref
def test_c1_bilevel_65024():
    """test_nitf_19: BILEVEL (C1) decompression of U_1050A.NTF —
    decoded exactly as the reference does, by wrapping the stream in
    a CCITT G3 TIFF for the real libtiff."""
    arr, info = nitf.read_nitf(_load("U_1050A.NTF"))
    assert info["ic"] == "C1"
    assert checksum_band(arr) == 65024
    assert (info["w"], info["h"]) == (1024, 1024)


@needs_ref
def test_nitf20_header_only():
    """U_1050A (NITF 2.0): the 2.0 header path parses header-only."""
    _, info = nitf.read_nitf(_load("U_1050A.NTF"), header_only=True)
    assert info["version"].startswith("NITF02.0")
    assert (info["w"], info["h"]) == (1024, 1024)
    assert info["ic"] == "C1"


def test_nitf1x_rejected():
    """NITF 1.x stays an explicit raise (the reference handles it via
    a separate legacy path we do not claim)."""
    buf = b"NITF01.10" + b" " * 400
    with pytest.raises(ValueError):
        nitf.read_nitf(buf)


def _cell(img, ic=b"NC", comrat=b""):
    """The closed-form NITF 2.1 cell of the ``nitf_read`` gate query:
    file header, one 8-bit MONO image subheader (IMODE B, one block)
    and ``img`` as the image data. A compressed ``ic`` carries its
    4-byte COMRAT after the IC field."""
    h, w = img.shape
    sub = bytearray(b" " * 333)
    sub[0:2] = b"IM"
    sub += b"%08d%08d" % (h, w)            # NROWS, NCOLS
    sub += b"INT" + b"MONO    " + b"VIS     "  # PVTYPE, IREP, ICAT
    sub += b"08" + b"R" + b" " + b"0"      # ABPP, PJUST, ICORDS, NICOM
    sub += ic + comrat + b"1"              # IC [COMRAT], NBANDS
    sub += b"M " + b" " * 6 + b"    " + b"0"  # band info
    sub += b"0" + b"B" + b"0001" * 2       # ISYNC, IMODE, NBPR, NBPC
    sub += b"%04d%04d" % (w, h) + b"08"    # NPPBH, NPPBV, NBPP
    sub += b"001" + b"000" + b"0000000000" + b"1.0 "
    sub += b"00000" + b"00000"             # UDIDL, IXSHDL
    data = img.tobytes()
    hl = 360 + 3 + 16
    fh = bytearray(b" " * hl)
    fh[0:9] = b"NITF02.10"
    fh[354:360] = b"%06d" % hl
    fh[360:363] = b"001"
    fh[363:369] = b"%06d" % len(sub)
    fh[369:379] = b"%010d" % len(data)
    return bytes(fh) + bytes(sub) + data


def _ramp():
    r, c = np.meshgrid(np.arange(30), np.arange(40), indexing="ij")
    return ((3 * r + 8 * c + 7) % 256).astype(np.uint8)


def test_uncompressed_cell_decodes():
    arr, info = nitf.read_nitf(_cell(_ramp()))
    assert info["ic"] == "NC"
    np.testing.assert_array_equal(arr, _ramp())


@pytest.mark.parametrize("ic", [b"C3", b"C8", b"I1", b"M3"])
def test_compressed_ic_raises(ic):
    """A compression the reader does not decode must raise, naming
    the code, instead of returning the compressed bytes as pixels;
    the header still parses."""
    buf = _cell(_ramp(), ic=ic, comrat=b"00.0")
    _, info = nitf.read_nitf(buf, header_only=True)
    assert (info["ic"], info["w"], info["h"]) == (ic.decode(), 40, 30)
    with pytest.raises(ValueError, match=ic.decode()):
        nitf.read_nitf(buf)
