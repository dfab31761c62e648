"""Classic raster interchange formats: AAIGrid, XYZ, PNM, ENVI raw.

Reference drivers reimplemented from their PUBLIC format definitions:

- **AAIGrid** (Arc/Info ASCII Grid, ``frmts/aaigrid/aaigriddataset.cpp``):
  the DEM interchange text format — 6-line header
  (ncols/nrows/xllcorner|xllcenter/yllcorner/cellsize/NODATA_value) +
  whitespace-separated rows, top row first.
- **XYZ** (``frmts/xyz/xyzdataset.cpp``): one ``x y z`` triple per
  line over a regular grid, columns fastest (the reference requires
  constant spacing and infers the grid the same way).
- **PNM** (``frmts/pnm/pnmdataset.cpp``): P5 (gray) / P6 (RGB) binary,
  maxval ≤ 255 — wired into the repo codec dispatch.
- **ENVI raw binary** (``frmts/raw/envidataset.cpp``): flat
  uncompressed samples × lines × bands with a text ``.hdr`` sidecar
  (interleave bsq/bil/bip, data type codes, byte order).  The raw
  layout is the 100 TB-friendly one: any pixel's byte offset is
  closed-form, so :func:`read_envi_window` plans per-task byte ranges
  (one row-block per task) and never reads outside the window — the
  same slab-parallel access pattern as the netCDF and shapefile
  sources.

Pixel work is NumPy-vectorized (text parse via ``np.frombuffer``/
``fromstring`` equivalents, no Python-per-pixel loops).
"""

from __future__ import annotations

import io
import os
from typing import TYPE_CHECKING

import numpy as np

if TYPE_CHECKING:
    from pyspark.sql import DataFrame, SparkSession

# ---------------------------------------------------------------------------
# AAIGrid
# ---------------------------------------------------------------------------


def aaigrid_encode(arr: np.ndarray, xll: float = 0.0, yll: float = 0.0,
                   cellsize: float = 1.0, nodata: float | None = None,
                   corner: bool = True) -> bytes:
    """2-D array → AAIGrid text (top row first, like the on-disk form)."""
    if arr.ndim != 2:
        raise ValueError("AAIGrid stores a single band")
    h, w = arr.shape
    key = "corner" if corner else "center"
    head = (f"ncols        {w}\nnrows        {h}\n"
            f"xll{key}    {xll!r}\nyll{key}    {yll!r}\n"
            f"cellsize     {cellsize!r}\n")
    if nodata is not None:
        head += f"NODATA_value  {nodata!r}\n"
    buf = io.BytesIO()
    if np.issubdtype(arr.dtype, np.integer):
        np.savetxt(buf, arr, fmt="%d")
    else:
        np.savetxt(buf, arr, fmt="%.8g")
    return head.encode("ascii") + buf.getvalue()


def aaigrid_decode(buf: bytes) -> tuple[np.ndarray, dict]:
    """AAIGrid text → (array, header dict).  Accepts xllcorner or
    xllcenter (center converts to corner, aaigriddataset.cpp:~427)."""
    text = bytes(buf).decode("ascii")
    lines = text.splitlines()
    hdr: dict = {}
    i = 0
    while i < len(lines):
        parts = lines[i].split()
        if len(parts) == 2 and parts[0].lower() in (
                "ncols", "nrows", "xllcorner", "yllcorner", "xllcenter",
                "yllcenter", "cellsize", "nodata_value"):
            k = parts[0].lower()
            hdr[k] = int(parts[1]) if k in ("ncols", "nrows") else float(parts[1])
            i += 1
        else:
            break
    w, h = int(hdr["ncols"]), int(hdr["nrows"])
    vals = np.array(" ".join(lines[i:]).split(), dtype=np.float64)
    if vals.size != w * h:
        raise ValueError(f"AAIGrid body has {vals.size} values, want {w * h}")
    cs = float(hdr.get("cellsize", 1.0))
    if "xllcenter" in hdr:
        hdr["xllcorner"] = hdr.pop("xllcenter") - cs / 2.0
    if "yllcenter" in hdr:
        hdr["yllcorner"] = hdr.pop("yllcenter") - cs / 2.0
    return vals.reshape(h, w), hdr


# ---------------------------------------------------------------------------
# XYZ
# ---------------------------------------------------------------------------


def xyz_encode(arr: np.ndarray, x0: float = 0.0, y0: float = 0.0,
               dx: float = 1.0, dy: float = 1.0) -> bytes:
    """2-D array → ``x y z`` lines, row-major with columns fastest
    (top row first; y decreasing like a north-up raster)."""
    h, w = arr.shape
    xs = x0 + dx * np.arange(w)
    ys = y0 - dy * np.arange(h)
    gx = np.broadcast_to(xs, (h, w)).ravel()
    gy = np.repeat(ys, w)
    out = np.column_stack([gx, gy, arr.ravel().astype(np.float64)])
    buf = io.BytesIO()
    np.savetxt(buf, out, fmt="%.10g")
    return buf.getvalue()


def xyz_decode(buf: bytes) -> tuple[np.ndarray, dict]:
    """``x y z`` lines → (array, geo dict).  Grid inferred from the
    distinct sorted coordinates (constant spacing enforced, the
    reference errors out the same way)."""
    raw = np.array(bytes(buf).split(), dtype=np.float64).reshape(-1, 3)
    xs = np.unique(raw[:, 0])
    ys = np.unique(raw[:, 1])
    w, h = len(xs), len(ys)
    if w * h != len(raw):
        raise ValueError("XYZ points do not form a complete grid")
    for axis in (xs, ys):
        if len(axis) > 2:
            steps = np.diff(axis)
            if not np.allclose(steps, steps[0], rtol=1e-9):
                raise ValueError("XYZ grid spacing is not constant")
    ix = np.searchsorted(xs, raw[:, 0])
    iy = np.searchsorted(ys, raw[:, 1])
    arr = np.empty((h, w), dtype=np.float64)
    arr[h - 1 - iy, ix] = raw[:, 2]  # ys ascending → row 0 = max y
    geo = {"x0": float(xs[0]), "y0": float(ys[-1]),
           "dx": float(xs[1] - xs[0]) if w > 1 else 1.0,
           "dy": float(ys[1] - ys[0]) if h > 1 else 1.0}
    return arr, geo


# ---------------------------------------------------------------------------
# PNM (P5/P6 binary)
# ---------------------------------------------------------------------------


def pnm_encode(arr: np.ndarray) -> bytes:
    a = np.asarray(arr)
    if a.dtype == np.uint16:
        maxval, body = 65535, a.astype(">u2").tobytes()  # big-endian per spec
    else:
        a = a.astype(np.uint8)
        maxval, body = 255, a.tobytes()
    if a.ndim == 2:
        head = f"P5\n{a.shape[1]} {a.shape[0]}\n{maxval}\n"
    elif a.ndim == 3 and a.shape[2] == 3:
        head = f"P6\n{a.shape[1]} {a.shape[0]}\n{maxval}\n"
    else:
        raise ValueError("PNM stores gray (h,w) or RGB (h,w,3), uint8 or uint16")
    return head.encode("ascii") + body


def _pnm_header(b: bytes) -> tuple[int, int, int, int]:
    """(w, h, maxval, offset of the first sample): the tokens after
    the magic, ``#`` comments allowed, then one whitespace byte."""
    tokens, pos = [], 2
    while len(tokens) < 3:
        while pos < len(b) and b[pos:pos + 1].isspace():
            pos += 1
        if b[pos:pos + 1] == b"#":
            pos = b.index(b"\n", pos) + 1
            continue
        start = pos
        while pos < len(b) and not b[pos:pos + 1].isspace():
            pos += 1
        tokens.append(int(b[start:pos]))
    return tokens[0], tokens[1], tokens[2], pos + 1


def pnm_info(buf: bytes) -> tuple[int, int, int]:
    """(w, h, bands) from the header alone."""
    w, h, _, _ = _pnm_header(buf)
    return w, h, 3 if buf[:2] == b"P6" else 1


def pnm_decode(buf: bytes) -> np.ndarray:
    b = bytes(buf)
    if b[:2] not in (b"P5", b"P6"):
        raise ValueError("not a binary PNM payload")
    w, h, maxval, pos = _pnm_header(b)
    # 2-byte samples are big-endian per the Netpbm spec (pnm(5))
    dt = np.dtype(">u2") if maxval > 255 else np.dtype("u1")
    n = w * h * (3 if b[:2] == b"P6" else 1)
    a = np.frombuffer(b, dtype=dt, count=n, offset=pos)
    if dt.itemsize == 2:
        a = a.astype(np.uint16)
    return a.reshape((h, w, 3) if b[:2] == b"P6" else (h, w))


# ---------------------------------------------------------------------------
# ENVI raw binary (+ .hdr sidecar)
# ---------------------------------------------------------------------------

_ENVI_DTYPES = {1: "u1", 2: "i2", 3: "i4", 4: "f4", 5: "f8",
                12: "u2", 13: "u4", 14: "i8", 15: "u8"}
_NP_TO_ENVI = {np.dtype(v).str[1:]: k for k, v in _ENVI_DTYPES.items()}


def write_envi(base: str, cube: np.ndarray, interleave: str = "bsq") -> None:
    """(bands, lines, samples) cube → ``base`` raw file + ``base.hdr``."""
    if cube.ndim == 2:
        cube = cube[None]
    bands, lines, samples = cube.shape
    order = {"bsq": (0, 1, 2), "bil": (1, 0, 2), "bip": (1, 2, 0)}[interleave]
    data = np.ascontiguousarray(np.transpose(cube, order))
    dt = np.dtype(cube.dtype).newbyteorder("<")
    code = _NP_TO_ENVI[np.dtype(cube.dtype).str[1:]]
    with open(base, "wb") as f:
        f.write(data.astype(dt, copy=False).tobytes())
    with open(base + ".hdr", "w") as f:
        f.write("ENVI\n")
        f.write(f"samples = {samples}\nlines = {lines}\nbands = {bands}\n")
        f.write("header offset = 0\nfile type = ENVI Standard\n")
        f.write(f"data type = {code}\ninterleave = {interleave}\n")
        f.write("byte order = 0\n")


def read_envi_header(base: str) -> dict:
    hdr = {}
    for line in open(base + ".hdr"):
        if "=" in line:
            k, v = line.split("=", 1)
            hdr[k.strip().lower()] = v.strip()
    return {
        "samples": int(hdr["samples"]), "lines": int(hdr["lines"]),
        "bands": int(hdr.get("bands", 1)),
        "offset": int(hdr.get("header offset", 0)),
        "dtype": _ENVI_DTYPES[int(hdr["data type"])],
        "interleave": hdr.get("interleave", "bsq").lower(),
        "byte_order": int(hdr.get("byte order", 0)),
    }


def read_envi_window(spark: SparkSession, base: str, band: int,
                     row0: int, row1: int, col0: int, col1: int,
                     rows_per_task: int = 64) -> DataFrame:
    """Distributed window read → long-form (row, col, value).

    All three ENVI interleaves (``frmts/raw/envidataset.cpp``): byte
    offset of a line block is closed-form for each, so the planner
    emits one manifest row per line-block and each task seek+reads
    ONLY its block's byte range within the window's line span — a 1 TB
    cube window-reads like the netCDF slab scan. BSQ reads exactly the
    requested band's bytes; BIL/BIP necessarily read their block's
    interleaved band data (inherent to the layout — same bytes GDAL's
    RawRasterBand touches) and slice the band out in NumPy."""
    import pandas as pd

    from gdal_spark.sources.scan import scan_manifest

    h = read_envi_header(base)
    if not (0 <= row0 < row1 <= h["lines"] and 0 <= col0 < col1 <= h["samples"]):
        raise ValueError("window out of bounds")
    dt = np.dtype(("<" if h["byte_order"] == 0 else ">") + h["dtype"])
    line_bytes = h["samples"] * dt.itemsize
    interleave, bands, off0 = h["interleave"], h["bands"], h["offset"]
    if interleave == "bsq":
        stride = line_bytes  # bytes per line within one band plane
        base_off = off0 + band * h["lines"] * line_bytes
    elif interleave == "bil":
        stride = bands * line_bytes
        base_off = off0
    elif interleave == "bip":
        stride = h["samples"] * bands * dt.itemsize
        base_off = off0
    else:
        raise NotImplementedError(f"unknown interleave {interleave!r}")
    blocks = [
        {"r0": int(r), "r1": int(min(r + rows_per_task, row1))}
        for r in range(row0, row1, rows_per_task)
    ]
    samples, c0, c1 = h["samples"], col0, col1

    def decode(blk, f):
        n = blk.r1 - blk.r0
        f.seek(base_off + blk.r0 * stride)
        raw = np.frombuffer(f.read(n * stride), dtype=dt)
        if interleave == "bsq":
            data = raw.reshape(n, samples)
        elif interleave == "bil":
            data = raw.reshape(n, bands, samples)[:, band, :]
        else:  # bip
            data = raw.reshape(n, samples, bands)[:, :, band]
        win = data[:, c0:c1]
        rr, cc = np.meshgrid(
            np.arange(blk.r0, blk.r1), np.arange(c0, c1), indexing="ij")
        yield pd.DataFrame({
            "row": rr.ravel().astype(np.int32),
            "col": cc.ravel().astype(np.int32),
            "value": win.ravel().astype(np.float64)})

    return scan_manifest(spark, blocks, "row int, col int, value double",
                         decode, base)
