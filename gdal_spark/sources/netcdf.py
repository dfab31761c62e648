"""netCDF classic (CDF-1/CDF-2) multidim source — `frmts/netcdf/`.

Reference surface: GDAL's netCDF driver (``frmts/netcdf/netcdfdataset.cpp``)
reading through libnetcdf, and the multidim model it feeds
(``gcore/multidim/gdal_multidim.h`` GDALGroup/GDALMDArray). This module
reimplements the *classic* on-disk format (the public netCDF-3 spec,
"The NetCDF Classic Format Specification") directly in NumPy — no
libnetcdf in this container — covering CDF-1 (32-bit offsets) and
CDF-2 (64-bit offsets), fixed and record (unlimited-dimension)
variables, numeric types, and global/variable attributes. netCDF-4
files are HDF5 containers and raise loudly naming the cluster library
to swap in (h5py / netCDF4-python).

Scale design — the single-file analogue of Zarr's chunk pruning:
classic netCDF is ONE file, so parallelism comes from **byte-range
slab planning**. The header (a few KB) is read once driver-side; from
it every outer-dimension slab of a variable maps to an exact
``(offset, nbytes)`` range — record variables stride by ``recsize``,
fixed variables by the contiguous inner-block size. The slab manifest
(a tiny metadata DataFrame, one row per outer index) is what Spark
parallelizes; each task seeks+reads only its range. A window read
prunes the manifest BEFORE any data I/O (the partition-pruning
analogue), and inner-dimension slicing trims each slab in NumPy before
the long-form explode. On an object store the same plan becomes ranged
GETs; a 100 TB hypercube is just more slab rows, and an oversized
inner block can be sub-split into row-group ranges the same way
(offsets stay closed-form because the layout has no compression).

Format notes (public spec):
- big-endian throughout; names/values padded to 4-byte boundaries
- magic ``CDF\\x01`` / ``CDF\\x02``; ``numrecs`` may be -1 (STREAMING)
- dim/gatt/var lists each tagged (0x0A/0x0C/0x0B) or ABSENT (0, 0)
- fixed variables: contiguous row-major block at ``begin``
- record variables: per-record slabs interleaved; each slab padded to
  4 bytes UNLESS there is exactly one record variable (spec's packing
  special case)
"""

from __future__ import annotations

import os
import struct

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gdal_spark.sources.scan import scan_manifest

NC_DIMENSION = 0x0A
NC_VARIABLE = 0x0B
NC_ATTRIBUTE = 0x0C

# nc_type -> (numpy dtype str, size)
NC_TYPES = {
    1: ">i1",  # NC_BYTE
    2: "S1",  # NC_CHAR
    3: ">i2",  # NC_SHORT
    4: ">i4",  # NC_INT
    5: ">f4",  # NC_FLOAT
    6: ">f8",  # NC_DOUBLE
}
NC_TYPE_OF = {np.dtype(v): k for k, v in NC_TYPES.items()}


def _pad4(n: int) -> int:
    return (n + 3) & ~3


# ---------------------------------------------------------------------------
# header parsing


class _Cursor:
    """Incremental big-endian reader over the header bytes."""

    def __init__(self, fh):
        self.fh = fh
        self.buf = b""
        self.pos = 0

    def take(self, n: int) -> bytes:
        while len(self.buf) - self.pos < n:
            chunk = self.fh.read(max(4096, n))
            if not chunk:
                raise ValueError("truncated netCDF header")
            self.buf += chunk
        out = self.buf[self.pos : self.pos + n]
        self.pos += n
        return out

    def u32(self) -> int:
        return struct.unpack(">I", self.take(4))[0]

    def i32(self) -> int:
        return struct.unpack(">i", self.take(4))[0]

    def u64(self) -> int:
        return struct.unpack(">Q", self.take(8))[0]

    def name(self) -> str:
        n = self.u32()
        raw = self.take(_pad4(n))
        return raw[:n].decode("utf-8")


def _parse_attrs(c: _Cursor) -> dict:
    tag = c.u32()
    count = c.u32()
    if tag == 0 and count == 0:
        return {}
    if tag != NC_ATTRIBUTE:
        raise ValueError(f"bad attribute-list tag 0x{tag:x}")
    attrs = {}
    for _ in range(count):
        nm = c.name()
        nc_type = c.u32()
        nelems = c.u32()
        dt = np.dtype(NC_TYPES[nc_type])
        nbytes = nelems * dt.itemsize
        raw = c.take(_pad4(nbytes))[:nbytes]
        if nc_type == 2:  # char -> str
            attrs[nm] = raw.decode("utf-8")
        else:
            vals = np.frombuffer(raw, dtype=dt)
            attrs[nm] = vals[0].item() if nelems == 1 else vals.tolist()
    return attrs


def read_netcdf_header(path: str) -> dict:
    """Parse the classic header → dims, numrecs, global attrs, and per
    variable: dim names, shape (record dim reported at its current
    record count), dtype, attrs, ``begin`` offset, record flag, and
    the computed ``recsize`` stride shared by all record variables."""
    with open(path, "rb") as fh:
        magic = fh.read(4)
        if magic[:4] == b"\x89HDF":
            raise NotImplementedError(
                "netCDF-4 files are HDF5 containers — read them with "
                "h5py / netCDF4-python on the cluster; this reader "
                "covers the classic CDF-1/CDF-2 format"
            )
        if magic[:3] != b"CDF" or magic[3] not in (1, 2):
            raise ValueError(
                f"not a classic netCDF file (magic {magic!r}); CDF-5 "
                "and other variants need libnetcdf"
            )
        offsize = 4 if magic[3] == 1 else 8
        c = _Cursor(fh)
        numrecs = c.i32()  # -1 = STREAMING (records counted from size)

        tag = c.u32()
        count = c.u32()
        dims: list[tuple[str, int]] = []
        if tag == NC_DIMENSION:
            for _ in range(count):
                dims.append((c.name(), c.u32()))
        elif not (tag == 0 and count == 0):
            raise ValueError(f"bad dimension-list tag 0x{tag:x}")

        gatts = _parse_attrs(c)

        tag = c.u32()
        count = c.u32()
        variables: dict[str, dict] = {}
        if tag == NC_VARIABLE:
            for _ in range(count):
                nm = c.name()
                ndims = c.u32()
                dimids = [c.u32() for _ in range(ndims)]
                vatts = _parse_attrs(c)
                nc_type = c.u32()
                vsize = c.u32()
                begin = c.u32() if offsize == 4 else c.u64()
                dnames = [dims[i][0] for i in dimids]
                record = bool(dimids) and dims[dimids[0]][1] == 0
                shape = [dims[i][1] for i in dimids]
                variables[nm] = {
                    "dims": dnames,
                    "shape": shape,  # record dim slot holds 0 here
                    "dtype": NC_TYPES[nc_type],
                    "atts": vatts,
                    "vsize": vsize,
                    "begin": begin,
                    "record": record,
                }
        elif not (tag == 0 and count == 0):
            raise ValueError(f"bad variable-list tag 0x{tag:x}")

    # record stride: sum of padded per-record slabs, except the
    # single-record-variable packing special case
    rec_vars = [v for v in variables.values() if v["record"]]
    recsize = 0
    for v in rec_vars:
        dt = np.dtype(v["dtype"])
        slab = int(np.prod(v["shape"][1:], dtype=np.int64)) * dt.itemsize
        v["rec_slab"] = slab
        recsize += slab if len(rec_vars) == 1 else _pad4(slab)
    if numrecs < 0 and rec_vars:  # STREAMING: infer from file size
        first = min(v["begin"] for v in rec_vars)
        numrecs = (os.path.getsize(path) - first) // recsize
    for v in variables.values():
        if v["record"]:
            v["shape"] = [int(numrecs)] + v["shape"][1:]
    return {
        "version": magic[3],
        "numrecs": int(numrecs),
        "dims": dims,
        "gatts": gatts,
        "vars": variables,
        "recsize": int(recsize),
    }


# ---------------------------------------------------------------------------
# fixture writer (CDF-1; the engine's sinks stay parquet/Zarr — this
# exists so the reader can be exercised hermetically, like write_zarr)


def _emit_name(nm: str) -> bytes:
    raw = nm.encode("utf-8")
    return struct.pack(">I", len(raw)) + raw + b"\x00" * (_pad4(len(raw)) - len(raw))


def _emit_attrs(attrs: dict) -> bytes:
    if not attrs:
        return struct.pack(">II", 0, 0)
    out = [struct.pack(">II", NC_ATTRIBUTE, len(attrs))]
    for k, v in attrs.items():
        out.append(_emit_name(k))
        if isinstance(v, str):
            raw = v.encode("utf-8")
            out.append(struct.pack(">II", 2, len(raw)))
            out.append(raw + b"\x00" * (_pad4(len(raw)) - len(raw)))
        else:
            arr = np.atleast_1d(np.asarray(v))
            if arr.dtype.kind == "f":
                arr = arr.astype(">f8")
            else:
                arr = arr.astype(">i4")
            out.append(struct.pack(">II", NC_TYPE_OF[arr.dtype], arr.size))
            raw = arr.tobytes()
            out.append(raw + b"\x00" * (_pad4(len(raw)) - len(raw)))
    return b"".join(out)


def write_netcdf(
    path: str,
    dims: dict[str, int | None],
    variables: dict[str, tuple[list[str], np.ndarray]],
    gatts: dict | None = None,
    version: int = 1,
) -> None:
    """Minimal CDF-1/CDF-2 writer: ``dims`` maps name → size (``None``
    = unlimited/record dim, at most one, must be each record
    variable's FIRST dim); ``variables`` maps name → (dim names,
    array). Arrays are stored big-endian row-major per the spec;
    ``version=2`` emits 64-bit ``begin`` offsets."""
    if version not in (1, 2):
        raise ValueError("classic versions are 1 (CDF-1) and 2 (CDF-2)")
    dim_names = list(dims)
    dim_index = {n: i for i, n in enumerate(dim_names)}
    rec_dim = [n for n, s in dims.items() if s is None]
    if len(rec_dim) > 1:
        raise ValueError("at most one unlimited dimension")
    numrecs = 0
    for nm, (dnames, arr) in variables.items():
        if rec_dim and dnames and dnames[0] == rec_dim[0]:
            numrecs = max(numrecs, arr.shape[0])

    # canonical order: fixed variables first, then record variables
    items = sorted(
        variables.items(),
        key=lambda kv: bool(rec_dim and kv[1][0] and kv[1][0][0] == rec_dim[0]),
    )
    metas = []
    for nm, (dnames, arr) in items:
        record = bool(rec_dim and dnames and dnames[0] == rec_dim[0])
        dt = np.dtype(arr.dtype.str.replace("<", ">").replace("=", ">"))
        if dt not in NC_TYPE_OF:
            raise ValueError(f"unsupported dtype {arr.dtype}")
        inner = arr.shape[1:] if record else arr.shape
        slab = int(np.prod(inner, dtype=np.int64)) * dt.itemsize
        # vsize: per-record slab (record vars) / whole block (fixed),
        # padded to 4 per the spec
        vsize = _pad4(slab)
        metas.append(
            {
                "name": nm,
                "dnames": dnames,
                "arr": np.ascontiguousarray(arr).astype(dt),
                "record": record,
                "slab": slab,
                "vsize": vsize,
            }
        )
    n_rec = sum(1 for m in metas if m["record"])

    # header size: assemble with placeholder begins, then patch
    def header(begins: list[int]) -> bytes:
        out = [b"CDF" + bytes([version]), struct.pack(">i", numrecs)]
        if dims:
            out.append(struct.pack(">II", NC_DIMENSION, len(dims)))
            for n in dim_names:
                out.append(_emit_name(n))
                out.append(struct.pack(">I", dims[n] or 0))
        else:
            out.append(struct.pack(">II", 0, 0))
        out.append(_emit_attrs(gatts or {}))
        if metas:
            out.append(struct.pack(">II", NC_VARIABLE, len(metas)))
            for m, b in zip(metas, begins):
                out.append(_emit_name(m["name"]))
                out.append(struct.pack(">I", len(m["dnames"])))
                for dn in m["dnames"]:
                    out.append(struct.pack(">I", dim_index[dn]))
                out.append(_emit_attrs({}))
                out.append(struct.pack(">II", NC_TYPE_OF[m["arr"].dtype], m["vsize"]))
                out.append(struct.pack(">I" if version == 1 else ">Q", b))
        else:
            out.append(struct.pack(">II", 0, 0))
        return b"".join(out)

    hlen = len(header([0] * len(metas)))
    begins = []
    off = hlen
    for m in metas:  # fixed vars: contiguous, padded blocks
        if not m["record"]:
            begins.append(off)
            off += m["vsize"]
    rec_start = off
    for m in metas:  # record vars: slab offsets within each record
        if m["record"]:
            begins.append(off)
            off += m["slab"] if n_rec == 1 else _pad4(m["slab"])
    recsize = off - rec_start

    # re-interleave begins into metas order (fixed first already)
    with open(path, "wb") as fh:
        fh.write(header(begins))
        for m in metas:
            if not m["record"]:
                raw = m["arr"].tobytes()
                fh.write(raw + b"\x00" * (m["vsize"] - len(raw)))
        for r in range(numrecs):
            for m in metas:
                if m["record"]:
                    raw = m["arr"][r].tobytes()
                    pad = (m["slab"] if n_rec == 1 else _pad4(m["slab"])) - len(raw)
                    fh.write(raw + b"\x00" * pad)
        if recsize == 0 and numrecs:
            raise AssertionError("records declared but no record vars")


# ---------------------------------------------------------------------------
# Spark read path


def plan_slabs(
    header: dict, var: str, window: list[tuple[int, int]] | None = None
) -> list[dict]:
    """Driver-side byte-range manifest: one entry per outer-dimension
    index intersecting the window — the pruning step. Pure arithmetic
    over the tiny header; no data I/O."""
    v = header["vars"][var]
    dt = np.dtype(v["dtype"])
    if dt.kind == "S":
        raise NotImplementedError("char variables: read via header attrs")
    shape = [int(s) for s in v["shape"]]
    if not shape:
        return [{"i0": 0, "offset": int(v["begin"]), "nbytes": dt.itemsize}]
    if window is not None and len(window) != len(shape):
        raise ValueError("window rank must match variable rank")
    inner = int(np.prod(shape[1:], dtype=np.int64)) * dt.itemsize
    stride = header["recsize"] if v["record"] else inner
    o0, s0 = (window[0] if window is not None else (0, shape[0]))
    lo, hi = max(0, o0), min(shape[0], o0 + s0)
    return [
        {"i0": i, "offset": int(v["begin"]) + i * stride, "nbytes": inner}
        for i in range(lo, hi)
    ]


def read_netcdf_slabs(
    spark: SparkSession,
    path: str,
    var: str,
    window: list[tuple[int, int]] | None = None,
) -> DataFrame:
    """Slab scan → one row per outer index:
    (origin array<int>, dims array<int>, values array<double>,
    inner-window-trimmed). Each task seeks+reads only its byte range —
    on an object store these become ranged GETs."""
    header = read_netcdf_header(path)
    v = header["vars"][var]
    dtype = v["dtype"]
    shape = [int(s) for s in v["shape"]]
    slabs = plan_slabs(header, var, window)
    schema = "origin array<int>, dims array<int>, values array<double>"
    inner_win = (
        [(max(0, o), min(s, o + z) - max(0, o)) for (o, z), s in zip(window[1:], shape[1:])]
        if window is not None
        else [(0, s) for s in shape[1:]]
    )
    dt = np.dtype(dtype)
    sel = tuple(slice(o, o + z) for o, z in inner_win)

    def decode(r, fh):
        fh.seek(int(r.offset))
        block = np.frombuffer(fh.read(int(r.nbytes)), dtype=dt).reshape(shape[1:])
        part = block[sel]
        yield pd.DataFrame({
            "origin": [[int(r.i0)] + [o for o, _ in inner_win]],
            "dims": [[1] + list(part.shape)],
            "values": [part.astype(np.float64).ravel().tolist()],
        })

    return scan_manifest(spark, slabs, schema, decode, path)


def read_netcdf_strings(spark: SparkSession, path: str, var: str) -> DataFrame:
    """NC_CHAR variables (the classic-format string convention: a
    trailing ``strlen`` dimension of 1-byte chars, e.g. station-name
    tables) → one row per leading index with the fixed-width string,
    trailing NUL/space trimmed (the rendering ``ncdump`` uses). Same
    byte-range slab parallelism as the numeric reader: one task range
    per outer index, nothing outside the variable is read."""
    header = read_netcdf_header(path)
    v = header["vars"][var]
    if np.dtype(v["dtype"]).kind != "S":
        raise ValueError(f"{var!r} is not a char variable")
    shape = [int(s) for s in v["shape"]]
    if not shape:
        raise ValueError("scalar char variable: read via header attrs")
    strlen = shape[-1]
    if len(shape) == 1:
        slabs = [{"i0": 0, "offset": int(v["begin"]), "nbytes": strlen}]
        lead_shape: list[int] = []
    else:
        inner = int(np.prod(shape[1:], dtype=np.int64))
        stride = header["recsize"] if v["record"] else inner
        slabs = [
            {"i0": i, "offset": int(v["begin"]) + i * stride, "nbytes": inner}
            for i in range(shape[0])
        ]
        lead_shape = shape[1:-1]
    rank_gt1 = len(shape) > 1

    def decode(r, fh):
        fh.seek(int(r.offset))
        mat = np.frombuffer(fh.read(int(r.nbytes)), dtype="S1").reshape(-1, strlen)
        rows = []
        for j in range(mat.shape[0]):
            s = b"".join(mat[j]).rstrip(b"\x00 ").decode("ascii", "replace")
            idx = (
                [int(x) for x in np.unravel_index(j, lead_shape)]
                if lead_shape
                else []
            )
            rows.append({"origin": ([int(r.i0)] if rank_gt1 else []) + idx,
                         "value": s})
        yield pd.DataFrame(rows, columns=["origin", "value"])

    return scan_manifest(
        spark, slabs, "origin array<int>, value string", decode, path)


def netcdf_window(
    spark: SparkSession, path: str, var: str, window: list[tuple[int, int]]
) -> DataFrame:
    """N-D window read → long-form rows (d0, d1, ..., value); only the
    window's outer-dim slab ranges are ever read, inner dims are
    NumPy-sliced before the bounded per-slab explode (the same
    long-form contract as ``zarr_hypercube_window``). ``window`` is
    (start, count) per dimension.

    Format-transparent like the reference driver: netCDF-4 (HDF5
    container) files route to the chunk-manifest reader in
    ``sources/hdf5.py`` with the identical output contract."""
    with open(path, "rb") as fh:
        if fh.read(4) == b"\x89HDF":
            from gdal_spark.sources.hdf5 import read_h5_window_distributed

            rank = len(window)
            df = read_h5_window_distributed(
                spark, path, var,
                [(s, s + n) for s, n in window],
                dim_names=[f"d{i}" for i in range(rank)],
            )
            return df.select(
                *[F.col(f"d{i}").cast("int").alias(f"d{i}") for i in range(rank)],
                "value",
            )
    header = read_netcdf_header(path)
    rank = len(header["vars"][var]["shape"])
    slabs = read_netcdf_slabs(spark, path, var, window)
    ex = slabs.select("origin", "dims", F.posexplode("values").alias("pos", "value"))
    cols = []
    for d in range(rank):
        stride = "1"
        for k in range(d + 1, rank):
            stride = f"{stride} * dims[{k}]"
        cols.append(
            F.expr(f"origin[{d}] + (pos DIV ({stride})) % dims[{d}]")
            .cast("int")
            .alias(f"d{d}")
        )
    return ex.select(*cols, "value")


def netcdf_axis_stats(
    spark: SparkSession, path: str, var: str, axis: int = 0
) -> DataFrame:
    """Per-index statistics along one axis (GDALMDArray::GetStatistics
    per slice): per-slab NumPy partial reductions feed one tiny
    groupBy on the axis coordinate — per-cell rows never shuffle."""
    header = read_netcdf_header(path)
    rank = len(header["vars"][var]["shape"])
    if not 0 <= axis < rank:
        raise ValueError("axis out of range")
    slabs = read_netcdf_slabs(spark, path, var)

    def partials(it):
        for pdf in it:
            rows = []
            for r in pdf.itertuples():
                dims = [int(x) for x in r.dims]
                block = np.asarray(r.values, dtype=np.float64).reshape(dims)
                other = tuple(d for d in range(rank) if d != axis)
                s = block.sum(axis=other)
                mn = block.min(axis=other)
                mx = block.max(axis=other)
                n = int(np.prod([dims[d] for d in other])) if other else 1
                base = int(r.origin[axis])
                for k in range(dims[axis]):
                    rows.append(
                        {"i": base + k, "n": n, "s": float(s[k]),
                         "mn": float(mn[k]), "mx": float(mx[k])}
                    )
            yield pd.DataFrame(rows)

    per = slabs.mapInPandas(
        partials, schema="i int, n long, s double, mn double, mx double"
    )
    return per.groupBy("i").agg(
        F.sum("n").cast("long").alias("count"),
        F.min("mn").alias("vmin"),
        F.max("mx").alias("vmax"),
        F.round(F.sum("s"), 6).alias("vsum"),
        F.round(F.sum("s") / F.sum("n"), 6).alias("mean"),
    )
