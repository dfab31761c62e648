"""Multidim translate — `gdalmdimtranslate` as a Spark job.

Reference surface: ``apps/gdalmdimtranslate_lib.cpp`` (array subset /
transpose / convert between multidim stores) over the GDALGroup /
GDALMDArray model (``gcore/multidim/gdal_multidim.h``). The sources
are the in-repo multidim readers (``sources/netcdf.py`` slabs,
``sources/zarr.py`` N-D chunks — both produce the same
``(origin, dims, values)`` block contract) and the sink is a
distributed N-D Zarr v2 store.

Scale design — the tiler's compose pattern applied to hypercubes:

1. **Piece fan-out** (map-only): each source block clips to the
   window, applies the axis permutation in NumPy, and splits into one
   piece per destination chunk it intersects. No per-cell rows ever
   exist — pieces are contiguous sub-arrays.
2. **One shuffle** groups pieces by destination chunk index (the only
   shuffle in the job, keyed on the output partitioning exactly like
   the tile pyramid's 4→1 compose).
3. **Assemble + write** per chunk inside ``applyInPandas``; executors
   PUT their chunk files directly (temp + atomic rename — resume can
   never leave a torn chunk), the driver writes the tiny ``.zarray``
   once. A 100 TB translate is more piece rows; chunk-grid alignment
   between source and destination turns the shuffle into a near-local
   exchange.
"""

from __future__ import annotations

import itertools
import json
import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gdal_spark.sources import zarr as Z


def piece_fanout(
    blocks: DataFrame,
    window: list[tuple[int, int]],
    transpose: list[int],
    dst_chunks: tuple[int, ...],
) -> DataFrame:
    """Map-only stage 1 of the translate: clip each source block to
    ``window``, permute axes, and split into one contiguous piece row
    per destination chunk intersected. Exposed separately so the plan
    (no shuffle here; the job's ONE Exchange is the groupBy on the
    dest chunk key downstream) can be audited un-executed."""
    rank = len(window)
    if sorted(transpose) != list(range(rank)):
        raise ValueError("transpose must be a permutation of the source axes")
    if len(dst_chunks) != rank:
        raise ValueError("dst_chunks rank must match")
    w_off = [int(o) for o, _ in window]
    w_sz = [int(s) for _, s in window]
    csz = tuple(int(c) for c in dst_chunks)
    perm = list(transpose)

    def fanout(it):
        for pdf in it:
            rows = []
            for r in pdf.itertuples():
                o = [int(v) for v in r.origin]
                m = [int(v) for v in r.dims]
                lo = [max(oi, wo) for oi, wo in zip(o, w_off)]
                hi = [min(oi + mi, wo + ws) for oi, mi, wo, ws in zip(o, m, w_off, w_sz)]
                if any(l >= h for l, h in zip(lo, hi)):
                    continue
                block = np.asarray(r.values, dtype=np.float64).reshape(m)
                sub = block[tuple(slice(l - oi, h - oi) for l, h, oi in zip(lo, hi, o))]
                # dest-space extent of this sub-block, then permute
                d_lo = [lo[a] - w_off[a] for a in perm]
                d_hi = [hi[a] - w_off[a] for a in perm]
                psub = np.ascontiguousarray(sub.transpose(perm))
                # split into per-dest-chunk pieces
                ranges = [
                    range(l // c, (h - 1) // c + 1)
                    for l, h, c in zip(d_lo, d_hi, csz)
                ]
                for ci in itertools.product(*ranges):
                    p_lo = [max(l, i * c) for l, i, c in zip(d_lo, ci, csz)]
                    p_hi = [min(h, (i + 1) * c) for h, i, c in zip(d_hi, ci, csz)]
                    piece = psub[
                        tuple(
                            slice(pl - l, ph - l)
                            for pl, ph, l in zip(p_lo, p_hi, d_lo)
                        )
                    ]
                    rows.append(
                        {
                            "ck": ".".join(str(i) for i in ci),
                            "idx": list(ci),
                            "off": [pl - i * c for pl, i, c in zip(p_lo, ci, csz)],
                            "pdims": list(piece.shape),
                            "values": piece.ravel().tolist(),
                        }
                    )
            yield pd.DataFrame(
                rows,
                columns=["ck", "idx", "off", "pdims", "values"],
            )

    return blocks.mapInPandas(
        fanout,
        schema="ck string, idx array<int>, off array<int>, "
        "pdims array<int>, values array<double>",
    )


def mdim_translate(
    spark: SparkSession,
    blocks: DataFrame,
    window: list[tuple[int, int]],
    transpose: list[int],
    dst_path: str,
    dst_chunks: tuple[int, ...],
    compressor: str | None = "zlib",
    level: int = 1,
    fill_value: float = 0.0,
) -> dict:
    """Subset ``window`` (per-source-dim (off, size)), permute axes by
    ``transpose`` (dest axis d takes source axis transpose[d]), and
    write a chunked Zarr v2 store at ``dst_path``.

    ``blocks`` is the common multidim block contract:
    (origin array<int>, dims array<int>, values array<double>) — what
    ``read_netcdf_slabs`` and ``read_zarr_chunks_nd`` emit, so any
    source translates into any chunking. Returns the dest metadata.
    """
    rank = len(window)
    w_sz = [int(s) for _, s in window]
    dst_shape = tuple(w_sz[a] for a in transpose)
    csz = tuple(int(c) for c in dst_chunks)
    pieces = piece_fanout(blocks, window, transpose, dst_chunks)

    os.makedirs(dst_path, exist_ok=True)
    meta = Z._zarray(dst_shape, csz, "<f8", compressor, level, fill_value)

    def assemble(key, pdf):
        ci = [int(v) for v in pdf.iloc[0]["idx"]]
        block = np.full(csz, fill_value, dtype=np.float64)
        for _, row in pdf.iterrows():
            off = [int(v) for v in row["off"]]
            pdims = [int(v) for v in row["pdims"]]
            piece = np.asarray(row["values"], dtype=np.float64).reshape(pdims)
            block[tuple(slice(o, o + d) for o, d in zip(off, pdims))] = piece
        Z._put_chunk(dst_path, ci, Z._encode_chunk(
            block.tobytes(order="C"), compressor, level))
        return pd.DataFrame({"ck": [key[0]], "n": [len(pdf)]})

    written = (
        pieces.groupBy("ck")
        .applyInPandas(assemble, schema="ck string, n int")
        .count()
    )
    with open(os.path.join(dst_path, ".zarray"), "w") as f:
        json.dump(meta, f)
    return {"shape": dst_shape, "chunks": csz, "n_chunks_written": int(written)}


def mdim_translate_netcdf_to_zarr(
    spark: SparkSession,
    src_path: str,
    var: str,
    window: list[tuple[int, int]],
    transpose: list[int],
    dst_path: str,
    dst_chunks: tuple[int, ...],
    **kw,
) -> dict:
    """gdalmdimtranslate netCDF → Zarr: slab-read the source window
    (byte-range pruned) and re-chunk/permute into the dest store."""
    from gdal_spark.sources import netcdf as NC

    blocks = NC.read_netcdf_slabs(spark, src_path, var, window)
    return mdim_translate(
        spark, blocks, window, transpose, dst_path, dst_chunks, **kw
    )


def mdim_info(spark, path: str):
    """``gdalmdiminfo`` analogue (apps/gdalmdiminfo_lib.cpp): one row
    per array of a multidim store — name, rank, dimension names,
    shape, element type, record (unlimited-dim) flag.  Metadata-only:
    the driver reads just the header (KBs), exactly like the tool."""
    import pandas as pd

    from gdal_spark.sources import netcdf as NC

    h = NC.read_netcdf_header(path)
    rows = []
    for name, v in sorted(h["vars"].items()):
        shape = list(v["shape"])
        if v["record"]:
            shape[0] = h["numrecs"]
        rows.append({
            "var": name,
            "ndims": len(v["dims"]),
            "dims": ",".join(v["dims"]),
            "shape": "x".join(str(s) for s in shape),
            "dtype": v["dtype"].lstrip("<>=|"),
            "record": bool(v["record"]),
        })
    return spark.createDataFrame(pd.DataFrame(rows))
