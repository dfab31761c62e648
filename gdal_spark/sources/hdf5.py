"""HDF5 reader subset for netCDF-4 hypercubes — `frmts/hdf5/`, `frmts/netcdf/`.

Reference surface: GDAL's HDF5/netCDF drivers read these containers
through libhdf5 (``frmts/hdf5/hdf5dataset.cpp``,
``frmts/netcdf/netcdfdataset.cpp``); this module is an original
implementation of the subset of the public "HDF5 File Format
Specification" (versions 0-3) that libnetcdf/h5py-written data files
use:

- superblocks v0/v1 (sig at 0/512/1024/...) and v2/v3
- object headers v1 and v2 (``OHDR``), continuation blocks (``OCHK``)
- v1 groups (symbol-table message → B-tree v1 ``TREE`` + ``SNOD`` +
  local heap ``HEAP``) and v2 compact groups (inline link messages)
- dataspace v1/v2, datatype classes fixed/float/string/reference/vlen
- data layout v3 (compact / contiguous / chunked) + B-tree v1 chunk
  index; filter pipeline v1/v2 with deflate, shuffle and fletcher32
- attributes v1/v2/v3 incl. vlen payloads in global heaps (``GCOL``)
  — enough to resolve netCDF-4 ``DIMENSION_LIST``/``NAME`` wiring

Scale design — the single-file analogue of the Zarr reader: the
driver parses the header graph once (KBs), emits a **chunk manifest**
(dataset, chunk grid offsets, file offset, stored nbytes, filters) and
Spark fans the per-chunk byte-range reads out to executors; a window
read prunes the manifest against the chunk grid BEFORE any data I/O,
exactly like ``sources/zarr.py`` chunk-grid pruning. Uncompressed
layouts read partial ranges; filtered chunks are the unit of I/O, as
in every HDF5 consumer.
"""

from __future__ import annotations

import os
import struct
import zlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from gdal_spark.sources.scan import scan_manifest

UNDEF = 0xFFFFFFFFFFFFFFFF


class H5Error(ValueError):
    pass


def _u(buf, off, n):
    return int.from_bytes(buf[off : off + n], "little")


class _H5:
    """Parsed file graph: groups → datasets with dataspace/datatype/
    layout/filters/attributes."""

    def __init__(self, path: str):
        self.path = path
        with open(path, "rb") as f:
            self.buf = f.read()  # headers are a tiny prefix of data
        self.datasets: dict[str, dict] = {}
        self.groups: list[str] = []
        self._objcache: dict[int, str] = {}  # header addr → dataset name
        sb_off = self._find_superblock()
        try:
            self._parse_superblock(sb_off)
        except (IndexError, struct.error) as e:
            raise H5Error(f"truncated or corrupt HDF5 file: {e}") from None

    # -- superblock ---------------------------------------------------------

    def _find_superblock(self) -> int:
        sig = b"\x89HDF\r\n\x1a\n"
        off = 0
        while off < len(self.buf):
            if self.buf[off : off + 8] == sig:
                return off
            off = 512 if off == 0 else off * 2
        raise H5Error("not an HDF5 file (no superblock signature)")

    def _parse_superblock(self, off: int) -> None:
        b = self.buf
        ver = b[off + 8]
        if ver in (0, 1):
            self.so = b[off + 13]  # size of offsets
            self.sl = b[off + 14]
            self.gk = _u(b, off + 16, 2)  # group leaf k
            p = off + 24
            if ver == 1:
                p += 4  # indexed storage k + reserved
            self.base = _u(b, p, self.so)
            p += 4 * self.so  # base, free, eof, driver
            # root group symbol-table entry
            p += self.so  # link name offset
            root_oh = _u(b, p, self.so)
            self._walk_group(root_oh, "")
        elif ver in (2, 3):
            self.so = b[off + 9]
            self.sl = b[off + 10]
            p = off + 12
            self.base = _u(b, p, self.so)
            p += 3 * self.so  # base, ext, eof
            root_oh = _u(b, p, self.so)
            self._walk_group(root_oh, "")
        else:
            raise H5Error(f"unsupported superblock version {ver}")

    # -- object headers -----------------------------------------------------

    def _messages(self, addr: int) -> list[tuple[int, bytes]]:
        """All (type, body) messages of the object header at addr,
        following continuations; v1 and v2 headers."""
        b = self.buf
        out: list[tuple[int, bytes]] = []
        if b[addr : addr + 4] == b"OHDR":  # v2
            flags = b[addr + 5]
            p = addr + 6
            if flags & 0x20:
                p += 16  # access/mod/change/birth times (4 x uint32)
            if flags & 0x10:
                p += 4  # max compact/dense
            szlen = 1 << (flags & 0x3)
            chunk0 = _u(b, p, szlen)
            p += szlen
            self._msgs_v2(p, chunk0, flags, out)
        else:  # v1
            nmsg = _u(b, addr + 2, 2)
            hsize = _u(b, addr + 8, 4)
            p = (addr + 12 + 3) & ~3  # pad to 8 from header start (12+4)
            p = addr + 16
            self._msgs_v1(p, hsize, out, nmsg)
        return out

    def _msgs_v1(self, p: int, size: int, out: list, nmsg: int) -> None:
        b = self.buf
        end = p + size
        while p + 8 <= end and len(out) < nmsg + 64:
            mtype = _u(b, p, 2)
            msize = _u(b, p + 2, 2)
            body = b[p + 8 : p + 8 + msize]
            p += 8 + msize
            if mtype == 0x0010:  # continuation
                caddr = _u(body, 0, self.so)
                clen = _u(body, self.so, self.sl)
                self._msgs_v1(caddr, clen, out, nmsg)
            elif mtype:
                out.append((mtype, body))

    def _msgs_v2(self, p: int, size: int, flags: int, out: list) -> None:
        b = self.buf
        end = p + size - 4  # gap/checksum
        track = bool(flags & 0x04)
        while p + 4 <= end:
            mtype = b[p]
            msize = _u(b, p + 1, 2)
            p += 4
            if track:
                p += 2
            if mtype == 0 and msize == 0:
                break
            body = b[p : p + msize]
            p += msize
            if mtype == 0x10:  # continuation → OCHK block
                caddr = _u(body, 0, self.so)
                clen = _u(body, self.so, self.sl)
                self._msgs_v2(caddr + 4, clen - 4, flags, out)
            elif mtype:
                out.append((mtype, body))

    # -- groups -------------------------------------------------------------

    def _walk_group(self, oh_addr: int, prefix: str) -> None:
        msgs = self._messages(oh_addr)
        types = [t for t, _ in msgs]
        if 0x0011 in types:  # v1 symbol table
            body = next(m for t, m in msgs if t == 0x0011)
            btree = _u(body, 0, self.so)
            heap = _u(body, self.so, self.so)
            for name, child in self._v1_links(btree, heap):
                self._enter(child, prefix + "/" + name)
            return
        # v2: inline link messages (compact groups)
        for t, body in msgs:
            if t == 0x0006:  # link message
                name, child = self._parse_link(body)
                if child is not None:
                    self._enter(child, prefix + "/" + name)
        if 0x0002 in types and not any(t == 0x0006 for t in types):
            body = next(m for t, m in msgs if t == 0x0002)
            # dense links: fractal heap + name-index B-tree v2
            p = 2 + (8 if body[1] & 1 else 0)
            fheap = _u(body, p, self.so)
            bt2 = _u(body, p + self.so, self.so)
            if fheap != UNDEF:
                for name, child in self._dense_links(fheap, bt2):
                    self._enter(child, prefix + "/" + name)

    def _parse_link(self, body: bytes):
        ver, flags = body[0], body[1]
        p = 2
        ltype = 0
        if flags & 0x08:
            ltype = body[p]
            p += 1
        if flags & 0x04:
            p += 8  # creation order
        if flags & 0x10:
            p += 1  # charset
        nlen = _u(body, p, 1 << (flags & 0x3))
        p += 1 << (flags & 0x3)
        name = body[p : p + nlen].decode("utf-8")
        p += nlen
        if ltype != 0:
            return name, None  # soft/external link: skip
        return name, _u(body, p, self.so)

    def _dense_links(self, fheap_addr: int, bt2_addr: int):
        """Dense (fractal-heap) link storage: enumerate the name-index
        B-tree v2 records (type 5: hash + heap id) and fetch each link
        message from the fractal heap's managed space. Covers the
        shapes libnetcdf/h5py emit: depth-0 or depth-1 v2 trees, root
        direct block or one level of indirect blocks."""
        b = self.buf
        heap = self._fractal_heap(fheap_addr)
        out = []
        for rec in self._bt2_records(bt2_addr):
            # record type 5: hash(4) + heap ID (heap["id_len"] bytes)
            hid = rec[4:]
            # managed heap id: version+type byte, offset, length
            off_sz = heap["heap_off_sz"]
            len_sz = heap["heap_len_sz"]
            off = _u(hid, 1, off_sz)
            ln = _u(hid, 1 + off_sz, len_sz)
            body = self._heap_read(heap, off, ln)
            name, child = self._parse_link(body)
            if child is not None:
                out.append((name, child))
        return out

    def _fractal_heap(self, addr: int) -> dict:
        b = self.buf
        if b[addr : addr + 4] != b"FRHP":
            raise H5Error("bad fractal heap header")
        id_len = _u(b, addr + 5, 2)
        p = addr + 5 + 2 + 2 + 1 + 4  # ver, idlen, filterlen, flags, maxman
        p += self.sl + self.so  # next huge id, huge bt2
        p += self.sl + self.so  # free space, fs mgr
        p += 4 * self.sl  # managed space, allocated, iterator, nmanaged
        p += 4 * self.sl  # huge size, nhuge, tiny size, ntiny
        width = _u(b, p, 2)
        start_block = _u(b, p + 2, self.sl)
        max_direct = _u(b, p + 2 + self.sl, self.sl)
        max_heap_bits = _u(b, p + 2 + 2 * self.sl, 2)
        nrows_start = _u(b, p + 4 + 2 * self.sl, 2)
        root = _u(b, p + 6 + 2 * self.sl, self.so)
        cur_rows = _u(b, p + 6 + 2 * self.sl + self.so, 2)
        import math as _m

        heap_off_sz = (max_heap_bits + 7) // 8
        heap_len_sz = (
            max(1, (_m.ceil(_m.log2(max_direct)) + 7) // 8)
            if max_direct > 1
            else 1
        )
        return {
            "addr": addr,
            "id_len": id_len,
            "width": width,
            "start_block": start_block,
            "max_direct": max_direct,
            "heap_off_sz": heap_off_sz,
            "heap_len_sz": heap_len_sz,
            "root": root,
            "cur_rows": cur_rows,
            "checksummed": bool(b[addr + 10] & 0x02),
        }

    def _heap_direct_blocks(self, heap: dict):
        """(block_heap_offset, data_start, size) per direct block."""
        b = self.buf
        root = heap["root"]
        hdr = 4 + 1 + self.so + heap["heap_off_sz"]
        if heap["cur_rows"] == 0:  # root IS a direct block
            if b[root : root + 4] != b"FHDB":
                raise H5Error("bad fractal heap direct block")
            yield 0, root + hdr + (4 if heap["checksummed"] else 0), heap[
                "start_block"
            ]
            return
        if b[root : root + 4] != b"FHIB":
            raise H5Error("bad fractal heap indirect block")
        p = root + 4 + 1 + self.so + heap["heap_off_sz"]
        width = heap["width"]
        # doubling table: row 0 and 1 use start_block, then doubles
        off = 0
        for row in range(heap["cur_rows"]):
            bs = heap["start_block"] * (1 << max(0, row - 1))
            if bs > heap["max_direct"]:
                raise H5Error("fractal heap: indirect sub-blocks unsupported")
            for _ in range(width):
                child = _u(b, p, self.so)
                p += self.so
                if child != UNDEF:
                    if b[child : child + 4] != b"FHDB":
                        raise H5Error("bad fractal heap direct block")
                    yield off, child + hdr + (
                        4 if heap["checksummed"] else 0
                    ), bs
                off += bs

    def _heap_read(self, heap: dict, off: int, ln: int) -> bytes:
        for boff, dstart, bsize in self._heap_direct_blocks(heap):
            hdr = dstart - (4 + 1 + self.so + heap["heap_off_sz"]) - (
                4 if heap["checksummed"] else 0
            )
            # offsets are heap-wide; data begins after each block header
            hdr_len = dstart - hdr  # header bytes of this block
            if boff <= off < boff + bsize:
                rel = off - boff
                # heap offsets INCLUDE block header bytes
                return self.buf[hdr + rel : hdr + rel + ln]
        raise H5Error(f"fractal heap offset {off} not found")

    def _bt2_records(self, addr: int):
        b = self.buf
        if b[addr : addr + 4] != b"BTHD":
            raise H5Error("bad v2 B-tree header")
        rec_size = _u(b, addr + 10, 2)
        depth = _u(b, addr + 12, 2)
        root = _u(b, addr + 16, self.so)
        nrec_root = _u(b, addr + 16 + self.so, 2)
        total = _u(b, addr + 18 + self.so, self.sl)

        def leaf(a, nrec):
            if b[a : a + 4] != b"BTLF":
                raise H5Error("bad v2 B-tree leaf")
            p = a + 6
            for _ in range(nrec):
                yield b[p : p + rec_size]
                p += rec_size

        if depth == 0:
            yield from leaf(root, nrec_root)
            return
        if depth == 1:
            # internal node: records + child pointers (+ nrec counts)
            if b[root : root + 4] != b"BTIN":
                raise H5Error("bad v2 B-tree internal node")
            # child-count field width from total records (spec: enough
            # bytes for the max records in a child subtree) — for the
            # one-level case 1 byte suffices in all files this size
            p = root + 6
            recs = []
            for _ in range(nrec_root):
                recs.append(b[p : p + rec_size])
                p += rec_size
            for k in range(nrec_root + 1):
                child = _u(b, p, self.so)
                p += self.so
                nrec_child = _u(b, p, 1)
                p += 1
                yield from leaf(child, nrec_child)
                if k < nrec_root:
                    yield recs[k]
            return
        raise H5Error("v2 B-tree depth > 1 unsupported")


    def _v1_links(self, btree_addr: int, heap_addr: int):
        b = self.buf
        if b[heap_addr : heap_addr + 4] != b"HEAP":
            raise H5Error("bad local heap")
        heap_data = _u(b, heap_addr + 8 + self.sl * 2, self.so)

        def heap_str(off):
            s = heap_data + off
            e = b.index(b"\x00", s)
            return b[s:e].decode("utf-8")

        out = []

        def walk_tree(addr):
            if b[addr : addr + 4] != b"TREE":
                raise H5Error("bad group B-tree node")
            level = b[addr + 5]
            nent = _u(b, addr + 6, 2)
            p = addr + 8 + 2 * self.so  # skip siblings
            # keys/children interleaved: key(L), child(O), ... key(L)
            p += self.sl
            for _ in range(nent):
                child = _u(b, p, self.so)
                p += self.so + self.sl
                if level > 0:
                    walk_tree(child)
                else:
                    # SNOD block
                    if b[child : child + 4] != b"SNOD":
                        raise H5Error("bad symbol node")
                    n = _u(b, child + 6, 2)
                    q = child + 8
                    for _ in range(n):
                        lno = _u(b, q, self.so)
                        oha = _u(b, q + self.so, self.so)
                        out.append((heap_str(lno), oha))
                        q += 2 * self.so + 4 + 4 + 16

        walk_tree(btree_addr)
        return out

    # -- datasets -----------------------------------------------------------

    def _enter(self, oh_addr: int, path: str) -> None:
        msgs = self._messages(oh_addr)
        types = [t for t, _ in msgs]
        if 0x0011 in types or (0x0002 in types and 0x0008 not in types):
            self.groups.append(path)
            self._walk_group(oh_addr, path)
            return
        if 0x0006 in types and 0x0008 not in types:
            self.groups.append(path)
            self._walk_group(oh_addr, path)
            return
        if 0x0008 not in types:
            return  # neither group nor dataset in-subset
        ds: dict = {"name": path, "addr": oh_addr}
        attrs = {}
        try:
            for t, body in msgs:
                if t == 0x0001:
                    ds["shape"], ds["maxshape"] = self._dataspace(body)
                elif t == 0x0003:
                    ds["dtype"] = self._datatype(body)
                elif t == 0x0008:
                    self._layout(body, ds)
                elif t == 0x000B:
                    ds["filters"] = self._filters(body)
                elif t == 0x000C:
                    try:
                        name, val = self._attribute(body)
                        attrs[name] = val
                    except H5Error:
                        pass  # exotic attribute types: ignore, not data
        except H5Error:
            # out-of-subset dataset (compound/enum types, exotic
            # layouts): skip it, keep the rest of the file readable
            return
        ds["attrs"] = attrs
        ds.setdefault("filters", [])
        self.datasets[path.lstrip("/")] = ds
        self._objcache[oh_addr] = path.lstrip("/")

    def _dataspace(self, body: bytes):
        ver = body[0]
        if ver == 1:
            rank, flags = body[1], body[2]
            p = 8
        elif ver == 2:
            rank, flags = body[1], body[2]
            p = 4
        else:
            raise H5Error(f"dataspace version {ver}")
        dims = tuple(_u(body, p + i * self.sl, self.sl) for i in range(rank))
        p += rank * self.sl
        mx = None
        if flags & 1:
            mx = tuple(_u(body, p + i * self.sl, self.sl) for i in range(rank))
        return dims, mx

    def _datatype(self, body: bytes):
        cls = body[0] & 0x0F
        bits0 = body[1]
        size = _u(body, 4, 4)
        endian = ">" if (bits0 & 1) else "<"
        if cls == 0:  # fixed-point
            signed = "i" if (bits0 & 0x08) else "u"
            return f"{endian}{signed}{size}"
        if cls == 1:  # float
            return f"{endian}f{size}"
        if cls == 3:  # string
            return f"S{size}"
        if cls == 7:  # reference
            return ("ref", size)
        if cls == 9:  # vlen
            base = self._datatype(body[8:])
            return ("vlen", base, size)
        raise H5Error(f"datatype class {cls} unsupported")

    def _layout(self, body: bytes, ds: dict) -> None:
        ver = body[0]
        if ver == 3:
            lclass = body[1]
            if lclass == 0:  # compact
                n = _u(body, 2, 2)
                ds["layout"] = ("compact", body[4 : 4 + n])
            elif lclass == 1:  # contiguous
                addr = _u(body, 2, self.so)
                size = _u(body, 2 + self.so, self.sl)
                ds["layout"] = ("contiguous", addr, size)
            elif lclass == 2:  # chunked
                rank = body[2]  # dimensionality (= rank + 1)
                btree = _u(body, 3, self.so)
                p = 3 + self.so
                cdims = tuple(_u(body, p + 4 * i, 4) for i in range(rank))
                ds["layout"] = ("chunked", btree, cdims[:-1])
            else:
                raise H5Error(f"layout class {lclass}")
        elif ver == 4:
            lclass = body[1]
            if lclass == 2:
                # v4 chunked: flags, dimensionality, dim size encoded len
                flags = body[2]
                rank = body[3]
                enc = body[4]
                p = 5
                cdims = tuple(_u(body, p + enc * i, enc) for i in range(rank))
                p += enc * rank
                idx_type = body[p]
                p += 1
                if idx_type == 1:  # single chunk
                    if flags & 0x02:
                        fsz = _u(body, p, self.sl)
                        p += self.sl + 4
                    addr = _u(body, p, self.so)
                    ds["layout"] = ("chunked_single", addr, cdims)
                    return
                if idx_type == 3:  # fixed array — parse lazily on read
                    p += 1  # page bits
                    addr = _u(body, p, self.so)
                    ds["layout"] = ("chunked_farr", addr, cdims)
                    return
                if idx_type == 4:  # extensible array
                    p += 6
                    addr = _u(body, p, self.so)
                    ds["layout"] = ("chunked_earr", addr, cdims)
                    return
                if idx_type == 5:  # btree v2
                    p += 6
                    addr = _u(body, p, self.so)
                    ds["layout"] = ("chunked_bt2", addr, cdims)
                    return
                raise H5Error(f"chunk index type {idx_type} unsupported")
            elif lclass == 1:
                addr = _u(body, 2, self.so)
                size = _u(body, 2 + self.so, self.sl)
                ds["layout"] = ("contiguous", addr, size)
            elif lclass == 0:
                n = _u(body, 2, 2)
                ds["layout"] = ("compact", body[4 : 4 + n])
            else:
                raise H5Error(f"layout v4 class {lclass}")
        elif ver in (1, 2):
            rank = body[1]
            lclass = body[2]
            p = 8
            if lclass != 0:
                addr = _u(body, p, self.so)
                p += self.so
            dims = tuple(_u(body, p + 4 * i, 4) for i in range(rank))
            p += 4 * rank
            if lclass == 1:
                ds["layout"] = ("contiguous", addr, _u(body, p, 4))
            elif lclass == 2:
                p += 4  # element size already in dims? (v1/2 appends it)
                ds["layout"] = ("chunked", addr, dims)
            else:
                n = _u(body, p, 4)
                ds["layout"] = ("compact", body[p + 4 : p + 4 + n])
        else:
            raise H5Error(f"layout version {ver}")

    def _filters(self, body: bytes):
        ver = body[0]
        nf = body[1]
        p = 8 if ver == 1 else 2
        out = []
        for _ in range(nf):
            fid = _u(body, p, 2)
            p += 2
            if ver == 1 or fid >= 256:
                nlen = _u(body, p, 2)
                p += 2
            else:
                nlen = 0
            p += 2  # flags
            ncv = _u(body, p, 2)
            p += 2
            if nlen:
                pad = (nlen + 7) & ~7 if ver == 1 else nlen
                p += pad
            cvals = [_u(body, p + 4 * i, 4) for i in range(ncv)]
            p += 4 * ncv
            if ver == 1 and (ncv & 1):
                p += 4
            out.append((fid, cvals))
        return out

    def _attribute(self, body: bytes):
        ver = body[0]
        if ver == 1:
            nlen = _u(body, 2, 2)
            dtlen = _u(body, 4, 2)
            splen = _u(body, 6, 2)
            p = 8
            name = body[p : p + nlen].split(b"\x00")[0].decode("utf-8")
            p += (nlen + 7) & ~7
            dt = body[p : p + dtlen]
            p += (dtlen + 7) & ~7
            sp = body[p : p + splen]
            p += (splen + 7) & ~7
        elif ver in (2, 3):
            nlen = _u(body, 2, 2)
            dtlen = _u(body, 4, 2)
            splen = _u(body, 6, 2)
            p = 8 + (1 if ver == 3 else 0)
            name = body[p : p + nlen].split(b"\x00")[0].decode("utf-8")
            p += nlen
            dt = body[p : p + dtlen]
            p += dtlen
            sp = body[p : p + splen]
            p += splen
        else:
            raise H5Error(f"attribute version {ver}")
        dtype = self._datatype(dt)
        shape, _ = self._dataspace(sp) if splen >= 4 else ((), None)
        n = int(np.prod(shape)) if shape else 1
        raw = body[p:]
        return name, self._decode_values(dtype, raw, n)

    def _decode_values(self, dtype, raw: bytes, n: int):
        if isinstance(dtype, tuple) and dtype[0] == "vlen":
            base = dtype[1]
            out = []
            for i in range(n):
                cnt = _u(raw, i * 16, 4)
                gaddr = _u(raw, i * 16 + 4, self.so)
                gidx = _u(raw, i * 16 + 4 + self.so, 4)
                data = self._gheap(gaddr, gidx)
                out.append(self._decode_values(base, data, cnt))
            return out
        if isinstance(dtype, tuple) and dtype[0] == "ref":
            sz = dtype[1]
            return [
                _u(raw, i * sz, self.so) for i in range(n)
            ]
        if isinstance(dtype, str) and dtype.startswith("S"):
            w = int(dtype[1:])
            vals = [
                raw[i * w : (i + 1) * w].split(b"\x00")[0].decode(
                    "utf-8", "replace"
                )
                for i in range(n)
            ]
            return vals[0] if n == 1 else vals
        a = np.frombuffer(raw, dtype=np.dtype(dtype), count=n)
        return a[0].item() if n == 1 else a.tolist()

    def _gheap(self, addr: int, idx: int) -> bytes:
        b = self.buf
        if b[addr : addr + 4] != b"GCOL":
            raise H5Error("bad global heap")
        size = _u(b, addr + 8, self.sl)
        p = addr + 8 + self.sl
        end = addr + size
        while p + 16 <= end:
            hidx = _u(b, p, 2)
            osize = _u(b, p + 8, self.sl)
            if hidx == idx:
                return b[p + 16 : p + 16 + osize]
            if hidx == 0:
                break
            p += 16 + ((osize + 7) & ~7)
        raise H5Error(f"global heap object {idx} not found")

    # -- chunk index --------------------------------------------------------

    def chunk_manifest(self, name: str) -> list[tuple]:
        """[(grid_offsets..., file_addr, stored_nbytes, filter_mask)]."""
        ds = self.datasets[name]
        lay = ds["layout"]
        out: list[tuple] = []
        if lay[0] == "chunked":
            btree, cdims = lay[1], lay[2]
            rank = len(cdims) + 1
            if btree == UNDEF:
                return out

            b = self.buf

            def walk(addr):
                if b[addr : addr + 4] != b"TREE":
                    raise H5Error("bad chunk B-tree node")
                if b[addr + 4] != 1:
                    raise H5Error("not a chunk B-tree")
                level = b[addr + 5]
                nent = _u(b, addr + 6, 2)
                p = addr + 8 + 2 * self.so
                for _ in range(nent):
                    csize = _u(b, p, 4)
                    fmask = _u(b, p + 4, 4)
                    offs = tuple(
                        _u(b, p + 8 + 8 * i, 8) for i in range(rank - 1)
                    )
                    p += 8 + 8 * rank
                    child = _u(b, p, self.so)
                    p += self.so
                    if level > 0:
                        walk(child)
                    else:
                        out.append((*offs, child, csize, fmask))

            walk(btree)
        elif lay[0] == "chunked_single":
            size = os.path.getsize(self.path)
            csize = int(
                np.prod(lay[2][:-1]) * int(np.dtype(ds["dtype"]).itemsize)
            )
            out.append(
                (*(0,) * len(ds["shape"]), lay[1], csize, 0)
            )
        elif lay[0] == "chunked_farr":
            out.extend(self._fixed_array_chunks(ds, lay))
        else:
            raise H5Error(f"chunk index {lay[0]} unsupported for manifest")
        return out

    def _fixed_array_chunks(self, ds, lay):
        """Fixed-array chunk index (h5py 'latest' files)."""
        b = self.buf
        addr, cdims = lay[1], lay[2]
        if b[addr : addr + 4] != b"FAHD":
            raise H5Error("bad fixed array header")
        entry_size = b[addr + 6]
        nelems = _u(b, addr + 8, self.sl)
        dblock = _u(b, addr + 8 + self.sl, self.so)
        if b[dblock : dblock + 4] != b"FADB":
            raise H5Error("bad fixed array data block")
        p = dblock + 6 + self.so
        # paging: npages>0 when nelems large — unsupported, raise
        filtered = len(ds.get("filters", [])) > 0
        shape = ds["shape"]
        grid = [
            -(-shape[i] // cdims[:-1][i]) for i in range(len(shape))
        ]
        out = []
        for k in range(nelems):
            q = p + k * entry_size
            caddr = _u(b, q, self.so)
            if filtered:
                csz = _u(b, q + self.so, entry_size - self.so - 4)
                fmask = _u(b, q + entry_size - 4, 4)
            else:
                csz = int(
                    np.prod(cdims[:-1]) * np.dtype(ds["dtype"]).itemsize
                )
                fmask = 0
            if caddr == UNDEF:
                continue
            # linear index k → grid offsets (C order)
            offs = []
            rem = k
            for g, c in zip(reversed(grid), reversed(cdims[:-1])):
                offs.append((rem % g) * c)
                rem //= g
            out.append((*reversed(offs), caddr, csz, fmask))
        return out


def _apply_filters(raw: bytes, filters, itemsize: int) -> bytes:
    """Decode the stored chunk: reverse pipeline order."""
    data = raw
    for fid, cvals in reversed(filters):
        if fid == 1:  # deflate
            data = zlib.decompress(data)
        elif fid == 2:  # shuffle
            sz = cvals[0] if cvals else itemsize
            n = len(data) // sz
            a = np.frombuffer(data, dtype=np.uint8)
            data = (
                a[: n * sz].reshape(sz, n).T.reshape(-1).tobytes()
                + data[n * sz :]
            )
        elif fid == 3:  # fletcher32: payload + 4-byte checksum
            data = data[:-4]
        else:
            raise H5Error(f"filter id {fid} unsupported (szip/lzf?)")
    return data


class H5File:
    """Public facade: inventory + window reads + chunk manifest."""

    def __init__(self, path: str):
        self._h = _H5(path)
        self.path = path

    def inventory(self) -> dict[str, dict]:
        out = {}
        for name, ds in self._h.datasets.items():
            if not isinstance(ds.get("dtype"), str):
                continue  # references/vlen datasets: not numeric data
            lay = ds["layout"]
            chunks = None
            if lay[0] == "chunked":
                chunks = lay[2]
            elif lay[0].startswith("chunked"):
                chunks = lay[2][:-1]
            out[name] = {
                "shape": ds["shape"],
                "dtype": ds["dtype"],
                "chunks": chunks,
                "layout": lay[0],
                "filters": [f for f, _ in ds.get("filters", [])],
                "attrs": {
                    k: v for k, v in ds.get("attrs", {}).items()
                    if isinstance(v, (str, int, float))
                },
            }
        return out

    def netcdf_dims(self, name: str) -> list[str]:
        """netCDF-4 dimension names via DIMENSION_LIST object refs;
        falls back to phony names."""
        ds = self._h.datasets[name]
        refs = ds.get("attrs", {}).get("DIMENSION_LIST")
        names = []
        if refs:
            for r in refs:
                tgt = r[0] if isinstance(r, list) else r
                nm = self._h._objcache.get(tgt)
                names.append(nm if nm else f"phony_dim_{len(names)}")
            return names
        return [f"phony_dim_{i}" for i in range(len(ds["shape"]))]

    def read(self, name: str, window: list[tuple[int, int]] | None = None) -> np.ndarray:
        """Full or windowed read (driver-side, NumPy). Window =
        [(start, stop)] per dimension."""
        h = self._h
        ds = h.datasets[name]
        shape = ds["shape"]
        dt = np.dtype(ds["dtype"])
        lay = ds["layout"]
        if window is None:
            window = [(0, s) for s in shape]
        out_shape = tuple(b - a for a, b in window)
        if lay[0] == "compact":
            arr = np.frombuffer(lay[1], dtype=dt, count=int(np.prod(shape)))
            arr = arr.reshape(shape)
            sl = tuple(slice(a, b) for a, b in window)
            return arr[sl].copy()
        if lay[0] == "contiguous":
            addr = lay[1]
            if addr == UNDEF:
                return np.zeros(out_shape, dtype=dt)
            arr = np.frombuffer(
                h.buf, dtype=dt, count=int(np.prod(shape)), offset=addr
            ).reshape(shape)
            sl = tuple(slice(a, b) for a, b in window)
            return arr[sl].copy()
        # chunked
        cdims = lay[2][:-1] if lay[0] == "chunked_single" else (
            lay[2] if lay[0] == "chunked" else lay[2][:-1]
        )
        out = _filled(out_shape, dt, ds)
        manifest = h.chunk_manifest(name)
        filters = ds.get("filters", [])
        for entry in manifest:
            offs = entry[: len(shape)]
            caddr, csize = entry[len(shape)], entry[len(shape) + 1]
            # chunk-grid pruning against the window
            if any(
                offs[i] >= window[i][1] or offs[i] + cdims[i] <= window[i][0]
                for i in range(len(shape))
            ):
                continue
            raw = h.buf[caddr : caddr + csize]
            data = _apply_filters(raw, filters, dt.itemsize)
            chunk = np.frombuffer(
                data, dtype=dt, count=int(np.prod(cdims))
            ).reshape(cdims)
            src = []
            dst = []
            for i in range(len(shape)):
                a = max(window[i][0], offs[i])
                bnd = min(window[i][1], offs[i] + cdims[i], shape[i])
                src.append(slice(a - offs[i], bnd - offs[i]))
                dst.append(slice(a - window[i][0], bnd - window[i][0]))
            out[tuple(dst)] = chunk[tuple(src)]
        return out


def _filled(shape, dt: np.dtype, ds: dict) -> np.ndarray:
    """An array of the dataset's scalar ``_FillValue`` (zeros when it
    has none or the value does not fit ``dt``) — what unallocated
    chunks read as."""
    out = np.zeros(shape, dtype=dt)
    fill = ds.get("attrs", {}).get("_FillValue")
    if fill is not None and np.ndim(fill) == 0:
        try:
            out[...] = fill
        except (ValueError, OverflowError):
            pass
    return out


def read_h5_window_distributed(
    spark: SparkSession,
    path: str,
    dataset: str,
    window: list[tuple[int, int]],
    dim_names: list[str] | None = None,
) -> DataFrame:
    """Distributed windowed read → long-form (dim0.., value) rows.

    Driver parses the header graph once and plans the chunk grid cells
    the window intersects; each task ranged-reads + decodes only its
    chunks (the Zarr chunk-scan shape over one HDF5 container). A cell
    the chunk index does not list (never written) reads as the
    dataset's fill value, as in :meth:`H5File.read`."""
    import itertools

    f = H5File(path)
    h = f._h
    ds = h.datasets[dataset]
    shape = ds["shape"]
    dt = np.dtype(ds["dtype"])
    lay = ds["layout"]
    filters = ds.get("filters", [])
    names = dim_names or f.netcdf_dims(dataset)
    rank = len(shape)
    schema = ", ".join(f"d{k} long" for k in range(rank)) + ", value double"

    def long_form(sub, base):
        idx = np.indices(sub.shape).reshape(len(sub.shape), -1)
        d = {f"d{k}": idx[k] + base[k] for k in range(rank)}
        d["value"] = sub.reshape(-1).astype(np.float64)
        return pd.DataFrame(d)

    if lay[0] == "contiguous":
        # plan row-major outer-dim slabs like the classic reader
        inner = int(np.prod(shape[1:])) if rank > 1 else 1
        slabs = [{"i0": i0, "off": lay[1] + i0 * inner * dt.itemsize}
                 for i0 in range(*window[0])]
        inner_sel = tuple(slice(a, b) for a, b in window[1:])

        def decode(r, fh):
            fh.seek(int(r.off))
            arr = np.frombuffer(fh.read(inner * dt.itemsize), dtype=dt)
            slab = arr.reshape([1] + list(shape[1:]))
            yield long_form(slab[(slice(None),) + inner_sel],
                            [int(r.i0)] + [a for a, _ in window[1:]])

        df = scan_manifest(spark, slabs, schema, decode, path)
    else:
        cdims = lay[2] if lay[0] == "chunked" else lay[2][:-1]
        stored = {tuple(e[:rank]): (e[rank], e[rank + 1])
                  for e in h.chunk_manifest(dataset)}
        grid = [range(a // c * c, min(b, n), c)
                for (a, b), c, n in zip(window, cdims, shape)]
        chunks = []
        for offs in itertools.product(*grid):
            addr, csize = stored.get(offs, (-1, 0))
            chunks.append({"offs": list(offs), "addr": addr, "csize": csize})

        def decode(r, fh):
            offs = [int(o) for o in r.offs]
            if r.addr < 0:  # unallocated: uniformly the fill value
                chunk = _filled(cdims, dt, ds)
            else:
                fh.seek(int(r.addr))
                data = _apply_filters(fh.read(int(r.csize)), filters, dt.itemsize)
                chunk = np.frombuffer(
                    data, dtype=dt, count=int(np.prod(cdims))).reshape(cdims)
            src, base = [], []
            for i in range(rank):
                a = max(window[i][0], offs[i])
                bnd = min(window[i][1], offs[i] + cdims[i], shape[i])
                src.append(slice(a - offs[i], bnd - offs[i]))
                base.append(a)
            yield long_form(chunk[tuple(src)], base)

        df = scan_manifest(spark, chunks, schema, decode, path)
    ren = df
    for k, nm in enumerate(names):
        ren = ren.withColumnRenamed(f"d{k}", nm)
    return ren


# ---------------------------------------------------------------------------
# Minimal writer — superblock v0, v1 root group, chunked+deflate datasets
# (the fixture-producing counterpart of the reader; same posture as the
# VP8L LZ77 writer: no HDF5 library exists in-container, so gate
# fixtures are written here and the READER is pinned against the
# reference autotest's real libnetcdf files in tests/test_hdf5.py)
# ---------------------------------------------------------------------------


def _dt_msg(dt: np.dtype) -> bytes:
    """Datatype message body (class fixed-point / float, LE)."""
    if dt.kind in ("i", "u"):
        bits0 = 0x08 if dt.kind == "i" else 0x00
        return (
            bytes([0x10, bits0, 0, 0])
            + struct.pack("<I", dt.itemsize)
            + struct.pack("<HH", 0, dt.itemsize * 8)
        )
    if dt.kind == "f":
        if dt.itemsize == 8:
            props = struct.pack("<HHBBBBI", 0, 64, 52, 11, 0, 52, 1023)
        else:
            props = struct.pack("<HHBBBBI", 0, 32, 23, 8, 0, 23, 127)
        return bytes([0x11, 0x20, 0x3F, 0]) + struct.pack("<I", dt.itemsize) + props
    raise H5Error(f"writer: dtype {dt} unsupported")


def write_h5(
    path: str,
    variables: dict[str, tuple[np.ndarray, tuple | None]],
    deflate: int = 6,
) -> dict:
    """Write a flat (root-group) HDF5 file: each variable a chunked
    dataset (deflate per chunk when ``deflate`` > 0, contiguous-chunk
    B-tree v1 index), v1 object headers, v1 symbol-table root group.
    ``variables``: name → (array, chunk_shape or None=whole array)."""
    buf = bytearray(96)  # superblock placeholder
    fix: dict[str, int] = {}

    def put(b: bytes) -> int:
        off = len(buf)
        buf.extend(b)
        return off

    def pad8() -> None:
        while len(buf) % 8:
            buf.append(0)

    # local heap data: names at fixed offsets
    names = list(variables)
    heap_data = bytearray(8)  # offset 0: empty string slot
    name_off = {}
    for n in names:
        name_off[n] = len(heap_data)
        heap_data += n.encode() + b"\x00"
        while len(heap_data) % 8:
            heap_data += b"\x00"

    # per-dataset: chunks → data blobs first (addresses known), then
    # chunk B-trees, then object headers
    ds_meta = {}
    for n, (arr, cshape) in variables.items():
        arr = np.ascontiguousarray(arr)
        if arr.dtype.byteorder == ">":
            arr = arr.astype(arr.dtype.newbyteorder("<"))
        shape = arr.shape
        cshape = tuple(cshape) if cshape else shape
        entries = []
        grid = [range(0, shape[i], cshape[i]) for i in range(arr.ndim)]
        import itertools

        for offs in itertools.product(*grid):
            sl = tuple(
                slice(o, min(o + c, s)) for o, c, s in zip(offs, cshape, shape)
            )
            chunk = np.zeros(cshape, dtype=arr.dtype)
            chunk[tuple(slice(0, b.stop - b.start) for b in sl)] = arr[sl]
            raw = chunk.tobytes()
            if deflate:
                raw = zlib.compress(raw, deflate)
            pad8()
            addr = put(raw)
            entries.append((offs, addr, len(raw)))
        ds_meta[n] = (arr, cshape, entries)

    # chunk B-trees (single level-0 node per dataset)
    for n, (arr, cshape, entries) in ds_meta.items():
        rank = arr.ndim
        pad8()
        node = bytearray()
        node += b"TREE" + bytes([1, 0]) + struct.pack("<H", len(entries))
        node += struct.pack("<QQ", UNDEF, UNDEF)
        for offs, addr, csz in entries:
            node += struct.pack("<II", csz, 0)
            for o in offs:
                node += struct.pack("<Q", o)
            node += struct.pack("<Q", 0)  # element-dim offset
            node += struct.pack("<Q", addr)
        # final key: one-past-the-end offsets
        node += struct.pack("<II", 0, 0)
        for s in arr.shape:
            node += struct.pack("<Q", s)
        node += struct.pack("<Q", 0)
        ds_meta[n] = (arr, cshape, entries, put(bytes(node)))

    # dataset object headers
    oh_addr = {}
    for n, (arr, cshape, entries, btree) in ds_meta.items():
        rank = arr.ndim
        msgs = []
        # dataspace v1
        body = bytes([1, rank, 0, 0]) + b"\x00" * 4
        body += b"".join(struct.pack("<Q", s) for s in arr.shape)
        msgs.append((0x0001, body))
        msgs.append((0x0003, _dt_msg(arr.dtype)))
        # fill value (v2, defined+default)
        msgs.append((0x0005, bytes([2, 2, 2, 0]) + struct.pack("<I", 0)))
        if deflate:
            fbody = bytes([1, 1]) + b"\x00" * 6
            fbody += struct.pack("<HHHH", 1, 0, 0, 1) + struct.pack("<I", deflate)
            msgs.append((0x000B, fbody))
        lay = bytes([3, 2, rank + 1]) + struct.pack("<Q", btree)
        lay += b"".join(struct.pack("<I", c) for c in cshape)
        lay += struct.pack("<I", arr.dtype.itemsize)
        msgs.append((0x0008, lay))
        mb = bytearray()
        for t, body in msgs:
            while len(body) % 8:
                body += b"\x00"
            mb += struct.pack("<HHB", t, len(body), 0) + b"\x00" * 3 + body
        pad8()
        oh = bytearray()
        oh += bytes([1, 0]) + struct.pack("<H", len(msgs))
        oh += struct.pack("<II", 1, len(mb))
        oh += b"\x00" * 4
        oh += mb
        oh_addr[n] = put(bytes(oh))

    # SNOD (one node: names must be in increasing heap order per spec;
    # our reader takes any order, keep insertion order)
    pad8()
    snod = bytearray(b"SNOD" + bytes([1, 0]) + struct.pack("<H", len(names)))
    for n in sorted(names):
        snod += struct.pack("<QQ", name_off[n], oh_addr[n])
        snod += struct.pack("<II", 0, 0) + b"\x00" * 16
    snod_addr = put(bytes(snod))

    # local heap
    pad8()
    heap_data_addr = len(buf) + 8 + 24
    heap = bytearray(b"HEAP" + bytes([0, 0, 0, 0]))
    heap += struct.pack("<QQQ", len(heap_data), len(heap_data), heap_data_addr)
    heap_addr = put(bytes(heap))
    put(bytes(heap_data))

    # group B-tree (1 entry → SNOD)
    pad8()
    tree = bytearray(b"TREE" + bytes([0, 0]) + struct.pack("<H", 1))
    tree += struct.pack("<QQ", UNDEF, UNDEF)
    tree += struct.pack("<Q", 0)  # key0
    tree += struct.pack("<Q", snod_addr)
    tree += struct.pack("<Q", name_off[sorted(names)[-1]])  # key1
    btree_addr = put(bytes(tree))

    # root object header: symbol table message
    pad8()
    stbody = struct.pack("<QQ", btree_addr, heap_addr)
    mb = struct.pack("<HHB", 0x0011, len(stbody), 0) + b"\x00" * 3 + stbody
    oh = bytearray()
    oh += bytes([1, 0]) + struct.pack("<H", 1)
    oh += struct.pack("<II", 1, len(mb))
    oh += b"\x00" * 4
    oh += mb
    root_oh = put(bytes(oh))

    # superblock v0
    sb = bytearray()
    sb += b"\x89HDF\r\n\x1a\n"
    sb += bytes([0, 0, 0, 0, 0, 8, 8, 0])
    sb += struct.pack("<HH", 4, 16)
    sb += struct.pack("<I", 0)
    sb += struct.pack("<QQQQ", 0, UNDEF, len(buf), UNDEF)
    sb += struct.pack("<QQ", 0, root_oh)
    sb += struct.pack("<II", 0, 0)  # cache type 0, reserved
    sb += b"\x00" * 16  # scratch
    buf[: len(sb)] = sb
    with open(path, "wb") as f:
        f.write(buf)
    return {"bytes": len(buf), "datasets": {n: oh_addr[n] for n in names}}
