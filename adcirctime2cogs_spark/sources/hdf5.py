"""Pure-Python HDF5 subset codec — enough to read (and write, for
fixtures) the HDF5 layout that NetCDF-4 files use. struct+numpy+zlib
only, no h5py / libhdf5.

This closes the engine's last input gap (SURVEY O1/O2): the reference
opens ADCIRC output through xarray (run/utilities/
adcirc_dask_utilities.py:36-44), which reads classic NetCDF-3 *and*
HDF5-backed NetCDF-4; ADCIRC can be built to emit either. Classic
NC-3 is handled by sources/netcdf3.py; this module handles the
NetCDF-4 side from the public "HDF5 File Format Specification"
(versions 1.0/2.0, hdfgroup.org) and the public NetCDF-4 data-model
conventions (dimension scales, Unidata netcdf-c docs):

    file        = superblock [objects...]
    superblock  = \\x89HDF\\r\\n\\x1a\\n + v0 (symbol-table root) |
                  v2/v3 (root object header address)
    object      = object header (v1 | v2 'OHDR') of typed messages:
                  dataspace, datatype, fill value, data layout
                  (compact/contiguous/chunked-v1-btree), filter
                  pipeline (deflate, shuffle), attribute, link,
                  symbol table, continuation
    group (v0)  = symbol-table message -> v1 B-tree ('TREE' type 0)
                  -> 'SNOD' symbol nodes + 'HEAP' local heap (names)
    group (v2)  = compact Link messages in the object header, or
                  DENSE storage past 8 links ('FRHP' fractal heap of
                  serialized Link messages + type-5 v2 B-tree name
                  index of lookup3-hash records)
    chunk index = v1 B-tree ('TREE' type 1): key = stored size,
                  filter mask, chunk offsets; child = chunk address
                  — or, for v4 layout messages (superblock-v3
                  "latest" files), a typed index: Single Chunk,
                  Implicit, Fixed Array ('FAHD'/'FADB'), Extensible
                  Array ('EAHD'/'EAIB'/'EASB'/'EADB' with the
                  2^(u//2)-data-blocks-per-super-block doubling
                  schedule)
    vlen attrs  = (len, gheap addr, index) triples -> 'GCOL' global
                  heap collections (how DIMENSION_LIST stores its
                  object references)

NetCDF-4 semantics on top (the same mapping netcdf-c uses):

  * a dataset with attribute CLASS = "DIMENSION_SCALE" is a
    dimension; NAME starting with "This is a netCDF dimension but
    not a netCDF variable" marks a dim with no coordinate variable;
  * every data variable carries DIMENSION_LIST, a vlen-of-object-
    reference attribute pointing at its dimensions' datasets;
  * the unlimited (record) dimension has max size H5_UNDEF;
  * _FillValue / missing_value -> NaN and CF "units since" time
    decoding follow the same rules as sources/netcdf3.py (shared
    helpers are imported from there).

The v1-btree chunk index is what makes the netcdf.py `adcirc_netcdf`
scan work on NetCDF-4 exactly like the classic format: the splitter
reads the B-tree once driver-side and emits one (t_idx, chunk offset,
stored bytes) task per chunk of the record variable — each task then
reads ONLY its compressed chunk bytes.

Fractal heaps (dense group links AND dense attributes — where
'latest' puts attributes past max_compact=8, e.g. the 15+ global
attributes of real ADCIRC output) decode with root direct, root
indirect, AND nested indirect blocks (payloads past the root
block's direct-row span recurse through child indirect blocks per
the doubling table) with deflate-filtered direct blocks
(_FractalHeap).

Dense-index v2 B-trees decode at ANY depth — the recursive walk
sizes internal-node child pointers with libhdf5's minimum-bytes
count encoding (_v2_btree_node_info), so one leaf, a root internal
node over leaves, and multi-level trees (tens of thousands of
links/attributes) all resolve.

Fractal heap IDs decode in all three flavors: managed (block
offset + length), tiny (payload embedded in the ID), and huge
(objects past the heap's max managed size — e.g. multi-KB history
attributes — via the type-1/2 huge-object v2 B-tree or embedded
(address, length) when the ID is wide enough, libhdf5's
H5HF__huge_init rule).

Fixed/Extensible Array chunk indexes decode PAGED data blocks too
(datasets past 2^10 chunks — the index layout multi-TB files
carry): FA blocks hold a page-init bitmap then 1024-element pages
with per-page checksums; paged EA blocks keep their bitmaps in the
parent super block.

Out-of-scope (typed UnsupportedHDF5Feature errors, not silent
wrong answers): extended tiny heap IDs (ID length > 17),
non-deflate heap filters, v2-B-TREE chunk indexes (two or more
unlimited dims — NetCDF-4 files have at most one), user-registered
chunk filters (the decoded filter subset is deflate=1, shuffle=2,
fletcher32=3, szip=4 — szip via the pure-Python CCSDS-121 codec in
sources/szip.py, whose own out-of-subset parameters [bits_per_pixel
not in 8/16/32, second-extension on a reference block] surface as
the same typed error), datatypes beyond
fixed/float/string/reference/vlen.
"""

from __future__ import annotations

import struct
import zlib
from dataclasses import dataclass, field
from functools import lru_cache

import numpy as np

H5_SIG = b"\x89HDF\r\n\x1a\n"
H5_UNDEF = 0xFFFFFFFFFFFFFFFF

# object header message types
MSG_NIL = 0x00
MSG_DATASPACE = 0x01
MSG_LINK_INFO = 0x02
MSG_DATATYPE = 0x03
MSG_FILL_OLD = 0x04
MSG_FILL = 0x05
MSG_LINK = 0x06
MSG_LAYOUT = 0x08
MSG_GROUP_INFO = 0x0A
MSG_FILTERS = 0x0B
MSG_ATTRIBUTE = 0x0C
MSG_ATTR_INFO = 0x15
MSG_CONTINUATION = 0x10
MSG_SYMBOL_TABLE = 0x11

FILTER_DEFLATE = 1
FILTER_SHUFFLE = 2
FILTER_FLETCHER32 = 3
FILTER_SZIP = 4

# Chunk-index creation parameters for "latest" layouts — the
# library's defaults for dataset chunk indexes (H5D earray/farray
# client parameters), restated in both the v4 layout message and the
# index headers.
_EA_MAX_BITS = 32     # max nelmts bits
_EA_IDX_ELMTS = 4     # elements stored inline in the index block
_EA_SUP_PTRS = 4      # super block min data pointers
_EA_MIN_ELMTS = 16    # data block min elements
_EA_PAGE_BITS = 10    # max data-block page nelmts bits
_FA_PAGE_BITS = 10

NC_DIM_PHONY_PREFIX = b"This is a netCDF dimension but not a netCDF variable"


class HDF5Error(ValueError):
    """Malformed or out-of-subset HDF5 structure."""


class NotHDF5(ValueError):
    """Bytes are not an HDF5 file (no signature)."""


class UnsupportedHDF5Feature(HDF5Error):
    """Valid HDF5, but using a feature OUTSIDE the built-in decoded
    subset (see the module docstring's out-of-scope list — e.g. the
    szip/CCSDS-121 compression filter). Distinct from the corrupt-
    file HDF5Error so callers can route "convert offline with
    h5repack/nccopy, or inject a decoder" guidance instead of "bad
    file" (VERDICT r09 #5)."""


def _fletcher32(data: bytes) -> int:
    """libhdf5's H5_checksum_fletcher32: Fletcher over big-endian
    16-bit words in 360-word blocks (fold to 16 bits after each
    block), odd trailing byte high-padded. Vectorized per block: with
    starting sums (s1, s2) and block prefix sums p_j,
    sum2' = s2 + t*s1 + sum(p_j) and sum1' = s1 + p_t."""
    n2 = len(data) // 2
    words = np.frombuffer(data, ">u2", count=n2).astype("uint64")
    sum1 = sum2 = 0
    for lo in range(0, n2, 360):
        blk = words[lo:lo + 360]
        csum = blk.cumsum()
        sum2 += len(blk) * sum1 + int(csum.sum())
        sum1 += int(csum[-1])
        sum1 = (sum1 & 0xFFFF) + (sum1 >> 16)
        sum2 = (sum2 & 0xFFFF) + (sum2 >> 16)
    if len(data) % 2:
        sum1 += data[-1] << 8
        sum2 += sum1
        sum1 = (sum1 & 0xFFFF) + (sum1 >> 16)
        sum2 = (sum2 & 0xFFFF) + (sum2 >> 16)
    for _ in range(2):  # reduce any residual carry to 16 bits
        sum1 = (sum1 & 0xFFFF) + (sum1 >> 16)
        sum2 = (sum2 & 0xFFFF) + (sum2 >> 16)
    return (sum2 << 16) | sum1


# ---------------------------------------------------------------- I/O
class _Src:
    """Random access over bytes or a filesystem path (lazy for paths —
    a multi-GB .nc never has to be resident to plan splits)."""

    def __init__(self, src):
        if isinstance(src, (bytes, bytearray, memoryview)):
            self._buf, self._path = bytes(src), None
        else:
            from adcirctime2cogs_spark.sources.netcdf3 import _fs_path

            self._buf, self._path = None, _fs_path(str(src))

    def read(self, off: int, n: int) -> bytes:
        b = self.read_prefix(off, n)
        if len(b) != n:
            raise HDF5Error(f"short read at {off}+{n} (got {len(b)})")
        return b

    def read_prefix(self, off: int, n: int) -> bytes:
        """Up to n bytes — for signature probes on possibly-tiny files."""
        if self._buf is not None:
            return self._buf[off:off + n]
        with open(self._path, "rb") as f:
            f.seek(off)
            return f.read(n)


def _u16(b, o=0):
    return struct.unpack_from("<H", b, o)[0]


def _u32(b, o=0):
    return struct.unpack_from("<I", b, o)[0]


def _u64(b, o=0):
    return struct.unpack_from("<Q", b, o)[0]


# ------------------------------------------------------- superblock
def _parse_superblock(s: _Src) -> int:
    """Returns the root group object header address."""
    head = s.read_prefix(0, 96)
    if head[:8] != H5_SIG:
        raise NotHDF5("no HDF5 signature")
    if len(head) < 9:
        raise HDF5Error("file shorter than a superblock")
    ver = head[8]
    # v0/v1 superblocks span 96/100 bytes (root symbol-table entry at
    # the end); v2/v3 are 48 bytes
    if len(head) < (96 if ver in (0, 1) else 48):
        raise HDF5Error("file shorter than a superblock")
    if ver in (0, 1):
        so, sl = head[13], head[14]
        if (so, sl) != (8, 8):
            raise HDF5Error(f"unsupported offset/length sizes {so}/{sl}")
        base_off = 24 if ver == 0 else 28  # v1 inserts 4 bytes
        base = _u64(head, base_off)
        # root group symbol table entry: link name offset, OHDR addr
        return base + _u64(head, base_off + 32 + 8)
    if ver in (2, 3):
        if (head[9], head[10]) != (8, 8):
            raise HDF5Error("unsupported offset/length sizes")
        base = _u64(head, 12)
        return base + _u64(head, 12 + 24)
    raise HDF5Error(f"unsupported superblock version {ver}")


# ---------------------------------------------------- object headers
def _parse_ohdr(s: _Src, addr: int) -> list[tuple[int, bytes]]:
    """All (type, body) messages of one object header, v1 or v2,
    continuations followed."""
    probe = s.read(addr, 6)
    if probe[:4] == b"OHDR":
        return _parse_ohdr_v2(s, addr)
    if probe[0] != 1:
        raise HDF5Error(f"unsupported object header version {probe[0]}")
    hd = s.read(addr, 16)
    nmsgs, hsize = _u16(hd, 2), _u32(hd, 8)
    msgs: list[tuple[int, bytes]] = []
    blocks = [(addr + 16, hsize)]
    seen: set[tuple[int, int]] = set()
    while blocks and len(msgs) < nmsgs:
        boff, blen = blocks.pop(0)
        if (boff, blen) in seen:  # self-referencing continuation
            raise HDF5Error("object header continuation cycle")
        seen.add((boff, blen))
        buf, p = s.read(boff, blen), 0
        while p + 8 <= blen and len(msgs) < nmsgs:
            mtype, msize = _u16(buf, p), _u16(buf, p + 2)
            body = buf[p + 8:p + 8 + msize]
            p += 8 + msize
            if mtype == MSG_CONTINUATION:
                blocks.append((_u64(body, 0), _u64(body, 8)))
            else:
                msgs.append((mtype, body))
    return msgs


def _parse_ohdr_v2(s: _Src, addr: int) -> list[tuple[int, bytes]]:
    hd = s.read(addr, 16)
    if hd[:4] != b"OHDR" or hd[4] != 2:
        raise HDF5Error("bad v2 object header")
    flags = hd[5]
    p = 6
    if flags & 0x20:
        p += 16  # timestamps
    if flags & 0x10:
        p += 4  # max compact / min dense attr counts
    szlen = 1 << (flags & 0x03)
    raw = s.read(addr, p + szlen)
    size0 = int.from_bytes(raw[p:p + szlen], "little")
    p += szlen
    track_corder = bool(flags & 0x04)
    msgs: list[tuple[int, bytes]] = []
    blocks = [(addr + p, size0)]
    hdrlen = 4 + (2 if track_corder else 0)
    seen: set[tuple[int, int]] = set()
    while blocks:
        boff, blen = blocks.pop(0)
        if (boff, blen) in seen:  # self-referencing continuation
            raise HDF5Error("object header continuation cycle")
        seen.add((boff, blen))
        buf = s.read(boff, blen)
        if buf[:4] == b"OCHK":  # continuation block: sig + msgs + cksum
            buf = buf[4:-4]
            blen = len(buf)
        q = 0
        while q + hdrlen <= blen:
            mtype, msize = buf[q], _u16(buf, q + 1)
            if mtype == MSG_NIL and msize == 0 and blen - q < 8:
                break  # trailing gap
            body = buf[q + hdrlen:q + hdrlen + msize]
            q += hdrlen + msize
            if mtype == MSG_CONTINUATION:
                blocks.append((_u64(body, 0), _u64(body, 8)))
            else:
                msgs.append((mtype, body))
    return msgs


# ------------------------------------------------------- messages
def _parse_dataspace(b: bytes) -> tuple[tuple[int, ...], tuple[int, ...]]:
    ver = b[0]
    rank, flags = b[1], b[2]
    p = 8 if ver == 1 else 4
    dims = tuple(_u64(b, p + 8 * i) for i in range(rank))
    p += 8 * rank
    if flags & 1:
        maxdims = tuple(_u64(b, p + 8 * i) for i in range(rank))
    else:
        maxdims = dims
    return dims, maxdims


@dataclass
class _DType:
    h5class: int
    size: int
    byteorder: str = "<"
    signed: bool = True
    base: "_DType | None" = None  # vlen element type
    nbytes_encoded: int = 8  # consumed bytes (for nested parsing)

    @property
    def np_dtype(self) -> np.dtype:
        if self.h5class == 0:
            return np.dtype(f"{self.byteorder}{'i' if self.signed else 'u'}{self.size}")
        if self.h5class == 1:
            return np.dtype(f"{self.byteorder}f{self.size}")
        if self.h5class == 3:
            return np.dtype(f"S{self.size}")
        if self.h5class == 7:
            return np.dtype("<u8")  # object reference = file address
        raise HDF5Error(f"no numpy dtype for HDF5 class {self.h5class}")


def _parse_datatype(b: bytes) -> _DType:
    cls = b[0] & 0x0F
    bits0 = b[1]
    size = _u32(b, 4)
    order = ">" if (bits0 & 1) else "<"
    if cls == 0:  # fixed-point
        return _DType(0, size, order, signed=bool(bits0 & 0x08))
    if cls == 1:  # float
        return _DType(1, size, order)
    if cls == 3:  # string
        return _DType(3, size)
    if cls == 7:  # reference
        return _DType(7, size)
    if cls == 9:  # variable-length; base type encoding follows
        base = _parse_datatype(b[8:])
        dt = _DType(9, size, base=base)
        dt.nbytes_encoded = 8 + base.nbytes_encoded
        return dt
    raise HDF5Error(f"unsupported datatype class {cls}")


def _parse_fill(b: bytes):
    ver = b[0]
    if ver in (1, 2):
        if b[3] != 1:  # not defined
            return None
        n = _u32(b, 4)
        return b[8:8 + n] if n else None
    if ver == 3:
        if not (b[1] & 0x20):
            return None
        n = _u32(b, 2)
        return b[6:6 + n] if n else None
    raise HDF5Error(f"unsupported fill value version {ver}")


def _parse_filters(b: bytes) -> list[tuple[int, tuple[int, ...]]]:
    ver, nf = b[0], b[1]
    out = []
    p = 8 if ver == 1 else 2
    for _ in range(nf):
        fid = _u16(b, p)
        if ver == 1 or fid >= 256:
            namelen = _u16(b, p + 2)
            p += 2
        else:
            namelen = 0
        flags, ncv = _u16(b, p + 2), _u16(b, p + 4)
        p += 6
        if ver == 1:
            namelen = (namelen + 7) & ~7 if namelen else 0
        p += namelen
        cvals = tuple(_u32(b, p + 4 * i) for i in range(ncv))
        p += 4 * ncv
        if ver == 1 and ncv % 2:
            p += 4
        out.append((fid, cvals))
    return out


@dataclass
class _Layout:
    kind: str  # compact | contiguous | chunked
    data: bytes | None = None
    addr: int = H5_UNDEF
    size: int = 0
    chunk: tuple[int, ...] = ()
    btree: int = H5_UNDEF
    # --- v4 ("latest") chunked layouts only ---
    idx_type: int = 0  # 1 single | 2 implicit | 3 fixed arr | 4 ext arr
    single_nbytes: int = 0  # filtered single-chunk stored size
    single_mask: int = 0  # ...and its filter mask


def _parse_layout(b: bytes) -> _Layout:
    ver = b[0]
    if ver not in (3, 4):
        raise HDF5Error(f"unsupported data layout version {ver}")
    cls = b[1]
    if cls == 0:  # compact
        n = _u16(b, 2)
        return _Layout("compact", data=b[4:4 + n])
    if cls == 1 and ver == 3:  # contiguous
        return _Layout("contiguous", addr=_u64(b, 2), size=_u64(b, 10))
    if cls == 1:  # v4 contiguous: same fields after the version/class
        return _Layout("contiguous", addr=_u64(b, 2), size=_u64(b, 10))
    if cls == 2 and ver == 3:  # chunked, v1 B-tree index
        rank = b[2]  # dataset rank + 1 (element-size dim)
        btree = _u64(b, 3)
        dims = tuple(_u32(b, 11 + 4 * i) for i in range(rank))
        return _Layout("chunked", btree=btree, chunk=dims[:-1])
    if cls == 2:  # v4 chunked ("latest"): typed chunk index
        flags, ndims, enc = b[2], b[3], b[4]
        p = 5
        dims = []
        for _ in range(ndims):
            dims.append(int.from_bytes(b[p:p + enc], "little"))
            p += enc
        idx_type = b[p]
        p += 1
        single_nbytes = single_mask = 0
        if idx_type == 1:  # single chunk
            if flags & 0x02:  # SINGLE_INDEX_WITH_FILTER
                single_nbytes = _u64(b, p)
                single_mask = _u32(b, p + 8)
                p += 12
        elif idx_type == 2:  # implicit
            pass
        elif idx_type == 3:  # fixed array: page bits
            p += 1
        elif idx_type == 4:  # extensible array: 5 creation params
            # (max nelmts bits, index blk elmts, sup blk min ptrs,
            # data blk min elmts, max dblk page nelmts bits) — the
            # reader takes them from the EAHD instead, which restates
            # them; skipping keeps one source of truth
            p += 5
        else:
            raise HDF5Error(
                f"unsupported chunk index type {idx_type} "
                "(v2 B-tree chunk indexes are out of scope)"
            )
        return _Layout(
            "chunked",
            addr=_u64(b, p),
            chunk=tuple(dims[:-1]),  # last dim = element size (v3 conv.)
            idx_type=idx_type,
            single_nbytes=single_nbytes,
            single_mask=single_mask,
        )
    raise HDF5Error(f"unsupported layout class {cls}")


def _parse_attribute(b: bytes, s: _Src):
    ver = b[0]
    if ver == 1:
        nsize, dtsize, dssize = _u16(b, 2), _u16(b, 4), _u16(b, 6)
        p = 8

        def padded(n):
            return (n + 7) & ~7
    elif ver in (2, 3):
        flags = b[1]
        if flags & 0x03:
            raise HDF5Error("shared attribute datatype/dataspace unsupported")
        nsize, dtsize, dssize = _u16(b, 2), _u16(b, 4), _u16(b, 6)
        p = 8 + (1 if ver == 3 else 0)

        def padded(n):
            return n
    else:
        raise HDF5Error(f"unsupported attribute version {ver}")
    name = b[p:p + nsize].split(b"\x00")[0]
    p += padded(nsize)
    dt = _parse_datatype(b[p:p + dtsize])
    p += padded(dtsize)
    dims, _ = _parse_dataspace(b[p:p + dssize])
    p += padded(dssize)
    n_elem = int(np.prod(dims)) if dims else 1
    data = b[p:p + n_elem * dt.size]
    return name.decode("utf-8", "replace"), _attr_value(dt, dims, data, s)


def _attr_value(dt: _DType, dims, data: bytes, s: _Src):
    if dt.h5class == 3:
        return data.split(b"\x00")[0].decode("utf-8", "replace")
    if dt.h5class == 9:
        # vlen: per element (len u32, gheap addr u64, index u32)
        out = []
        for i in range(int(np.prod(dims)) if dims else 1):
            n, gaddr, gidx = struct.unpack_from("<IQI", data, 16 * i)
            payload = _gheap_object(s, gaddr, gidx)
            base = dt.base
            vals = np.frombuffer(
                payload[: n * base.size], dtype=base.np_dtype
            )
            out.append([int(v) for v in vals])
        return out
    arr = np.frombuffer(data, dtype=dt.np_dtype)
    if not dims and arr.size == 1:
        v = arr[0]
        return int(v) if dt.h5class == 0 else float(v)
    return arr


def _gheap_object(s: _Src, gaddr: int, gidx: int) -> bytes:
    """One object from a 'GCOL' global heap collection."""
    hd = s.read(gaddr, 16)
    if hd[:4] != b"GCOL":
        raise HDF5Error(f"no GCOL signature at {gaddr}")
    total = _u64(hd, 8)
    buf = s.read(gaddr, total)
    p = 16
    while p + 16 <= total:
        idx, _ref = _u16(buf, p), _u16(buf, p + 2)
        osize = _u64(buf, p + 8)
        if idx == gidx:
            return buf[p + 16:p + 16 + osize]
        if idx == 0:  # free space: spans the rest
            break
        p += 16 + ((osize + 7) & ~7)
    raise HDF5Error(f"global heap object {gidx} not found at {gaddr}")


# -------------------------------------------------------- group walk
def _walk_group(s: _Src, msgs: list[tuple[int, bytes]]) -> dict[str, int]:
    """name -> object header address for one group's links."""
    out: dict[str, int] = {}
    for t, b in msgs:
        if t == MSG_SYMBOL_TABLE:
            btree, heap = _u64(b, 0), _u64(b, 8)
            heap_hd = s.read(heap, 32)
            if heap_hd[:4] != b"HEAP":
                raise HDF5Error("bad local heap signature")
            heap_data_addr = _u64(heap_hd, 24)
            for name_off, ohdr in _walk_group_btree(s, btree):
                raw = s.read(heap_data_addr + name_off, 256)
                out[raw.split(b"\x00")[0].decode()] = ohdr
        elif t == MSG_LINK:
            name, ohdr = _parse_link(b)
            if ohdr is not None:
                out[name] = ohdr
        elif t == MSG_LINK_INFO:
            ver_flags = b[1]
            p = 2 + (8 if ver_flags & 1 else 0)
            fheap = _u64(b, p)
            name_btree = _u64(b, p + 8)
            if fheap != H5_UNDEF:
                out.update(_dense_group_links(s, fheap, name_btree))
    return out


class _FractalHeap:
    """Managed-object reads from an HDF5 fractal heap (the storage
    behind dense group links and dense attributes in libhdf5 'latest'
    files). Supported geometry: root DIRECT block, root INDIRECT
    block, and NESTED indirect blocks (doubling-table rows past
    max_direct_rows recurse into child indirect blocks, the layout
    heaps grow into once the payload outlives the root block's
    direct-row span), with optional deflate-filtered direct blocks.
    IDs resolve in all three flavors through fetch(): managed, tiny
    (payload in the ID), and huge (huge-object v2 B-tree or embedded
    address). Extended tiny IDs and non-deflate heap filters raise
    clear typed errors."""

    def __init__(self, s: _Src, addr: int):
        self._s = s
        hd = s.read(addr, 146)
        if hd[:4] != b"FRHP" or hd[4] != 0:
            raise HDF5Error("bad fractal heap header")
        self.addr = addr
        self.heap_id_len = _u16(hd, 5)
        filt_len = _u16(hd, 7)
        self.checksummed = bool(hd[9] & 0x02)
        self.max_man_obj = _u32(hd, 10)
        self.huge_btree = _u64(hd, 22)
        self._huge_recs: dict[int, tuple] | None = None
        self.width = _u16(hd, 110)
        self.start_size = _u64(hd, 112)
        self.max_direct = _u64(hd, 120)
        self.max_heap_bits = _u16(hd, 128)
        self.off_size = (self.max_heap_bits + 7) // 8
        self.len_size = self.heap_id_len - 1 - self.off_size
        if self.len_size <= 0:
            raise HDF5Error(
                f"fractal heap ID length {self.heap_id_len} inconsistent "
                f"with {self.max_heap_bits}-bit heap offsets"
            )
        self.root_addr = _u64(hd, 132)
        self.cur_rows = _u16(hd, 140)
        self.filtered = filt_len > 0
        self.root_filtered_size = 0
        self.root_filter_mask = 0
        if self.filtered:
            # libhdf5's header codec stores the filtered-root
            # size/mask pair UNCONDITIONALLY when the filter encoded
            # length is nonzero (H5HFcache header deserialize) — for
            # a root indirect block the size field is simply unused
            # (per-child stored sizes live in the FHIB entries)
            tail = s.read(addr + 142, 12 + filt_len)
            self.root_filtered_size = _u64(tail, 0)
            self.root_filter_mask = _u32(tail, 8)
            filters = _parse_filters(tail[12:12 + filt_len])
            if self.cur_rows == 0 and not self.root_filtered_size:
                raise HDF5Error(
                    "filtered fractal heap: zero stored size for the "
                    "root direct block"
                )
            bad = [fid for fid, _ in filters if fid != FILTER_DEFLATE]
            if bad:
                raise HDF5Error(
                    f"fractal heap filter ids {bad} are out of scope "
                    f"(deflate only)"
                )
        if not self.start_size or (self.max_direct < self.start_size):
            raise HDF5Error("bad fractal heap doubling table")
        import math

        self.max_direct_rows = (
            int(math.log2(self.max_direct) - math.log2(self.start_size)) + 2
        )
        self._fhib_checked: set[int] = set()

    def _row_size(self, r: int) -> int:
        return self.start_size if r < 2 else self.start_size << (r - 1)

    def _read_direct(self, addr: int, nominal: int, virt: int,
                     stored: int | None) -> bytes:
        if addr == H5_UNDEF:
            raise HDF5Error(
                f"fractal heap ID points into an unallocated direct "
                f"block at virtual offset {virt}"
            )
        if self.filtered:
            try:
                raw = zlib.decompress(self._s.read(addr, stored))
            except zlib.error as exc:
                raise HDF5Error(
                    f"corrupt filtered fractal-heap block: {exc}"
                ) from exc
            if len(raw) != nominal:
                raise HDF5Error(
                    f"filtered fractal-heap block inflated to {len(raw)} "
                    f"bytes, expected {nominal}"
                )
        else:
            raw = self._s.read(addr, nominal)
        if raw[:4] != b"FHDB" or raw[4] != 0:
            raise HDF5Error("bad fractal heap direct block")
        if _u64(raw, 5) != self.addr:
            raise HDF5Error("fractal heap direct block points elsewhere")
        blk_off = int.from_bytes(raw[13:13 + self.off_size], "little")
        if blk_off != virt:
            raise HDF5Error(
                f"fractal heap direct block at virtual {blk_off}, "
                f"expected {virt}"
            )
        return raw

    def _iblock_nrows(self, covered: int) -> int:
        """Rows of an indirect block covering `covered` bytes of
        virtual space (H5HF__dtable_size_to_rows): log2(covered) -
        (log2(start_size) + log2(width)) + 1. Doubling-table row
        spans are width * row_size(r), so `covered` is always an
        exact power-of-two multiple of width * start_size."""
        first_row_bits = (
            (self.start_size.bit_length() - 1)
            + (self.width.bit_length() - 1)
        )
        return (covered.bit_length() - 1) - first_row_bits + 1

    def _iblock_entry(self, iblk_addr: int, nrows: int, virt: int,
                      idx: int) -> tuple[int, int | None]:
        """(child address, stored size if filtered-direct) for entry
        idx of the indirect block at iblk_addr. Direct-row entries
        carry (address[, stored size + filter mask]); indirect-row
        entries (rows past max_direct_rows) carry the child indirect
        block's address only — heap filters apply to direct blocks.
        Headers are validated once per block, not per fetch — a dense
        group/attribute walk calls this for every object."""
        head_sz = 4 + 1 + 8 + self.off_size
        if iblk_addr not in self._fhib_checked:
            raw = self._s.read(iblk_addr, head_sz)
            if raw[:4] != b"FHIB" or raw[4] != 0:
                raise HDF5Error("bad fractal heap indirect block")
            if _u64(raw, 5) != self.addr:
                raise HDF5Error(
                    "fractal heap indirect block points elsewhere"
                )
            blk_off = int.from_bytes(
                raw[13:13 + self.off_size], "little"
            )
            if blk_off != virt:
                raise HDF5Error(
                    f"fractal heap indirect block at virtual "
                    f"{blk_off}, expected {virt}"
                )
            self._fhib_checked.add(iblk_addr)
        dir_sz = 8 + (12 if self.filtered else 0)
        n_direct = min(nrows, self.max_direct_rows) * self.width
        if idx < n_direct:
            p = head_sz + idx * dir_sz
            ent = self._s.read(iblk_addr + p, dir_sz)
            addr = _u64(ent, 0)
            stored = _u64(ent, 8) if self.filtered else None
            return addr, stored
        p = head_sz + n_direct * dir_sz + (idx - n_direct) * 8
        return _u64(self._s.read(iblk_addr + p, 8), 0), None

    def _locate(self, off: int, ln: int, iblk_addr: int, nrows: int,
                base: int) -> bytes:
        """Managed object bytes at virtual offset `off` under the
        indirect block at iblk_addr covering rows 0..nrows-1 of the
        doubling table rebased at `base` — recursing through nested
        indirect rows (rows past max_direct_rows, where real libhdf5
        heaps land once the payload outgrows the root block's
        direct-row span)."""
        virt = base
        for r in range(nrows):
            size = self._row_size(r)
            span = self.width * size
            if off < virt + span:
                col = (off - virt) // size
                blk_virt = virt + col * size
                addr, stored = self._iblock_entry(
                    iblk_addr, nrows, base, r * self.width + col
                )
                if r < self.max_direct_rows:
                    if ln == 0 or off - blk_virt + ln > size:
                        raise HDF5Error(
                            f"fractal heap ID ({off}, {ln}) crosses "
                            f"its direct block of {size} bytes"
                        )
                    blk = self._read_direct(addr, size, blk_virt, stored)
                    rel = off - blk_virt
                    return blk[rel:rel + ln]
                if addr == H5_UNDEF:
                    raise HDF5Error(
                        f"fractal heap ID points into an unallocated "
                        f"child indirect block at virtual {blk_virt}"
                    )
                return self._locate(
                    off, ln, addr, self._iblock_nrows(size), blk_virt
                )
            virt += span
        raise HDF5Error(
            f"fractal heap ID offset {off} beyond the indirect "
            f"block's {nrows} rows"
        )

    def get(self, off: int, ln: int) -> bytes:
        """Managed object bytes at virtual heap offset `off`."""
        if self.cur_rows == 0:
            # root is one direct block of the starting size; virtual
            # offset 0 is the block start (its header occupies the
            # first bytes of the managed space)
            if ln == 0 or off + ln > self.start_size:
                raise HDF5Error(
                    f"fractal heap ID ({off}, {ln}) outside the root "
                    f"direct block of {self.start_size} bytes"
                )
            blk = self._read_direct(
                self.root_addr, self.start_size, 0,
                self.root_filtered_size if self.filtered else None,
            )
            return blk[off:off + ln]
        return self._locate(off, ln, self.root_addr, self.cur_rows, 0)

    def managed_id(self, hid: bytes) -> tuple[int, int]:
        """(offset, length) from a managed heap ID."""
        if (hid[0] >> 4) & 0x3 != 0:
            raise HDF5Error("not a managed fractal heap ID")
        off = int.from_bytes(hid[1:1 + self.off_size], "little")
        ln = int.from_bytes(
            hid[1 + self.off_size:1 + self.off_size + self.len_size],
            "little",
        )
        return off, ln

    def _huge(self, hid: bytes) -> bytes:
        """Huge-object bytes (objects past the heap's max managed
        size, e.g. a multi-KB 'history' attribute under dense
        storage). Whether the ID embeds (address, length) directly or
        keys into the huge-object v2 B-tree is a pure function of the
        ID length vs the field widths — libhdf5's H5HF__huge_init
        rule — so both reader and writer derive it identically. The
        default 8-byte dense-storage IDs always go through the B-tree
        (type 1 records, or type 2 with per-object filter fields when
        the heap is filtered)."""
        id_body = self.heap_id_len - 1
        direct = id_body >= (8 + 8 + 4 + 8 if self.filtered else 8 + 8)
        if direct:
            obj_addr = _u64(hid, 1)
            stored = _u64(hid, 9)
            if not self.filtered:
                return self._s.read(obj_addr, stored)
            mem = _u64(hid, 21)
            raw = zlib.decompress(self._s.read(obj_addr, stored))
            if len(raw) != mem:
                raise HDF5Error(
                    f"filtered huge object inflated to {len(raw)} "
                    f"bytes, expected {mem}"
                )
            return raw
        if self.huge_btree == H5_UNDEF:
            raise HDF5Error(
                "huge fractal-heap ID but the heap has no huge-object "
                "B-tree"
            )
        if self._huge_recs is None:
            btype = 2 if self.filtered else 1
            recs: dict[int, tuple] = {}
            for rec in _v2_btree_records(self._s, self.huge_btree, btype):
                if self.filtered:
                    # address, stored length, filter mask, memory
                    # size, huge object ID
                    recs[_u64(rec, 28)] = (
                        _u64(rec, 0), _u64(rec, 8), _u64(rec, 20)
                    )
                else:
                    recs[_u64(rec, 16)] = (_u64(rec, 0), _u64(rec, 8),
                                           None)
            self._huge_recs = recs
        want = int.from_bytes(hid[1:1 + min(id_body, 8)], "little")
        hit = self._huge_recs.get(want)
        if hit is None:
            raise HDF5Error(
                f"huge object id {want} not in the huge-object B-tree"
            )
        obj_addr, stored, mem = hit
        raw = self._s.read(obj_addr, stored)
        if self.filtered:
            raw = zlib.decompress(raw)
            if len(raw) != mem:
                raise HDF5Error(
                    f"filtered huge object inflated to {len(raw)} "
                    f"bytes, expected {mem}"
                )
        return raw

    def fetch(self, hid: bytes) -> bytes:
        """Object bytes for ANY fractal heap ID: managed (offset into
        the block structure), tiny (payload embedded in the ID
        itself), or huge (past max_man_obj; via the huge-object
        B-tree or embedded address per _huge)."""
        if hid[0] >> 6:
            raise HDF5Error(
                f"fractal heap ID version {hid[0] >> 6}, expected 0"
            )
        typ = (hid[0] >> 4) & 0x3
        if typ == 0:
            return self.get(*self.managed_id(hid))
        if typ == 1:
            return self._huge(hid)
        if typ == 2:
            if self.heap_id_len - 1 > 16:
                raise HDF5Error(
                    "extended tiny fractal-heap IDs (ID length > 17) "
                    "are out of scope"
                )
            ln = (hid[0] & 0x0F) + 1
            return bytes(hid[1:1 + ln])
        raise HDF5Error("fractal heap ID type 3 is reserved")


def _v2_btree_max_leaf_nrec(node_size: int, rec_size: int) -> int:
    """Leaf record capacity: node bytes minus the 10-byte leaf
    overhead (sig 4 + version 1 + type 1 + checksum 4)."""
    return (node_size - 10) // rec_size


def _limit_enc_size(limit: int) -> int:
    """Minimum bytes to store values 0..limit (H5VM_limit_enc_size)."""
    return ((max(limit, 1).bit_length() - 1) // 8) + 1


def _v2_btree_node_info(node_size: int, rec_size: int, depth: int):
    """Per-depth node capacities for a v2 B-tree, mirroring libhdf5's
    H5B2__hdr_init arithmetic — needed to size internal-node child
    pointers, which carry the child's record count in
    `_limit_enc_size(leaf capacity)` bytes (the leaf holds the most
    records of any node type) plus, above depth 1, the child
    SUBTREE's total record count in `_limit_enc_size(cumulative
    capacity at the child's depth)` bytes.

    Returns (max_nrec, cum_max_nrec, cum_size, nrec_size) where the
    three lists are indexed by node depth 0..depth."""
    max_nrec = [(node_size - 10) // rec_size]
    cum = [max_nrec[0]]
    cum_size = [0]
    nrec_size = _limit_enc_size(max_nrec[0])
    for d in range(1, depth + 1):
        ptr = 8 + nrec_size + (cum_size[d - 1] if d > 1 else 0)
        mn = (node_size - (10 + ptr)) // (rec_size + ptr)
        if mn <= 0:
            raise HDF5Error(
                f"v2 B-tree node size {node_size} cannot hold an "
                f"internal node at depth {d}"
            )
        max_nrec.append(mn)
        cum.append((mn + 1) * cum[d - 1] + mn)
        cum_size.append(_limit_enc_size(cum[d]))
    return max_nrec, cum, cum_size, nrec_size


def _v2_btree_records(s: _Src, addr: int, expect_type: int):
    """v2 B-tree records in tree order, for the dense-link name index
    (type 5), the dense-attribute name index (type 8), and the
    huge-object index (types 1/2). Any depth decodes: depth 0 is one
    leaf, depth 1 a root 'BTIN' internal node over leaves (~185 link
    records per 2048-byte leaf — hundreds to ~19k links), depth d a
    recursive descent where each internal node's child pointers are
    (address, child node record count[, child subtree total above
    depth 1]) with libhdf5's minimum-bytes count encoding."""
    hd = s.read(addr, 38)
    if hd[:4] != b"BTHD" or hd[4] != 0:
        raise HDF5Error("bad v2 B-tree header")
    btype = hd[5]
    if btype != expect_type:
        raise HDF5Error(
            f"v2 B-tree type {btype}, expected {expect_type}"
        )
    node_size = _u32(hd, 6)
    rec_size = _u16(hd, 10)
    depth = _u16(hd, 12)
    root_nrec = _u16(hd, 24)
    root_addr = _u64(hd, 16)
    max_nrec, _cum, cum_size, nrec_size = _v2_btree_node_info(
        node_size, rec_size, depth
    )

    def walk(node_addr: int, nrec: int, d: int):
        if d == 0:
            leaf = s.read(node_addr, 6 + nrec * rec_size + 4)
            if leaf[:4] != b"BTLF" or leaf[4] != 0:
                raise HDF5Error("bad v2 B-tree leaf")
            if leaf[5] != expect_type:
                raise HDF5Error("v2 B-tree leaf of the wrong type")
            for i in range(nrec):
                yield leaf[6 + i * rec_size:6 + (i + 1) * rec_size]
            return
        # internal node: records 0..N-1 then N+1 child pointers
        ptr_size = 8 + nrec_size + (cum_size[d - 1] if d > 1 else 0)
        node = s.read(
            node_addr, 6 + nrec * rec_size + (nrec + 1) * ptr_size + 4
        )
        if node[:4] != b"BTIN" or node[4] != 0:
            raise HDF5Error("bad v2 B-tree internal node")
        if node[5] != expect_type:
            raise HDF5Error("v2 B-tree internal node of the wrong type")
        recs = [
            node[6 + i * rec_size:6 + (i + 1) * rec_size]
            for i in range(nrec)
        ]
        base = 6 + nrec * rec_size
        for i in range(nrec + 1):
            p = base + i * ptr_size
            caddr = _u64(node, p)
            cnt = int.from_bytes(node[p + 8:p + 8 + nrec_size], "little")
            if cnt > max_nrec[d - 1]:
                raise HDF5Error(
                    f"v2 B-tree child claims {cnt} records, depth-"
                    f"{d - 1} capacity {max_nrec[d - 1]}"
                )
            yield from walk(caddr, cnt, d - 1)
            if i < nrec:
                yield recs[i]

    yield from walk(root_addr, root_nrec, depth)


def _dense_group_links(s: _Src, fheap_addr: int,
                       btree_addr: int) -> dict[str, int]:
    """Dense (fractal-heap) group storage — what libhdf5 'latest'
    switches to past 8 links, i.e. every real multi-variable NetCDF-4
    file written with libver='latest': the Link Info message points
    at a fractal heap holding the serialized Link messages and a v2
    B-tree (type 5, name index) of (name hash, heap ID) records.
    The heap may be root-direct, root-indirect, or nested-indirect
    and deflate-filtered, and IDs may be managed/tiny/huge
    (_FractalHeap.fetch); the B-tree decodes at any depth."""
    heap = _FractalHeap(s, fheap_addr)
    out: dict[str, int] = {}
    for rec in _v2_btree_records(s, btree_addr, 5):
        hid = rec[4:4 + heap.heap_id_len]  # after the 4-byte name hash
        # bounds are re-checked inside fetch() so a malformed record
        # raises HDF5Error (the error type netcdf.py's library
        # fallback catches), never an IndexError out of _parse_link
        name, ohdr = _parse_link(heap.fetch(hid))
        if ohdr is not None:
            out[name] = ohdr
    return out


def _dense_attributes(s: _Src, msg_body: bytes) -> list[tuple[str, object]]:
    """Dense attribute storage (Attribute Info message 0x15) — where
    libhdf5 'latest' moves attributes past max_compact (default 8),
    e.g. the 15+ global attributes of a real ADCIRC output file: a
    fractal heap of serialized Attribute messages plus a v2 B-tree
    (type 8, name index) whose records carry an 8-byte heap ID,
    message flags, creation order, and name hash."""
    flags = msg_body[1]
    p = 2 + (2 if flags & 0x01 else 0)
    fheap_addr = _u64(msg_body, p)
    name_btree = _u64(msg_body, p + 8)
    if fheap_addr == H5_UNDEF or name_btree == H5_UNDEF:
        return []
    heap = _FractalHeap(s, fheap_addr)
    if heap.heap_id_len != 8:
        raise HDF5Error(
            f"dense-attribute heap ID length {heap.heap_id_len}, "
            f"expected 8"
        )
    out: list[tuple[str, object]] = []
    for rec in _v2_btree_records(s, name_btree, 8):
        if rec[8] & 0x03:
            raise HDF5Error("shared dense attribute messages unsupported")
        out.append(_parse_attribute(heap.fetch(rec[0:8]), s))
    return out


def _walk_group_btree(s: _Src, addr: int):
    hd = s.read(addr, 24)
    if hd[:4] != b"TREE" or hd[4] != 0:
        raise HDF5Error("bad group B-tree node")
    level, n = hd[5], _u16(hd, 6)
    body = s.read(addr + 24, (n + 1) * 8 + n * 8)
    children = [_u64(body, 8 + i * 16) for i in range(n)]
    for child in children:
        if level > 0:
            yield from _walk_group_btree(s, child)
        else:
            snod = s.read(child, 8)
            if snod[:4] != b"SNOD":
                raise HDF5Error("bad symbol node signature")
            nsym = _u16(snod, 6)
            ents = s.read(child + 8, nsym * 40)
            for i in range(nsym):
                yield _u64(ents, 40 * i), _u64(ents, 40 * i + 8)


def _parse_link(b: bytes):
    ver, flags = b[0], b[1]
    if ver != 1:
        raise HDF5Error(f"unsupported link message version {ver}")
    p = 2
    ltype = 0
    if flags & 0x08:
        ltype = b[p]
        p += 1
    if flags & 0x04:
        p += 8  # creation order
    if flags & 0x10:
        p += 1  # charset
    lsize = 1 << (flags & 0x03)
    namelen = int.from_bytes(b[p:p + lsize], "little")
    p += lsize
    name = b[p:p + namelen].decode()
    p += namelen
    if ltype != 0:
        return name, None  # soft/external links: not objects
    return name, _u64(b, p)


# ----------------------------------------------------- chunk B-tree
def _walk_chunk_btree(s: _Src, addr: int, rank: int):
    """Yield (offsets, chunk_addr, stored_nbytes, filter_mask) for every
    chunk of a dataset, from its v1 B-tree index."""
    if addr == H5_UNDEF:
        return
    hd = s.read(addr, 24)
    if hd[:4] != b"TREE" or hd[4] != 1:
        raise HDF5Error("bad chunk B-tree node")
    level, n = hd[5], _u16(hd, 6)
    keysize = 8 + (rank + 1) * 8
    body = s.read(addr + 24, (n + 1) * keysize + n * 8)
    p = 0
    for _ in range(n):
        size, mask = _u32(body, p), _u32(body, p + 4)
        offs = tuple(_u64(body, p + 8 + 8 * i) for i in range(rank))
        child = _u64(body, p + keysize)
        p += keysize + 8
        if level > 0:
            yield from _walk_chunk_btree(s, child, rank)
        else:
            yield offs, child, size, mask


# ------------------------------------------- v2 chunk indexes (v4
# layout message, superblock-v3 "latest" files): Single Chunk,
# Implicit, Fixed Array (H5FA), Extensible Array (H5EA). Block
# structures follow the public HDF5 file-format spec level 1E/1F;
# the super-block doubling schedule matches the library's H5EA
# design (sblk u holds 2^(u//2) data blocks of
# 2^((u+1)//2) * data_blk_min_elmts elements). Checksums (Jenkins
# lookup3) are not verified on read — same stance as the v2 object
# header path.
def _grid_dims(shape, chunk) -> tuple[int, ...]:
    return tuple(-(-max(n, 1) // c) for n, c in zip(shape, chunk))


def _linear_offsets(idx: int, grid, chunk) -> tuple[int, ...]:
    """Row-major linear chunk index -> chunk start offsets."""
    offs = []
    for g, c in zip(reversed(grid), reversed(chunk)):
        offs.append((idx % g) * c)
        idx //= g
    return tuple(reversed(offs))


def _idx_element(body: bytes, p: int, client: int, esize: int):
    """Decode one FA/EA chunk element -> (addr, stored nbytes or None,
    filter mask). Client 0 = unfiltered (address only); client 1 =
    filtered (address + variable-width stored size + 4-byte mask);
    the element width comes from the index header, so the size-field
    width is esize - 12 by construction."""
    addr = _u64(body, p)
    if client == 0:
        return addr, None, 0
    size_len = esize - 12
    nbytes = int.from_bytes(body[p + 8:p + 8 + size_len], "little")
    mask = _u32(body, p + 8 + size_len)
    return addr, nbytes, mask


def _walk_fixed_array(s: _Src, addr: int, grid, chunk, chunk_nbytes: int):
    """Yield (offsets, addr, nbytes, mask) from an H5FA chunk index."""
    hd = s.read(addr, 28)
    if hd[:4] != b"FAHD" or hd[4] != 0:
        raise HDF5Error("bad fixed-array header")
    client, esize, page_bits = hd[5], hd[6], hd[7]
    if client not in (0, 1):
        raise HDF5Error(f"unsupported fixed-array client {client}")
    nelmts = _u64(hd, 8)
    dblk_addr = _u64(hd, 16)
    if dblk_addr == H5_UNDEF:
        return
    page_nelmts = 1 << page_bits
    if nelmts > page_nelmts:
        # paged data block (datasets past 2^page_bits chunks — the
        # shape multi-TB files take): the block holds only the prefix,
        # a page-initialized bitmap and its checksum; the pages follow
        # contiguously, each `page_nelmts` elements (the last one
        # truncated) plus a 4-byte checksum
        npages = -(-nelmts // page_nelmts)
        bm_len = (npages + 7) // 8
        head = s.read(dblk_addr, 14 + bm_len + 4)
        if head[:4] != b"FADB" or head[4] != 0:
            raise HDF5Error("bad fixed-array data block")
        bitmap = head[14:14 + bm_len]
        pos = dblk_addr + 14 + bm_len + 4
        for pg in range(npages):
            n_i = min(page_nelmts, nelmts - pg * page_nelmts)
            if bitmap[pg >> 3] & (1 << (pg & 7)):
                body = s.read(pos, n_i * esize + 4)
                for j in range(n_i):
                    a, nb, mask = _idx_element(
                        body, j * esize, client, esize
                    )
                    if a == H5_UNDEF:
                        continue
                    yield (
                        _linear_offsets(
                            pg * page_nelmts + j, grid, chunk
                        ),
                        a, (chunk_nbytes if nb is None else nb), mask,
                    )
            pos += n_i * esize + 4
        return
    body = s.read(dblk_addr, 14 + nelmts * esize + 4)
    if body[:4] != b"FADB" or body[4] != 0:
        raise HDF5Error("bad fixed-array data block")
    for i in range(nelmts):
        a, nb, mask = _idx_element(body, 14 + i * esize, client, esize)
        if a == H5_UNDEF:
            continue
        yield _linear_offsets(i, grid, chunk), a, \
            (chunk_nbytes if nb is None else nb), mask


def _ea_sblk_info(min_elmts: int, nsblks: int):
    """(ndblks, dblk_nelmts, start_idx, start_dblk) per super block."""
    info, start_idx, start_dblk = [], 0, 0
    for u in range(nsblks):
        nd = 1 << (u // 2)
        ne = (1 << ((u + 1) // 2)) * min_elmts
        info.append((nd, ne, start_idx, start_dblk))
        start_idx += nd * ne
        start_dblk += nd
    return info


def _walk_ext_array(s: _Src, addr: int, grid, chunk, chunk_nbytes: int):
    """Yield (offsets, addr, nbytes, mask) from an H5EA chunk index
    (the index libhdf5 'latest' uses for one-unlimited-dim chunked
    datasets, e.g. every NetCDF-4 record variable)."""
    hd = s.read(addr, 72)
    if hd[:4] != b"EAHD" or hd[4] != 0:
        raise HDF5Error("bad extensible-array header")
    client, esize = hd[5], hd[6]
    max_bits, idx_elmts, min_elmts = hd[7], hd[8], hd[9]
    sup_ptrs, page_bits = hd[10], hd[11]
    if client not in (0, 1):
        raise HDF5Error(f"unsupported extensible-array client {client}")
    iblk_addr = _u64(hd, 60)
    if iblk_addr == H5_UNDEF:
        return
    off_size = (max_bits + 7) // 8
    nsblks = 1 + max_bits - (min_elmts.bit_length() - 1)
    sblk_info = _ea_sblk_info(min_elmts, nsblks)
    # the index block points directly at the data blocks of the first
    # super blocks whose data-block count is below sup_blk_min_data
    # pointers — 2 * (sup_ptrs - 1) data blocks across the first
    # 2 * log2(sup_ptrs) super blocks
    n_iblk_sblks = next(
        (u for u, (nd, _, _, _) in enumerate(sblk_info)
         if nd >= sup_ptrs),
        None,
    )
    if n_iblk_sblks is None:
        # legal-but-unusual creation params where no super block ever
        # reaches sup_blk_min_data_ptrs — out of the subset, and must
        # surface as HDF5Error (PEP 479 would otherwise convert a bare
        # next()'s StopIteration into RuntimeError inside this
        # generator)
        raise HDF5Error(
            "extensible-array creation parameters outside the "
            f"supported shape (no super block reaches {sup_ptrs} "
            "data blocks)"
        )
    n_iblk_dblks = sum(sblk_info[u][0] for u in range(n_iblk_sblks))
    n_iblk_sblk_addrs = nsblks - n_iblk_sblks
    iblk_size = (
        14 + idx_elmts * esize + (n_iblk_dblks + n_iblk_sblk_addrs) * 8 + 4
    )
    ib = s.read(iblk_addr, iblk_size)
    if ib[:4] != b"EAIB" or ib[4] != 0:
        raise HDF5Error("bad extensible-array index block")
    dblk_addrs = [
        _u64(ib, 14 + idx_elmts * esize + 8 * k)
        for k in range(n_iblk_dblks)
    ]
    sblk_addrs = [
        _u64(ib, 14 + idx_elmts * esize + 8 * (n_iblk_dblks + k))
        for k in range(n_iblk_sblk_addrs)
    ]
    nelmts = 1
    for g in grid:
        nelmts *= g

    page_nelmts = 1 << page_bits
    # sblk_cache: u -> (data block addresses, page-init bitmap bytes)
    sblk_cache: dict[int, tuple[list[int], bytes]] = {}
    dblk_cache: dict[int, bytes] = {}
    page_cache: dict[tuple[int, int], bytes] = {}

    def sblk(u: int) -> tuple[list[int], bytes]:
        cached = sblk_cache.get(u)
        if cached is None:
            nd, ne = sblk_info[u][0], sblk_info[u][1]
            npg = ne // page_nelmts if ne > page_nelmts else 0
            if npg and ne % page_nelmts:
                raise HDF5Error(
                    f"extensible-array data block of {ne} elements not "
                    f"a multiple of the {page_nelmts}-element page"
                )
            bm_len = (nd * npg + 7) // 8
            sa = sblk_addrs[u - n_iblk_sblks]
            if sa == H5_UNDEF:
                cached = ([H5_UNDEF] * nd, b"\x00" * bm_len)
            else:
                # super block: prefix, block offset, page bitmap (only
                # when its data blocks are paged), dblk addresses
                sb = s.read(sa, 14 + off_size + bm_len + nd * 8 + 4)
                if sb[:4] != b"EASB" or sb[4] != 0:
                    raise HDF5Error("bad extensible-array super block")
                base = 14 + off_size + bm_len
                cached = (
                    [_u64(sb, base + 8 * k) for k in range(nd)],
                    sb[14 + off_size:base],
                )
            sblk_cache[u] = cached
        return cached

    def dblk_address(dblk_no: int, u: int) -> int:
        if dblk_no < n_iblk_dblks:
            return dblk_addrs[dblk_no]
        return sblk(u)[0][dblk_no - sblk_info[u][3]]

    def element(idx: int):
        if idx < idx_elmts:
            return _idx_element(ib, 14 + idx * esize, client, esize)
        rel = idx - idx_elmts
        u = (rel // min_elmts + 1).bit_length() - 1
        nd, ne, start_idx, start_dblk = sblk_info[u]
        within = rel - start_idx
        dblk_no = start_dblk + within // ne
        da = dblk_address(dblk_no, u)
        if da == H5_UNDEF:
            return H5_UNDEF, None, 0
        if ne > page_nelmts:
            # paged data block (record variables past ~131k chunks
            # with the library's creation parameters): the block holds
            # only prefix + block offset + checksum; `page_nelmts`-
            # element pages follow, each with its own checksum, and
            # the page-init bitmap lives in the parent super block
            if dblk_no < n_iblk_dblks:
                raise HDF5Error(
                    "paged extensible-array data block referenced from "
                    "the index block"
                )
            within_dblk = within % ne
            pg = within_dblk // page_nelmts
            local_dblk = dblk_no - sblk_info[u][3]
            bit = local_dblk * (ne // page_nelmts) + pg
            bm = sblk(u)[1]
            if not (bm[bit >> 3] & (1 << (bit & 7))):
                return H5_UNDEF, None, 0
            page = page_cache.get((dblk_no, pg))
            if page is None:
                if dblk_no not in dblk_cache:
                    head = s.read(da, 14)
                    if head[:4] != b"EADB" or head[4] != 0:
                        raise HDF5Error(
                            "bad extensible-array data block"
                        )
                    dblk_cache[dblk_no] = head
                base = da + 14 + off_size + 4
                page = s.read(
                    base + pg * (page_nelmts * esize + 4),
                    page_nelmts * esize,
                )
                page_cache[(dblk_no, pg)] = page
            return _idx_element(
                page, (within_dblk % page_nelmts) * esize, client, esize
            )
        body = dblk_cache.get(dblk_no)
        if body is None or len(body) == 14:
            body = s.read(da, 14 + off_size + ne * esize + 4)
            if body[:4] != b"EADB" or body[4] != 0:
                raise HDF5Error("bad extensible-array data block")
            dblk_cache[dblk_no] = body
        return _idx_element(
            body, 14 + off_size + (within % ne) * esize, client, esize
        )

    for i in range(nelmts):
        a, nb, mask = element(i)
        if a == H5_UNDEF:
            continue
        yield _linear_offsets(i, grid, chunk), a, \
            (chunk_nbytes if nb is None else nb), mask


def _walk_v4_chunks(s: _Src, d: "H5Dataset"):
    """Chunk enumeration for v4 ("latest") layouts — same tuple shape
    as _walk_chunk_btree so every downstream consumer (full read,
    split planner, range decoder) is index-agnostic."""
    lay = d.layout
    grid = _grid_dims(d.shape, lay.chunk)
    chunk_nbytes = d.dtype.itemsize
    for c in lay.chunk:
        chunk_nbytes *= c
    if lay.idx_type == 4:
        unlim = [i for i, m in enumerate(d.maxshape) if m == H5_UNDEF]
        if unlim and unlim != [0]:
            raise HDF5Error(
                "extensible-array index with a non-leading unlimited "
                "dimension (swizzled chunk order) is out of scope"
            )
    if lay.addr == H5_UNDEF:
        return
    if lay.idx_type == 1:  # single chunk
        nb = lay.single_nbytes if lay.single_nbytes else chunk_nbytes
        yield (0,) * len(d.shape), lay.addr, nb, lay.single_mask
    elif lay.idx_type == 2:  # implicit: dense, unfiltered, in order
        nelmts = 1
        for g in grid:
            nelmts *= g
        for i in range(nelmts):
            yield _linear_offsets(i, grid, lay.chunk), \
                lay.addr + i * chunk_nbytes, chunk_nbytes, 0
    elif lay.idx_type == 3:
        yield from _walk_fixed_array(s, lay.addr, grid, lay.chunk,
                                     chunk_nbytes)
    elif lay.idx_type == 4:
        yield from _walk_ext_array(s, lay.addr, grid, lay.chunk,
                                   chunk_nbytes)
    else:
        raise HDF5Error(f"unsupported chunk index type {lay.idx_type}")


# ----------------------------------------------------------- H5File
@dataclass
class H5Dataset:
    name: str
    addr: int
    shape: tuple[int, ...]
    maxshape: tuple[int, ...]
    dtype: np.dtype
    layout: _Layout
    filters: list[tuple[int, tuple[int, ...]]] = field(default_factory=list)
    fill_raw: bytes | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def fill(self):
        if self.fill_raw:
            return np.frombuffer(self.fill_raw, dtype=self.dtype)[0]
        return np.zeros(1, self.dtype)[0]


class H5File:
    """Flat view of an HDF5 file's datasets (groups are walked
    recursively; nested names join with '/')."""

    def __init__(self, src):
        self._s = _Src(src)
        root = _parse_superblock(self._s)
        self.root_attrs: dict = {}
        self.datasets: dict[str, H5Dataset] = {}
        try:
            self._load_group("", root, top=True)
        except (struct.error, IndexError) as exc:
            # a declared message size larger than its actual bytes can
            # reach the field parsers with a truncated body — surface
            # the module's typed error, never a raw struct/index crash
            raise HDF5Error(f"malformed object header content: {exc}") from exc

    def _load_group(self, prefix: str, addr: int, top: bool = False):
        msgs = _parse_ohdr(self._s, addr)
        attrs = {}
        for t, b in msgs:
            if t == MSG_ATTRIBUTE:
                k, v = _parse_attribute(b, self._s)
                attrs[k] = v
            elif t == MSG_ATTR_INFO:
                attrs.update(_dense_attributes(self._s, b))
        if top:
            self.root_attrs = attrs
        for name, child_addr in _walk_group(self._s, msgs).items():
            full = f"{prefix}{name}"
            child_msgs = _parse_ohdr(self._s, child_addr)
            if any(t in (MSG_SYMBOL_TABLE, MSG_LINK, MSG_LINK_INFO)
                   for t, _ in child_msgs):
                self._load_group(f"{full}/", child_addr)
            else:
                self.datasets[full] = self._make_dataset(
                    full, child_addr, child_msgs
                )

    def _make_dataset(self, name, addr, msgs) -> H5Dataset:
        shape = maxshape = ()
        dtype = None
        layout = None
        filters: list = []
        fill = None
        attrs: dict = {}
        for t, b in msgs:
            if t == MSG_DATASPACE:
                shape, maxshape = _parse_dataspace(b)
            elif t == MSG_DATATYPE:
                dtype = _parse_datatype(b).np_dtype
            elif t == MSG_LAYOUT:
                layout = _parse_layout(b)
            elif t == MSG_FILTERS:
                filters = _parse_filters(b)
            elif t == MSG_FILL:
                fill = _parse_fill(b)
            elif t == MSG_ATTRIBUTE:
                k, v = _parse_attribute(b, self._s)
                attrs[k] = v
            elif t == MSG_ATTR_INFO:
                attrs.update(_dense_attributes(self._s, b))
        if dtype is None or layout is None:
            raise HDF5Error(f"dataset {name!r} missing datatype/layout")
        return H5Dataset(name, addr, shape, maxshape, dtype, layout,
                         filters, fill, attrs)

    # ---- data access ------------------------------------------------
    def chunks(self, name: str):
        d = self.datasets[name]
        if d.layout.kind != "chunked":
            raise HDF5Error(f"{name} is not chunked")
        if d.layout.idx_type:  # v4 layout: typed chunk index
            yield from _walk_v4_chunks(self._s, d)
        else:  # v3 layout: v1 B-tree index
            yield from _walk_chunk_btree(
                self._s, d.layout.btree, len(d.shape)
            )

    def _decode_chunk(self, d: H5Dataset, raw: bytes,
                      filter_mask: int) -> np.ndarray:
        for i, (fid, cvals) in enumerate(reversed(d.filters)):
            pos = len(d.filters) - 1 - i
            if filter_mask & (1 << pos):
                continue
            if fid == FILTER_DEFLATE:
                raw = zlib.decompress(raw)
            elif fid == FILTER_SHUFFLE:
                # element-aligned portion unshuffled; H5Zshuffle
                # copies any leftover tail bytes through unchanged
                # (arises when fletcher32 precedes shuffle: the
                # 4-byte checksum rides along unaligned)
                esize = cvals[0] if cvals else d.dtype.itemsize
                n = len(raw) // esize
                body = np.frombuffer(raw, "u1", count=n * esize)
                raw = (
                    body.reshape(esize, n).T.tobytes()
                    + raw[n * esize:]
                )
            elif fid == FILTER_FLETCHER32:
                if len(raw) < 4:
                    raise HDF5Error(
                        "fletcher32 chunk shorter than its checksum"
                    )
                body, stored = raw[:-4], _u32(raw, len(raw) - 4)
                if _fletcher32(body) != stored:
                    raise HDF5Error(
                        f"fletcher32 checksum mismatch on chunk "
                        f"(stored {stored:#010x})"
                    )
                raw = body
            elif fid == FILTER_SZIP:
                # H5Zszip framing: 4-byte LE uncompressed size, then
                # the CCSDS-121 bitstream; client data =
                # (options_mask, bits_per_pixel, pixels_per_block,
                # pixels_per_scanline)
                from adcirctime2cogs_spark.sources.szip import (
                    SzipError,
                    SzipOutOfSubset,
                    decode_szip,
                )

                if len(raw) < 4 or len(cvals) < 4:
                    raise HDF5Error("szip chunk/client data too short")
                stored = _u32(raw, 0)
                try:
                    raw = decode_szip(
                        raw[4:], stored, cvals[0], cvals[1],
                        cvals[2], cvals[3],
                    )
                except SzipOutOfSubset as exc:
                    # valid szip, parameters/constructs beyond the
                    # codec's subset — the offline-convert guidance
                    # applies (review r11: distinct from corruption)
                    raise UnsupportedHDF5Feature(
                        f"szip/CCSDS-121 chunk outside the decoded "
                        f"subset: {exc} — convert offline with "
                        f"h5repack -f GZIP=1 / nccopy"
                    ) from exc
                except SzipError as exc:
                    raise HDF5Error(
                        f"corrupt szip chunk: {exc}"
                    ) from exc
            else:
                raise UnsupportedHDF5Feature(
                    f"chunk filter id {fid} is outside the "
                    "built-in decoded subset (deflate=1, shuffle=2, "
                    "fletcher32=3, szip=4) — convert offline with "
                    "h5repack -f GZIP=1 / nccopy, or inject a decoder"
                )
        return np.frombuffer(raw, dtype=d.dtype).reshape(d.layout.chunk)

    def read(self, name: str) -> np.ndarray:
        d = self.datasets[name]
        lay = d.layout
        if lay.kind == "compact":
            return np.frombuffer(lay.data, dtype=d.dtype).reshape(d.shape)
        if lay.kind == "contiguous":
            if lay.addr == H5_UNDEF:  # storage never allocated
                return np.full(d.shape, d.fill, dtype=d.dtype)
            raw = self._s.read(lay.addr, lay.size)
            return np.frombuffer(raw, dtype=d.dtype).reshape(d.shape)
        # chunked: paint chunks into a grid-extent canvas, then crop
        # (HDF5 edge chunks are full-size; bytes beyond dims are junk)
        grid = tuple(
            -(-max(n, 1) // c) * c for n, c in zip(d.shape, lay.chunk)
        )
        out = np.full(grid, d.fill, dtype=d.dtype)
        for offs, addr, nbytes, mask in self.chunks(name):
            raw = self._s.read(addr, nbytes)
            arr = self._decode_chunk(d, raw, mask)
            sl = tuple(
                slice(o, o + c) for o, c in zip(offs, lay.chunk)
            )
            out[sl] = arr
        return out[tuple(slice(0, n) for n in d.shape)]


# ===================================================== NetCDF-4 layer
@dataclass
class NC4Var:
    name: str
    dims: tuple[str, ...]
    shape: tuple[int, ...]
    atts: dict
    dtype: np.dtype


class NC4File:
    """NetCDF-4 semantic view of an HDF5 file: dims (+ the unlimited
    one), variables with named dims and attributes — the same model
    sources/netcdf3.py exposes for classic files."""

    def __init__(self, src):
        self.h5 = H5File(src)
        self._chunk_index: dict[str, dict] = {}
        self._times = None
        self.gatts = dict(self.h5.root_attrs)
        self.dims: dict[str, int] = {}
        self.unlimited: set[str] = set()
        addr2dim: dict[int, str] = {}
        for name, d in self.h5.datasets.items():
            if d.attrs.get("CLASS") == "DIMENSION_SCALE":
                self.dims[name] = d.shape[0] if d.shape else 0
                addr2dim[d.addr] = name
                if d.maxshape and d.maxshape[0] == H5_UNDEF:
                    self.unlimited.add(name)
        self.vars: dict[str, NC4Var] = {}
        for name, d in self.h5.datasets.items():
            nm = d.attrs.get("NAME", "")
            if isinstance(nm, str) and nm.startswith(
                NC_DIM_PHONY_PREFIX.decode()
            ):
                continue  # dim without a coordinate variable
            if d.attrs.get("CLASS") == "DIMENSION_SCALE":
                vdims = (name,)  # coordinate variable: its own dim
            else:
                refs = d.attrs.get("DIMENSION_LIST")
                if refs is None:
                    vdims = tuple(f"phony_dim_{i}" for i in range(len(d.shape)))
                    for i, n in enumerate(d.shape):
                        self.dims.setdefault(f"phony_dim_{i}", n)
                else:
                    vdims = tuple(addr2dim[r[0]] for r in refs)
            self.vars[name] = NC4Var(name, vdims, d.shape, d.attrs, d.dtype)

    def is_record(self, name: str) -> bool:
        v = self.vars[name]
        return bool(v.dims) and v.dims[0] in self.unlimited

    def read_var(self, name: str) -> np.ndarray:
        return self.h5.read(name)

    def chunk_index(self, name: str) -> dict:
        """addr -> (offsets, stored nbytes, filter mask), built ONCE
        per (file, variable) from the B-tree and cached — the range
        decoder's O(1) lookup (a linear rewalk per task would make the
        distributed scan O(chunks^2) in total)."""
        idx = self._chunk_index.get(name)
        if idx is None:
            idx = {
                addr: (offs, nbytes, mask)
                for offs, addr, nbytes, mask in self.h5.chunks(name)
            }
            self._chunk_index[name] = idx
        return idx

    def times(self) -> np.ndarray:
        """CF-decoded time axis, decoded once per file and cached."""
        if self._times is None:
            self._times = _decode_times_nc4(self)
        return self._times


def is_hdf5(first_bytes: bytes) -> bool:
    return first_bytes[:8] == H5_SIG


@lru_cache(maxsize=64)
def _nc4_cached(path: str, mtime_ns: int) -> NC4File:
    return NC4File(path)


def nc4_for(path: str) -> NC4File:
    import os

    from adcirctime2cogs_spark.sources.netcdf3 import _fs_path

    path = _fs_path(path)
    return _nc4_cached(path, os.stat(path).st_mtime_ns)


def _masked_to_nan(arr: np.ndarray, atts: dict) -> np.ndarray:
    out = arr.astype("float64", copy=True)
    for key in ("_FillValue", "missing_value"):
        fill = atts.get(key)
        if fill is not None:
            out[out == float(np.asarray(fill).ravel()[0])] = np.nan
    return out


def _decode_times_nc4(nc: NC4File) -> np.ndarray:
    from adcirctime2cogs_spark.sources.netcdf3 import parse_time_units

    tv = None
    if "time" in nc.vars:
        tv = nc.vars["time"]
    else:
        for v in nc.vars.values():
            if len(v.dims) == 1 and v.dims[0] in nc.unlimited and \
                    " since " in str(v.atts.get("units", "")):
                tv = v
                break
    if tv is None:
        raise HDF5Error("no time variable in NetCDF-4 file")
    vals = nc.read_var(tv.name).astype("float64").ravel()
    units = tv.atts.get("units")
    from adcirctime2cogs_spark.sources.netcdf3 import units_scale_base

    scale, base = units_scale_base(units)
    return base + np.round(vals * scale * 1e6).astype("timedelta64[us]")


# --------------------------------- netcdf.py codec callables (NC4)
def nc4_splitter(path: str, length: int, variable: str):
    """(t_idx, chunk offset, stored nbytes) per (record, chunk) of the
    record variable — the NetCDF-4 analogue of netcdf3's per-record
    splits. The v1-btree chunk index is read once driver-side. A chunk
    whose time dimension is 1 (netcdf-c's usual unlimited layout)
    yields one split; a time-chunked layout (e.g. nccopy -c time/24
    writing (24, N) chunks) yields one split PER RECORD the chunk
    covers, all pointing at the same compressed chunk bytes — each
    task decodes the chunk and emits only its own record's rows, so no
    timestep is ever silently dropped. Rows split across several node
    chunks additionally repeat t_idx across those chunks. A missing or
    time-less variable fails here, at plan time, with the same
    ValueErrors as netcdf3.classic_splitter."""
    nc = nc4_for(path)
    if variable not in nc.vars:
        raise ValueError(
            f"variable {variable!r} not in {path!r} (has: {sorted(nc.vars)})"
        )
    if not nc.is_record(variable):
        raise ValueError(
            f"{variable!r} in {path!r} is not a record variable — "
            "only record (unlimited-dim) variables scan per-timestep"
        )
    d = nc.h5.datasets[variable]
    chunk_t = d.layout.chunk[0] if d.layout.chunk else 1
    n_rec = d.shape[0]
    return [
        (int(t), int(addr), int(nbytes))
        for offs, addr, nbytes, _mask in nc.h5.chunks(variable)
        for t in range(offs[0], min(offs[0] + chunk_t, n_rec))
    ]


def nc4_range_decoder(path: str, variable: str, t_idx: int,
                      offset: int, nbytes: int):
    """(ts, node_ids, values_1d) for ONE (record, chunk) split — the
    netcdf.py DataSource's range-decoder contract. The task reads ONLY
    its compressed chunk bytes; chunk geometry is an O(1) lookup in
    the per-file cached index, times come from the cached time axis."""
    nc = nc4_for(path)
    d = nc.h5.datasets[variable]
    match = nc.chunk_index(variable).get(offset)
    chunk_t = d.layout.chunk[0] if d.layout.chunk else 1
    if (
        match is None
        or match[1] != nbytes
        or not (match[0][0] <= t_idx < match[0][0] + chunk_t)
    ):
        raise ValueError(
            f"split [{offset}, +{nbytes}) for {variable}[{t_idx}] does not "
            "match any chunk in the file's index"
        )
    offs, size, mask = match
    raw = _Src(path).read(offset, nbytes)
    arr = nc.h5._decode_chunk(d, raw, mask)
    if chunk_t != 1:
        arr = arr[t_idx - offs[0]:t_idx - offs[0] + 1]
    node0 = offs[-1]
    node_end = min(node0 + d.layout.chunk[-1], d.shape[-1])
    values = _masked_to_nan(
        arr.reshape(-1)[: node_end - node0], nc.vars[variable].atts
    )
    ts = nc.times()[t_idx]
    return ts, range(node0, node_end), values


# ===================================================== NetCDF-4 writer
# Fixture-grade writer producing the same HDF5 layout netcdf-c emits
# for "NetCDF-4 classic model" files: superblock v0, v1 object
# headers, a symbol-table root group (v1 B-tree + SNOD + local heap),
# dimension-scale datasets with CLASS/NAME/_Netcdf4Dimid attributes,
# DIMENSION_LIST vlen-of-object-reference attributes through a real
# 'GCOL' global heap, chunked record variables indexed by a v1 B-tree
# with optional shuffle+deflate filters. Nothing here is required at
# query time — it exists so the reader can be tested against real
# NetCDF-4 bytes in an environment with no HDF5 library.

def _lookup3(data: bytes, init: int = 0) -> int:
    """Jenkins lookup3 hashlittle — the checksum every HDF5 v2/v3
    metadata block carries (H5_checksum_lookup3, initval 0).
    Validated against lookup3.c's published self-test vectors in
    tests/test_hdf5.py: '' -> 0xdeadbeef, 'Four score and seven years
    ago' -> 0x17770551 (init 0) / 0xcd628161 (init 1)."""
    M = 0xFFFFFFFF

    def rot(x, k):
        return ((x << k) | (x >> (32 - k))) & M

    a = b = c = (0xDEADBEEF + len(data) + init) & M
    i, length = 0, len(data)
    while length > 12:
        a = (a + int.from_bytes(data[i:i + 4], "little")) & M
        b = (b + int.from_bytes(data[i + 4:i + 8], "little")) & M
        c = (c + int.from_bytes(data[i + 8:i + 12], "little")) & M
        a = (a - c) & M; a ^= rot(c, 4); c = (c + b) & M
        b = (b - a) & M; b ^= rot(a, 6); a = (a + c) & M
        c = (c - b) & M; c ^= rot(b, 8); b = (b + a) & M
        a = (a - c) & M; a ^= rot(c, 16); c = (c + b) & M
        b = (b - a) & M; b ^= rot(a, 19); a = (a + c) & M
        c = (c - b) & M; c ^= rot(b, 4); b = (b + a) & M
        i += 12
        length -= 12
    if length > 0:
        tail = data[i:] + b"\x00" * (12 - length)
        a = (a + int.from_bytes(tail[0:4], "little")) & M
        b = (b + int.from_bytes(tail[4:8], "little")) & M
        c = (c + int.from_bytes(tail[8:12], "little")) & M
        c ^= b; c = (c - rot(b, 14)) & M
        a ^= c; a = (a - rot(c, 11)) & M
        b ^= a; b = (b - rot(a, 25)) & M
        c ^= b; c = (c - rot(b, 16)) & M
        a ^= c; a = (a - rot(c, 4)) & M
        b ^= a; b = (b - rot(a, 14)) & M
        c ^= b; c = (c - rot(b, 24)) & M
    return c


def _cksum(block: bytes) -> bytes:
    """A v2/v3 metadata block's trailing 4-byte checksum: lookup3 of
    everything before it."""
    return struct.pack("<I", _lookup3(block))


def _pad8b(b: bytes) -> bytes:
    return b + b"\x00" * (-len(b) % 8)


def _enc_dt(dt: np.dtype) -> bytes:
    dt = np.dtype(dt)
    if dt.kind in "iu":
        bits = 0x08 if dt.kind == "i" else 0x00
        head = struct.pack("<B3BI", (1 << 4) | 0, bits, 0, 0, dt.itemsize)
        return head + struct.pack("<HH", 0, dt.itemsize * 8)
    if dt.kind == "f":
        if dt.itemsize == 8:
            sign, exp, esz, bias, man = 63, 52, 11, 1023, 52
        else:
            sign, exp, esz, bias, man = 31, 23, 8, 127, 23
        head = struct.pack(
            "<B3BI", (1 << 4) | 1, 0x20, sign, 0, dt.itemsize
        )
        props = struct.pack(
            "<HHBBBBI", 0, dt.itemsize * 8, exp, esz, 0, man, bias
        )
        return head + props
    if dt.kind == "S":
        return struct.pack("<B3BI", (1 << 4) | 3, 0, 0, 0, dt.itemsize)
    raise HDF5Error(f"writer: unsupported dtype {dt}")


_DT_REF = struct.pack("<B3BI", (1 << 4) | 7, 0, 0, 0, 8)
_DT_VLEN_REF = struct.pack("<B3BI", (1 << 4) | 9, 0, 0, 0, 16) + _DT_REF


def _enc_ds(shape, maxshape=None) -> bytes:
    rank = len(shape)
    flags = 1 if maxshape is not None else 0
    out = struct.pack("<BBB5x", 1, rank, flags)
    out += b"".join(struct.pack("<Q", n) for n in shape)
    if maxshape is not None:
        out += b"".join(struct.pack("<Q", n) for n in maxshape)
    return out


def _enc_attr(name: str, dt: bytes, ds: bytes, data: bytes) -> bytes:
    nb = name.encode() + b"\x00"
    return (
        struct.pack("<BBHHH", 1, 0, len(nb), len(dt), len(ds))
        + _pad8b(nb) + _pad8b(dt) + _pad8b(ds) + data
    )


def _attr_scalar(name: str, value) -> bytes:
    if isinstance(value, str):
        raw = value.encode() + b"\x00"
        return _enc_attr(name, _enc_dt(np.dtype(f"S{len(raw)}")),
                         _enc_ds(()), raw)
    arr = np.asarray(value)
    if arr.ndim == 0:
        return _enc_attr(name, _enc_dt(arr.dtype), _enc_ds(()),
                         arr.tobytes())
    return _enc_attr(name, _enc_dt(arr.dtype), _enc_ds(arr.shape),
                     arr.tobytes())


def _v1_msg(mtype: int, size: int, body_fn) -> tuple[int, int, object]:
    """(type, padded size, body renderer) for a v1 header message."""
    return (mtype, (size + 7) & ~7, body_fn)


def _render_ohdr_v1(msgs, addrs) -> bytes:
    body = b""
    for mtype, psize, body_fn in msgs:
        raw = body_fn(addrs) if callable(body_fn) else body_fn
        raw = raw + b"\x00" * (psize - len(raw))
        body += struct.pack("<HHB3x", mtype, psize, 0) + raw
    return struct.pack("<BxHII4x", 1, len(msgs), 1, len(body)) + body


def _ohdr_size(msgs) -> int:
    return 16 + sum(8 + psize for _, psize, _ in msgs)


def _render_ohdr_v2(msgs, addrs) -> bytes:
    """v2 'OHDR' object header: 4-byte message headers (type u8,
    size u16, flags u8), a 2-byte chunk-0 size field (flags bits
    0-1 = 1), and a real lookup3 checksum over everything before it —
    the header flavor libhdf5 'latest' writes."""
    body = b""
    for mtype, psize, body_fn in msgs:
        raw = body_fn(addrs) if callable(body_fn) else body_fn
        raw = raw + b"\x00" * (psize - len(raw))
        body += struct.pack("<BHB", mtype, psize, 0) + raw
    if len(body) > 0xFFFF:
        raise HDF5Error(
            "fixture writer: v2 object header message section exceeds "
            "the 2-byte chunk-0 size field"
        )
    out = b"OHDR" + struct.pack("<BBH", 2, 0x01, len(body)) + body
    return out + _cksum(out)


def _ohdr_v2_size(msgs) -> int:
    return 8 + sum(4 + psize for _, psize, _ in msgs) + 4


def _deflate_filter_pipeline_v1() -> bytes:
    """Version-1 I/O filter pipeline message body: deflate level 6 —
    the filter info a filtered fractal heap carries in its header."""
    return (
        struct.pack("<BB6x", 1, 1)
        + struct.pack("<HHHH", FILTER_DEFLATE, 0, 1, 1)
        + struct.pack("<I", 6) + b"\x00" * 4
    )


def _emit_fractal_heap(blobs, prefix: str, objects, *, hid_len: int,
                       force_indirect: bool = False, filt: bool = False,
                       width: int = 4, start_block: int = 512,
                       max_direct: int = 65536, max_man_obj: int = 4096):
    """Fixture-writer twin of _FractalHeap: append the FRHP header,
    direct block(s), indirect block(s), huge-object blobs and their
    v2 B-tree to `blobs`. `objects` is a list of (size, bytes |
    callable(addrs) -> bytes); returns the heap ID BYTES per object,
    in order — managed (offset, length), tiny (payload embedded in
    the ID, libhdf5's rule for objects under hid_len - 1 bytes), or
    huge (objects past max_man_obj, tracked in a type-1 — type-2
    when filtered — v2 B-tree, matching the indirect-ID rule the
    reader derives from hid_len).

    Geometry mirrors the reader's supported envelope: 32-bit max heap
    offsets, checksummed direct blocks, doubling-table rows of `width`
    blocks (rows 0/1 at start_block, row r at start_block*2^(r-1)),
    nested indirect blocks past the root's direct-row span, optional
    deflate-filtered blocks. Filtered blocks are written as level-0
    (stored) zlib streams so their on-disk sizes are a pure function
    of the nominal size — blob layout needs sizes before content
    exists; the reader inflates any valid stream."""
    import math

    MAX_HEAP_BITS = 32
    off_size = 4
    hdr_sz = 4 + 1 + 8 + off_size + 4
    sizes = [sz for sz, _ in objects]
    filt_info = _deflate_filter_pipeline_v1() if filt else b""

    # ---- object routing: tiny / huge / managed ----------------------
    id_body = hid_len - 1
    # short-form tiny only (libhdf5 switches to the 2-byte extended
    # length encoding past a 16-byte ID body — out of the reader's
    # scope, so the writer never emits it)
    tiny_max = id_body if id_body <= 16 else 0
    route: list[str] = []
    for sz, payload in objects:
        if sz > max_man_obj:
            route.append("huge")
        elif 0 < sz <= tiny_max and not callable(payload):
            route.append("tiny")
        else:
            route.append("managed")
    if "huge" in route and (
        id_body >= (8 + 8 + 4 + 8 if filt else 8 + 8)
    ):
        raise HDF5Error(
            "fixture writer: direct huge IDs (wide hid_len) not emitted"
        )

    def pad_id(b: bytes) -> bytes:
        return b + b"\x00" * (hid_len - len(b))

    ids_by_idx: dict[int, bytes] = {}
    huge_idx = [i for i, r in enumerate(route) if r == "huge"]
    tiny_size = 0
    for i, r in enumerate(route):
        if r == "tiny":
            data = objects[i][1]
            ids_by_idx[i] = pad_id(
                bytes([0x20 | (len(data) - 1)]) + bytes(data)
            )
            tiny_size += sizes[i]

    def stored_huge(n: int) -> int:
        return len(zlib.compress(b"\x00" * n, 0)) if filt else n

    huge_id_size = min(id_body, 8)
    for seq, i in enumerate(huge_idx):
        hugeid = seq + 1
        payload = objects[i][1]

        def render_huge(addrs, payload=payload):
            raw = payload(addrs) if callable(payload) else bytes(payload)
            return zlib.compress(raw, 0) if filt else raw

        blobs.append(
            (f"{prefix}huge{seq}", stored_huge(sizes[i]), render_huge)
        )
        ids_by_idx[i] = pad_id(
            b"\x10" + hugeid.to_bytes(huge_id_size, "little")
        )
    if huge_idx:
        def huge_rec(seq, i):
            def render(addrs):
                b = struct.pack(
                    "<QQ", addrs[f"{prefix}huge{seq}"],
                    stored_huge(sizes[i]),
                )
                if filt:
                    b += struct.pack("<IQ", 0, sizes[i])
                return b + struct.pack("<Q", seq + 1)

            return render

        _emit_v2_btree(
            blobs, f"{prefix}hugebt:", 2 if filt else 1,
            36 if filt else 24,
            [huge_rec(seq, i) for seq, i in enumerate(huge_idx)],
        )

    managed_only = [i for i, r in enumerate(route) if r == "managed"]
    max_direct_rows = (
        int(math.log2(max_direct) - math.log2(start_block)) + 2
    )

    def row_size(r: int) -> int:
        return start_block if r < 2 else start_block << (r - 1)

    def iblock_nrows(covered: int) -> int:
        """Rows of a child indirect block covering `covered` bytes
        (H5HF__dtable_size_to_rows)."""
        first_row_bits = (
            (start_block.bit_length() - 1) + (width.bit_length() - 1)
        )
        return (covered.bit_length() - 1) - first_row_bits + 1

    def row_base(r: int) -> int:
        return sum(width * row_size(rr) for rr in range(r))

    # iblock_meta: owner key ("" = root) -> (base virtual offset,
    # nrows, parent owner, parent entry idx); filled lazily as the
    # slot generator descends into indirect rows
    iblock_meta: dict[str, tuple[int, int, str, int]] = {}

    def direct_slots():
        """(virt, size, owner, entry idx, root row) for every direct-
        block slot of the doubling table in virtual order — recursing
        into child indirect blocks once root rows pass
        max_direct_rows, exactly the layout real heaps grow into when
        the payload outlives the root block's direct-row span."""
        import itertools

        def walk(owner, base, rows, root_row=None):
            for r in rows:
                size = row_size(r)
                for c in range(width):
                    v = base + row_base(r) + c * size
                    idx = r * width + c
                    rr = r if root_row is None else root_row
                    if r < max_direct_rows:
                        yield v, size, owner, idx, rr
                    else:
                        child = f"{owner}/{idx}"
                        iblock_meta[child] = (
                            v, iblock_nrows(size), owner, idx
                        )
                        yield from walk(
                            child, v, range(iblock_nrows(size)), rr
                        )

        yield from walk("", 0, itertools.count())

    len_size = hid_len - 1 - off_size

    def managed_hid(off: int, ln: int) -> bytes:
        return (b"\x00" + off.to_bytes(off_size, "little")
                + ln.to_bytes(len_size, "little"))

    need = hdr_sz + sum(sizes[i] for i in managed_only)
    single = not force_indirect or not managed_only
    if single:
        block0 = start_block
        while block0 < need:
            block0 *= 2
        single = block0 <= max_direct

    # blocks: (owner, entry idx) -> (virtual offset, nominal size,
    #                                [(in-block offset, object index)])
    blocks: dict[tuple[str, int], tuple[int, int, list]] = {}
    root_rows_touched = 0
    if single:
        start_size = block0
        items: list = []
        blocks[("", 0)] = (0, block0, items)
        pos = hdr_sz
        for idx in managed_only:
            ids_by_idx[idx] = managed_hid(pos, sizes[idx])
            items.append((pos, idx))
            pos += sizes[idx]
        cur_rows = 0
    else:
        start_size = start_block
        slots = direct_slots()
        cur: tuple[str, int] | None = None
        for idx in managed_only:
            sz = sizes[idx]
            while True:
                if cur is not None:
                    virt, bsz, items = blocks[cur]
                    pos = items[-1][0] + sizes[items[-1][1]] if items \
                        else hdr_sz
                    if pos + sz <= bsz:
                        break
                virt, bsz, owner, eidx, root_r = next(slots)
                root_rows_touched = max(root_rows_touched, root_r + 1)
                if hdr_sz + sz <= bsz:
                    cur = (owner, eidx)
                    blocks[cur] = (virt, bsz, [])
                else:
                    cur = None  # slot stays unallocated; try bigger rows
            virt, bsz, items = blocks[cur]
            pos = items[-1][0] + sizes[items[-1][1]] if items else hdr_sz
            ids_by_idx[idx] = managed_hid(virt + pos, sz)
            items.append((pos, idx))
        cur_rows = root_rows_touched

    def stored_len(bsz: int) -> int:
        return len(zlib.compress(b"\x00" * bsz, 0)) if filt else bsz

    def render_db(addrs, virt=0, bsz=0, items=()):
        b = bytearray(bsz)
        head = b"FHDB" + struct.pack("<BQ", 0, addrs[f"{prefix}frhp"])
        head += int(virt).to_bytes(off_size, "little")
        head += b"\x00\x00\x00\x00"  # checksum placeholder
        b[:hdr_sz] = head
        for off, idx in items:
            payload = objects[idx][1]
            raw = payload(addrs) if callable(payload) else payload
            if len(raw) > objects[idx][0]:
                raise HDF5Error(
                    f"fixture writer: heap object {idx} rendered "
                    f"{len(raw)} bytes into a {objects[idx][0]}-byte slot"
                )
            b[off:off + len(raw)] = raw
        b[hdr_sz - 4:hdr_sz] = _cksum(bytes(b))
        out = bytes(b)
        return zlib.compress(out, 0) if filt else out

    db_key: dict[tuple[str, int], str] = {}
    for seq, (kk, (virt, bsz, items)) in enumerate(sorted(blocks.items())):
        db_key[kk] = f"{prefix}db{seq}"
        blobs.append((
            f"{prefix}db{seq}", stored_len(bsz),
            (lambda addrs, v=virt, s_=bsz, it=tuple(items):
             render_db(addrs, v, s_, it)),
        ))

    root_key = f"{prefix}fhib" if cur_rows else db_key[("", 0)]
    if cur_rows:
        # indirect blocks actually needed: every owner of an allocated
        # direct block plus its ancestors (the slot generator registers
        # children it merely passed through — those render as UNDEF
        # entries of their parent, not as blocks)
        needed = {""}
        for owner, _eidx in blocks:
            while owner:
                needed.add(owner)
                owner = iblock_meta[owner][2]
        ib_key = {"": f"{prefix}fhib"}
        for seq, owner in enumerate(sorted(o for o in needed if o)):
            ib_key[owner] = f"{prefix}ib{seq}"

        dir_entry_sz = 8 + (12 if filt else 0)

        def emit_iblock(owner: str, base_virt: int, nrows: int) -> None:
            n_direct = min(nrows, max_direct_rows) * width
            n_indirect = max(0, nrows - max_direct_rows) * width

            def render_ib(addrs, owner=owner, base_virt=base_virt,
                          n_direct=n_direct, n_indirect=n_indirect):
                b = b"FHIB" + struct.pack(
                    "<BQ", 0, addrs[f"{prefix}frhp"]
                )
                b += base_virt.to_bytes(off_size, "little")
                for k in range(n_direct):
                    blk = blocks.get((owner, k))
                    if blk is not None:
                        b += struct.pack("<Q", addrs[db_key[(owner, k)]])
                        if filt:
                            b += struct.pack(
                                "<QI", stored_len(blk[1]), 0
                            )
                    else:
                        b += struct.pack("<Q", H5_UNDEF)
                        if filt:
                            b += struct.pack("<QI", 0, 0)
                for k in range(n_direct, n_direct + n_indirect):
                    child = f"{owner}/{k}"
                    if child in needed:
                        b += struct.pack("<Q", addrs[ib_key[child]])
                    else:
                        b += struct.pack("<Q", H5_UNDEF)
                return b + _cksum(b)

            blobs.append((
                ib_key[owner],
                4 + 1 + 8 + off_size + n_direct * dir_entry_sz
                + n_indirect * 8 + 4,
                render_ib,
            ))

        emit_iblock("", 0, cur_rows)
        for owner in sorted(o for o in needed if o):
            base_virt, nrows, _parent, _eidx = iblock_meta[owner]
            emit_iblock(owner, base_virt, nrows)

    man_space = sum(
        width * row_size(r) for r in range(cur_rows)
    ) if cur_rows else start_size
    alloc = sum(b[1] for b in blocks.values())
    used_total = sum(
        (it[-1][0] + sizes[it[-1][1]]) if it else hdr_sz
        for _v, _s, it in blocks.values()
    )

    huge_size = sum(sizes[i] for i in huge_idx)
    n_tiny = sum(1 for r in route if r == "tiny")

    def render_frhp(addrs):
        b = b"FRHP" + struct.pack(
            "<BHHBI", 0, hid_len, len(filt_info), 0x02, max_man_obj
        )
        b += struct.pack(
            "<QQQQQQQQQQQQ",
            len(huge_idx) + 1 if huge_idx else 0,   # next huge id
            addrs[f"{prefix}hugebt:head"] if huge_idx else H5_UNDEF,
            alloc - used_total,           # free space
            H5_UNDEF,                     # free-space manager
            man_space, alloc,             # managed space, allocated
            used_total,                   # direct block iterator
            len(managed_only),            # n_managed
            huge_size, len(huge_idx),     # huge size / count
            tiny_size, n_tiny,            # tiny size / count
        )
        b += struct.pack(
            "<HQQHHQH", width, start_size, max_direct, MAX_HEAP_BITS,
            max(1, cur_rows), addrs[root_key], cur_rows,
        )
        if filt:
            # stored unconditionally when filters are present (the
            # libhdf5 header codec's behavior); meaningful only for a
            # root DIRECT block — zero otherwise
            b += struct.pack(
                "<QI", stored_len(start_size) if cur_rows == 0 else 0, 0
            )
        b += filt_info
        return b + _cksum(b)

    frhp_size = 146 + len(filt_info) + (12 if filt else 0)
    blobs.append((f"{prefix}frhp", frhp_size, render_frhp))
    return [ids_by_idx[i] for i in range(len(objects))]


def _emit_v2_btree(blobs, prefix: str, btype: int, rec_size: int,
                   records, node_size: int = 2048) -> None:
    """v2 B-tree over `records` (bytes | callable(addrs) -> bytes,
    already in record order) at WHATEVER depth the record count
    demands: one leaf while they fit (depth 0), a root internal
    'BTIN' node over leaves past the leaf capacity (depth 1 — the
    layout libhdf5 builds for hundreds of links/attributes), and
    recursive internal levels above that (depth 2+ — tens of
    thousands of links/attributes). Separator records between
    siblings are promoted into the parent exactly as a B-tree
    requires; child-pointer count fields use libhdf5's minimum-bytes
    encoding (`_v2_btree_node_info`). node_size is a creation
    parameter recorded in the header (libhdf5's default is 2048);
    smaller values are legal files that force depth at small record
    counts."""
    import itertools
    import math

    n = len(records)
    # smallest depth whose cumulative capacity holds all records
    depth = 0
    while True:
        max_nrec, cum, cum_size, nrec_size = _v2_btree_node_info(
            node_size, rec_size, depth
        )
        if cum[depth] >= n or n == 0:
            break
        depth += 1

    counter = itertools.count()

    def render_leaf(recs):
        def render(addrs):
            b = b"BTLF" + struct.pack("<BB", 0, btype)
            for r in recs:
                b += r(addrs) if callable(r) else r
            return b + _cksum(b)

        return render

    def build(recs, d) -> tuple[str, int, int]:
        """Emit the subtree holding `recs` rooted at a depth-d node;
        returns (blob key, records in the node itself, records in the
        whole subtree)."""
        key = f"{prefix}n{next(counter)}"
        if d == 0:
            blobs.append(
                (key, 6 + len(recs) * rec_size + 4, render_leaf(recs))
            )
            return key, len(recs), len(recs)
        cap = cum[d - 1]
        # m >= 2: an internal node always holds at least one separator
        # record (guaranteed anyway when the tree depth is minimal for
        # the record count — kept explicit for safety)
        m = max(2, math.ceil((len(recs) + 1) / (cap + 1)))
        while math.ceil((len(recs) - (m - 1)) / m) > cap:
            m += 1
        in_children = len(recs) - (m - 1)
        base, extra = divmod(in_children, m)
        children, seps = [], []
        idx = 0
        for i in range(m):
            cnt = base + (1 if i < extra else 0)
            children.append(build(recs[idx:idx + cnt], d - 1))
            idx += cnt
            if i < m - 1:
                seps.append(recs[idx])
                idx += 1
        ptr_size = 8 + nrec_size + (cum_size[d - 1] if d > 1 else 0)

        def render_node(addrs, seps=seps, children=children, d=d):
            b = b"BTIN" + struct.pack("<BB", 0, btype)
            for r in seps:
                b += r(addrs) if callable(r) else r
            for ckey, cnode, ctotal in children:
                b += struct.pack("<Q", addrs[ckey])
                b += cnode.to_bytes(nrec_size, "little")
                if d > 1:
                    b += ctotal.to_bytes(cum_size[d - 1], "little")
            return b + _cksum(b)

        blobs.append((
            key, 6 + len(seps) * rec_size + m * ptr_size + 4,
            render_node,
        ))
        return key, m - 1, len(recs)

    root_key, root_nrec, _total = build(records, depth)

    def render_head(addrs):
        b = b"BTHD" + struct.pack(
            "<BBIHHBBQHQ", 0, btype, node_size, rec_size, depth, 100, 40,
            addrs[root_key], root_nrec, n,
        )
        return b + _cksum(b)

    blobs.append((f"{prefix}head", 38, render_head))


def _attr_msg_name(body: bytes) -> str:
    """Attribute name out of an encoded v1 attribute-message body (the
    writer's own _attr_scalar format) — needed for dense-storage name
    hashes without threading names separately."""
    nsize = _u16(body, 2)
    return body[8:8 + nsize].split(b"\x00")[0].decode()


def write_netcdf4(
    path: str,
    dims: dict,
    variables: dict,
    gatts: dict | None = None,
    compress: int | None = 6,
    shuffle: bool = False,
    fletcher32: bool = False,
    extra_filter: tuple[int, tuple[int, ...]] | None = None,
    node_chunk: int | None = None,
    time_chunk: int = 1,
    layout: str = "v1",
    static_chunk: int | None = None,
    heap_indirect: bool = False,
    heap_filter: bool = False,
) -> None:
    """Write a NetCDF-4 (HDF5) file.

    dims: {name: size | None}; None marks the unlimited dimension.
    variables: {name: (dim_names, np.ndarray, atts_dict)} — a variable
    named like a dim with dims == (name,) becomes its coordinate
    variable (e.g. `time`). Record variables (first dim unlimited) are
    chunked (time_chunk records × node_chunk columns, default 1 × the
    full row — netcdf-c's usual unlimited layout; time_chunk > 1
    reproduces nccopy-rechunked files) with an optional
    fletcher32+shuffle+deflate pipeline in netcdf-c's filter order
    (checksum first on write, so it is verified last on read);
    everything else is contiguous. extra_filter appends one
    (filter_id, cd_values) entry to the pipeline; for FILTER_SZIP the
    chunk bytes are REALLY szip-compressed (sources/szip.py, with the
    H5Zszip 4-byte LE size prefix) so szip fixtures carry a genuine
    CCSDS-121 bitstream; any other id is appended WITHOUT transforming
    the chunk bytes — the fixture knob for exercising the
    unsupported-filter gate.

    layout="latest" writes the h5py libver='latest' METADATA layout:
    superblock v3 (checksummed) and version-4 data layout messages
    with typed chunk indexes — Extensible Array for record variables
    (the index libhdf5 picks for one unlimited dimension), Fixed
    Array for fixed-shape chunked variables, Single Chunk when one
    chunk covers the dataset. static_chunk additionally chunks 1-D
    static variables (rows per chunk) so fixtures exercise the Fixed
    Array path. Object headers are v2 'OHDR' (the latest flavor),
    groups are new-style (compact Link messages to 8 links, dense
    fractal-heap storage past that), attributes go DENSE past 8 per
    object (fractal heap + type-8 name index, libhdf5's max_compact
    default), and every v2-style block carries a real Jenkins-lookup3
    checksum. heap_indirect forces every fractal heap to a root
    INDIRECT block over 512-byte direct rows; heap_filter deflates
    heap direct blocks — the two 'latest' layouts attribute-heavy
    real files exercise."""
    if layout not in ("v1", "latest"):
        raise HDF5Error(f"unknown layout {layout!r}")
    latest = layout == "latest"
    dim_names = list(dims)
    sizes: dict[str, int] = {}
    for dname, dsize in dims.items():
        if dsize is not None:
            sizes[dname] = int(dsize)
            continue
        for vdims, data, _ in variables.values():
            if dname in vdims:
                sizes[dname] = int(
                    np.asarray(data).shape[list(vdims).index(dname)]
                )
                break
        else:
            raise HDF5Error(f"unlimited dim {dname!r} used by no variable")
    unlimited = {d for d, n in dims.items() if n is None}

    # ---- dataset descriptors (creation order: dims first) ----------
    @dataclass
    class _WDS:
        name: str
        shape: tuple
        maxshape: tuple
        data: np.ndarray | None
        atts: list  # encoded attr bodies (DIMENSION_LIST handled apart)
        dimlist: tuple = ()  # dim names for DIMENSION_LIST
        chunk: tuple = ()
        fill: bytes | None = None
        dtype: np.dtype = None

    wds: list[_WDS] = []
    for i, dname in enumerate(dim_names):
        mx = (H5_UNDEF,) if dname in unlimited else (sizes[dname],)
        spec = variables.get(dname)
        if spec is not None and tuple(spec[0]) == (dname,):
            vdims, data, atts = spec
            data = np.ascontiguousarray(data)
            enc = [_attr_scalar("CLASS", "DIMENSION_SCALE"),
                   _attr_scalar("_Netcdf4Dimid", np.int32(i))]
            enc += [_attr_scalar(k, v) for k, v in atts.items()]
            wds.append(_WDS(dname, (sizes[dname],), mx, data, enc,
                            dtype=data.dtype))
        else:
            phony = (
                f"{NC_DIM_PHONY_PREFIX.decode()}.{sizes[dname]:10d}"
            )
            enc = [_attr_scalar("CLASS", "DIMENSION_SCALE"),
                   _attr_scalar("NAME", phony),
                   _attr_scalar("_Netcdf4Dimid", np.int32(i))]
            wds.append(_WDS(dname, (sizes[dname],), mx, None, enc,
                            dtype=np.dtype("<f4")))
    for vname, (vdims, data, atts) in variables.items():
        if vname in dims:
            if tuple(vdims) != (vname,):
                raise HDF5Error(
                    f"variable {vname!r} shadows dim with different dims"
                )
            continue
        data = np.ascontiguousarray(data)
        shape = tuple(sizes[d] for d in vdims)
        if data.shape != shape:
            raise HDF5Error(f"{vname}: data shape {data.shape} != {shape}")
        mx = tuple(H5_UNDEF if d in unlimited else sizes[d] for d in vdims)
        enc = [_attr_scalar(k, v) for k, v in atts.items()]
        fill = None
        if "_FillValue" in atts:
            fill = np.asarray(atts["_FillValue"], data.dtype).tobytes()
        wds.append(_WDS(vname, shape, mx, data, enc, dimlist=tuple(vdims),
                        fill=fill, dtype=data.dtype))

    for d in wds:
        if d.maxshape and d.maxshape[0] == H5_UNDEF:
            chunk = [min(max(1, time_chunk), max(1, d.shape[0]))]
            chunk += [n for n in d.shape[1:]]
            if node_chunk and len(chunk) > 1:
                chunk[-1] = min(node_chunk, chunk[-1])
            d.chunk = tuple(max(1, c) for c in chunk)
        elif static_chunk and len(d.shape) == 1 and d.data is not None:
            d.chunk = (min(static_chunk, max(1, d.shape[0])),)

    # ---- global heap payloads (one object per DIMENSION_LIST ref) --
    dim_index = {d: i for i, d in enumerate(dim_names)}
    gheap_objs: list[str] = []  # dim name per object, 1-based index
    gh_ref: dict[tuple[str, int], int] = {}
    for d in wds:
        for j, dn in enumerate(d.dimlist):
            gh_ref[(d.name, j)] = len(gheap_objs) + 1
            gheap_objs.append(dn)

    # ---- per-dataset message lists ---------------------------------
    filters = []
    if fletcher32:
        filters.append((FILTER_FLETCHER32, ()))
    if shuffle:
        filters.append((FILTER_SHUFFLE, ()))
    if compress is not None:
        filters.append((FILTER_DEFLATE, (int(compress),)))
    if extra_filter is not None:
        filters.append(extra_filter)

    def enc_filters(esize: int) -> bytes:
        out = struct.pack("<BB6x", 1, len(filters))
        for fid, cv in filters:
            cvals = cv if fid != FILTER_SHUFFLE else (esize,)
            out += struct.pack("<HHHH", fid, 0, 1, len(cvals))
            out += b"".join(struct.pack("<I", c) for c in cvals)
            if len(cvals) % 2:
                out += b"\x00" * 4
        return out

    def chunk_grid(d: _WDS):
        return [
            tuple(range(0, max(n, 1), c))
            for n, c in zip(d.shape, d.chunk)
        ]

    def iter_chunks(d: _WDS):
        from itertools import product

        for offs in product(*chunk_grid(d)):
            sl = tuple(
                slice(o, min(o + c, n))
                for o, c, n in zip(offs, d.chunk, d.shape)
            )
            piece = d.data[sl]
            if piece.shape != d.chunk:  # pad edge chunk to full size
                fillv = (
                    np.frombuffer(d.fill, d.dtype)[0]
                    if d.fill else np.zeros(1, d.dtype)[0]
                )
                full = np.full(d.chunk, fillv, d.dtype)
                full[tuple(slice(0, s) for s in piece.shape)] = piece
                piece = full
            raw = piece.tobytes()
            if fletcher32:
                raw += struct.pack("<I", _fletcher32(raw))
            if shuffle:
                esize = d.dtype.itemsize
                n = len(raw) // esize
                body = np.frombuffer(raw, "u1", count=n * esize)
                raw = (
                    body.reshape(n, esize).T.tobytes()
                    + raw[n * esize:]
                )
            if compress is not None:
                raw = zlib.compress(raw, int(compress))
            if extra_filter is not None and extra_filter[0] == FILTER_SZIP:
                from adcirctime2cogs_spark.sources.szip import encode_szip

                if compress is not None:
                    # deflate output is rarely sample-aligned, so the
                    # szip stage would fail on ~3/4 of chunks with an
                    # opaque length error; fail up front instead
                    # (review r11). fletcher32/shuffle are fine: +4
                    # bytes and a permutation both keep alignment for
                    # 8/16/32-bit samples.
                    raise ValueError(
                        "write_netcdf4: szip extra_filter cannot "
                        "follow deflate (compress=None required) — "
                        "deflate output is not sample-aligned"
                    )
                opts, bpp, ppb, pps = extra_filter[1][:4]
                raw = struct.pack("<I", len(raw)) + encode_szip(
                    raw, opts, bpp, ppb, pps
                )
            yield offs, raw

    blobs: list[tuple[str, int, object]] = []  # (key, size, render_fn)
    chunk_store: dict[str, list[tuple[tuple, bytes]]] = {}

    def _attach_attrs(msgs, obj_key: str, encs, extra) -> None:
        """Attach attributes to an object header: compact MSG_ATTRIBUTE
        messages up to 8 attributes, DENSE storage (fractal heap +
        type-8 v2 B-tree name index, one Attribute Info message) past
        that under layout='latest' — libhdf5's max_compact default.
        `encs` are encoded static bodies; `extra` carries
        (name, size, render_fn) for address-dependent attributes
        (DIMENSION_LIST)."""
        if not (latest and len(encs) + len(extra) > 8):
            for enc in encs:
                msgs.append(_v1_msg(MSG_ATTRIBUTE, len(enc), enc))
            for _nm, sz, fn in extra:
                msgs.append(_v1_msg(MSG_ATTRIBUTE, sz, fn))
            return
        names = [_attr_msg_name(e) for e in encs]
        names += [nm for nm, _sz, _fn in extra]
        objects = [(len(e), e) for e in encs]
        objects += [(sz, fn) for _nm, sz, fn in extra]
        ids = _emit_fractal_heap(
            blobs, f"attr:{obj_key}:", objects, hid_len=8,
            force_indirect=heap_indirect, filt=heap_filter,
        )

        def attr_rec(hid: bytes, corder: int, nm: str) -> bytes:
            return hid + b"\x00" + struct.pack(
                "<II", corder, _lookup3(nm.encode())
            )

        recs = [
            rec for _h, rec in sorted(
                (_lookup3(nm.encode()), attr_rec(hid, i, nm))
                for i, (nm, hid) in enumerate(zip(names, ids))
            )
        ]
        _emit_v2_btree(blobs, f"attr:{obj_key}:bt:", 8, 17, recs)
        msgs.append(_v1_msg(
            MSG_ATTR_INFO, 18,
            lambda addrs, ok=obj_key: struct.pack(
                "<BBQQ", 0, 0,
                addrs[f"attr:{ok}:frhp"], addrs[f"attr:{ok}:bt:head"],
            ),
        ))

    def msgs_for(d: _WDS):
        msgs = [
            _v1_msg(MSG_DATASPACE, len(_enc_ds(d.shape, d.maxshape)),
                    _enc_ds(d.shape, d.maxshape)),
            _v1_msg(MSG_DATATYPE, len(_enc_dt(d.dtype)), _enc_dt(d.dtype)),
        ]
        if d.fill:
            fb = struct.pack("<BBBBI", 2, 2, 2, 1, len(d.fill)) + d.fill
        else:
            fb = struct.pack("<BBBB", 2, 2, 2, 0)
        msgs.append(_v1_msg(MSG_FILL, len(fb), fb))
        if d.chunk and latest:
            if filters:
                fl = enc_filters(d.dtype.itemsize)
                msgs.append(_v1_msg(MSG_FILTERS, len(fl), fl))
            rank1 = len(d.shape) + 1
            n_chunks = 1
            for n, c in zip(d.shape, d.chunk):
                n_chunks *= -(-max(n, 1) // c)
            # libhdf5's "latest" index choice: one chunk covering the
            # dataset -> Single Chunk; one unlimited dim -> Extensible
            # Array; fixed dims -> Fixed Array
            if n_chunks == 1 and d.maxshape[0] != H5_UNDEF:
                idx_type = 1
            elif d.maxshape[0] == H5_UNDEF:
                idx_type = 4
            else:
                idx_type = 3
            params_n = {1: (12 if filters else 0), 3: 1, 4: 5}[idx_type]
            lsize = 5 + rank1 * 8 + 1 + params_n + 8
            flags = 0x02 if (idx_type == 1 and filters) else 0x00

            def lay(addrs, d=d, rank1=rank1, idx_type=idx_type,
                    flags=flags):
                body = struct.pack("<BBBBB", 4, 2, flags, rank1, 8)
                for c in d.chunk:
                    body += struct.pack("<Q", c)
                body += struct.pack("<Q", d.dtype.itemsize)
                body += struct.pack("<B", idx_type)
                if idx_type == 1:
                    addr = addrs[f"chunk:{d.name}:0"]
                    if flags & 0x02:
                        nb = len(chunk_store[d.name][0][1])
                        body += struct.pack("<QI", nb, 0)
                elif idx_type == 3:
                    addr = addrs[f"cidx:{d.name}"]
                    body += struct.pack("<B", _FA_PAGE_BITS)
                else:
                    addr = addrs[f"cidx:{d.name}"]
                    # creation params, H5O layout-message order:
                    # max nelmts bits, index blk elmts, sup blk min
                    # data ptrs, data blk min elmts, page nelmts bits
                    body += struct.pack(
                        "<BBBBB", _EA_MAX_BITS, _EA_IDX_ELMTS,
                        _EA_SUP_PTRS, _EA_MIN_ELMTS, _EA_PAGE_BITS,
                    )
                body += struct.pack("<Q", addr)
                return body

            msgs.append(_v1_msg(MSG_LAYOUT, lsize, lay))
        elif d.chunk:
            if filters:
                fl = enc_filters(d.dtype.itemsize)
                msgs.append(_v1_msg(MSG_FILTERS, len(fl), fl))
            rank1 = len(d.shape) + 1
            lsize = 3 + 8 + 4 * rank1

            def lay(addrs, d=d, rank1=rank1):
                body = struct.pack(
                    "<BBBQ", 3, 2, rank1, addrs[f"btree:{d.name}"]
                )
                for c in d.chunk:
                    body += struct.pack("<I", c)
                body += struct.pack("<I", d.dtype.itemsize)
                return body

            msgs.append(_v1_msg(MSG_LAYOUT, lsize, lay))
        else:
            nbytes = (
                int(np.prod(d.shape)) * d.dtype.itemsize if d.shape else
                d.dtype.itemsize
            )

            def lay(addrs, d=d, nbytes=nbytes):
                addr = addrs.get(f"data:{d.name}", H5_UNDEF)
                return struct.pack("<BBQQ", 3, 1, addr, nbytes)

            msgs.append(_v1_msg(MSG_LAYOUT, 18, lay))
        extra = []
        if d.dimlist:
            rank = len(d.dimlist)
            dlsize = (
                8 + len(_pad8b(b"DIMENSION_LIST\x00"))
                + len(_pad8b(_DT_VLEN_REF)) + len(_pad8b(_enc_ds((rank,))))
                + 16 * rank
            )

            def dlattr(addrs, d=d, rank=rank):
                data = b""
                for j in range(rank):
                    dn = d.dimlist[j]
                    data += struct.pack(
                        "<IQI", 1,
                        addrs["gheap"],
                        gh_ref[(d.name, j)],
                    )
                    _ = addrs[f"ohdr:{dn}"]  # payload holds this addr
                return _enc_attr("DIMENSION_LIST", _DT_VLEN_REF,
                                 _enc_ds((rank,)), data)

            extra.append(("DIMENSION_LIST", dlsize, dlattr))
        _attach_attrs(msgs, d.name, d.atts, extra)
        return msgs

    ds_msgs = {d.name: msgs_for(d) for d in wds}

    # ---- root group -------------------------------------------------
    # v1 layout: local heap + v1 B-tree + SNOD symbol table. latest:
    # new-style groups — compact Link messages up to 8 links, then
    # DENSE storage (fractal heap of serialized Link messages + a v2
    # B-tree name index), the same 8-link threshold libhdf5 uses.
    names_sorted = sorted(d.name for d in wds)
    n = len(names_sorted)

    def _link_blob(nm: str, addrs) -> bytes:
        # Link message v1, flags 0 (hard link, 1-byte name length)
        enc = nm.encode()
        return (struct.pack("<BBB", 1, 0, len(enc)) + enc
                + struct.pack("<Q", addrs[f"ohdr:{nm}"]))

    if latest and n <= 8:
        root_msgs = [
            _v1_msg(
                MSG_LINK, 3 + len(nm.encode()) + 8,
                (lambda addrs, nm=nm: _link_blob(nm, addrs)),
            )
            for nm in names_sorted
        ]
    elif latest:
        root_msgs = [
            _v1_msg(
                MSG_LINK_INFO, 18,
                lambda addrs: struct.pack(
                    "<BBQQ", 0, 0,
                    addrs["links:frhp"], addrs["links:bt:head"],
                ),
            )
        ]
        # heap IDs carry (virtual offset, length); the generic emitter
        # packs the link blobs into a root direct block, or — under
        # heap_indirect / when they outgrow one block — into direct
        # blocks under a root indirect block, optionally deflated
        HID_LEN = 7  # 1 flag + 4 offset + 2 length
        link_objs = [
            (3 + len(nm.encode()) + 8,
             (lambda addrs, nm=nm: _link_blob(nm, addrs)))
            for nm in names_sorted
        ]
        link_ids = _emit_fractal_heap(
            blobs, "links:", link_objs, hid_len=HID_LEN,
            force_indirect=heap_indirect, filt=heap_filter,
        )

        def link_rec(nm: str, hid: bytes) -> bytes:
            return struct.pack("<I", _lookup3(nm.encode())) + hid

        # the name index sorts by NUMERIC hash (not record bytes —
        # the hash field is little-endian)
        recs = [
            rec for _h, rec in sorted(
                (_lookup3(nm.encode()), link_rec(nm, hid))
                for nm, hid in zip(names_sorted, link_ids)
            )
        ]
        _emit_v2_btree(blobs, "links:bt:", 5, 4 + HID_LEN, recs)
    else:
        root_msgs = [
            _v1_msg(
                MSG_SYMBOL_TABLE, 16,
                lambda addrs: struct.pack(
                    "<QQ", addrs["btree"], addrs["heap_hdr"]
                ),
            )
        ]
    _attach_attrs(
        root_msgs, "/",
        [_attr_scalar(k, v) for k, v in (gatts or {}).items()], [],
    )

    ohdr_size = _ohdr_v2_size if latest else _ohdr_size
    render_ohdr = _render_ohdr_v2 if latest else _render_ohdr_v1
    blobs.append(("root_ohdr", ohdr_size(root_msgs),
                  lambda addrs: render_ohdr(root_msgs, addrs)))

    if not latest:
        heap_off: dict[str, int] = {}
        heap_data = b"\x00" * 8
        for nm in names_sorted:
            heap_off[nm] = len(heap_data)
            heap_data += _pad8b(nm.encode() + b"\x00")
        blobs.append(("heap_hdr", 32, lambda addrs: (
            b"HEAP" + struct.pack(
                "<B3xQQQ", 0, len(heap_data), 1, addrs["heap_data"]
            )
        )))
        blobs.append(("heap_data", len(heap_data), heap_data))

    btree_size = 24 + (1 + 1) * 8 + 1 * 8  # one SNOD child

    def render_btree(addrs):
        return (
            b"TREE" + struct.pack("<BBHQQ", 0, 0, 1, H5_UNDEF, H5_UNDEF)
            + struct.pack("<Q", 0)
            + struct.pack("<Q", addrs["snod"])
            + struct.pack("<Q", heap_off[names_sorted[-1]])
        )

    if not latest:
        blobs.append(("btree", btree_size, render_btree))

        def render_snod(addrs):
            out = b"SNOD" + struct.pack("<BxH", 1, n)
            for nm in names_sorted:
                out += struct.pack(
                    "<QQII16x", heap_off[nm], addrs[f"ohdr:{nm}"], 0, 0
                )
            return out

        blobs.append(("snod", 8 + n * 40, render_snod))

    # ---- global heap ----------------------------------------------
    if gheap_objs:
        need = 16 + len(gheap_objs) * (16 + 8) + 16
        gsize = max(4096, (need + 7) & ~7)

        def render_gheap(addrs):
            out = b"GCOL" + struct.pack("<B3xQ", 1, gsize)
            for i, dn in enumerate(gheap_objs, start=1):
                payload = struct.pack("<Q", addrs[f"ohdr:{dn}"])
                out += struct.pack("<HH4xQ", i, 1, len(payload))
                out += _pad8b(payload)
            free = gsize - len(out)
            out += struct.pack("<HH4xQ", 0, 0, free) + b"\x00" * (free - 16)
            return out

        blobs.append(("gheap", gsize, render_gheap))

    # ---- dataset headers, then data --------------------------------
    for d in wds:
        blobs.append((
            f"ohdr:{d.name}", ohdr_size(ds_msgs[d.name]),
            lambda addrs, d=d: render_ohdr(ds_msgs[d.name], addrs),
        ))
    def emit_latest_index(d: _WDS, chunks) -> None:
        """Emit the v4 chunk-index blobs for one dataset: nothing for
        a single chunk (the layout message holds the address), FAHD +
        FADB for fixed shapes, EAHD + EAIB (+ EADB/EASB per the
        doubling schedule) for record variables. iter_chunks yields
        row-major, so list position == the index's linear element."""
        client = 1 if filters else 0
        chunk_nbytes = d.dtype.itemsize
        for c in d.chunk:
            chunk_nbytes *= c
        # libhdf5's chunk_size_len: 1 + ((floor(log2(chunk_size)) + 8)
        # / 8) — floor, not ceil: a real reader re-derives this width
        # from the layout, so the writer must match it exactly
        csl = min(8, 1 + ((chunk_nbytes.bit_length() - 1) + 8) // 8)
        esize = 8 if client == 0 else 8 + csl + 4
        nelmts = len(chunks)

        def elt(addrs, i):
            if i >= nelmts:  # unallocated tail slot of a data block
                out = struct.pack("<Q", H5_UNDEF)
                if client:
                    out += b"\x00" * csl + struct.pack("<I", 0)
                return out
            out = struct.pack("<Q", addrs[f"chunk:{d.name}:{i}"])
            if client:
                out += len(chunks[i][1]).to_bytes(csl, "little")
                out += struct.pack("<I", 0)
            return out

        n_grid = 1
        for n, c in zip(d.shape, d.chunk):
            n_grid *= -(-max(n, 1) // c)
        if n_grid != nelmts:
            raise HDF5Error(
                f"{d.name}: chunk count {nelmts} != grid {n_grid}"
            )
        if nelmts == 1 and d.maxshape[0] != H5_UNDEF:
            return  # single chunk: no index structure
        if d.maxshape[0] != H5_UNDEF:
            # ---- Fixed Array ----
            def render_fahd(addrs, d=d, esize=esize, nelmts=nelmts):
                b = b"FAHD" + struct.pack(
                    "<BBBBQQ", 0, client, esize, _FA_PAGE_BITS, nelmts,
                    addrs[f"fadb:{d.name}"],
                )
                return b + _cksum(b)

            blobs.append((f"cidx:{d.name}", 28, render_fahd))
            fa_page = 1 << _FA_PAGE_BITS
            if nelmts > fa_page:
                # paged: prefix + all-initialized page bitmap +
                # checksum, then pages of `fa_page` elements (last
                # truncated), each with its own checksum
                npages = -(-nelmts // fa_page)
                bm_len = (npages + 7) // 8
                full = bytes([0xFF]) * (npages // 8)
                if npages % 8:
                    full += bytes([(1 << (npages % 8)) - 1])

                def render_fadb_paged(addrs, d=d, nelmts=nelmts,
                                      npages=npages, full=full):
                    b = b"FADB" + struct.pack(
                        "<BBQ", 0, client, addrs[f"cidx:{d.name}"]
                    )
                    b += full
                    b += _cksum(b)
                    for pg in range(npages):
                        n_i = min(fa_page, nelmts - pg * fa_page)
                        pb = b"".join(
                            elt(addrs, pg * fa_page + j)
                            for j in range(n_i)
                        )
                        b += pb + _cksum(pb)
                    return b

                size = 14 + bm_len + 4 + nelmts * esize + npages * 4
                blobs.append((f"fadb:{d.name}", size, render_fadb_paged))
                return

            def render_fadb(addrs, d=d, nelmts=nelmts):
                b = b"FADB" + struct.pack(
                    "<BBQ", 0, client, addrs[f"cidx:{d.name}"]
                )
                for i in range(nelmts):
                    b += elt(addrs, i)
                return b + _cksum(b)

            blobs.append(
                (f"fadb:{d.name}", 14 + nelmts * esize + 4, render_fadb)
            )
            return
        # ---- Extensible Array ----
        off_size = (_EA_MAX_BITS + 7) // 8
        nsblks = 1 + _EA_MAX_BITS - (_EA_MIN_ELMTS.bit_length() - 1)
        sblk_info = _ea_sblk_info(_EA_MIN_ELMTS, nsblks)
        n_iblk_sblks = next(
            u for u, (nd, _, _, _) in enumerate(sblk_info)
            if nd >= _EA_SUP_PTRS
        )
        n_iblk_dblks = sum(sblk_info[u][0] for u in range(n_iblk_sblks))
        n_iblk_sblk_addrs = nsblks - n_iblk_sblks

        # which data blocks (and super blocks) the elements occupy
        n_rest = max(0, nelmts - _EA_IDX_ELMTS)
        dblks: list[tuple[int, int, int, int]] = []  # (no, u, start, ne)
        for u, (nd, ne, start_idx, start_dblk) in enumerate(sblk_info):
            if start_idx >= n_rest:
                break
            for k in range(nd):
                if start_idx + k * ne >= n_rest:
                    break
                dblks.append((start_dblk + k, u, start_idx + k * ne, ne))
        sblks_used = sorted(
            {u for no, u, _, _ in dblks if no >= n_iblk_dblks}
        )
        ea_page = 1 << _EA_PAGE_BITS

        def render_eahd(addrs, d=d, esize=esize, nelmts=nelmts):
            dblk_bytes = sum(
                14 + off_size + ne * esize + 4 for _, _, _, ne in dblks
            )
            sblk_bytes = sum(
                14 + off_size + sblk_info[u][0] * 8 + 4 for u in sblks_used
            )
            b = b"EAHD" + struct.pack(
                "<BBBBBBBB", 0, client, esize, _EA_MAX_BITS,
                _EA_IDX_ELMTS, _EA_MIN_ELMTS, _EA_SUP_PTRS, _EA_PAGE_BITS,
            )
            b += struct.pack(
                "<QQQQQQ", len(sblks_used), sblk_bytes, len(dblks),
                dblk_bytes, nelmts, nelmts,
            )
            b += struct.pack("<Q", addrs[f"eaib:{d.name}"])
            return b + _cksum(b)

        def render_eaib(addrs, d=d):
            b = b"EAIB" + struct.pack(
                "<BBQ", 0, client, addrs[f"cidx:{d.name}"]
            )
            for i in range(_EA_IDX_ELMTS):
                b += elt(addrs, i)
            addr_of_dblk = {no: f"eadb:{d.name}:{no}" for no, *_ in dblks}
            for no in range(n_iblk_dblks):
                key = addr_of_dblk.get(no)
                b += struct.pack(
                    "<Q", addrs[key] if key else H5_UNDEF
                )
            for u in range(n_iblk_sblks, nsblks):
                b += struct.pack(
                    "<Q",
                    addrs[f"easb:{d.name}:{u}"]
                    if u in sblks_used else H5_UNDEF,
                )
            return b + _cksum(b)

        blobs.append((f"cidx:{d.name}", 72, render_eahd))
        blobs.append((
            f"eaib:{d.name}",
            14 + _EA_IDX_ELMTS * esize
            + (n_iblk_dblks + n_iblk_sblk_addrs) * 8 + 4,
            render_eaib,
        ))
        for u in sblks_used:
            nd, ne, start_idx, start_dblk = sblk_info[u]
            npg = ne // ea_page if ne > ea_page else 0
            bm_len = (nd * npg + 7) // 8

            def render_easb(addrs, d=d, u=u, nd=nd, start_idx=start_idx,
                            start_dblk=start_dblk, npg=npg,
                            bm_len=bm_len):
                in_sblk = {no for no, uu, _st, _ne in dblks if uu == u}
                b = b"EASB" + struct.pack(
                    "<BBQ", 0, client, addrs[f"cidx:{d.name}"]
                )
                b += (_EA_IDX_ELMTS + start_idx).to_bytes(
                    off_size, "little"
                )
                if npg:
                    # page-init bitmap: every page of every allocated
                    # data block is initialized
                    bits = bytearray(bm_len)
                    for k in range(nd):
                        if start_dblk + k in in_sblk:
                            for pg in range(npg):
                                bit = k * npg + pg
                                bits[bit >> 3] |= 1 << (bit & 7)
                    b += bytes(bits)
                for k in range(nd):
                    no = start_dblk + k
                    b += struct.pack(
                        "<Q",
                        addrs[f"eadb:{d.name}:{no}"]
                        if no in in_sblk else H5_UNDEF,
                    )
                return b + _cksum(b)

            blobs.append((
                f"easb:{d.name}:{u}",
                14 + off_size + bm_len + nd * 8 + 4,
                render_easb,
            ))
        for no, u, start, ne in dblks:
            npg = ne // ea_page if ne > ea_page else 0

            def render_eadb(addrs, d=d, start=start, ne=ne, npg=npg):
                b = b"EADB" + struct.pack(
                    "<BBQ", 0, client, addrs[f"cidx:{d.name}"]
                )
                b += (_EA_IDX_ELMTS + start).to_bytes(off_size, "little")
                if not npg:
                    for i in range(start, start + ne):
                        b += elt(addrs, _EA_IDX_ELMTS + i)
                    return b + _cksum(b)
                # paged: prefix + checksum, then full pages each with
                # their own checksum
                b += _cksum(b)
                for pg in range(npg):
                    pb = b"".join(
                        elt(addrs, _EA_IDX_ELMTS + start
                            + pg * ea_page + j)
                        for j in range(ea_page)
                    )
                    b += pb + _cksum(pb)
                return b

            size = (
                14 + off_size + ne * esize + 4 if not npg
                else 14 + off_size + 4 + ne * esize + npg * 4
            )
            blobs.append((f"eadb:{d.name}:{no}", size, render_eadb))

    for d in wds:
        if d.chunk and latest:
            chunks = list(iter_chunks(d))
            chunk_store[d.name] = chunks
            emit_latest_index(d, chunks)
            for i, (offs, raw) in enumerate(chunks):
                blobs.append((f"chunk:{d.name}:{i}", len(raw), raw))
        elif d.chunk:
            chunks = list(iter_chunks(d))
            chunk_store[d.name] = chunks
            rank1 = len(d.shape) + 1
            keysize = 8 + rank1 * 8
            bsize = 24 + (len(chunks) + 1) * keysize + len(chunks) * 8

            def render_cbtree(addrs, d=d, chunks=chunks, rank1=rank1):
                out = b"TREE" + struct.pack(
                    "<BBHQQ", 1, 0, len(chunks), H5_UNDEF, H5_UNDEF
                )
                for i, (offs, raw) in enumerate(chunks):
                    out += struct.pack("<II", len(raw), 0)
                    for o in offs:
                        out += struct.pack("<Q", o)
                    out += struct.pack("<Q", 0)  # element-dim offset
                    out += struct.pack("<Q", addrs[f"chunk:{d.name}:{i}"])
                # final key: one past the last chunk in dim 0
                last = chunks[-1][0]
                out += struct.pack("<II", 0, 0)
                out += struct.pack("<Q", last[0] + d.chunk[0])
                for o in last[1:]:
                    out += struct.pack("<Q", o + 0)
                out += struct.pack("<Q", 0)
                return out

            blobs.append((f"btree:{d.name}", bsize, render_cbtree))
            for i, (offs, raw) in enumerate(chunks):
                blobs.append((f"chunk:{d.name}:{i}", len(raw), raw))
        elif d.data is not None:
            raw = d.data.tobytes()
            blobs.append((f"data:{d.name}", len(raw), raw))
        # phony dims: no storage (layout address stays UNDEF)

    # ---- assign addresses and render -------------------------------
    addrs: dict[str, int] = {}
    sb_size = 48 if latest else 96
    pos = sb_size
    for key, size, _ in blobs:
        pos = (pos + 7) & ~7
        addrs[key] = pos
        pos += size
    eof = pos

    if latest:
        # superblock v3: sig, version, offset/length sizes, file
        # consistency flags, base, extension (undef), EOF, root OHDR,
        # lookup3 checksum — 48 bytes
        sb = H5_SIG + struct.pack("<BBBB", 3, 8, 8, 0)
        sb += struct.pack("<QQQQ", 0, H5_UNDEF, eof, addrs["root_ohdr"])
        sb += _cksum(sb)
        assert len(sb) == 48, len(sb)
    else:
        sb = H5_SIG + struct.pack(
            "<BBBBBBBxHHI", 0, 0, 0, 0, 0, 8, 8, 4, 16, 0
        )
        sb += struct.pack("<QQQQ", 0, H5_UNDEF, eof, H5_UNDEF)
        sb += struct.pack("<QQII16x", 0, addrs["root_ohdr"], 0, 0)
        assert len(sb) == 96, len(sb)

    out = bytearray(eof)
    out[0:sb_size] = sb
    for key, size, render in blobs:
        raw = render(addrs) if callable(render) else render
        if len(raw) != size:
            raise HDF5Error(
                f"writer size mismatch for {key}: planned {size}, "
                f"rendered {len(raw)}"
            )
        out[addrs[key]:addrs[key] + size] = raw
    with open(path, "wb") as f:
        f.write(bytes(out))
