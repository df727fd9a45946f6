"""Pure-Python classic NetCDF-3 codec (CDF-1 / CDF-2 / CDF-5) —
struct+numpy only, no third-party NetCDF library.

This removes the engine's last dependency gate on SURVEY O1/O2: the
reference opens ADCIRC's fort.63.nc through xarray
(run/utilities/adcirc_dask_utilities.py:36-44), and ADCIRC's fort.*
output is classic NetCDF-3 — a simple, fully public binary format
(Unidata "NetCDF Classic Format Specification"):

    header  = magic numrecs dim_list gatt_list var_list
    magic   = 'C' 'D' 'F' \\x01|\\x02|\\x05
    *_list  = ABSENT (zero tag + zero count) | tag nelems [elem ...]
    tags    : NC_DIMENSION=0x0A  NC_VARIABLE=0x0B  NC_ATTRIBUTE=0x0C
    var     = name ndims [dimid...] vatt_list nc_type vsize begin

All integers are 4-byte big-endian in CDF-1; CDF-2 widens only `begin`
to 8 bytes; CDF-5 (the PnetCDF 64-bit-data variant large parallel
ADCIRC runs write) widens every NON_NEG quantity — list sizes, name
lengths, dim lengths, attribute nelems, ndims, dimid references
(`dimid = NON_NEG` per the CDF-5 BNF), vsize, numrecs — to 64-bit
and adds the unsigned/int64 type set. Names and attribute payloads pad to 4-byte boundaries. Fixed
variables live as one contiguous block at `begin`; record variables
interleave per record with stride `recsize` (sum of the record vars'
padded per-record sizes — unpadded when there is exactly ONE record
variable, the spec's special rule).

The layout is why the per-timestep byte-range scan (the netcdf.py
`adcirc_netcdf` DataSource, the reference's chunks={'time': 1}) needs
no chunk index at all here: record r of variable v is exactly
[v.begin + r*recsize, + slab_size(v)) — computable from the header
alone, so split planning is a single small header read per file.

Decoding follows the reference's open_dataset semantics: _FillValue /
missing_value -> NaN (SURVEY O6) and CF "units since" time decoding.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import lru_cache

import numpy as np

MAGIC = b"CDF"
NC_DIMENSION, NC_VARIABLE, NC_ATTRIBUTE = 0x0A, 0x0B, 0x0C
NC_BYTE, NC_CHAR, NC_SHORT, NC_INT, NC_FLOAT, NC_DOUBLE = 1, 2, 3, 4, 5, 6
# CDF-5 (PnetCDF 64-bit-data) extended types
NC_UBYTE, NC_USHORT, NC_UINT, NC_INT64, NC_UINT64 = 7, 8, 9, 10, 11

_TYPE_DTYPE = {
    NC_BYTE: ">i1", NC_CHAR: "S1", NC_SHORT: ">i2",
    NC_INT: ">i4", NC_FLOAT: ">f4", NC_DOUBLE: ">f8",
    NC_UBYTE: ">u1", NC_USHORT: ">u2", NC_UINT: ">u4",
    NC_INT64: ">i8", NC_UINT64: ">u8",
}
_TYPE_SIZE = {NC_BYTE: 1, NC_CHAR: 1, NC_SHORT: 2, NC_INT: 4,
              NC_FLOAT: 4, NC_DOUBLE: 8, NC_UBYTE: 1, NC_USHORT: 2,
              NC_UINT: 4, NC_INT64: 8, NC_UINT64: 8}
_DTYPE_TYPE = {"int8": NC_BYTE, "S1": NC_CHAR, "int16": NC_SHORT,
               "int32": NC_INT, "float32": NC_FLOAT, "float64": NC_DOUBLE,
               "uint8": NC_UBYTE, "uint16": NC_USHORT, "uint32": NC_UINT,
               "int64": NC_INT64, "uint64": NC_UINT64}
# CDF-5 types are illegal in CDF-1/2 files
_CLASSIC_ONLY_TYPES = {NC_BYTE, NC_CHAR, NC_SHORT, NC_INT, NC_FLOAT,
                       NC_DOUBLE}


class TruncatedHeader(ValueError):
    """Header parse ran off the end of the supplied buffer (the caller
    should re-read with a larger prefix — see read_header_file)."""


class NotClassicNetCDF(ValueError):
    """Bytes are not CDF-1/CDF-2 (e.g. an HDF5-backed NetCDF-4 file)."""


@dataclass
class NC3Var:
    name: str
    dimids: tuple[int, ...]
    atts: dict
    nc_type: int
    vsize: int          # per spec (padded; advisory — reads recompute)
    begin: int


@dataclass
class NC3Header:
    version: int                      # 1 = CDF-1, 2 = CDF-2
    numrecs: int
    dims: list[tuple[str, int]]       # (name, size); size 0 = record dim
    gatts: dict
    vars: dict[str, NC3Var] = field(default_factory=dict)

    # ---- derived layout facts -------------------------------------
    @property
    def rec_dim_id(self) -> int | None:
        for i, (_, size) in enumerate(self.dims):
            if size == 0:
                return i
        return None

    def is_record(self, v: NC3Var) -> bool:
        return bool(v.dimids) and v.dimids[0] == self.rec_dim_id

    def var_shape(self, v: NC3Var) -> tuple[int, ...]:
        return tuple(
            self.numrecs if d == self.rec_dim_id else self.dims[d][1]
            for d in v.dimids
        )

    def slab_size(self, v: NC3Var) -> int:
        """UNPADDED bytes of one record (record var) / the whole block
        (fixed var)."""
        n = 1
        for d in v.dimids:
            if d != self.rec_dim_id:
                n *= self.dims[d][1]
        return n * _TYPE_SIZE[v.nc_type]

    @property
    def record_vars(self) -> list[NC3Var]:
        return [v for v in self.vars.values() if self.is_record(v)]

    @property
    def recsize(self) -> int:
        rvs = self.record_vars
        if len(rvs) == 1:  # spec special rule: single record var unpadded
            return self.slab_size(rvs[0])
        return sum(_pad4(self.slab_size(v)) for v in rvs)

    def record_slab_range(self, name: str, rec: int) -> tuple[int, int]:
        """(offset, nbytes) of record `rec` of record variable `name` —
        the byte-range contract of netcdf.py's split scan."""
        v = self.vars[name]
        if not self.is_record(v):
            raise ValueError(f"{name} is not a record variable")
        return v.begin + rec * self.recsize, self.slab_size(v)


def _pad4(n: int) -> int:
    return (n + 3) & ~3


def _fs_path(path: str) -> str:
    """Spark's binaryFile source hands out file:-scheme URIs; local
    opens need plain paths. (Object-store schemes would go through a
    filesystem mount or fsspec here.)"""
    if path.startswith("file:"):
        from urllib.parse import unquote, urlparse

        return unquote(urlparse(path).path)
    return path


# ---------------------------------------------------------------- parse
class _Cursor:
    """Version-aware reader: CDF-5 (PnetCDF 64-bit data) widens every
    NON_NEG quantity — list sizes, name lengths, dim lengths,
    attribute nelems, ndims, DIMIDS (the CDF-5 BNF defines
    `dimid = NON_NEG`, so PnetCDF writes 8-byte dimids; review r10 —
    they were misread as 32-bit, shifting the cursor 4 bytes per
    dimid), vsize, numrecs — to 64-bit; `begin` is 64-bit in both
    CDF-2 and CDF-5."""

    def __init__(self, buf: bytes, version: int = 1):
        self.buf, self.pos, self.version = buf, 0, version

    def take(self, n: int) -> bytes:
        if self.pos + n > len(self.buf):
            raise TruncatedHeader(
                f"classic NetCDF header needs more than the {len(self.buf)}"
                " bytes supplied"
            )
        b = self.buf[self.pos:self.pos + n]
        self.pos += n
        return b

    def u32(self) -> int:
        return int.from_bytes(self.take(4), "big")

    def u64(self) -> int:
        return int.from_bytes(self.take(8), "big")

    def cnt(self) -> int:
        return self.u64() if self.version == 5 else self.u32()

    def name(self) -> str:
        n = self.cnt()
        s = self.take(n).decode("utf-8")
        self.take(_pad4(n) - n)
        return s

    def att_value(self):
        nc_type = self.u32()
        nelems = self.cnt()
        nbytes = nelems * _TYPE_SIZE[nc_type]
        raw = self.take(nbytes)
        self.take(_pad4(nbytes) - nbytes)
        if nc_type == NC_CHAR:
            return raw.decode("latin-1")
        arr = np.frombuffer(raw, dtype=_TYPE_DTYPE[nc_type])
        return arr[0].item() if nelems == 1 else tuple(x.item() for x in arr)

    def att_list(self) -> dict:
        tag = self.u32()
        nelems = self.cnt()
        if tag == 0 and nelems == 0:
            return {}
        if tag != NC_ATTRIBUTE:
            raise NotClassicNetCDF(f"bad attribute-list tag 0x{tag:X}")
        return {self.name(): self.att_value() for _ in range(nelems)}


_STREAMING = {1: 0xFFFFFFFF, 2: 0xFFFFFFFF, 5: 0xFFFFFFFFFFFFFFFF}


def parse_header(buf: bytes) -> NC3Header:
    """Parse a classic/CDF-5 header from a byte prefix (raises
    TruncatedHeader if the prefix is too short, NotClassicNetCDF on
    wrong magic)."""
    if buf[:3] != MAGIC or (len(buf) > 3 and buf[3] not in (1, 2, 5)):
        if buf[:4] == b"\x89HDF":
            raise NotClassicNetCDF(
                "HDF5-backed NetCDF-4 file — this codec reads classic "
                "CDF-1/CDF-2/CDF-5 only; convert with `nccopy -k classic`"
                " or install an HDF5 reader"
            )
        raise NotClassicNetCDF("not a classic NetCDF file (bad magic)")
    version = buf[3] if len(buf) > 3 else 0
    try:
        return _parse_header_body(buf, version)
    except (KeyError, UnicodeDecodeError, OverflowError) as exc:
        # malformed counts/types/names inside a correct magic: surface
        # as the typed rejection, never a raw KeyError/UnicodeError —
        # callers (and the HDF5 fallback chain) dispatch on this type
        raise NotClassicNetCDF(f"malformed classic header: {exc!r}") from exc


def _parse_header_body(buf: bytes, version: int) -> NC3Header:
    cur = _Cursor(buf, version)
    cur.take(4)
    numrecs = cur.cnt()  # _STREAMING sentinel = unknown (see read_header_file)
    tag, nelems = cur.u32(), cur.cnt()
    dims: list[tuple[str, int]] = []
    if not (tag == 0 and nelems == 0):
        if tag != NC_DIMENSION:
            raise NotClassicNetCDF(f"bad dim-list tag 0x{tag:X}")
        dims = [(cur.name(), cur.cnt()) for _ in range(nelems)]
    gatts = cur.att_list()
    tag, nelems = cur.u32(), cur.cnt()
    h = NC3Header(version=version, numrecs=numrecs, dims=dims, gatts=gatts)
    if not (tag == 0 and nelems == 0):
        if tag != NC_VARIABLE:
            raise NotClassicNetCDF(f"bad var-list tag 0x{tag:X}")
        for _ in range(nelems):
            name = cur.name()
            ndims = cur.cnt()
            dimids = tuple(cur.cnt() for _ in range(ndims))
            atts = cur.att_list()
            nc_type = cur.u32()
            if version != 5 and nc_type not in _CLASSIC_ONLY_TYPES:
                raise NotClassicNetCDF(
                    f"type {nc_type} of {name} is CDF-5-only but the file "
                    f"is CDF-{version}"
                )
            vsize = cur.cnt()
            begin = cur.u64() if version in (2, 5) else cur.u32()
            h.vars[name] = NC3Var(name, dimids, atts, nc_type, vsize, begin)
    return h


def read_header_file(path: str, first_try: int = 8192) -> NC3Header:
    """Header from a FILE with a small read (doubling on truncation) —
    this is all the 'chunk index' the split planner ever reads."""
    import os as _os

    n = first_try
    path = _fs_path(path)
    while True:
        with open(path, "rb") as f:
            buf = f.read(n)
        try:
            h = parse_header(buf)
            break
        except TruncatedHeader:
            if len(buf) < n:  # whole file read and still truncated
                raise
            n *= 2
    return _recover_streaming_numrecs(h, _os.path.getsize(path))


def _recover_streaming_numrecs(h: NC3Header, total_bytes: int) -> NC3Header:
    """STREAMING sentinel: a writer that crashed (or is still
    appending) never patched numrecs — the actual record count is
    whatever whole records exist between the first record offset and
    EOF (the spec-sanctioned recovery). Applied by read_header_file,
    which knows the file size, so a sentinel can never reach read_var
    as a ~2^32 record count."""
    if h.numrecs == _STREAMING.get(h.version) and h.record_vars:
        base = min(v.begin for v in h.record_vars)
        h.numrecs = max(0, (total_bytes - base) // h.recsize)
    return h


@lru_cache(maxsize=128)
def _header_cached(path: str, mtime_ns: int) -> NC3Header:
    return read_header_file(path)


def header_for(path: str) -> NC3Header:
    import os

    path = _fs_path(path)
    return _header_cached(path, os.stat(path).st_mtime_ns)


# ---------------------------------------------------------------- read
def _read_at(src, off: int, n: int) -> bytes:
    if isinstance(src, (bytes, bytearray, memoryview)):
        return bytes(src[off:off + n])
    with open(_fs_path(src), "rb") as f:
        f.seek(off)
        return f.read(n)


def read_var(src, h: NC3Header, name: str) -> np.ndarray:
    """Whole variable (src: bytes or path), shaped per the header.
    Refuses an unresolved STREAMING numrecs (the caller must recover
    it from the total size first) rather than looping ~2^32 records.
    Multi-record reads gather the per-record slabs at stride recsize."""
    v = h.vars[name]
    dt = np.dtype(_TYPE_DTYPE[v.nc_type])
    if h.is_record(v) and h.numrecs == _STREAMING.get(h.version):
        raise ValueError(
            "numrecs is the STREAMING sentinel; recover it via "
            "_recover_streaming_numrecs(header, total_bytes) before reading"
        )
    shape = h.var_shape(v)
    if not h.is_record(v):
        raw = _read_at(src, v.begin, h.slab_size(v))
        return np.frombuffer(raw, dtype=dt).reshape(shape)
    slab, stride = h.slab_size(v), h.recsize
    if stride == slab:  # single record var: contiguous
        raw = _read_at(src, v.begin, h.numrecs * slab)
        return np.frombuffer(raw, dtype=dt).reshape(shape)
    recs = [
        np.frombuffer(_read_at(src, v.begin + r * stride, slab), dtype=dt)
        for r in range(h.numrecs)
    ]
    return np.stack(recs).reshape(shape) if recs else np.empty(shape, dt)


def read_record_slab(src, h: NC3Header, name: str, rec: int) -> np.ndarray:
    off, nbytes = h.record_slab_range(name, rec)
    v = h.vars[name]
    arr = np.frombuffer(_read_at(src, off, nbytes),
                        dtype=_TYPE_DTYPE[v.nc_type])
    return arr.reshape(h.var_shape(v)[1:])


# ------------------------------------------------- CF time + fill rules
_UNIT_SECONDS = {
    "s": 1.0, "sec": 1.0, "secs": 1.0, "second": 1.0, "seconds": 1.0,
    "min": 60.0, "mins": 60.0, "minute": 60.0, "minutes": 60.0,
    "h": 3600.0, "hr": 3600.0, "hrs": 3600.0, "hour": 3600.0,
    "hours": 3600.0, "d": 86400.0, "day": 86400.0, "days": 86400.0,
}


def parse_time_units(units: str) -> tuple[float, np.datetime64]:
    """CF 'seconds since 2000-01-01 00:00:00 UTC' -> (scale_s, base)."""
    import re

    m = re.match(r"^\s*(\w+)\s+since\s+(.+?)\s*$", units)
    if not m or m.group(1).lower() not in _UNIT_SECONDS:
        raise ValueError(f"unsupported time units: {units!r}")
    base = re.sub(r"\s*(UTC|Z)\s*$", "", m.group(2), flags=re.I).strip()
    # CF/udunits-legal numeric timezone suffix (-05:00, +0530, -5):
    # strip it and SHIFT the base to UTC — the old code only stripped
    # +00 forms and then corrupted the rest with the space->T
    # replacement, crashing np.datetime64 on every timestep of a
    # non-UTC file (review r10)
    offset_us = 0
    tz = re.search(r"\s+([+-])(\d{1,2})(?::?(\d{2}))?\s*$", base)
    if tz is None:
        # offset glued to the time (2000-01-01 00:00:00-05:00)
        tz = re.search(r"(?<=\d)([+-])(\d{1,2})(?::?(\d{2}))$", base)
    if tz:
        sign = -1 if tz.group(1) == "-" else 1
        offset_us = sign * (
            int(tz.group(2)) * 3600 + int(tz.group(3) or 0) * 60
        ) * 1_000_000
        base = base[: tz.start()].strip()
    base = base.replace(" ", "T")
    if "T" not in base:
        base += "T00:00:00"
    # base is local to its offset: UTC instant = local - offset
    return (
        _UNIT_SECONDS[m.group(1).lower()],
        np.datetime64(base, "us") - np.timedelta64(offset_us, "us"),
    )


def units_scale_base(units) -> tuple:
    """(seconds-per-unit, UTC base datetime64[us]) from a CF units
    attribute; a missing/empty attribute falls back to raw epoch
    seconds. The ONE fallback shared by decode_times, _record_ts, and
    hdf5._decode_times_nc4 (review r10: the block existed three times,
    so any units fix — e.g. the timezone-offset handling above — would
    have had to land thrice or the whole-file and per-split paths
    would silently diverge on the same file)."""
    return (
        parse_time_units(str(units)) if units
        else (1.0, np.datetime64("1970-01-01T00:00:00", "us"))
    )


def _time_var(h: NC3Header) -> NC3Var | None:
    if "time" in h.vars:
        return h.vars["time"]
    for v in h.record_vars:  # any 1-D record var with CF units
        if len(v.dimids) == 1 and " since " in str(v.atts.get("units", "")):
            return v
    return None


def decode_times(src, h: NC3Header) -> np.ndarray:
    """datetime64[us] per record, from the CF time variable (falls back
    to raw epoch-seconds when no units attribute exists)."""
    tv = _time_var(h)
    if tv is None:
        raise ValueError("no time variable in classic NetCDF file")
    vals = read_var(src, h, tv.name).astype("float64").ravel()
    scale, base = units_scale_base(tv.atts.get("units"))
    return base + np.round(vals * scale * 1e6).astype("timedelta64[us]")


def masked_to_nan(arr: np.ndarray, v: NC3Var) -> np.ndarray:
    """_FillValue / missing_value -> NaN (reference O6 normalization).
    A multi-element attribute (att_value returns a tuple for
    nelems > 1, seen in the wild) masks on its FIRST element — the
    same np.asarray guard as hdf5._masked_to_nan (review r10: the
    two twins had diverged; float(tuple) raised TypeError here)."""
    out = arr.astype("float64", copy=True)
    for key in ("_FillValue", "missing_value"):
        fill = v.atts.get(key)
        if fill is not None:
            out[out == float(np.asarray(fill).ravel()[0])] = np.nan
    return out


# ------------------------------------------ netcdf.py codec callables
# decode tasks are CPU-light (frombuffer + mask), so smaller splits
# win on parallelism long before scheduling overhead bites: an HSOFS
# record (14.6 MB) planned at 4 MB = 4 tasks/record — measured 2.1-3.4s
# vs 14s unsplit for a 2-record file on local[32]. That serves
# scan_netcdf's callers (adcirc_nc_to_tables, the scale legs); the
# CLI's one task per record (sinks/cog.write_cogs_from_records) reads
# all of a record's sub-splits itself: 0.02 s for that HSOFS record on
# a 4-vCPU host, next to 1.0-1.4 s for the task's regrid and COG write
# at 2200x2400 pixels
MAX_SPLIT_BYTES = 4 * 1024 * 1024


def classic_splitter(path: str, length: int, variable: str | None = None,
                     max_split_bytes: int = MAX_SPLIT_BYTES):
    """Byte-range splits planned from one small header read; never
    touches data bytes.

    Without `variable` (legacy contract): (t_idx, offset, nbytes) per
    RECORD — the span covers the whole record block and the range
    decoder reads only its variable's sub-slab within it.

    With `variable`, large records additionally SUB-SPLIT: the
    variable's per-record slab is one contiguous array, so a record
    bigger than max_split_bytes becomes ceil(slab/max) node-range
    tasks — an HSOFS record (1.8M nodes x 8 B = 14.6 MB) planning at
    the 4 MB default yields 4 tasks/record instead of 1, restoring
    the intra-record parallelism the NetCDF-4 chunk index gets for
    free. Each split is itemsize-aligned; t_idx repeats across a
    record's chunks."""
    h = header_for(path)
    rvs = h.record_vars
    if not rvs:
        return []
    v = None
    if variable:
        # validate at PLAN time, driver-side: a missing or non-record
        # variable used to fall silently into the legacy whole-record
        # branch and then kill every executor task with a raw
        # KeyError/ValueError inside the range decoder (review r10)
        v = h.vars.get(variable)
        if v is None:
            raise ValueError(
                f"variable {variable!r} not in {path!r} "
                f"(has: {sorted(h.vars)})"
            )
        if not h.is_record(v):
            raise ValueError(
                f"{variable!r} in {path!r} is not a record variable — "
                "only record (unlimited-dim) variables scan per-timestep"
            )
    if v is None or h.slab_size(v) <= max_split_bytes:
        base = min(rv.begin for rv in rvs)
        return [
            (r, base + r * h.recsize, h.recsize) for r in range(h.numrecs)
        ]
    item = _TYPE_SIZE[v.nc_type]
    slab = h.slab_size(v)
    step = max(item, max_split_bytes - max_split_bytes % item)
    out = []
    for r in range(h.numrecs):
        off0, _ = h.record_slab_range(variable, r)
        for k in range(0, slab, step):
            out.append((r, off0 + k, min(step, slab - k)))
    return out


def classic_range_decoder(path: str, variable: str, t_idx: int,
                          offset: int, nbytes: int):
    """(ts, node_ids, values_1d) for ONE split — the netcdf.py
    DataSource's range-decoder contract. Opens the file itself and
    reads only its byte range plus the (tiny) time slab; whole-file
    bytes never flow through Spark. Accepts both split shapes the splitter plans:
    a whole-record span containing the variable's slab (legacy), or a
    sub-slab node-range chunk strictly inside it."""
    h = header_for(path)
    v = h.vars[variable]
    slab_off, slab_n = h.record_slab_range(variable, t_idx)
    item = _TYPE_SIZE[v.nc_type]
    if slab_off <= offset and offset + nbytes <= slab_off + slab_n:
        # node-range sub-split of this record's slab
        node0 = (offset - slab_off) // item
        raw = _read_at(path, offset, nbytes)
        values = masked_to_nan(
            np.frombuffer(raw, dtype=_TYPE_DTYPE[v.nc_type]), v
        )
        ts = _record_ts(path, h, t_idx)
        return ts, range(node0, node0 + len(values)), values
    if not (offset <= slab_off and slab_off + slab_n <= offset + nbytes):
        raise ValueError(
            f"slab [{slab_off}, +{slab_n}) of {variable}[{t_idx}] outside "
            f"assigned split [{offset}, +{nbytes})"
        )
    values = masked_to_nan(read_record_slab(path, h, variable, t_idx), v)
    ts = _record_ts(path, h, t_idx)
    return ts, range(values.shape[-1]), values


def _record_ts(src, h: NC3Header, t_idx: int):
    """ONE record's CF-decoded timestamp (reads only the tiny time
    slab) — the shared time half of both range-decoder branches."""
    tv = _time_var(h)
    if tv is None:
        raise ValueError(
            f"no time variable in classic NetCDF file {src!r} — the "
            "per-timestep range decode needs one record time axis"
        )
    traw = read_record_slab(src, h, tv.name, t_idx).astype("float64").ravel()
    scale, base = units_scale_base(tv.atts.get("units"))
    return base + np.round(traw[0] * scale * 1e6).astype("timedelta64[us]")


# ---------------------------------------------------------------- write
def _att_bytes(value, w: int) -> bytes:
    if isinstance(value, str):
        raw = value.encode("utf-8")
        head = NC_CHAR.to_bytes(4, "big") + len(raw).to_bytes(w, "big")
        return head + raw + b"\x00" * (_pad4(len(raw)) - len(raw))
    arr = np.asarray(value)
    if arr.dtype.kind == "f":
        arr, nc_type = arr.astype(">f8"), NC_DOUBLE
    elif arr.dtype.kind == "i":
        arr, nc_type = arr.astype(">i4"), NC_INT
    else:
        raise TypeError(f"unsupported attribute type: {arr.dtype}")
    raw = arr.ravel().tobytes()
    head = nc_type.to_bytes(4, "big") + int(arr.size).to_bytes(w, "big")
    return head + raw + b"\x00" * (_pad4(len(raw)) - len(raw))


def _name_bytes(name: str, w: int) -> bytes:
    raw = name.encode("utf-8")
    return (len(raw).to_bytes(w, "big") + raw
            + b"\x00" * (_pad4(len(raw)) - len(raw)))


def _att_list_bytes(atts: dict, w: int) -> bytes:
    if not atts:
        return b"\x00" * (4 + w)  # ABSENT: zero tag + zero count
    out = NC_ATTRIBUTE.to_bytes(4, "big") + len(atts).to_bytes(w, "big")
    for k, v in atts.items():
        out += _name_bytes(k, w) + _att_bytes(v, w)
    return out


def write_classic(
    path: str,
    dims: list[tuple[str, int | None]],
    variables: list[dict],
    gatts: dict | None = None,
    version: int = 1,
) -> None:
    """Minimal CDF-1/CDF-2 writer (fixture/round-trip companion of the
    reader; ADCIRC itself produces these files).

    dims: (name, size) with size None/0 marking THE record dimension.
    variables: {name, dims: [dim names], data: np.ndarray, atts: {}} —
    a record variable's data carries numrecs as its first axis.
    version: 1 (CDF-1), 2 (64-bit offsets), or 5 (PnetCDF 64-bit data:
    64-bit counts everywhere plus the unsigned/int64 type set).
    """
    if version not in (1, 2, 5):
        raise ValueError(f"unsupported classic version {version}")
    w = 8 if version == 5 else 4  # NON_NEG count width
    dim_sizes = [(n, int(s) if s else 0) for n, s in dims]
    dim_index = {n: i for i, (n, _) in enumerate(dim_sizes)}
    rec_id = next((i for i, (_, s) in enumerate(dim_sizes) if s == 0), None)

    numrecs = 0
    meta = []
    for spec in variables:
        data = np.asarray(spec["data"])
        dimids = tuple(dim_index[d] for d in spec["dims"])
        nc_type = _DTYPE_TYPE[data.dtype.name if data.dtype.kind != "S"
                              else "S1"]
        if version != 5 and nc_type not in _CLASSIC_ONLY_TYPES:
            raise ValueError(
                f"type {data.dtype} of {spec['name']} needs version=5"
            )
        is_rec = bool(dimids) and dimids[0] == rec_id
        if is_rec:
            numrecs = max(numrecs, data.shape[0])
        slab = _TYPE_SIZE[nc_type]
        for d in dimids:
            if d != rec_id:
                slab *= dim_sizes[d][1]
        meta.append({
            "name": spec["name"], "dimids": dimids, "data": data,
            "atts": spec.get("atts", {}), "nc_type": nc_type,
            "is_rec": is_rec, "slab": slab,
        })

    n_rec = sum(1 for m in meta if m["is_rec"])

    def header_bytes() -> bytes:
        out = MAGIC + bytes([version]) + numrecs.to_bytes(w, "big")
        if dim_sizes:
            out += NC_DIMENSION.to_bytes(4, "big")
            out += len(dim_sizes).to_bytes(w, "big")
            for n, s in dim_sizes:
                out += _name_bytes(n, w) + s.to_bytes(w, "big")
        else:
            out += b"\x00" * (4 + w)
        out += _att_list_bytes(gatts or {}, w)
        if meta:
            out += NC_VARIABLE.to_bytes(4, "big") + len(meta).to_bytes(w, "big")
            for m in meta:
                out += _name_bytes(m["name"], w)
                out += len(m["dimids"]).to_bytes(w, "big")
                for d in m["dimids"]:
                    out += d.to_bytes(w, "big")  # dimid = NON_NEG
                out += _att_list_bytes(m["atts"], w)
                out += m["nc_type"].to_bytes(4, "big")
                vsize = _pad4(m["slab"]) if (n_rec != 1 or not m["is_rec"]) \
                    else m["slab"]
                out += vsize.to_bytes(w, "big")
                out += m["begin"].to_bytes(8 if version in (2, 5) else 4, "big")
        else:
            out += b"\x00" * (4 + w)
        return out

    for m in meta:  # pass 1: measure header with placeholder begins
        m["begin"] = 0
    offset = len(header_bytes())
    for m in meta:  # fixed vars first (spec layout), then record vars
        if not m["is_rec"]:
            m["begin"] = offset
            offset += _pad4(m["slab"])
    for m in meta:
        if m["is_rec"]:
            m["begin"] = offset
            offset += m["slab"] if n_rec == 1 else _pad4(m["slab"])

    with open(path, "wb") as f:
        f.write(header_bytes())
        for m in meta:
            if m["is_rec"]:
                continue
            raw = m["data"].astype(_TYPE_DTYPE[m["nc_type"]]).tobytes()
            f.write(raw + b"\x00" * (_pad4(len(raw)) - len(raw)))
        rec_vars = [m for m in meta if m["is_rec"]]
        for r in range(numrecs):
            for m in rec_vars:
                # np.asarray: a scalar slice (0-d) must stay an array —
                # numpy SCALARS silently drop the >-byte-order on astype
                raw = np.asarray(m["data"][r]).astype(
                    _TYPE_DTYPE[m["nc_type"]]
                ).tobytes()
                if n_rec != 1:
                    raw += b"\x00" * (_pad4(len(raw)) - len(raw))
                f.write(raw)
