"""Pure-Python HDF5/NetCDF-4 codec (sources/hdf5.py): spec-level byte
conformance, reader/writer round-trips across layouts and filters, a
hand-encoded superblock-v2 + OHDR-v2 file (independent of the writer),
and the REAL end-to-end path — a fort.63-like NetCDF-4 file decoded by
the DEFAULT codecs (zero injection, no h5py) through the
`adcirc_netcdf` scan into the regrid plan, golden-matched against both
the micromesh fixture and the byte-identical classic NetCDF-3 file
(SURVEY O1/O2)."""

import struct

import numpy as np
import pytest

from adcirctime2cogs_spark.plans import micromesh as mm
from adcirctime2cogs_spark.sources import hdf5
from adcirctime2cogs_spark.sources import netcdf3 as nc3
from tests.test_netcdf3 import _reference_rows, _scan_rows

FILL = -99999.0


def _micromesh_payload():
    n_nodes = len(mm.NODES)
    times = np.array([0.0, 3600.0, 7200.0])
    zeta = np.full((3, n_nodes), FILL)
    by_ts = {}
    for ts, nid, v in mm.TIMESERIES:
        by_ts.setdefault(ts, {})[nid] = v
    for t_idx, ts in enumerate((mm.T1, mm.T2, mm.T3)):
        for nid in range(n_nodes):
            v = by_ts[ts][nid]
            zeta[t_idx, nid] = FILL if v is None else v
    lon = np.array([n[1] for n in mm.NODES])
    lat = np.array([n[2] for n in mm.NODES])
    element = np.array([[e[1], e[2], e[3]] for e in mm.ELEMENTS],
                       dtype="int32") + 1  # ADCIRC is 1-based
    return times, zeta, lon, lat, element


def _write_micromesh_nc4(path: str, **kw) -> None:
    """The same fort.63-shaped content test_netcdf3 writes as CDF-1,
    here as NetCDF-4 (HDF5): time/zeta record vars chunked+deflated,
    static mesh fields contiguous."""
    times, zeta, lon, lat, element = _micromesh_payload()
    hdf5.write_netcdf4(
        path,
        dims={"time": None, "node": len(lon),
              "nele": len(element), "nvertex": 3},
        variables={
            "time": (("time",), times,
                     {"units": f"seconds since {mm.T1} UTC"}),
            "x": (("node",), lon, {}),
            "y": (("node",), lat, {}),
            "depth": (("node",), lon + lat + 5.0, {}),
            "element": (("nele", "nvertex"), element, {}),
            "zeta": (("time", "node"), zeta,
                     {"_FillValue": np.float64(FILL), "units": "m"}),
        },
        gatts={"model": "ADCIRC", "grid": "micromesh"},
        **kw,
    )


# ------------------------------------------------------ spec bytes
def test_superblock_bytes_conform_to_spec(tmp_path):
    """Byte-level conformance independently hand-decoded here (not via
    the reader): signature, version fields, offset sizes, EOF address,
    root symbol-table entry, and the local-heap/B-tree signatures the
    root group points at."""
    p = str(tmp_path / "sb.nc")
    hdf5.write_netcdf4(
        p, dims={"node": 3},
        variables={"v": (("node",), np.arange(3.0), {})},
        compress=None,
    )
    buf = open(p, "rb").read()
    assert buf[:8] == b"\x89HDF\r\n\x1a\n"
    assert buf[8] == 0                      # superblock v0
    assert (buf[13], buf[14]) == (8, 8)     # offset/length sizes
    base, _fs, eof, _drv = struct.unpack_from("<4Q", buf, 24)
    assert base == 0 and eof == len(buf)
    root_ohdr = struct.unpack_from("<Q", buf, 56 + 8)[0]
    assert buf[root_ohdr] == 1              # v1 object header
    # first root message is the symbol table: btree + heap addresses
    mtype, msize = struct.unpack_from("<HH", buf, root_ohdr + 16)
    assert mtype == hdf5.MSG_SYMBOL_TABLE
    btree, heap = struct.unpack_from("<QQ", buf, root_ohdr + 24)
    assert buf[btree:btree + 4] == b"TREE"
    assert buf[heap:heap + 4] == b"HEAP"
    # the B-tree's single child is a symbol node
    snod = struct.unpack_from("<Q", buf, btree + 24 + 8)[0]
    assert buf[snod:snod + 4] == b"SNOD"


def test_chunk_btree_key_layout(tmp_path):
    """The v1 chunk B-tree's keys carry (stored size, filter mask,
    chunk offsets) exactly as the spec lays them out — verified by
    matching the tree's stored sizes against zlib-decompressing each
    chunk at its recorded address."""
    import zlib

    p = str(tmp_path / "ck.nc")
    data = np.arange(20.0).reshape(4, 5)
    hdf5.write_netcdf4(
        p, dims={"time": None, "node": 5},
        variables={"time": (("time",), np.arange(4.0), {}),
                   "zeta": (("time", "node"), data, {})},
    )
    buf = open(p, "rb").read()
    f = hdf5.H5File(p)
    chunks = list(f.chunks("zeta"))
    assert len(chunks) == 4  # one per record: chunk shape (1, node)
    for offs, addr, nbytes, mask in chunks:
        assert mask == 0
        raw = zlib.decompress(buf[addr:addr + nbytes])
        row = np.frombuffer(raw, "<f8")
        assert np.array_equal(row, data[offs[0]])


# ------------------------------------------------------ round trips
def test_roundtrip_layouts_dtypes_filters(tmp_path):
    """Contiguous/chunked × i4/f4/f8 × {plain, deflate, shuffle+deflate},
    plus edge chunks (node_chunk that doesn't divide the row) and
    attribute fidelity."""
    rng = np.random.default_rng(7)
    zeta = rng.normal(size=(5, 13)).astype("f8")
    cases = [
        dict(compress=None),
        dict(compress=9),
        dict(compress=6, shuffle=True),
        dict(compress=6, node_chunk=4),  # 13 % 4 != 0: edge chunk
    ]
    for i, kw in enumerate(cases):
        p = str(tmp_path / f"rt{i}.nc")
        hdf5.write_netcdf4(
            p, dims={"time": None, "node": 13, "three": 3},
            variables={
                "time": (("time",), np.arange(5.0) * 60, {}),
                "zeta": (("time", "node"), zeta,
                         {"_FillValue": np.float64(FILL)}),
                "counts": (("three",), np.array([7, 8, 9], "<i4"),
                           {"long_name": "counter"}),
                "f32": (("node",), np.arange(13, dtype="<f4"), {}),
            },
            gatts={"title": "rt", "pi": np.float64(3.25)},
            **kw,
        )
        nc = hdf5.NC4File(p)
        assert np.array_equal(nc.read_var("zeta"), zeta), kw
        assert np.array_equal(nc.read_var("counts"),
                              np.array([7, 8, 9], "<i4"))
        assert np.array_equal(nc.read_var("f32"),
                              np.arange(13, dtype="<f4"))
        assert nc.vars["counts"].atts["long_name"] == "counter"
        assert nc.gatts["title"] == "rt" and nc.gatts["pi"] == 3.25
        assert nc.dims == {"time": 5, "node": 13, "three": 3}
        assert nc.unlimited == {"time"}
        assert nc.vars["zeta"].dims == ("time", "node")
        assert nc.is_record("zeta") and not nc.is_record("counts")


def test_phony_dim_and_unallocated_storage(tmp_path):
    """A dim with no coordinate variable gets the netcdf-c phony-NAME
    dataset and never appears as a variable; its (never-allocated)
    storage reads back as fill."""
    p = str(tmp_path / "ph.nc")
    hdf5.write_netcdf4(
        p, dims={"node": 4},
        variables={"v": (("node",), np.arange(4.0), {})},
    )
    nc = hdf5.NC4File(p)
    assert "node" in nc.dims and "node" not in nc.vars
    d = nc.h5.datasets["node"]
    assert d.attrs["NAME"].startswith(
        "This is a netCDF dimension but not a netCDF variable"
    )
    assert d.layout.addr == hdf5.H5_UNDEF
    assert nc.h5.read("node").shape == (4,)  # fill, not a crash


def test_dimension_list_resolves_through_global_heap(tmp_path):
    """DIMENSION_LIST is a real vlen-of-object-reference attribute: the
    raw attribute data holds (len, GCOL address, index) triples and the
    global heap objects hold the dim datasets' header addresses."""
    p = str(tmp_path / "dl.nc")
    _write_micromesh_nc4(p)
    f = hdf5.H5File(p)
    refs = f.datasets["zeta"].attrs["DIMENSION_LIST"]
    assert len(refs) == 2 and all(len(r) == 1 for r in refs)
    assert refs[0][0] == f.datasets["time"].addr
    assert refs[1][0] == f.datasets["node"].addr
    buf = open(p, "rb").read()
    # and the refs really route through exactly one 'GCOL' collection
    g = buf.find(b"GCOL")
    assert g >= 0 and buf.find(b"GCOL", g + 4) == -1


def test_fletcher32_roundtrip_and_corruption(tmp_path):
    """The fletcher32 checksum filter (id 3) decodes for real: plain,
    and under the full netcdf-c pipeline order fletcher->shuffle->
    deflate (where the 4-byte checksum rides through shuffle as the
    unaligned tail). A flipped data byte must fail the checksum
    loudly, not decode garbage."""
    rng = np.random.default_rng(13)
    zeta = rng.normal(size=(4, 9)).astype("f8")
    for kw in (dict(compress=None), dict(compress=6, shuffle=True)):
        p = str(tmp_path / f"f32_{kw.get('compress')}.nc")
        hdf5.write_netcdf4(
            p, dims={"time": None, "node": 9},
            variables={
                "time": (("time",), np.arange(4.0), {}),
                "zeta": (("time", "node"), zeta, {}),
            },
            fletcher32=True, **kw,
        )
        assert np.array_equal(hdf5.NC4File(p).read_var("zeta"), zeta), kw
    # corruption: fletcher-only chunks are raw row bytes + checksum —
    # flip one payload byte in place on disk
    p = str(tmp_path / "f32_corrupt.nc")
    hdf5.write_netcdf4(
        p, dims={"time": None, "node": 9},
        variables={
            "time": (("time",), np.arange(4.0), {}),
            "zeta": (("time", "node"), zeta, {}),
        },
        fletcher32=True, compress=None,
    )
    blob = bytearray(open(p, "rb").read())
    row = zeta[2].tobytes()
    at = bytes(blob).index(row)
    blob[at + 5] ^= 0xFF
    open(p, "wb").write(bytes(blob))
    with pytest.raises(hdf5.HDF5Error, match="fletcher32 checksum"):
        hdf5.NC4File(p).read_var("zeta")


def test_fletcher32_checksum_block_fold_and_odd_tail():
    """_fletcher32 invariants pinned against the H5checksum.c
    algorithm shape: 16-bit big-endian word assembly (byte order
    matters), the odd trailing byte high-padded (so it changes the
    sum), and block folding that keeps >360-word buffers equal to a
    word-at-a-time reference implementation."""
    def reference(data: bytes) -> int:
        s1 = s2 = 0
        n2 = len(data) // 2
        for i in range(n2):
            s1 += (data[2 * i] << 8) | data[2 * i + 1]
            s2 += s1
            if i % 360 == 359 or i == n2 - 1:
                s1 = (s1 & 0xFFFF) + (s1 >> 16)
                s2 = (s2 & 0xFFFF) + (s2 >> 16)
        if len(data) % 2:
            s1 += data[-1] << 8
            s2 += s1
            s1 = (s1 & 0xFFFF) + (s1 >> 16)
            s2 = (s2 & 0xFFFF) + (s2 >> 16)
        s1 = (s1 & 0xFFFF) + (s1 >> 16)
        s2 = (s2 & 0xFFFF) + (s2 >> 16)
        return (s2 << 16) | s1

    rng = np.random.default_rng(99)
    for n in (0, 1, 2, 3, 719, 720, 721, 5000):
        data = rng.integers(0, 256, n, dtype="u1").tobytes()
        assert hdf5._fletcher32(data) == reference(data), n
    assert hdf5._fletcher32(b"\x01\x02") != hdf5._fletcher32(b"\x02\x01")
    assert hdf5._fletcher32(b"\x01\x02") != hdf5._fletcher32(b"\x01\x02\x00")


def test_unsupported_filter_raises_typed_error_end_to_end(tmp_path):
    """VERDICT r09 #5 contract, post-szip-decoder (r11): an
    out-of-subset chunk filter must raise the TYPED
    UnsupportedHDF5Feature naming the supported filter subset — both
    from the HDF5 layer and end-to-end through the default decoder's
    fallback gate — never a bare 'no xarray' NotImplementedError or a
    silent wrong answer. szip itself (filter 4) now decodes natively
    (sources/szip.py; tests/test_szip.py pins it against real
    CCSDS-121 bytes plus the out-of-subset szip-parameter gate), so
    the gate is exercised with a user-registered filter id."""
    rng = np.random.default_rng(3)
    zeta = rng.normal(size=(3, 7)).astype("f8")
    p = str(tmp_path / "userfilter.nc")
    hdf5.write_netcdf4(
        p, dims={"time": None, "node": 7},
        variables={
            "time": (("time",), np.arange(3.0), {}),
            "zeta": (("time", "node"), zeta, {}),
        },
        compress=None,
        extra_filter=(307, (1, 2, 3)),
    )
    with pytest.raises(hdf5.UnsupportedHDF5Feature,
                       match="deflate=1, shuffle=2, fletcher32=3"):
        hdf5.NC4File(p).read_var("zeta")
    # and from the scan's range decoder, on every planned split
    from adcirctime2cogs_spark.sources.netcdf import (
        _default_range_decoder,
        _default_splitter,
    )

    splits = _default_splitter(p, 0, "zeta")
    assert len(splits) == 3
    for t, off, nb in splits:
        with pytest.raises(hdf5.UnsupportedHDF5Feature, match="307"):
            _default_range_decoder(p, "zeta", t, off, nb)


def test_not_hdf5_and_out_of_subset_errors(tmp_path):
    with pytest.raises(hdf5.NotHDF5):
        hdf5.H5File(b"CDF\x01" + b"\x00" * 100)
    # dense groups are SUPPORTED now (r08); a Link Info pointing at a
    # bogus heap address must still fail loudly, not decode garbage
    p = str(tmp_path / "dense.h5")
    _write_minimal_v2_file(p, dense=True)
    with pytest.raises(hdf5.HDF5Error, match="short read|bad fractal heap"):
        hdf5.H5File(p)


# ------------------------------------- superblock v2 / OHDR v2 path
def _write_minimal_v2_file(path: str, dense: bool = False) -> None:
    """Hand-encoded (writer-independent) superblock-v2 file: root group
    as a v2 'OHDR' with compact Link messages -> one contiguous f8
    dataset 'v' of shape (4,). Checksums are written as zeros — the
    reader parses structure and does not verify them."""
    def v2msg(mtype, body):
        return struct.pack("<BHB", mtype, len(body), 0) + body

    data = np.arange(4.0)
    # dataset object header (v2)
    ds_msgs = (
        v2msg(hdf5.MSG_DATASPACE, struct.pack("<BBBBQ", 2, 1, 0, 1, 4))
        + v2msg(hdf5.MSG_DATATYPE,
                struct.pack("<B3BI", (1 << 4) | 1, 0x20, 63, 0, 8)
                + struct.pack("<HHBBBBI", 0, 64, 52, 11, 0, 52, 1023))
        + v2msg(hdf5.MSG_LAYOUT, struct.pack("<BBQQ", 3, 1, 0, 32))
    )
    # addresses: superblock 48 | root OHDR | ds OHDR | data
    root_link = v2msg(
        hdf5.MSG_LINK,
        struct.pack("<BBB", 1, 0, 1) + b"v" + struct.pack("<Q", 0),
    )
    if dense:
        root_li = v2msg(
            hdf5.MSG_LINK_INFO, struct.pack("<BBQQ", 0, 0, 4096, 4096)
        )
    else:
        root_li = v2msg(
            hdf5.MSG_LINK_INFO,
            struct.pack("<BBQQ", 0, 0, hdf5.H5_UNDEF, hdf5.H5_UNDEF),
        )
    root_body = root_li + root_link
    root_hdr = b"OHDR" + struct.pack("<BBB", 2, 0, len(root_body))
    ds_hdr = b"OHDR" + struct.pack("<BBB", 2, 0, len(ds_msgs))
    root_addr = 48
    ds_addr = root_addr + len(root_hdr) + len(root_body) + 4
    data_addr = ds_addr + len(ds_hdr) + len(ds_msgs) + 4
    # patch link target + layout address now that layout is known
    root_link = v2msg(
        hdf5.MSG_LINK,
        struct.pack("<BBB", 1, 0, 1) + b"v" + struct.pack("<Q", ds_addr),
    )
    root_body = root_li + root_link
    ds_msgs = ds_msgs[: len(ds_msgs) - 18] + struct.pack(
        "<BBQQ", 3, 1, data_addr, 32
    )
    eof = data_addr + 32
    sb = (
        hdf5.H5_SIG
        + struct.pack("<BBBB", 2, 8, 8, 0)
        + struct.pack("<QQQQ", 0, hdf5.H5_UNDEF, eof, root_addr)
        + b"\x00" * 4  # checksum (unverified)
    )
    assert len(sb) == 48
    with open(path, "wb") as f:
        f.write(sb + root_hdr + root_body + b"\x00" * 4)
        f.write(ds_hdr + ds_msgs + b"\x00" * 4)
        f.write(data.tobytes())


def test_superblock_v2_ohdr_v2_compact_links(tmp_path):
    p = str(tmp_path / "v2.h5")
    _write_minimal_v2_file(p)
    f = hdf5.H5File(p)
    assert list(f.datasets) == ["v"]
    assert np.array_equal(f.read("v"), np.arange(4.0))


# ----------------------------------------- default codecs, zero h5py
def test_scan_netcdf_default_codecs_nc4(spark, tmp_path):
    from adcirctime2cogs_spark.sources.netcdf import scan_netcdf

    p = str(tmp_path / "fort.63.nc")
    _write_micromesh_nc4(p)
    df = scan_netcdf(spark, p, "zeta")
    got = {(str(r.ts), r.node_id): r.value for r in df.collect()}
    assert len(got) == len(mm.TIMESERIES)
    for ts, nid, v in mm.TIMESERIES:
        if v is None:
            assert got[(ts, nid)] is None
        else:
            assert got[(ts, nid)] == pytest.approx(v, abs=0)


@pytest.mark.parametrize("node_chunk", [None, 2])
def test_scan_split_default_codecs_nc4(spark, tmp_path, node_chunk):
    """scan_netcdf on NetCDF-4 with the DEFAULT splitter/range
    decoder: splits come from the chunk B-tree (per compressed chunk —
    node_chunk=2 forces multiple chunks per record) and the union of
    all chunk tasks equals the whole-variable reference decode."""
    from adcirctime2cogs_spark.sources.netcdf import scan_netcdf

    p = str(tmp_path / "fort.63.nc")
    _write_micromesh_nc4(p, node_chunk=node_chunk)
    assert _scan_rows(scan_netcdf(spark, p, "zeta")) == _reference_rows(p)


def test_scan_split_paged_extensible_array(spark, tmp_path, monkeypatch):
    """The full distributed split scan over a PAGED Extensible Array
    index: page size shrunk to 2^6 elements (a legal creation
    parameter, recorded in the header the reader honors — small
    enough that the u=4 super block's 128-element data blocks page,
    large enough that index-block-referenced data blocks stay
    unpaged, as libhdf5's parameters always guarantee) so a
    300-record file exercises the same code path a >131k-chunk file
    takes at the default parameters, kept test-sized. Split union
    must equal the whole-variable reference decode."""
    from adcirctime2cogs_spark.sources.netcdf import scan_netcdf

    monkeypatch.setattr(hdf5, "_EA_PAGE_BITS", 6)
    p = str(tmp_path / "paged.nc")
    t = np.arange(300.0)
    zeta = np.arange(300.0 * 3).reshape(300, 3) / 7.0
    hdf5.write_netcdf4(
        p, dims={"time": None, "node": 3},
        variables={
            "time": (("time",), t,
                     {"units": "seconds since 2000-01-01"}),
            "zeta": (("time", "node"), zeta, {}),
        },
        compress=6, layout="latest",
    )
    hdf5._nc4_cached.cache_clear()  # page size differs from any
    # previously cached parse of another fixture at this path
    ref = _reference_rows(p)
    assert len(ref) == 900
    assert _scan_rows(scan_netcdf(spark, p, "zeta")) == ref


def test_nc4_and_nc3_decode_identically(spark, tmp_path):
    """The SAME micromesh content written as CDF-1 and as NetCDF-4
    yields bit-identical rows through the default decoders — format
    parity, not just plausibility."""
    from adcirctime2cogs_spark.sources.netcdf import scan_netcdf

    p3 = str(tmp_path / "c.nc")
    p4 = str(tmp_path / "h.nc")
    times, zeta, lon, lat, element = _micromesh_payload()
    nc3.write_classic(
        p3,
        dims=[("time", None), ("node", len(lon))],
        variables=[
            {"name": "time", "dims": ["time"], "data": times,
             "atts": {"units": f"seconds since {mm.T1} UTC"}},
            {"name": "zeta", "dims": ["time", "node"], "data": zeta,
             "atts": {"_FillValue": FILL}},
        ],
    )
    _write_micromesh_nc4(p4)
    rows3 = _scan_rows(scan_netcdf(spark, p3, "zeta"))
    rows4 = _scan_rows(scan_netcdf(spark, p4, "zeta"))
    assert rows3 == rows4 and len(rows3) == len(mm.TIMESERIES)


def test_nc4_decode_feeds_regrid_golden(spark, tmp_path):
    """The O1 'full yes' bar for NetCDF-4: a real .nc (HDF5 bytes)
    decoded by the default codec, regridded through the SAME plan as
    the fixture queries, equals the fixture-sourced regrid exactly."""
    from adcirctime2cogs_spark.plans.regrid import regrid
    from adcirctime2cogs_spark.plans.weights import weights_table
    from adcirctime2cogs_spark.sources.netcdf import scan_netcdf

    p = str(tmp_path / "fort.63.nc")
    _write_micromesh_nc4(p)
    w = weights_table(spark, mm.triangles(), mm.GRID)
    from_nc = regrid(w, scan_netcdf(spark, p, "zeta"))
    from_fixture = regrid(w, mm.timeseries_df(spark))

    def snap(df):
        return sorted(
            (str(r.ts), r.grid_row, r.grid_col,
             None if r.value is None else round(r.value, 9))
            for r in df.collect()
        )

    assert snap(from_nc) == snap(from_fixture)


def test_python_datasource_default_codecs_nc4(spark, tmp_path):
    """scan_netcdf with the DataSource's default codecs passed
    explicitly as `source` on a NetCDF-4 file — one partition per
    chunk via the B-tree."""
    from adcirctime2cogs_spark.sources.netcdf import (
        AdcircNetCDFDataSource,
        scan_netcdf,
    )

    p = str(tmp_path / "fort.63.nc")
    _write_micromesh_nc4(p)
    df = scan_netcdf(spark, p, "zeta", source=AdcircNetCDFDataSource)
    rows = df.collect()
    assert len(rows) == len(mm.TIMESERIES)
    nulls = {(str(r.ts), r.node_id) for r in rows if r.value is None}
    assert nulls == {(mm.T2, 3)}  # exactly the dry node


def test_adcirc_nc4_to_tables(spark, tmp_path):
    """adcirc_nc_to_tables on a NetCDF-4 input produces the same
    engine-native table set as the classic path."""
    from adcirctime2cogs_spark.sources.netcdf import adcirc_nc_to_tables

    p = str(tmp_path / "fort.63.nc")
    out = str(tmp_path / "tables")
    _write_micromesh_nc4(p)
    adcirc_nc_to_tables(spark, p, out, "zeta")
    nodes = spark.read.parquet(f"{out}/mesh_nodes.parquet")
    elems = spark.read.parquet(f"{out}/mesh_elements.parquet")
    zeta = spark.read.parquet(f"{out}/zeta.parquet")
    assert nodes.count() == len(mm.NODES)
    assert elems.count() == len(mm.ELEMENTS)
    assert zeta.count() == len(mm.TIMESERIES)
    # element connectivity is back to 0-based (O4)
    assert elems.agg({"n0": "min"}).first()[0] == 0


@pytest.mark.parametrize("time_chunk,node_chunk", [(2, None), (3, 2)])
def test_scan_split_time_chunked_layout(spark, tmp_path, time_chunk,
                                        node_chunk):
    """nccopy-style time-chunked layouts (chunk time dim > 1) must not
    drop records: the splitter emits one split PER RECORD a chunk
    covers (3 records / chunk 2 -> an edge chunk), and the union of
    all splits equals the whole-variable reference decode."""
    from adcirctime2cogs_spark.sources.netcdf import scan_netcdf

    p = str(tmp_path / "fort.63.nc")
    _write_micromesh_nc4(p, time_chunk=time_chunk, node_chunk=node_chunk)
    splits = hdf5.nc4_splitter(p, 0, "zeta")
    assert sorted({t for t, _, _ in splits}) == [0, 1, 2]  # no record lost
    assert _scan_rows(scan_netcdf(spark, p, "zeta")) == _reference_rows(p)


def test_streaming_nc4_drops_to_cog_zero_injection(spark, tmp_path):
    """The reference's production flow, live, with NetCDF-4 advisories:
    per-advisory HDF5 .nc drops -> readStream .format('adcirc_netcdf')
    decoding through the built-in HDF5 subset (chunk B-tree splits,
    deflate inline) -> watermarked streaming regrid -> per-timestep
    COGs, cell-identical to the batch pipeline — the NetCDF-4 twin of
    test_netcdf3's classic streaming test."""
    import os

    import pandas as pd
    from pyspark.sql import functions as F

    from adcirctime2cogs_spark.plans.regrid import regrid
    from adcirctime2cogs_spark.plans.weights import weights_table
    from adcirctime2cogs_spark.sinks.cog import write_cogs
    from adcirctime2cogs_spark.sinks.geotiff import read_geotiff
    from adcirctime2cogs_spark.sources.netcdf import AdcircNetCDFDataSource
    from adcirctime2cogs_spark.streaming import regrid_stream as rs

    ts_batch = mm.timeseries_df(spark).withColumn("ts", F.to_timestamp("ts"))
    pdf = ts_batch.toPandas().sort_values(["ts", "node_id"])
    stamps = sorted(pdf["ts"].unique())
    base_t = pd.Timestamp(stamps[0])

    drops = tmp_path / "nc4"
    drops.mkdir()
    frames = [(t, pdf[pdf["ts"] == t]) for t in stamps]
    # sentinel advisory advances the watermark past the last real ts
    frames.append((stamps[-1] + np.timedelta64(2, "h"), frames[0][1]))
    for i, (t, frame) in enumerate(frames):
        vals = frame.sort_values("node_id")["value"].astype(
            "float64"
        ).to_numpy()
        vals = np.where(np.isnan(vals), FILL, vals)
        secs = (pd.Timestamp(t) - base_t).total_seconds()
        p = str(drops / f"adv{i}.nc")
        hdf5.write_netcdf4(
            p,
            dims={"time": None, "node": len(vals)},
            variables={
                "time": (("time",), np.array([secs]),
                         {"units": f"seconds since {base_t}"}),
                "zeta": (("time", "node"), vals.reshape(1, -1),
                         {"_FillValue": np.float64(FILL)}),
            },
        )
        os.utime(p, (1_700_000_000 + i * 60,) * 2)

    spark.dataSource.register(AdcircNetCDFDataSource)  # DEFAULT codecs
    stream = (
        spark.readStream.format("adcirc_netcdf")
        .option("path", str(drops / "*.nc"))
        .load()
    )
    w = weights_table(spark, mm.triangles(), mm.GRID)
    out_s = str(tmp_path / "cogs_live")
    n = rs.run_regrid_to_cogs(
        rs.regrid_stream(w, stream, watermark="30 minutes"),
        mm.GRID, out_s, str(tmp_path / "ck"),
    )
    assert n >= 1

    out_b = str(tmp_path / "cogs_batch")
    write_cogs(regrid(w, ts_batch), mm.GRID, out_b).collect()
    assert sorted(os.listdir(out_s)) == sorted(os.listdir(out_b))
    compared = 0
    for f in os.listdir(out_b):
        if f.endswith(".tif"):
            a, _ = read_geotiff(os.path.join(out_s, f))
            b, _ = read_geotiff(os.path.join(out_b, f))
            assert np.allclose(a, b, equal_nan=True)
            compared += 1
    assert compared == len(stamps)


def test_streaming_plan_never_merges_nc4_chunk_splits(tmp_path):
    """ADVICE r07: adjacent uncompressed (or %8-sized deflate) chunks
    of one record are byte-contiguous, and the stream planner's
    classic-record merge would fuse them into a span that matches no
    chunk in the file's index — nc4_range_decoder then refuses it.
    The plan must route on the file SIGNATURE: NC4 splits pass through
    unmerged and every planned split must decode."""
    from adcirctime2cogs_spark.sources.netcdf import (
        _default_range_decoder,
        _default_splitter,
        _NetCDFStreamReader,
    )

    import os

    p = str(tmp_path / "chunky.nc")
    # 3 records x 6 nodes, node_chunk=3 -> 2 chunks/record, each
    # 1*3*8 = 24 bytes uncompressed: byte-contiguous in the heap.
    _write_micromesh_nc4(p, compress=None, node_chunk=3)
    length = os.path.getsize(p)

    raw = sorted(_default_splitter(p, length, "zeta"))
    assert len(raw) == 6  # 3 records x 2 chunks
    # at least one same-record adjacent pair IS byte-contiguous —
    # the precondition that made the old merge fire
    assert any(
        a[0] == b[0] and a[1] + a[2] == b[1]
        for a, b in zip(raw, raw[1:])
    )

    rdr = _NetCDFStreamReader(
        {"path": p, "variable": "zeta"},
        _default_splitter,
        _default_range_decoder,
    )
    assert not rdr._is_classic_nc3(p)
    planned = rdr._plan(p, length)
    assert planned == raw  # unmerged, decoder-addressable
    decoded_nodes = set()
    for t, off, nb in planned:
        ts, node_ids, values = _default_range_decoder(
            p, "zeta", int(t), int(off), int(nb)
        )
        assert len(node_ids) == len(values) == 3
        if int(t) == 0:
            decoded_nodes.update(int(n) for n in node_ids)
    assert decoded_nodes == set(range(6))

    # classic NetCDF-3 keeps the merge (count stays 1 split/record)
    from tests import test_netcdf3 as t3

    p3 = str(tmp_path / "classic.nc")
    t3._write_micromesh_nc(p3)
    assert rdr._is_classic_nc3(p3)
    length3 = os.path.getsize(p3)
    raw3 = sorted(_default_splitter(p3, length3, "zeta"))
    planned3 = rdr._plan(p3, length3)
    assert len(planned3) == len({t for t, _, _ in raw3})


# ------------------------------------------- "latest" layouts (r08)
def test_lookup3_reproduces_published_self_test_vectors():
    """The Jenkins lookup3 checksum (H5_checksum_lookup3) against the
    vectors published in lookup3.c's own driver — an EXTERNAL anchor
    for every v3-superblock / index-block checksum the writer emits."""
    assert hdf5._lookup3(b"") == 0xDEADBEEF
    assert hdf5._lookup3(b"Four score and seven years ago") == 0x17770551
    assert hdf5._lookup3(b"Four score and seven years ago", 1) == 0xCD628161


def test_superblock_v3_bytes_conform_to_spec(tmp_path):
    """Hand-checked offsets of the 48-byte v3 superblock: signature,
    version 3, offset/length sizes, base 0, EOF = file size, root
    OHDR address, trailing lookup3 checksum of bytes 0..43."""
    import os

    p = str(tmp_path / "v3.nc")
    _write_micromesh_nc4(p, layout="latest")
    raw = open(p, "rb").read()
    assert raw[:8] == b"\x89HDF\r\n\x1a\n"
    assert raw[8] == 3                      # superblock version
    assert raw[9] == 8 and raw[10] == 8     # offset/length sizes
    assert raw[11] == 0                     # file consistency flags
    assert struct.unpack("<Q", raw[12:20])[0] == 0          # base
    assert struct.unpack("<Q", raw[20:28])[0] == hdf5.H5_UNDEF  # ext
    assert struct.unpack("<Q", raw[28:36])[0] == os.path.getsize(p)
    root = struct.unpack("<Q", raw[36:44])[0]
    assert 48 <= root < len(raw)
    assert struct.unpack("<I", raw[44:48])[0] == hdf5._lookup3(raw[:44])


def test_v4_layout_message_and_index_headers(tmp_path):
    """The v4 layout message carries the typed chunk index: version 4,
    class 2, rank+1 u64 dims with the element size last (the v3
    convention), index type, and the index header address — checked by
    re-parsing zeta's message AND by reading the EAHD/FAHD headers the
    addresses point at (signatures, creation parameters, real
    checksums)."""
    p = str(tmp_path / "v4.nc")
    _write_micromesh_nc4(p, layout="latest", node_chunk=3, static_chunk=2)
    f = hdf5.H5File(p)
    raw = open(p, "rb").read()

    zeta = f.datasets["zeta"]
    assert zeta.layout.idx_type == 4        # extensible array
    assert zeta.layout.chunk == (1, 3)
    hd = raw[zeta.layout.addr:zeta.layout.addr + 72]
    assert hd[:4] == b"EAHD" and hd[4] == 0
    assert hd[5] == 1                       # client: filtered chunks
    # element size: 8 (addr) + 2 (stored-size width for a 24-byte
    # unfiltered chunk: 1 + (log2(24)+8)//8) + 4 (filter mask)
    assert hd[6] == 14
    assert (hd[7], hd[8], hd[9], hd[10], hd[11]) == (32, 4, 16, 4, 10)
    assert struct.unpack("<I", hd[68:72])[0] == hdf5._lookup3(hd[:68])
    iblk = struct.unpack("<Q", hd[60:68])[0]
    assert raw[iblk:iblk + 4] == b"EAIB"

    x = f.datasets["x"]
    assert x.layout.idx_type == 3           # fixed array
    fh = raw[x.layout.addr:x.layout.addr + 28]
    assert fh[:4] == b"FAHD" and fh[4] == 0
    assert struct.unpack("<Q", fh[8:16])[0] == 3  # ceil(6/2) entries
    assert struct.unpack("<I", fh[24:28])[0] == hdf5._lookup3(fh[:24])
    fadb = struct.unpack("<Q", fh[16:24])[0]
    assert raw[fadb:fadb + 4] == b"FADB"


@pytest.mark.parametrize("kw", [
    dict(),
    dict(compress=None),
    dict(node_chunk=2),
    dict(node_chunk=3, compress=None),
    dict(time_chunk=2),
    dict(shuffle=True),
    dict(static_chunk=2),
    dict(static_chunk=2, compress=None),
])
def test_latest_roundtrip_matches_v1_decode(tmp_path, kw):
    """Every dataset of a 'latest' file decodes bit-identically to the
    same payload written with the v1-btree layout — across filters,
    node/time chunking, and the fixed-array static-chunk path."""
    p1 = str(tmp_path / "v1.nc")
    p2 = str(tmp_path / "v3.nc")
    _write_micromesh_nc4(p1, **{k: v for k, v in kw.items()
                                if k != "static_chunk"})
    _write_micromesh_nc4(p2, layout="latest", **kw)
    f1, f2 = hdf5.H5File(p1), hdf5.H5File(p2)
    assert set(f1.datasets) == set(f2.datasets)
    for name in f1.datasets:
        a, b = f1.read(name), f2.read(name)
        assert np.array_equal(a, b, equal_nan=True), name


def test_extensible_array_super_block_path(tmp_path):
    """Past the index block's 6 direct data blocks (244 elements with
    the default creation parameters), elements live in data blocks
    reached through EASB super blocks — 600 single-chunk records force
    the super-block walk on both writer and reader."""
    n_t, n_n = 600, 5
    big = np.arange(n_t * n_n, dtype="<f8").reshape(n_t, n_n)
    p = str(tmp_path / "big.nc")
    hdf5.write_netcdf4(
        p,
        dims={"time": None, "node": n_n},
        variables={
            "time": (("time",), np.arange(n_t, dtype="<f8"), {}),
            "zeta": (("time", "node"), big, {}),
        },
        layout="latest",
    )
    raw = open(p, "rb").read()
    assert raw.count(b"EASB") >= 1
    f = hdf5.H5File(p)
    assert np.array_equal(f.read("zeta"), big)
    assert sum(1 for _ in f.chunks("zeta")) == n_t


@pytest.mark.parametrize("compress", [6, None])
def test_single_chunk_index(tmp_path, compress):
    """chunk == shape -> Single Chunk index: the layout message itself
    holds the chunk address (plus stored size + filter mask when
    filtered); no index structure exists on disk."""
    times, zeta, lon, lat, element = _micromesh_payload()
    p = str(tmp_path / "single.nc")
    hdf5.write_netcdf4(
        p,
        dims={"time": None, "node": 6},
        variables={"time": (("time",), times, {}),
                   "x": (("node",), lon, {}),
                   "zeta": (("time", "node"), zeta, {})},
        layout="latest", static_chunk=6, compress=compress,
    )
    f = hdf5.H5File(p)
    assert f.datasets["x"].layout.idx_type == 1
    assert np.array_equal(f.read("x"), lon)
    raw = open(p, "rb").read()
    assert b"FAHD" not in raw  # x needs no index structure


def test_latest_splits_decode_identically_to_v1(spark, tmp_path):
    """scan_netcdf's full distributed path — splitter + per-task
    range decoder — produces identical rows from the v1-btree and the
    'latest' (EA-indexed) writes of the same payload, closing SURVEY
    O1 for h5py libver='latest' files."""
    from adcirctime2cogs_spark.sources.netcdf import scan_netcdf

    p1 = str(tmp_path / "v1.nc")
    p2 = str(tmp_path / "v3.nc")
    _write_micromesh_nc4(p1, node_chunk=3)
    _write_micromesh_nc4(p2, node_chunk=3, layout="latest")

    def snap(path):
        df = scan_netcdf(spark, path, "zeta")
        return sorted(
            (str(r.ts), r.node_id, None if r.value is None else round(r.value, 9))
            for r in df.collect()
        )

    rows1, rows2 = snap(p1), snap(p2)
    assert rows1 == rows2 and len(rows1) == 18


def test_filtered_element_size_width_matches_libhdf5(tmp_path):
    """The stored-size field width inside filtered EA/FA elements must
    follow libhdf5's chunk_size_len = 1 + (floor(log2(chunk_bytes))
    + 8) // 8 — FLOOR, not ceil: a real reader re-derives the width
    from the layout, so e.g. a 200-byte chunk (between 2^7 and 2^8)
    takes a 2-byte field, not 3. Pinned by writing a 25-node-chunk
    deflated record var (1 x 25 x f8 = 200 bytes) and checking the
    EAHD's self-described element size AND that decode round-trips."""
    n_n = 25
    zeta = np.arange(3 * n_n, dtype="<f8").reshape(3, n_n)
    p = str(tmp_path / "w200.nc")
    hdf5.write_netcdf4(
        p,
        dims={"time": None, "node": n_n},
        variables={
            "time": (("time",), np.array([0.0, 1.0, 2.0]), {}),
            "zeta": (("time", "node"), zeta, {}),
        },
        layout="latest", node_chunk=25,
    )
    f = hdf5.H5File(p)
    lay = f.datasets["zeta"].layout
    raw = open(p, "rb").read()
    hd = raw[lay.addr:lay.addr + 72]
    assert hd[:4] == b"EAHD"
    assert hd[6] == 8 + 2 + 4  # addr + 2-byte size (200 < 2^8*... ) + mask
    assert np.array_equal(f.read("zeta"), zeta)


def test_dense_group_bytes_conform_to_spec(tmp_path):
    """Dense (fractal-heap) link storage, hand-decoded at spec offsets
    independent of the reader: the root OHDR carries a Link Info
    message pointing at a FRHP whose root is a single FHDB direct
    block, and a type-5 v2 B-tree whose leaf records are (lookup3
    name hash, 7-byte managed heap ID); every heap ID resolves to a
    version-1 Link message naming a real object header. Exercised by
    the standard 9-dataset micromesh fixture (past libhdf5's 8-link
    compact threshold)."""
    p = str(tmp_path / "dense.nc")
    _write_micromesh_nc4(p, layout="latest")
    raw = open(p, "rb").read()

    frhp = raw.index(b"FRHP")
    assert raw[frhp + 4] == 0                      # version
    hid_len = struct.unpack("<H", raw[frhp + 5:frhp + 7])[0]
    assert hid_len == 7                            # 1 + off(4) + len(2)
    assert struct.unpack("<H", raw[frhp + 7:frhp + 9])[0] == 0  # filters
    max_bits = struct.unpack("<H", raw[frhp + 128:frhp + 130])[0]
    assert max_bits == 32
    block_size = struct.unpack("<Q", raw[frhp + 112:frhp + 120])[0]
    root = struct.unpack("<Q", raw[frhp + 132:frhp + 140])[0]
    assert struct.unpack("<H", raw[frhp + 140:frhp + 142])[0] == 0
    assert struct.unpack("<I", raw[frhp + 142:frhp + 146])[0] \
        == hdf5._lookup3(raw[frhp:frhp + 142])
    assert raw[root:root + 4] == b"FHDB"
    assert struct.unpack("<Q", raw[root + 5:root + 13])[0] == frhp
    # block checksum: lookup3 over the block with the field zeroed
    # FHDB header: sig(4) ver(1) heap-addr(8) block-offset(4) cksum(4)
    blk = bytearray(raw[root:root + block_size])
    stored = struct.unpack("<I", blk[17:21])[0]
    blk[17:21] = b"\x00" * 4
    assert stored == hdf5._lookup3(bytes(blk))

    bthd = raw.index(b"BTHD")
    assert raw[bthd + 5] == 5                      # link-name index
    rec_size = struct.unpack("<H", raw[bthd + 10:bthd + 12])[0]
    assert rec_size == 4 + hid_len
    assert struct.unpack("<H", raw[bthd + 12:bthd + 14])[0] == 0  # depth
    leaf = struct.unpack("<Q", raw[bthd + 16:bthd + 24])[0]
    nrec = struct.unpack("<H", raw[bthd + 24:bthd + 26])[0]
    assert nrec == 9
    assert raw[leaf:leaf + 4] == b"BTLF" and raw[leaf + 5] == 5

    names = set()
    prev_hash = -1
    for i in range(nrec):
        rec = raw[leaf + 6 + i * rec_size:leaf + 6 + (i + 1) * rec_size]
        h = struct.unpack("<I", rec[:4])[0]
        assert h >= prev_hash  # records sorted by name hash
        prev_hash = h
        assert rec[4] == 0  # managed heap ID, version 0
        off = int.from_bytes(rec[5:9], "little")
        ln = int.from_bytes(rec[9:11], "little")
        blob = raw[root + off:root + off + ln]
        assert blob[0] == 1  # Link message version
        name_len = blob[2]
        name = blob[3:3 + name_len].decode()
        assert h == hdf5._lookup3(name.encode())
        ohdr = struct.unpack("<Q", blob[3 + name_len:11 + name_len])[0]
        assert raw[ohdr:ohdr + 5] == b"OHDR\x02"  # a v2 header lives there
        names.add(name)
    assert names == {"time", "node", "nele", "nvertex", "x", "y",
                     "depth", "element", "zeta"}


def test_latest_object_headers_are_v2_with_real_checksums(tmp_path):
    """'latest' files carry v2 'OHDR' object headers: version 2, a
    2-byte chunk-0 size (flags bits 0-1 = 1), 4-byte message headers,
    and a trailing lookup3 checksum over everything before it —
    hand-decoded here independent of the reader."""
    p = str(tmp_path / "v2ohdr.nc")
    _write_micromesh_nc4(p, layout="latest")
    raw = open(p, "rb").read()
    addr = struct.unpack("<Q", raw[36:44])[0]  # root OHDR
    assert raw[addr:addr + 4] == b"OHDR"
    assert raw[addr + 4] == 2
    assert raw[addr + 5] & 0x03 == 0x01  # 2-byte size field
    size0 = struct.unpack("<H", raw[addr + 6:addr + 8])[0]
    end = addr + 8 + size0
    assert struct.unpack("<I", raw[end:end + 4])[0] \
        == hdf5._lookup3(raw[addr:end])
    # every dataset header too (resolved through the dense group)
    f = hdf5.H5File(p)
    for name, d in f.datasets.items():
        assert raw[d.addr:d.addr + 5] == b"OHDR\x02", name


# ----------------------------- round-9: fractal heap general geometry
def _write_attr_heavy(path, n_vars=10, n_gatts=12, var_attrs=9,
                      gatt_len=8, **kw):
    """A 'latest' file past BOTH dense thresholds: > 8 links in the
    root group and > 8 attributes on every variable and on the root."""
    dims = {"node": 8}
    variables = {}
    for i in range(n_vars):
        atts = {f"a{j:02d}": np.float64(i * 100 + j)
                for j in range(var_attrs)}
        variables[f"v{i:02d}"] = (("node",), np.arange(8.0) + i, atts)
    gatts = {f"g{j:02d}": "x" * gatt_len + str(j) for j in range(n_gatts)}
    hdf5.write_netcdf4(path, dims=dims, variables=variables, gatts=gatts,
                       compress=None, layout="latest", **kw)


def _assert_attr_heavy_decodes(f, n_vars=10, n_gatts=12, var_attrs=9):
    assert sorted(n for n in f.datasets if n.startswith("v")) == [
        f"v{i:02d}" for i in range(n_vars)
    ]
    assert sorted(f.root_attrs) == [f"g{j:02d}" for j in range(n_gatts)]
    for i in (0, n_vars - 1):
        d = f.datasets[f"v{i:02d}"]
        got = {k: v for k, v in d.attrs.items() if k.startswith("a")}
        assert got == {
            f"a{j:02d}": i * 100 + j for j in range(var_attrs)
        }, (i, got)


def test_dense_attributes_root_and_variables(tmp_path):
    """Past 8 attributes per object, 'latest' files store them DENSE
    (Attribute Info message 0x15 -> fractal heap + type-8 v2 B-tree) —
    the layout attribute-heavy real files (15+ ADCIRC gatts) get. All
    attribute values must come back exactly, including the vlen
    DIMENSION_LIST riding in the same heap."""
    p = str(tmp_path / "dense_attr.nc")
    _write_attr_heavy(p)
    raw = open(p, "rb").read()
    # spec-level: an Attribute Info message exists and the dense
    # B-tree is a type-8 name index
    assert raw.count(b"FRHP") >= 2  # links heap + >=1 attribute heap
    bthd = raw.index(b"BTHD")
    types = set()
    while True:
        types.add(raw[bthd + 5])
        bthd = raw.find(b"BTHD", bthd + 1)
        if bthd < 0:
            break
    assert types == {5, 8}  # link name index + attribute name index
    _assert_attr_heavy_decodes(hdf5.H5File(p))


def test_fractal_heap_root_indirect_multiblock(tmp_path):
    """heap_indirect forces a root INDIRECT block ('FHIB') over
    512-byte direct rows; enough attribute payload spans multiple
    direct blocks across doubling-table rows (row 2 doubles the block
    size). Decode must equal the root-direct layout exactly."""
    p = str(tmp_path / "indirect.nc")
    # ~24 gatts x ~120 bytes ~ 3 KB of heap payload -> blocks in rows
    # 0/1 (512 B) and row 2 (1024 B) of a width-4 table
    _write_attr_heavy(p, n_gatts=24, gatt_len=80, heap_indirect=True)
    raw = open(p, "rb").read()
    assert raw.count(b"FHIB") >= 2  # links heap + attr heaps
    f = hdf5.H5File(p)
    _assert_attr_heavy_decodes(f, n_gatts=24)
    assert f.root_attrs["g17"] == "x" * 80 + "17"
    # byte-level FRHP: current rows nonzero, starting block 512
    frhp = raw.index(b"FRHP")
    assert struct.unpack_from("<Q", raw, frhp + 112)[0] == 512
    assert struct.unpack_from("<H", raw, frhp + 140)[0] >= 1


def test_fractal_heap_filtered_direct_blocks(tmp_path):
    """heap_filter deflates every heap direct block: the FRHP header
    carries a nonzero I/O-filter encoded length and a deflate
    pipeline, direct-block bytes on disk are zlib streams (no literal
    'FHDB' signature at the recorded address), and decode is
    unchanged. A corrupted stored stream must raise HDF5Error, not
    zlib.error."""
    import zlib as _zlib

    p = str(tmp_path / "filtered.nc")
    _write_attr_heavy(p, heap_filter=True)
    raw = open(p, "rb").read()
    frhp = raw.index(b"FRHP")
    filt_len = struct.unpack_from("<H", raw, frhp + 7)[0]
    assert filt_len > 0
    # root direct block: address at 132, stored size after cur-rows
    root = struct.unpack_from("<Q", raw, frhp + 132)[0]
    stored = struct.unpack_from("<Q", raw, frhp + 142)[0]
    assert raw[root:root + 4] != b"FHDB"  # compressed on disk
    assert _zlib.decompress(raw[root:root + stored])[:4] == b"FHDB"
    _assert_attr_heavy_decodes(hdf5.H5File(p))

    bad = bytearray(raw)
    bad[root + 8] ^= 0xFF
    pb = str(tmp_path / "filtered_bad.nc")
    open(pb, "wb").write(bytes(bad))
    with pytest.raises(hdf5.HDF5Error):
        hdf5.H5File(pb)


def test_fractal_heap_indirect_and_filtered_compose(tmp_path):
    p = str(tmp_path / "both.nc")
    _write_attr_heavy(p, n_gatts=24, gatt_len=80,
                      heap_indirect=True, heap_filter=True)
    raw = open(p, "rb").read()
    assert raw.count(b"FHIB") >= 2
    _assert_attr_heavy_decodes(hdf5.H5File(p), n_gatts=24)


def test_fractal_heap_nested_indirect(tmp_path):
    """Payloads past the root block's direct-row span (width 4 x
    rows 512..65536 = ~512 KB) spill into CHILD indirect blocks —
    row >= max_direct_rows entries of the root FHIB point at nested
    FHIBs whose own rows restart the doubling table. 10k float
    attributes (~700 KB with headers) force exactly that; every
    object must resolve through the recursive walk, plain and
    deflate-filtered."""
    for filt in (False, True):
        p = str(tmp_path / f"nest{int(filt)}.nc")
        gatts = {f"g{j:05d}": np.float64(j) for j in range(10_000)}
        hdf5.write_netcdf4(
            p, dims={"node": 4},
            variables={"v": (("node",), np.arange(4.0), {})},
            gatts=gatts, compress=None, layout="latest",
            heap_filter=filt,
        )
        raw = open(p, "rb").read()
        assert raw.count(b"FHIB") >= 2  # root + nested child
        f = hdf5.H5File(p)
        assert len(f.root_attrs) == 10_000
        assert f.root_attrs["g00000"] == 0.0
        assert f.root_attrs["g09999"] == 9999.0


def test_fixed_array_paged_data_block(tmp_path):
    """Past 2^10 chunks the Fixed Array data block pages: prefix +
    page-init bitmap + checksum, then 1024-element pages each with
    their own checksum. 1300 static chunks (static_chunk=2 over 2600
    rows) must decode identically to the unpaged v1 twin — the index
    layout any multi-TB fixed-shape dataset carries."""
    data = np.arange(2600.0)
    p = str(tmp_path / "fap.nc")
    hdf5.write_netcdf4(p, dims={"node": 2600},
                       variables={"depth": (("node",), data, {})},
                       compress=None, layout="latest", static_chunk=2)
    f = hdf5.H5File(p)
    assert np.array_equal(f.read("depth"), data)
    # paged structure really present: FAHD says 1300 > 1024 elements
    raw = open(p, "rb").read()
    fahd = raw.index(b"FAHD")
    nelmts = struct.unpack_from("<Q", raw, fahd + 8)[0]
    page_bits = raw[fahd + 7]
    assert nelmts == 1300 and nelmts > (1 << page_bits)
    # compressed chunks page identically
    p2 = str(tmp_path / "fapz.nc")
    hdf5.write_netcdf4(p2, dims={"node": 2600},
                       variables={"depth": (("node",), data, {})},
                       compress=6, layout="latest", static_chunk=2)
    assert np.array_equal(hdf5.H5File(p2).read("depth"), data)


def test_extensible_array_paged_data_block(tmp_path):
    """Record variables past ~131k chunks (the library's creation
    parameters: 4 index elements + super blocks up to u=12 hold
    131,060) spill into PAGED Extensible Array data blocks — 2048-
    element blocks split into 1024-element pages whose init bitmap
    lives in the parent super block. 132k one-record chunks must
    round-trip, covering the u=13 paged super block; this is the
    index shape a year-long high-frequency ADCIRC run carries."""
    t = np.arange(132_000.0)
    zeta = (t * 2.0).reshape(-1, 1)
    p = str(tmp_path / "eap.nc")
    hdf5.write_netcdf4(
        p, dims={"time": None, "node": 1},
        variables={
            "time": (("time",), t,
                     {"units": "seconds since 2000-01-01"}),
            "zeta": (("time", "node"), zeta, {}),
        },
        compress=None, layout="latest",
    )
    f = hdf5.H5File(p)
    got = f.read("zeta")
    assert got.shape == (132_000, 1)
    assert np.array_equal(got, zeta)  # tail lives in the paged block
    # split planning at 132k chunks: the driver-side chunk index the
    # distributed scan partitions on must enumerate every chunk once,
    # fast, through the paged walk
    import time

    t0 = time.time()
    idx = hdf5.NC4File(p).chunk_index("zeta")
    assert len(idx) == 132_000
    assert time.time() - t0 < 20.0


def test_huge_heap_ids_for_oversized_attributes(tmp_path):
    """An attribute past the heap's max managed object size (4096) —
    the multi-KB 'history' global attribute every long-running ADCIRC
    reanalysis accumulates — gets a HUGE heap ID: the object lives in
    its own blob tracked by a type-1 v2 B-tree (type-2 with
    per-object filter fields when the heap is deflated). Both flavors
    must round-trip next to ordinary managed attributes."""
    big = "x" * 9000 + "END"
    for filt in (False, True):
        p = str(tmp_path / f"huge{int(filt)}.nc")
        gatts = {f"g{j:02d}": np.float64(j) for j in range(12)}
        gatts["history"] = big
        hdf5.write_netcdf4(
            p, dims={"node": 4},
            variables={"v": (("node",), np.arange(4.0), {})},
            gatts=gatts, compress=None, layout="latest",
            heap_filter=filt,
        )
        raw = open(p, "rb").read()
        # a huge-object B-tree header of the right type exists
        btypes = set()
        pos = raw.find(b"BTHD")
        while pos >= 0:
            btypes.add(raw[pos + 5])
            pos = raw.find(b"BTHD", pos + 1)
        assert (2 if filt else 1) in btypes
        f = hdf5.H5File(p)
        assert f.root_attrs["history"] == big
        assert f.root_attrs["g07"] == 7.0
        assert len(f.root_attrs) == 13


def test_tiny_and_direct_huge_heap_ids():
    """Spec-level ID coverage the NetCDF mapping never produces but
    real heaps can: TINY IDs embed the payload in the ID itself
    (objects under hid_len - 1 bytes), and DIRECT huge IDs embed
    (address, length) once the ID is wide enough (hid_len - 1 >= 16
    unfiltered). Both must decode through fetch()."""
    # tiny: writer routes a 5-byte object into the ID
    objs = [(5, b"tiny!"), (40, b"m" * 40)]
    blobs = []
    ids = hdf5._emit_fractal_heap(blobs, "t:", objs, hid_len=8)
    addrs, pos = {}, 0
    for key, size, _ in blobs:
        addrs[key] = pos
        pos += size
    out = bytearray(pos)
    for key, size, render in blobs:
        raw = render(addrs) if callable(render) else render
        assert len(raw) == size, key
        out[addrs[key]:addrs[key] + size] = raw
    assert ids[0][0] == 0x20 | (5 - 1)  # tiny, length 5
    assert ids[1][0] == 0x00            # managed
    heap = hdf5._FractalHeap(hdf5._Src(bytes(out)), addrs["t:frhp"])
    assert heap.fetch(ids[0]) == b"tiny!"
    assert heap.fetch(ids[1]) == b"m" * 40
    # direct huge: hand-build a 20-byte-ID header + raw object; the
    # reader derives direct-ness from the ID width alone
    payload = b"H" * 5000
    blobs2 = []
    hdf5._emit_fractal_heap(blobs2, "d:", [(40, b"m" * 40)], hid_len=20)
    # retag the header's ID length to 20 is already set; append payload
    addrs2, pos2 = {}, 0
    for key, size, _ in blobs2:
        addrs2[key] = pos2
        pos2 += size
    obj_at = pos2
    buf = bytearray(pos2 + len(payload))
    for key, size, render in blobs2:
        raw = render(addrs2) if callable(render) else render
        buf[addrs2[key]:addrs2[key] + size] = raw
    buf[obj_at:] = payload
    heap2 = hdf5._FractalHeap(hdf5._Src(bytes(buf)), addrs2["d:frhp"])
    hid = bytes([0x10]) + struct.pack("<QQ", obj_at, len(payload))
    hid += b"\x00" * (20 - len(hid))
    assert heap2.fetch(hid) == payload


def test_fractal_heap_typed_errors(tmp_path):
    """Out-of-scope / malformed heap structures raise HDF5Error with
    the documented messages, never raw struct/zlib/IndexError: a
    huge heap ID in a heap with no huge-object B-tree, a v2 B-tree
    of the wrong type, and a truncated direct block."""
    p = str(tmp_path / "err.nc")
    _write_attr_heavy(p)
    raw = open(p, "rb").read()
    # flip the first BTLF type-5 record's heap-ID flag byte to 'huge'
    bthd = raw.index(b"BTHD")
    while raw[bthd + 5] != 5:
        bthd = raw.index(b"BTHD", bthd + 1)
    leaf = struct.unpack_from("<Q", raw, bthd + 16)[0]
    bad = bytearray(raw)
    bad[leaf + 6 + 4] = 0x10  # managed -> huge
    pb = str(tmp_path / "huge.nc")
    open(pb, "wb").write(bytes(bad))
    with pytest.raises(hdf5.HDF5Error, match="no huge-object B-tree"):
        hdf5.H5File(pb)
    # retag the type-5 B-tree as type 6 -> typed mismatch error
    bad2 = bytearray(raw)
    bad2[bthd + 5] = 6
    pb2 = str(tmp_path / "btype.nc")
    open(pb2, "wb").write(bytes(bad2))
    with pytest.raises(hdf5.HDF5Error, match="type 6, expected 5"):
        hdf5.H5File(pb2)


def test_micromesh_latest_attr_heavy_pipeline(spark, tmp_path):
    """End-to-end: the micromesh fort.63 shape written 'latest' with
    15 ADCIRC-like global attributes (past max_compact -> dense) and
    indirect+filtered heaps still decodes IDENTICALLY to the plain v1
    file through the distributed scan."""
    from adcirctime2cogs_spark.sources.netcdf import scan_netcdf

    gatts = {k: f"meta-{k}" for k in (
        "model", "version", "grid", "agrid", "rundes", "runid", "title",
        "institution", "source", "history", "references", "comments",
        "host", "convention", "contact",
    )}
    p1 = str(tmp_path / "v1.nc")
    p2 = str(tmp_path / "latest.nc")
    times, zeta, lon, lat, element = _micromesh_payload()
    for path, kw in ((p1, dict(layout="v1")),
                     (p2, dict(layout="latest", heap_indirect=True,
                               heap_filter=True))):
        hdf5.write_netcdf4(
            path,
            dims={"time": None, "node": len(lon),
                  "nele": len(element), "nvertex": 3},
            variables={
                "time": (("time",), times,
                         {"units": f"seconds since {mm.T1} UTC"}),
                "x": (("node",), lon, {}),
                "y": (("node",), lat, {}),
                "zeta": (("time", "node"), zeta,
                         {"_FillValue": np.float64(FILL), "units": "m"}),
            },
            gatts=gatts,
            **kw,
        )
    a = scan_netcdf(spark, p1, "zeta").orderBy("ts", "node_id").collect()
    b = scan_netcdf(spark, p2, "zeta").orderBy("ts", "node_id").collect()
    assert a == b and len(a) > 0
    assert hdf5.H5File(p2).root_attrs["agrid"] == "meta-agrid"


def test_v2_btree_depth1_hundreds_of_links_and_attrs(tmp_path):
    """Past ~185 link records (2048-byte leaf / 11-byte record) the
    name index grows a root internal 'BTIN' node over several leaves
    — same for ~120+ dense attributes at 17-byte records. 200
    variables + 140 root attributes force depth 1 in BOTH index
    types; every link and attribute must resolve, and the header must
    record depth=1 with the separator/leaf arithmetic intact."""
    p = str(tmp_path / "depth1.nc")
    dims = {"node": 4}
    variables = {
        f"v{i:03d}": (("node",), np.arange(4.0) + i, {})
        for i in range(200)
    }
    gatts = {f"g{j:03d}": np.float64(j * 3) for j in range(140)}
    hdf5.write_netcdf4(p, dims=dims, variables=variables, gatts=gatts,
                       compress=None, layout="latest")
    raw = open(p, "rb").read()
    assert b"BTIN" in raw
    # header-level: at least one BTHD with depth == 1
    depths = set()
    pos = raw.find(b"BTHD")
    while pos >= 0:
        depths.add(struct.unpack_from("<H", raw, pos + 12)[0])
        pos = raw.find(b"BTHD", pos + 1)
    assert depths == {0, 1} or depths == {1}
    f = hdf5.H5File(p)
    assert sorted(n for n in f.datasets if n.startswith("v")) == [
        f"v{i:03d}" for i in range(200)
    ]
    assert len(f.root_attrs) == 140
    assert f.root_attrs["g077"] == 231.0
    # data integrity through the depth-1 link walk
    assert np.array_equal(f.read("v123"), np.arange(4.0) + 123)


def test_v2_btree_depth2_ten_thousand_attrs(tmp_path):
    """Past ~9.5k dense-attribute records (the cumulative capacity of
    a depth-1 tree at 2048-byte nodes / 17-byte records) the name
    index grows a SECOND internal level — the shape libhdf5 builds
    for attribute counts in the tens of thousands. All 10,000 root
    attributes must resolve through the recursive walk."""
    p = str(tmp_path / "depth2.nc")
    dims = {"node": 4}
    variables = {"v": (("node",), np.arange(4.0), {})}
    gatts = {f"g{j:05d}": np.float64(j) for j in range(10_000)}
    hdf5.write_netcdf4(p, dims=dims, variables=variables, gatts=gatts,
                       compress=None, layout="latest")
    raw = open(p, "rb").read()
    depths = set()
    pos = raw.find(b"BTHD")
    while pos >= 0:
        depths.add(struct.unpack_from("<H", raw, pos + 12)[0])
        pos = raw.find(b"BTHD", pos + 1)
    assert 2 in depths
    f = hdf5.H5File(p)
    assert len(f.root_attrs) == 10_000
    assert f.root_attrs["g04242"] == 4242.0
    assert f.root_attrs["g09999"] == 9999.0


def test_v2_btree_depth3_small_node_size():
    """Depth generalizes past 2: node size is a creation parameter
    recorded in the header, so a 128-byte-node tree over 4-byte
    records reaches three internal levels by 3000 records (cum
    capacities 29 / 269 / 2159 / 17279). Every record must come back
    in exact tree order, and internal child pointers above depth 1
    must carry the subtree-total field at libhdf5's minimum width."""
    recs = [struct.pack("<I", i) for i in range(3000)]
    blobs = []
    hdf5._emit_v2_btree(blobs, "t:", 5, 4, recs, node_size=128)
    addrs, pos = {}, 0
    for key, size, _ in blobs:
        addrs[key] = pos
        pos += size
    out = bytearray(pos)
    for key, size, render in blobs:
        raw = render(addrs) if callable(render) else render
        assert len(raw) == size, key
        out[addrs[key]:addrs[key] + size] = raw
    head = addrs["t:head"]
    assert struct.unpack_from("<H", out, head + 12)[0] == 3  # depth
    s = hdf5._Src(bytes(out))
    got = list(hdf5._v2_btree_records(s, head, 5))
    assert got == recs


def test_v2_btree_retagged_depth_raises(tmp_path):
    """A corrupt header depth (a depth-1 file retagged to depth 2)
    must surface as a typed HDF5Error from the recursive walk — the
    mis-sized child pointers land on non-node bytes — never as a
    silent misparse or an untyped crash."""
    p = str(tmp_path / "d2.nc")
    dims = {"node": 4}
    variables = {
        f"v{i:03d}": (("node",), np.arange(4.0), {}) for i in range(200)
    }
    hdf5.write_netcdf4(p, dims=dims, variables=variables, gatts={},
                       compress=None, layout="latest")
    raw = bytearray(open(p, "rb").read())
    pos = raw.find(b"BTHD")
    while pos >= 0:
        if struct.unpack_from("<H", raw, pos + 12)[0] == 1:
            struct.pack_into("<H", raw, pos + 12, 2)
        pos = raw.find(b"BTHD", pos + 1)
    pb = str(tmp_path / "d2bad.nc")
    open(pb, "wb").write(bytes(raw))
    with pytest.raises(hdf5.HDF5Error):
        hdf5.H5File(pb)
