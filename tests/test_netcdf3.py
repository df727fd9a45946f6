"""Pure-Python classic NetCDF-3 codec (sources/netcdf3.py): spec-level
header-byte conformance, reader/writer round-trips, per-record slab
addressing, and the REAL end-to-end path — a fort.63-like .nc decoded
by the DEFAULT codecs (no injection, no third-party library) through
the `adcirc_netcdf` scan into the regrid plan, golden-matched against
the micromesh fixture (SURVEY O1/O2/O6)."""

import struct

import numpy as np
import pandas as pd
import pytest

from adcirctime2cogs_spark.plans import micromesh as mm
from adcirctime2cogs_spark.sources import netcdf3 as nc3

FILL = -99999.0


def _write_micromesh_nc(path: str, version: int = 1) -> None:
    """fort.63-shaped file from the micromesh fixture: time(time),
    zeta(time,node) with _FillValue marking the dry node, and the
    static x/y/depth/element fields ADCIRC carries alongside."""
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
    nc3.write_classic(
        path,
        dims=[("time", None), ("node", n_nodes),
              ("nele", len(mm.ELEMENTS)), ("nvertex", 3)],
        variables=[
            {"name": "time", "dims": ["time"], "data": times,
             "atts": {"units": f"seconds since {mm.T1} UTC"}},
            {"name": "x", "dims": ["node"], "data": lon},
            {"name": "y", "dims": ["node"], "data": lat},
            {"name": "depth", "dims": ["node"], "data": lon + lat + 5.0},
            {"name": "element", "dims": ["nele", "nvertex"],
             "data": element},
            {"name": "zeta", "dims": ["time", "node"], "data": zeta,
             "atts": {"_FillValue": FILL, "units": "m"}},
        ],
        gatts={"model": "ADCIRC", "grid": "micromesh"},
        version=version,
    )


def _reference_rows(path: str, variable: str = "zeta"):
    """((ts, node_id), value) rows of a whole record variable, read by
    the whole-variable readers write_static_tables uses — independent
    of the split planner and range decoders. Fill values are None."""
    from adcirctime2cogs_spark.sources import hdf5

    try:
        h = nc3.header_for(path)
        values = nc3.masked_to_nan(
            nc3.read_var(path, h, variable), h.vars[variable]
        )
        times = nc3.decode_times(path, h)
    except nc3.NotClassicNetCDF:
        nc = hdf5.nc4_for(path)
        values = hdf5._masked_to_nan(
            nc.read_var(variable), nc.vars[variable].atts
        )
        times = nc.times()
    return sorted(
        ((pd.Timestamp(t).to_pydatetime(), n), None if v != v else float(v))
        for t, row in zip(times, values)
        for n, v in enumerate(row)
    )


def _scan_rows(df):
    """((ts, node_id), value) rows of a scan, sorted like
    _reference_rows."""
    return sorted(((r.ts, r.node_id), r.value) for r in df.collect())


def test_header_bytes_conform_to_spec(tmp_path):
    """Byte-level conformance of the writer against the PUBLIC spec
    (independently hand-encoded here, not via the reader): magic,
    numrecs, list tags, name padding, dim sizes, attribute encoding."""
    p = str(tmp_path / "tiny.nc")
    nc3.write_classic(
        p,
        dims=[("time", None), ("node", 2)],
        variables=[
            {"name": "time", "dims": ["time"],
             "data": np.array([0.0, 60.0]),
             "atts": {"units": "seconds since 2024-01-01 00:00:00"}},
            {"name": "zeta", "dims": ["time", "node"],
             "data": np.arange(4.0).reshape(2, 2)},
        ],
    )
    buf = open(p, "rb").read()
    assert buf[:4] == b"CDF\x01"
    assert struct.unpack(">i", buf[4:8])[0] == 2  # numrecs
    # dim_list: tag NC_DIMENSION=0x0A, nelems=2
    assert struct.unpack(">ii", buf[8:16]) == (0x0A, 2)
    # dim 0: name "time" (len 4, no padding needed), size 0 = record
    assert struct.unpack(">i", buf[16:20])[0] == 4
    assert buf[20:24] == b"time"
    assert struct.unpack(">i", buf[24:28])[0] == 0
    # dim 1: name "node", size 2
    assert struct.unpack(">i", buf[28:32])[0] == 4
    assert buf[32:36] == b"node"
    assert struct.unpack(">i", buf[36:40])[0] == 2
    # gatt_list ABSENT = 8 zero bytes
    assert buf[40:48] == b"\x00" * 8
    # var_list: tag NC_VARIABLE=0x0B, nelems=2
    assert struct.unpack(">ii", buf[48:56]) == (0x0B, 2)
    # var 0: name "time", ndims=1, dimids=[0]
    assert struct.unpack(">i", buf[56:60])[0] == 4
    assert buf[60:64] == b"time"
    assert struct.unpack(">ii", buf[64:72]) == (1, 0)
    # its vatt_list: tag NC_ATTRIBUTE=0x0C, nelems=1, name "units"
    assert struct.unpack(">ii", buf[72:80]) == (0x0C, 1)
    assert struct.unpack(">i", buf[80:84])[0] == 5
    assert buf[84:92] == b"units\x00\x00\x00"  # padded to 4
    # attr payload: NC_CHAR=2, nelems=33, 33 chars + 3 pad
    assert struct.unpack(">ii", buf[92:100]) == (2, 33)
    assert buf[100:133] == b"seconds since 2024-01-01 00:00:00"
    assert buf[133:136] == b"\x00" * 3
    # var 0 tail: nc_type=NC_DOUBLE=6, vsize=8 (one double per record)
    assert struct.unpack(">ii", buf[136:144]) == (6, 8)


def test_roundtrip_reader_writer(tmp_path):
    p = str(tmp_path / "micro.nc")
    _write_micromesh_nc(p)
    h = nc3.read_header_file(p)
    assert h.version == 1 and h.numrecs == 3
    assert dict(h.dims)["node"] == len(mm.NODES)
    assert h.gatts == {"model": "ADCIRC", "grid": "micromesh"}
    assert h.vars["zeta"].atts["_FillValue"] == FILL
    # fixed vars decode exactly
    lon = nc3.read_var(p, h, "x")
    assert lon.tolist() == [n[1] for n in mm.NODES]
    el = nc3.read_var(p, h, "element")
    assert el.shape == (3, 3) and el.dtype == np.dtype(">i4")
    assert (el - 1).tolist() == [[e[1], e[2], e[3]] for e in mm.ELEMENTS]
    # record var decodes across records; fill -> nan via masked_to_nan
    zeta = nc3.masked_to_nan(nc3.read_var(p, h, "zeta"), h.vars["zeta"])
    assert zeta.shape == (3, 6)
    assert np.isnan(zeta[1, 3])  # dry node 3 at t2
    assert zeta[0, 4] == 2.0 * 1.0 + 3.0 * 1.0 + 1.0
    # CF time decode
    times = nc3.decode_times(p, h)
    assert str(times[0]) == "2024-01-01T00:00:00.000000"
    assert str(times[2]) == "2024-01-01T02:00:00.000000"


def test_cdf2_roundtrip(tmp_path):
    """CDF-2 (64-bit offsets) differs only in the begin field width."""
    p = str(tmp_path / "micro2.nc")
    _write_micromesh_nc(p, version=2)
    buf = open(p, "rb").read()
    assert buf[:4] == b"CDF\x02"
    h = nc3.parse_header(buf)
    assert h.version == 2
    zeta = nc3.read_var(buf, h, "zeta")
    assert zeta.shape == (3, 6) and zeta[2, 0] == 10.0


def test_cdf5_roundtrip_with_64bit_types(tmp_path):
    """CDF-5 (PnetCDF 64-bit data): 64-bit counts everywhere, int64
    variables allowed; the same micromesh content round-trips, and a
    CDF-5-only type in a CDF-1 file is rejected on both paths."""
    p = str(tmp_path / "micro5.nc")
    _write_micromesh_nc(p, version=5)
    buf = open(p, "rb").read()
    assert buf[:4] == b"CDF\x05"
    # numrecs is 8 bytes in CDF-5
    assert int.from_bytes(buf[4:12], "big") == 3
    h = nc3.read_header_file(p)
    assert h.version == 5 and h.numrecs == 3
    zeta = nc3.masked_to_nan(nc3.read_var(p, h, "zeta"), h.vars["zeta"])
    assert np.isnan(zeta[1, 3]) and zeta[2, 0] == 10.0
    assert str(nc3.decode_times(p, h)[1]) == "2024-01-01T01:00:00.000000"

    # int64 payload round-trips under version 5
    p2 = str(tmp_path / "big_ids.nc")
    ids = np.array([[2**40 + 1], [2**41 + 7]], dtype="int64")
    nc3.write_classic(
        p2,
        dims=[("time", None), ("one", 1)],
        variables=[{"name": "gid", "dims": ["time", "one"], "data": ids}],
        version=5,
    )
    h2 = nc3.read_header_file(p2)
    assert h2.vars["gid"].nc_type == nc3.NC_INT64
    assert nc3.read_var(p2, h2, "gid").ravel().tolist() == [2**40 + 1, 2**41 + 7]

    # CDF-5-only type in a classic file: writer refuses...
    with pytest.raises(ValueError, match="version=5"):
        nc3.write_classic(
            str(tmp_path / "bad.nc"),
            dims=[("one", 1)],
            variables=[{"name": "g", "dims": ["one"],
                        "data": np.array([1], dtype="int64")}],
        )
    # ...and the parser rejects a forged one
    forged = bytearray(open(p2, "rb").read())
    forged[3] = 1  # claim CDF-1; counts are then misparsed or type trips
    with pytest.raises(nc3.NotClassicNetCDF):
        nc3.parse_header(bytes(forged))


def test_multi_record_var_interleaving_and_padding(tmp_path):
    """Two record vars (one float32 with an odd byte count) exercise the
    interleaved record layout and the pad-to-4 rule; a single-record-var
    file exercises the spec's no-padding special case."""
    p = str(tmp_path / "multi.nc")
    t = np.array([0.0, 1.0, 2.0])
    a = np.arange(9, dtype="float32").reshape(3, 3)  # 12 B/rec: no pad
    b = np.arange(3, dtype="int16").reshape(3, 1)    # 2 B/rec -> pad to 4
    nc3.write_classic(
        p,
        dims=[("time", None), ("three", 3), ("one", 1)],
        variables=[
            {"name": "time", "dims": ["time"], "data": t},
            {"name": "a", "dims": ["time", "three"], "data": a},
            {"name": "b", "dims": ["time", "one"], "data": b},
        ],
    )
    h = nc3.read_header_file(p)
    assert h.recsize == 8 + 12 + 4  # padded per-record sizes
    assert nc3.read_var(p, h, "a").tolist() == a.tolist()
    assert nc3.read_var(p, h, "b").ravel().tolist() == [0, 1, 2]
    # per-record slab addressing agrees with the full gather
    for r in range(3):
        off, n = h.record_slab_range("a", r)
        assert n == 12
        assert nc3.read_record_slab(p, h, "a", r).tolist() == a[r].tolist()
    # single record var -> unpadded recsize
    p1 = str(tmp_path / "single.nc")
    nc3.write_classic(
        p1,
        dims=[("time", None), ("one", 1)],
        variables=[{"name": "b", "dims": ["time", "one"], "data": b}],
    )
    h1 = nc3.read_header_file(p1)
    assert h1.recsize == 2  # spec special rule: no padding
    assert nc3.read_var(p1, h1, "b").ravel().tolist() == [0, 1, 2]


def test_streaming_numrecs_sentinel_recovered(tmp_path):
    """A file whose numrecs field holds the STREAMING sentinel
    (0xFFFFFFFF — writer crashed or still appending) recovers the true
    record count from the file size, per the spec's recovery rule."""
    p = str(tmp_path / "streaming.nc")
    _write_micromesh_nc(p)
    buf = bytearray(open(p, "rb").read())
    buf[4:8] = b"\xff\xff\xff\xff"
    open(p, "wb").write(bytes(buf))
    h = nc3.read_header_file(p)
    assert h.numrecs == 3
    assert nc3.read_var(p, h, "zeta").shape == (3, 6)


def test_not_classic_errors():
    with pytest.raises(nc3.NotClassicNetCDF, match="HDF5"):
        nc3.parse_header(b"\x89HDF\r\n\x1a\n" + b"\x00" * 64)
    with pytest.raises(nc3.NotClassicNetCDF, match="magic"):
        nc3.parse_header(b"not-netcdf-at-all")


def test_truncated_header_retry(tmp_path):
    """read_header_file's doubling re-read: a header larger than the
    first probe parses anyway."""
    p = str(tmp_path / "bigheader.nc")
    _write_micromesh_nc(p)
    h = nc3.read_header_file(p, first_try=16)
    assert "zeta" in h.vars


def test_scan_netcdf_default_codecs_real_file(spark, tmp_path):
    """scan_netcdf with the default codecs on a real classic file:
    rows match the fixture, the fill value arrives as null."""
    from adcirctime2cogs_spark.sources.netcdf import scan_netcdf

    p = str(tmp_path / "fort.63.nc")
    _write_micromesh_nc(p)
    df = scan_netcdf(spark, p, "zeta")
    got = {
        (str(r.ts), r.node_id): r.value
        for r in df.collect()
    }
    assert len(got) == len(mm.TIMESERIES)
    for ts, nid, v in mm.TIMESERIES:
        if v is None:
            assert got[(ts, nid)] is None
        else:
            assert got[(ts, nid)] == pytest.approx(v, abs=0)


def test_scan_split_default_codecs_match_distributed(spark, tmp_path):
    """scan_netcdf with the DEFAULT header-driven splitter and range
    decoder (one task per timestep, header-only planning) returns
    exactly the rows of the whole-variable reference decode."""
    from adcirctime2cogs_spark.sources.netcdf import scan_netcdf

    p = str(tmp_path / "fort.63.nc")
    _write_micromesh_nc(p)
    assert _scan_rows(scan_netcdf(spark, p, "zeta")) == _reference_rows(p)


def test_python_datasource_default_codecs_real_file(spark, tmp_path):
    """scan_netcdf with the DataSource's default splitter/range-decoder
    passed explicitly as `source` on a real classic file — they decode
    CDF-1 natively (one partition per timestep)."""
    from adcirctime2cogs_spark.sources.netcdf import (
        AdcircNetCDFDataSource,
        scan_netcdf,
    )

    p = str(tmp_path / "fort.63.nc")
    _write_micromesh_nc(p)
    df = scan_netcdf(spark, p, "zeta", source=AdcircNetCDFDataSource)
    assert df.rdd.getNumPartitions() == 3
    rows = df.collect()
    assert len(rows) == len(mm.TIMESERIES)
    nulls = {(str(r.ts), r.node_id) for r in rows if r.value is None}
    assert nulls == {(mm.T2, 3)}  # exactly the dry node


def test_real_decode_feeds_regrid_golden(spark, tmp_path):
    """The VERDICT's O1 'full yes' bar: a real .nc decoded by the
    default codec, regridded through the SAME plan as the fixture
    queries, equals the fixture-sourced regrid exactly (nulls at dry
    cells included)."""
    from adcirctime2cogs_spark.plans.regrid import regrid
    from adcirctime2cogs_spark.plans.weights import weights_table
    from adcirctime2cogs_spark.sources.netcdf import scan_netcdf

    p = str(tmp_path / "fort.63.nc")
    _write_micromesh_nc(p)
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


def test_streaming_classic_drops_to_cog_zero_injection(spark, tmp_path):
    """The reference's production flow, live and with ZERO injected
    codecs: per-advisory classic .nc drops -> readStream
    .format('adcirc_netcdf') decoding through the built-in NetCDF-3
    codec -> watermarked streaming regrid -> per-timestep COGs,
    cell-identical to the batch pipeline."""
    import os

    import numpy as np
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

    drops = tmp_path / "nc"
    drops.mkdir()
    frames = [(t, pdf[pdf["ts"] == t]) for t in stamps]
    # sentinel advisory advances the watermark past the last real ts
    frames.append((stamps[-1] + np.timedelta64(2, "h"), frames[0][1]))
    for i, (t, frame) in enumerate(frames):
        vals = frame.sort_values("node_id")["value"].astype("float64").to_numpy()
        vals = np.where(np.isnan(vals), FILL, vals)
        secs = (pd.Timestamp(t) - base_t).total_seconds()
        p = str(drops / f"adv{i}.nc")
        nc3.write_classic(
            p,
            dims=[("time", None), ("node", len(vals))],
            variables=[
                {"name": "time", "dims": ["time"],
                 "data": np.array([secs]),
                 "atts": {"units": f"seconds since {base_t}"}},
                {"name": "zeta", "dims": ["time", "node"],
                 "data": vals.reshape(1, -1),
                 "atts": {"_FillValue": FILL}},
            ],
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


def test_classic_subsplit_large_records(spark, tmp_path):
    """Records larger than max_split_bytes sub-split into node-range
    chunks (the intra-record parallelism the NetCDF-4 chunk index
    gives for free), and the union of chunk tasks equals the
    whole-variable reference decode exactly."""
    from adcirctime2cogs_spark.sources.netcdf import (
        AdcircNetCDFDataSource,
        _default_range_decoder,
        scan_netcdf,
    )

    p = str(tmp_path / "fort.63.nc")
    _write_micromesh_nc(p)
    h = nc3.header_for(p)
    slab = h.slab_size(h.vars["zeta"])
    # force sub-splitting: cap far below one record's slab
    splits = nc3.classic_splitter(p, 0, "zeta", max_split_bytes=16)
    assert len(splits) > 3  # more than one task per record
    assert sorted({t for t, _, _ in splits}) == [0, 1, 2]
    per_rec = [n for t, _, n in splits if t == 0]
    assert sum(per_rec) == slab and all(n % 8 == 0 for n in per_rec)

    split = scan_netcdf(spark, p, "zeta", source=(
        AdcircNetCDFDataSource.with_codecs(
            lambda path, ln, var: nc3.classic_splitter(
                path, ln, var, max_split_bytes=16
            ),
            _default_range_decoder,
        )
    ))
    assert _scan_rows(split) == _reference_rows(p)

    # layout guarantee: exactly one split per task — each planned
    # split is its own partition, so no task idles while another
    # decodes two ranges
    from pyspark.sql import functions as F

    per_part = (
        split.groupBy(F.spark_partition_id().alias("pid"))
        .count().collect()
    )
    assert len(per_part) == len(splits)


def test_cdf5_dimids_are_64bit_per_spec(tmp_path):
    """The CDF-5 BNF defines `dimid = NON_NEG`, i.e. 8 bytes in a
    CDF-5 file (review r10: dimids were read AND written as 32-bit,
    self-consistently wrong — a real PnetCDF file would have misparsed
    with the cursor shifted 4 bytes per dimid). Two pins: (1) a
    hand-encoded, writer-independent v5 header with two 64-bit dimids
    parses to the right dimids and data; (2) the writer emits 8-byte
    dimids, asserted on raw bytes."""
    def u32(v):
        return v.to_bytes(4, "big")

    def u64(v):
        return v.to_bytes(8, "big")

    def name(s):
        raw = s.encode()
        pad = (-len(raw)) % 4
        return u64(len(raw)) + raw + b"\x00" * pad

    hdr = b"CDF\x05" + u64(1)                       # magic + numrecs
    hdr += u32(nc3.NC_DIMENSION) + u64(2)           # dim_list
    hdr += name("time") + u64(0)                    # record dim
    hdr += name("node") + u64(3)
    hdr += u32(0) + u64(0)                          # gatts ABSENT
    hdr += u32(nc3.NC_VARIABLE) + u64(1)            # var_list
    var = name("zeta") + u64(2)                     # ndims
    var += u64(0) + u64(1)                          # 64-BIT dimids
    var += u32(0) + u64(0)                          # vatts ABSENT
    var += u32(nc3.NC_DOUBLE) + u64(24)             # nc_type, vsize
    body_prefix = hdr + var
    begin = len(body_prefix) + 8                    # + begin field
    buf = body_prefix + u64(begin)
    buf += np.arange(3.0).astype(">f8").tobytes()   # one record
    h = nc3.parse_header(buf)
    assert h.version == 5
    assert h.vars["zeta"].dimids == (0, 1)
    assert h.var_shape(h.vars["zeta"]) == (1, 3)
    assert nc3.read_var(buf, h, "zeta").ravel().tolist() == [0.0, 1.0, 2.0]

    # writer side: ndims=2 is followed by two 8-byte dimids (0, 1)
    p = str(tmp_path / "w5.nc")
    _write_micromesh_nc(p, version=5)
    raw = open(p, "rb").read()
    at = raw.index(b"zeta")
    after_name = at + 4  # 'zeta' is 4 bytes, no padding
    assert raw[after_name:after_name + 24] == (
        u64(2) + u64(0) + u64(1)
    )
    # and the round trip still decodes
    h5 = nc3.read_header_file(p)
    assert h5.vars["zeta"].dimids == (0, 1)


def test_parse_time_units_timezone_offsets():
    """CF/udunits-legal numeric timezone suffixes shift the base to
    UTC instead of crashing np.datetime64 (review r10)."""
    scale, base = nc3.parse_time_units(
        "seconds since 2000-01-01 00:00:00 -05:00"
    )
    assert scale == 1.0
    assert str(base) == "2000-01-01T05:00:00.000000"
    _, b2 = nc3.parse_time_units("hours since 1990-01-01 08:30:00 +05:30")
    assert str(b2) == "1990-01-01T03:00:00.000000"
    _, b3 = nc3.parse_time_units("seconds since 2000-01-01 00:00:00-05:00")
    assert str(b3) == "2000-01-01T05:00:00.000000"
    _, b4 = nc3.parse_time_units("seconds since 2000-01-01 -5")
    assert str(b4) == "2000-01-01T05:00:00.000000"
    for utc in ("seconds since 2000-01-01 00:00:00 UTC",
                "seconds since 2000-01-01 00:00:00Z",
                "seconds since 2000-01-01 00:00:00 +00:00"):
        _, b = nc3.parse_time_units(utc)
        assert str(b) == "2000-01-01T00:00:00.000000", utc
    # negative astronomical years don't false-match the offset regex
    _, b6 = nc3.parse_time_units("days since -4713-01-01")
    assert str(b6) == "-4713-01-01T00:00:00.000000"


def test_masked_to_nan_multielement_fill():
    """A multi-element missing_value attribute (att_value returns a
    tuple for nelems > 1) masks on its first element instead of
    raising TypeError — same guard as hdf5._masked_to_nan
    (review r10: the twins had diverged)."""
    v = nc3.NC3Var("x", (0,), {"missing_value": (9.0, 9.0)},
                   nc3.NC_DOUBLE, 8, 0)
    out = nc3.masked_to_nan(np.array([1.0, 9.0, 2.0]), v)
    assert np.isnan(out[1]) and out[0] == 1.0 and out[2] == 2.0


def test_splitter_validates_variable_at_plan_time(tmp_path):
    """A missing or non-record variable fails the SPLITTER, driver-side
    at plan time, with a typed error naming the problem — not a raw
    KeyError/ValueError storm from every executor task (review r10)."""
    import os

    p = str(tmp_path / "m.nc")
    _write_micromesh_nc(p)
    n = os.path.getsize(p)
    with pytest.raises(ValueError, match="'nope' not in"):
        nc3.classic_splitter(p, n, "nope")
    with pytest.raises(ValueError, match="not a record variable"):
        nc3.classic_splitter(p, n, "depth")
    # the legacy no-variable contract still plans whole-record splits
    assert len(nc3.classic_splitter(p, n)) == 3


def test_default_splitter_reports_both_rejections_for_garbage(tmp_path):
    """Bytes that are neither classic NetCDF nor HDF5 surface BOTH
    rejections in the split planner's ValueError — NotHDF5 subclasses
    ValueError, not HDF5Error, and used to escape raw (review r10)."""
    from adcirctime2cogs_spark.sources.netcdf import _default_splitter

    p = tmp_path / "junk.nc"
    p.write_bytes(b"JUNKJUNKJUNK" * 10)
    with pytest.raises(ValueError,
                       match="not a classic NetCDF.*no HDF5 signature"):
        _default_splitter(str(p), p.stat().st_size, "zeta")


@pytest.mark.parametrize("fmt", ["classic", "nc4"])
def test_scan_rejects_bad_variable_at_plan_time(spark, tmp_path, fmt):
    """A missing variable and a time-less one both fail the scan with
    the planner's ValueError, for either NetCDF flavour — NetCDF-4
    used to raise a bare KeyError for the first and plan an empty scan
    for the second."""
    from adcirctime2cogs_spark.sources.netcdf import scan_netcdf
    from tests.test_hdf5 import _write_micromesh_nc4

    p = str(tmp_path / "fort.63.nc")
    (_write_micromesh_nc if fmt == "classic" else _write_micromesh_nc4)(p)
    with pytest.raises(Exception, match=r"'zetta' not in .*has: \["):
        scan_netcdf(spark, p, "zetta").collect()
    with pytest.raises(Exception, match="'depth' .*not a record variable"):
        scan_netcdf(spark, p, "depth").collect()


@pytest.mark.parametrize("fmt", ["classic", "nc4"])
def test_scan_plans_in_the_driver_before_any_spark_job(spark, tmp_path, fmt):
    """scan_netcdf plans its splits when it is called: a missing
    variable, a time-less variable and a non-NetCDF file raise the
    planner's error there, and no Spark job starts. An injected-codec
    scan of T splits has T partitions."""
    from adcirctime2cogs_spark.sources.netcdf import (
        AdcircNetCDFDataSource,
        _default_range_decoder,
        scan_netcdf,
    )
    from tests.test_hdf5 import _write_micromesh_nc4

    p = str(tmp_path / "fort.63.nc")
    (_write_micromesh_nc if fmt == "classic" else _write_micromesh_nc4)(p)
    junk = tmp_path / "junk.nc"
    junk.write_bytes(b"00")
    sc = spark.sparkContext
    group = f"scan-plan-{fmt}"
    sc.setJobGroup(group, "planning a NetCDF scan")
    try:
        with pytest.raises(ValueError, match=r"'zetta' not in .*has: \["):
            scan_netcdf(spark, p, "zetta")
        with pytest.raises(ValueError, match="'depth' .*not a record variable"):
            scan_netcdf(spark, p, "depth")
        with pytest.raises(ValueError, match="(?i)not a netcdf file"):
            scan_netcdf(spark, str(junk), "zeta")
        T = 5
        df = scan_netcdf(spark, p, "zeta", source=(
            AdcircNetCDFDataSource.with_codecs(
                lambda path, ln: [(t % 3, 0, ln) for t in range(T)],
                _default_range_decoder,
            )
        ))
        assert df.rdd.getNumPartitions() == T
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []


@pytest.mark.parametrize("fmt", ["classic", "nc4"])
def test_reader_yields_one_arrow_batch_per_split(tmp_path, fmt):
    """The scan's per-split contract: _decode_split turns each split of
    plan_scan into exactly one Arrow RecordBatch, typed like the
    declared schema, with nulls exactly at the _FillValue nodes. The
    classic file is planned in node-range sub-splits, the NetCDF-4 file
    in 2-node chunks, so no split is a whole record."""
    import pyarrow as pa

    from adcirctime2cogs_spark.sources.netcdf import (
        _ARROW_SCHEMA,
        _decode_split,
        _default_range_decoder,
        _default_splitter,
        plan_scan,
    )
    from tests.test_hdf5 import _write_micromesh_nc4

    p = str(tmp_path / "fort.63.nc")
    if fmt == "classic":
        _write_micromesh_nc(p)

        def splitter(path, length, variable):
            return nc3.classic_splitter(path, length, variable,
                                        max_split_bytes=16)
    else:
        _write_micromesh_nc4(p, node_chunk=2)
        splitter = _default_splitter
    splits = plan_scan(p, "zeta", splitter)
    assert len(splits) > 3  # more than one split per record
    rows = []
    for path, t_idx, offset, nbytes in splits:
        batch = _decode_split(_default_range_decoder, path, "zeta",
                              t_idx, offset, nbytes)
        assert isinstance(batch, pa.RecordBatch)
        assert batch.schema == _ARROW_SCHEMA
        assert 0 < batch.num_rows < len(mm.NODES)
        ts = batch.column("ts").to_pylist()
        rows += [((t.replace(tzinfo=None), n), v) for t, n, v in zip(
            ts, batch.column("node_id").to_pylist(),
            batch.column("value").to_pylist())]
    assert sorted(rows) == _reference_rows(p)
    assert [k for k, v in rows if v is None] == [
        (pd.Timestamp(mm.T2).to_pydatetime(), 3)]
