"""COG sink, sidecar, mesh parquet round-trip, and the NetCDF adapter
plumbing (scan_netcdf and the adcirc_netcdf stream with injected
codecs)."""


import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from adcirctime2cogs_spark.plans import micromesh as mm
from adcirctime2cogs_spark.plans.regrid import regrid
from adcirctime2cogs_spark.plans.weights import weights_table
from adcirctime2cogs_spark.sinks.cog import write_cogs
from adcirctime2cogs_spark.sinks.sidecar import (
    archive_output,
    write_mosaic_sidecars,
)
from adcirctime2cogs_spark.sources.mesh import load_mesh, load_timeseries


@pytest.fixture(scope="module")
def raster_long(spark):
    w = weights_table(spark, mm.triangles(), mm.GRID)
    return regrid(w, mm.timeseries_df(spark))


def test_cog_sink_one_file_per_ts(spark, raster_long, tmp_path):
    from adcirctime2cogs_spark.sinks import geotiff as gt

    out = str(tmp_path / "cogs")
    manifest = write_cogs(raster_long, mm.GRID, out).collect()
    assert len(manifest) == 3  # one task/file per timestep
    for row in manifest:
        data, tags = gt.read_geotiff(row.path + ".tif")
        assert data.shape == (5, 5)
        assert gt.geotransform_of(tags) == [0.0, 0.4, 0.0, 2.0, 0.0, -0.4]
    # t1 linear field: check one concrete pixel value and the mask
    t1 = next(r for r in manifest if "2024-01-01 00" in r.ts)
    arr, _ = gt.read_geotiff(t1.path + ".tif")
    # grid_row=4, grid_col=0 -> centroid (0.2, 0.2) -> 2*0.2+3*0.2+1 = 2.0
    assert abs(arr[4, 0] - 2.0) < 1e-12
    # hull-hole cell (row 4, col 3) must be NaN
    assert np.isnan(arr[4, 3])


def test_cog_header_bytes_conform_to_tiff_spec(spark, raster_long, tmp_path):
    """Byte-level validation of the pure-Python COG (VERDICT O20 bar):
    little-endian TIFF magic, first IFD at offset 8 (header-first COG
    layout), required tags with spec values, GeoTIFF keys carrying the
    EPSG code, and GDAL's nodata tag."""
    import struct

    from adcirctime2cogs_spark.sinks import geotiff as gt

    out = str(tmp_path / "cogs")
    manifest = write_cogs(raster_long, mm.GRID, out).collect()
    path = manifest[0].path + ".tif"
    buf = open(path, "rb").read()
    assert buf[:4] == b"II*\x00"
    assert struct.unpack("<I", buf[4:8])[0] == 8  # IFD immediately after
    tags = gt.read_tags(path)[0]
    assert tags[gt.TAG_BITS_PER_SAMPLE] == 64
    assert tags[gt.TAG_COMPRESSION] == 8          # Adobe deflate
    assert tags[gt.TAG_SAMPLE_FORMAT] == 3        # IEEE float
    assert tags[gt.TAG_TILE_WIDTH] == 256 and tags[gt.TAG_TILE_LENGTH] == 256
    assert tags[gt.TAG_SAMPLES_PER_PIXEL] == 1
    assert tags[gt.TAG_MODEL_PIXEL_SCALE] == (0.4, 0.4, 0.0)
    assert tags[gt.TAG_MODEL_TIEPOINT] == (0.0, 0.0, 0.0, 0.0, 2.0, 0.0)
    assert tags[gt.TAG_GDAL_NODATA] == "nan"
    geokeys = tags[gt.TAG_GEO_KEY_DIRECTORY]
    assert geokeys[:4] == (1, 1, 0, 3)
    assert (2048, 0, 1, 4326) == geokeys[12:16]   # GeographicType=EPSG:4326
    assert tags[gt.TAG_PREDICTOR] == 3  # TIFF TN3 floating-point
    # deflate tiles round-trip: one tile for the 5x5 raster. The
    # predictor inversion here is independently hand-coded (cumsum of
    # the byte diffs, planes back to interleaved big-endian floats) —
    # not the module's reader.
    n_tiles = 1
    offs = tags[gt.TAG_TILE_OFFSETS]
    counts = tags[gt.TAG_TILE_BYTE_COUNTS]
    offs = (offs,) if isinstance(offs, int) else offs
    assert len(offs) == n_tiles
    import zlib

    raw = zlib.decompress(
        buf[offs[0]:offs[0] + (counts if isinstance(counts, int) else counts[0])]
    )
    d = np.frombuffer(raw, dtype="u1").reshape(256, 8 * 256)
    planes = (np.cumsum(d.astype("u8"), axis=1) % 256).astype("u1")
    tile = (
        np.ascontiguousarray(planes.reshape(256, 8, 256).transpose(0, 2, 1))
        .view(">f8").reshape(256, 256)
    )
    assert np.isnan(tile[10, 10])  # padding carries the nodata value


def test_geotiff_overviews_for_large_rasters(tmp_path):
    """Rasters larger than one tile get reduced-resolution overview
    IFDs (NewSubfileType=1) — the 'optimized' half of COG."""
    from adcirctime2cogs_spark.sinks import geotiff as gt

    rng = np.random.default_rng(7)
    arr = rng.normal(size=(600, 700))
    p = str(tmp_path / "big.tif")
    gt.write_geotiff(p, arr, [0.0, 0.01, 0.0, 6.0, 0.0, -0.01])
    ifds = gt.read_tags(p)
    # 600x700 -> 300x350 -> 150x175 (min dim now <= tile) stops there
    assert len(ifds) == 3
    assert gt.TAG_NEW_SUBFILE_TYPE not in ifds[0]
    for ov in ifds[1:]:
        assert ov[gt.TAG_NEW_SUBFILE_TYPE] == 1
    assert ifds[1][gt.TAG_IMAGE_WIDTH] == 350
    assert ifds[1][gt.TAG_IMAGE_LENGTH] == 300
    assert ifds[2][gt.TAG_IMAGE_WIDTH] == 175
    assert ifds[2][gt.TAG_IMAGE_LENGTH] == 150
    # full-res round-trip is exact (deflate is lossless)
    back, _ = gt.read_geotiff(p)
    assert back.shape == (600, 700)
    assert np.array_equal(back, arr)


def test_mosaic_sidecars(tmp_path):
    paths = write_mosaic_sidecars(str(tmp_path), "zeta_mosaic")
    contents = {p.split("/")[-1]: open(p).read() for p in paths}
    assert "regex=[0-9]{8}T[0-9]{6}" in contents["timeregex.properties"]
    assert "Name=zeta_mosaic" in contents["indexer.properties"]
    assert "PostgisNGDataStoreFactory" in contents["datastore.properties"]


def test_archive_output(tmp_path):
    src = tmp_path / "out"
    src.mkdir()
    (src / "a.txt").write_text("x")
    z = archive_output(str(src), str(tmp_path / "final"))
    assert z.endswith(".zip")
    import zipfile

    assert "a.txt" in zipfile.ZipFile(z).namelist()


def test_mesh_parquet_roundtrip(spark, tmp_path):
    base = str(tmp_path)
    mm.nodes_df(spark).withColumn("depth", F.lit(1.0)).write.parquet(
        base + "/mesh_nodes.parquet"
    )
    mm.elements_df(spark).write.parquet(base + "/mesh_elements.parquet")
    nodes, elements = load_mesh(spark, base)
    assert nodes.count() == 6 and elements.count() == 3
    assert set(nodes.columns) == {"node_id", "lon", "lat", "depth"}


def test_netcdf_adapter_with_injected_decoder(spark, tmp_path):
    """The scan plumbing end-to-end with an injected codec pair
    (the with_codecs hook for library decoders, SURVEY O1): list
    node ids and None values from the decoder are accepted."""
    from adcirctime2cogs_spark.sources.netcdf import (
        AdcircNetCDFDataSource,
        scan_netcdf,
    )

    nc = tmp_path / "fort.63.nc"
    nc.write_bytes(b"\x89HDF-fake")
    times = [pd.Timestamp("2024-01-01"), pd.Timestamp("2024-01-01 01:00")]
    values = [[1.0, 2.0, None], [4.0, None, 6.0]]

    def splitter(path, length, variable):
        assert variable == "zeta"
        return [(0, 0, length), (1, 0, length)]

    def range_decoder(path, variable, t_idx, offset, nbytes):
        return times[t_idx], [0, 1, 2], values[t_idx]

    df = scan_netcdf(
        spark, str(nc), "zeta",
        source=AdcircNetCDFDataSource.with_codecs(splitter, range_decoder),
    )
    rows = df.collect()
    assert len(rows) == 6
    assert {r.node_id for r in rows} == {0, 1, 2}
    nulls = [r for r in rows if r.value is None]
    assert len(nulls) == 2  # masked dry nodes -> SQL nulls


def test_netcdf_split_scan_one_task_per_timestep(spark, tmp_path):
    """Large-file path (VERDICT #6): F files x T timesteps -> F*T
    byte-range tasks; no task ever sees whole-file content — the range
    decoder gets (path, offset, nbytes) and opens the file itself."""
    from adcirctime2cogs_spark.sources.netcdf import (
        AdcircNetCDFDataSource,
        scan_netcdf,
    )

    HDR, T, NODES = 8, 3, 4
    block = NODES * 8
    for fname, base in (("fort.63.nc", 0.0), ("fort2.63.nc", 100.0)):
        payload = b"\x89HDF-hdr" + b"".join(
            np.array(
                [base + 10 * t + n for n in range(NODES)], dtype="<f8"
            ).tobytes()
            for t in range(T)
        )
        (tmp_path / fname).write_bytes(payload)

    def splitter(path, length):
        assert length == HDR + T * block  # metadata-only listing saw the file
        return [(t, HDR + t * block, block) for t in range(T)]

    def range_decoder(path, variable, t_idx, offset, nbytes):
        assert variable == "zeta" and nbytes == block
        local = path.removeprefix("file:")
        with open(local, "rb") as fh:
            fh.seek(offset)
            buf = fh.read(nbytes)  # ONLY the split's range is read
        vals = np.frombuffer(buf, dtype="<f8")
        return pd.Timestamp("2024-01-01") + pd.Timedelta(hours=t_idx), range(
            NODES
        ), vals

    df = scan_netcdf(
        spark, str(tmp_path / "*.nc"), "zeta",
        source=AdcircNetCDFDataSource.with_codecs(splitter, range_decoder),
    )
    # one planned task per (file, timestep) split
    assert df.rdd.getNumPartitions() == 2 * T
    rows = df.collect()
    assert len(rows) == 2 * T * NODES
    # every (file, timestep, node) value decodes from the right range
    for t in range(T):
        ts = pd.Timestamp("2024-01-01") + pd.Timedelta(hours=t)
        for n in range(NODES):
            vals = sorted(r.value for r in rows
                          if r.ts == ts and r.node_id == n)
            assert vals == [10.0 * t + n, 100.0 + 10 * t + n]


def test_netcdf_python_datasource(spark, tmp_path):
    """The byte-range scan with injected codecs: the declared schema,
    one partition per timestep, NaN→null at ingest."""
    from adcirctime2cogs_spark.sources.netcdf import (
        AdcircNetCDFDataSource,
        scan_netcdf,
    )

    HDR, T, NODES = 8, 3, 4
    block = NODES * 8
    payload = b"\x89HDF-hdr" + b"".join(
        np.array(
            [10.0 * t + n if (t, n) != (1, 2) else float("nan")
             for n in range(NODES)],
            dtype="<f8",
        ).tobytes()
        for t in range(T)
    )
    (tmp_path / "fort.63.nc").write_bytes(payload)

    def splitter(path, length):
        return [(t, HDR + t * block, block) for t in range(T)]

    def range_decoder(path, variable, t_idx, offset, nbytes):
        assert variable == "zeta"
        with open(path, "rb") as fh:
            fh.seek(offset)
            vals = np.frombuffer(fh.read(nbytes), dtype="<f8")
        return (
            pd.Timestamp("2024-01-01") + pd.Timedelta(hours=t_idx),
            range(NODES),
            vals,
        )

    df = scan_netcdf(
        spark, str(tmp_path / "*.nc"), "zeta",
        source=AdcircNetCDFDataSource.with_codecs(splitter, range_decoder),
    )
    assert df.schema.simpleString() == (
        "struct<ts:timestamp,node_id:bigint,value:double>"
    )
    assert df.rdd.getNumPartitions() == T  # one partition per timestep
    rows = {(r.ts.hour, r.node_id): r.value for r in df.collect()}
    assert len(rows) == T * NODES
    assert rows[(0, 3)] == 3.0 and rows[(2, 1)] == 21.0
    assert rows[(1, 2)] is None  # NaN fill -> SQL null


def test_netcdf_datasource_stream_reader(spark, tmp_path):
    """readStream.format('adcirc_netcdf'): files arriving in a watched
    directory become micro-batches of decoded timesteps; the committed
    offset tracks per-file consumed timesteps so every row lands
    exactly once."""
    from adcirctime2cogs_spark.sources.netcdf import AdcircNetCDFDataSource

    HDR, T, NODES = 8, 2, 3
    block = NODES * 8

    def write_nc(name, base):
        payload = b"\x89HDF-hdr" + b"".join(
            np.array([base + 10 * t + n for n in range(NODES)],
                     dtype="<f8").tobytes()
            for t in range(T)
        )
        (tmp_path / name).write_bytes(payload)

    def splitter(path, length):
        return [(t, HDR + t * block, block) for t in range(T)]

    def range_decoder(path, variable, t_idx, offset, nbytes):
        with open(path, "rb") as fh:
            fh.seek(offset)
            vals = np.frombuffer(fh.read(nbytes), dtype="<f8")
        return (
            pd.Timestamp("2024-01-01") + pd.Timedelta(hours=t_idx),
            range(NODES),
            vals,
        )

    write_nc("a.nc", 0.0)
    spark.dataSource.register(
        AdcircNetCDFDataSource.with_codecs(splitter, range_decoder)
    )
    stream = (
        spark.readStream.format("adcirc_netcdf")
        .option("path", str(tmp_path / "*.nc"))
        .load()
    )
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("t_nc_stream")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.processAllAvailable()
    assert spark.table("t_nc_stream").count() == T * NODES
    # a file landing later is picked up by the next micro-batch only
    # for its not-yet-consumed splits
    write_nc("b.nc", 100.0)
    q.processAllAvailable()
    q.stop()
    rows = spark.table("t_nc_stream").collect()
    assert len(rows) == 2 * T * NODES
    vals = sorted(r.value for r in rows)
    want = sorted(
        [10.0 * t + n for t in range(T) for n in range(NODES)]
        + [100.0 + 10 * t + n for t in range(T) for n in range(NODES)]
    )
    assert vals == want


def test_netcdf_split_rejects_non_netcdf(spark, tmp_path):
    """A file that is neither classic NC-3 nor HDF5 fails the split
    planner with a typed error naming BOTH rejected formats (the old
    h5py gate is gone — NetCDF-4 now splits natively)."""
    from adcirctime2cogs_spark.sources.netcdf import scan_netcdf

    nc = tmp_path / "y.nc"
    nc.write_bytes(b"00")
    with pytest.raises(Exception, match="(?i)not classic|cdf") as ei:
        scan_netcdf(spark, str(nc), "zeta").collect()
    assert "HDF5" in str(ei.value)


class _FakeS3Client:
    """Minimal boto3-shaped client (reference s3_utilities.py:33-49
    semantics: list/create/upload with public-read ACL)."""

    def __init__(self, buckets=(), fail_upload=False):
        self.buckets = list(buckets)
        self.fail_upload = fail_upload
        self.calls = []

    def list_buckets(self):
        return {"Buckets": [{"Name": b} for b in self.buckets]}

    def create_bucket(self, Bucket, CreateBucketConfiguration):
        self.calls.append(("create", Bucket, CreateBucketConfiguration))
        self.buckets.append(Bucket)
        return {"Location": Bucket}

    def upload_file(self, path, bucket, key, ExtraArgs):
        if self.fail_upload:
            raise RuntimeError("simulated ClientError")
        self.calls.append(("upload", path, bucket, key, ExtraArgs))


def test_s3_sink_with_fake_client(tmp_path):
    """VERDICT #7: the boto3-gated artifact sink, driven by an injected
    fake client — bucket membership, create-with-region, upload ACL,
    and the reference's non-fatal failed-upload contract."""
    from adcirctime2cogs_spark.sinks.sidecar import (
        bucket_exists,
        ensure_bucket,
        upload_to_s3,
    )

    c = _FakeS3Client(buckets=["have"])
    assert bucket_exists("have", client=c)
    assert not bucket_exists("missing", client=c)

    assert ensure_bucket("have", client=c) is None  # no-op when present
    ensure_bucket("missing", region="us-west-1", client=c)
    assert bucket_exists("missing", client=c)
    assert ("create", "missing", {"LocationConstraint": "us-west-1"}) in c.calls

    art = tmp_path / "mosaic.zip"
    art.write_bytes(b"zip")
    assert upload_to_s3("missing", "runs/mosaic.zip", str(art), client=c)
    up = next(x for x in c.calls if x[0] == "upload")
    assert up[1:] == (str(art), "missing", "runs/mosaic.zip",
                      {"ACL": "public-read"})

    bad = _FakeS3Client(buckets=["b"], fail_upload=True)
    assert upload_to_s3("b", "k", str(art), client=bad) is False  # non-fatal


def test_s3_default_client_gated():
    """Without boto3 the default client raises the documented gate; with
    it (no creds in this image) a failed upload stays non-fatal False."""
    from adcirctime2cogs_spark.sinks.sidecar import upload_to_s3

    try:
        import boto3  # noqa: F401
    except ImportError:
        with pytest.raises(NotImplementedError, match="boto3"):
            upload_to_s3("b", "k", "/nonexistent")
    else:
        assert upload_to_s3("b", "k", "/nonexistent") is False


def test_netcdf_default_codecs_gated(spark, tmp_path):
    """A glob that matches one non-NetCDF file fails the scan with the
    split planner's error, even though the other matched file is a
    valid NetCDF."""
    from adcirctime2cogs_spark.sources.netcdf import scan_netcdf
    from tests.test_netcdf3 import _write_micromesh_nc

    _write_micromesh_nc(str(tmp_path / "a.nc"))
    (tmp_path / "x.nc").write_bytes(b"00")
    with pytest.raises(Exception, match="(?i)not a netcdf file"):
        scan_netcdf(spark, str(tmp_path / "*.nc"), "zeta")


def test_maxvar_dispatch(spark, tmp_path):
    """`max`-named variables load the time-less table (reference regex
    dispatch, adcirc_dask_utilities.py:27), labeled with the variable
    name as the single pseudo-timestep so the regrid plan and COG sink
    (which key on ts) run unchanged — regression: the 2-column form
    made the whole max path unusable through the pipeline (regrid
    groups by ts)."""
    base = str(tmp_path)
    spark.createDataFrame(
        [(0, 1.5), (1, 2.5)], "node_id long, value double"
    ).write.parquet(base + "/node_maxes.parquet")
    df = load_timeseries(spark, base, "zeta_max")
    assert df.columns == ["ts", "node_id", "value"]
    rows = df.collect()
    assert len(rows) == 2
    assert {r.ts for r in rows} == {"zeta_max"}


def test_csv_json_roundtrip(spark, tmp_path):
    """§2B scans: CSV and JSON sources/sinks with explicit schemas
    (reference O24 JSON IO, run/utilities/utilities.py:171-203)."""
    from adcirctime2cogs_spark.tables import load_table

    nation = load_table(spark, "/root/testdata/sf0.001", "nation")
    csv_p, json_p = str(tmp_path / "n_csv"), str(tmp_path / "n_json")
    nation.write.mode("overwrite").option("header", True).csv(csv_p)
    nation.write.mode("overwrite").json(json_p)
    from adcirctime2cogs_spark.tables import TABLE_SCHEMAS

    back_csv = spark.read.schema(TABLE_SCHEMAS["nation"]).option("header", True).csv(csv_p)
    back_json = spark.read.schema(TABLE_SCHEMAS["nation"]).json(json_p)
    orig = sorted(tuple(r) for r in nation.collect())
    assert sorted(tuple(r) for r in back_csv.collect()) == orig
    assert sorted(tuple(r) for r in back_json.collect()) == orig


def test_training_shard_sink_layout_and_determinism(spark, sf_dir, tmp_path):
    from adcirctime2cogs_spark.operators.textstats import text_train_test_split
    from adcirctime2cogs_spark.sinks.shards import write_training_shards
    from adcirctime2cogs_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    split = text_train_test_split(spark, sf_dir).select("doc_id", "split")
    labeled = docs.join(split, "doc_id")

    out_a = str(tmp_path / "a")
    layout = write_training_shards(labeled, out_a, n_shards=4)
    # Hive partition dirs exist for every split present in the data
    splits = {r.split for r in split.select("split").distinct().collect()}
    assert {d.split("=", 1)[1] for d in layout} == splits
    # shard files bounded and non-empty
    assert all(n >= 1 for n in layout.values())

    # consumer-side partition pruning: reading one split scans one dir
    train = spark.read.parquet(out_a).filter(F.col("split") == "train")
    assert train.count() == labeled.filter(F.col("split") == "train").count()

    # determinism: a second write produces identical per-split content
    # in identical row order (byte-stable shards modulo file naming)
    out_b = str(tmp_path / "b")
    write_training_shards(labeled, out_b, n_shards=4)
    for s in splits:
        a_rows = spark.read.parquet(f"{out_a}/split={s}").collect()
        b_rows = spark.read.parquet(f"{out_b}/split={s}").collect()
        assert sorted(map(tuple, a_rows)) == sorted(map(tuple, b_rows))


def test_events_loader_handles_both_ts_encodings(spark, sf_dir, tmp_path):
    """events.ts has shipped as both TIMESTAMP(NANOS) and timestamp[us]
    across fixture drops; load_table must read either via its footer
    probe. The current fixtures are us — synthesize the nanos variant
    and pin value equality."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from adcirctime2cogs_spark.tables import load_table

    ref = load_table(spark, sf_dir, "events").orderBy("event_id").limit(50)
    rows = ref.collect()
    tbl = pa.table(
        {
            "event_id": pa.array([r.event_id for r in rows], pa.int64()),
            "ts": pa.array(
                [r.ts for r in rows], pa.timestamp("ns")
            ),
            "user_id": pa.array([r.user_id for r in rows], pa.int64()),
            "event_type": pa.array([r.event_type for r in rows]),
            "value": pa.array([r.value for r in rows], pa.float64()),
            "props": pa.array([r.props for r in rows]),
        }
    )
    pq.write_table(
        tbl, str(tmp_path / "events.parquet"), version="2.6",
        coerce_timestamps=None,
    )
    back = load_table(spark, str(tmp_path), "events")
    assert dict(back.dtypes)["ts"] == "timestamp"
    got = {(r.event_id, r.ts) for r in back.collect()}
    want = {(r.event_id, r.ts) for r in rows}
    assert got == want


def test_netcdf_datasource_empty_glob_raises():
    """A batch scan whose path glob matches nothing must fail with a
    clear 'no files matched' error, not a FileNotFoundError on the raw
    glob pattern (the stream reader instead yields no batches — files
    may legitimately arrive later)."""
    import pytest

    from adcirctime2cogs_spark.sources.netcdf import plan_scan

    with pytest.raises(FileNotFoundError, match="no files matched"):
        plan_scan("/nonexistent-dir/*.nc", "zeta", lambda p, n: [(0, 0, n)])


def test_events_ts_probe_survives_unreadable_path(tmp_path):
    """The footer probe must not crash on paths the local filesystem
    can't stat (s3a://, hdfs://) or unreadable files — it falls back to
    assuming native timestamps; and the cache is keyed on mtime so an
    in-place rewrite with the other encoding is re-probed."""
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from adcirctime2cogs_spark.tables import _events_ts_is_nanos

    # remote-scheme path: getmtime fails, footer probe fails -> False
    assert _events_ts_is_nanos("s3a://bucket/events.parquet") is False
    assert _events_ts_is_nanos("/definitely/missing/events.parquet") is False

    # in-place rewrite flips the cached answer (mtime-keyed cache)
    p = tmp_path / "events.parquet"
    pq.write_table(pa.table({"ts": pa.array([0], pa.timestamp("us"))}), str(p))
    assert _events_ts_is_nanos(str(p)) is False
    time.sleep(0.05)
    pq.write_table(pa.table({"ts": pa.array([0], pa.timestamp("ns"))}), str(p))
    os_utime_bump = p.stat().st_mtime + 1
    import os as _os

    _os.utime(p, (os_utime_bump, os_utime_bump))
    assert _events_ts_is_nanos(str(p)) is True


def test_compact_parquet_small_files(spark, sf_dir, tmp_path):
    """50 tiny files -> few target-sized files, identical rows, atomic
    swap (no temp/backup dirs left behind)."""
    import os

    from adcirctime2cogs_spark.sinks.compact import compact_parquet
    from adcirctime2cogs_spark.tables import load_table

    tbl = str(tmp_path / "events_tbl")
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts", "value"
    )
    events.repartition(50).write.parquet(tbl)
    n_small = sum(f.endswith(".parquet") for f in os.listdir(tbl))
    assert n_small == 50
    before = sorted(tuple(r) for r in spark.read.parquet(tbl).collect())

    stats = compact_parquet(spark, tbl, target_file_bytes=64 * 1024 * 1024)
    assert stats.files_before == 50
    assert stats.files_after < 50 and stats.files_after >= 1
    assert stats.rows == len(before)
    after = sorted(tuple(r) for r in spark.read.parquet(tbl).collect())
    assert after == before
    # atomic swap left no residue next to the table
    residue = [d for d in os.listdir(tmp_path)
               if "compact" in d and d != "events_tbl"]
    assert residue == []


def test_compact_parquet_sorted_restores_file_skipping(spark, sf_dir, tmp_path):
    """Sorted compaction: files are range-partitioned on the sort key,
    so each output file covers a disjoint key range (the min/max-stats
    property that lets range predicates skip whole files)."""
    import os

    import pyarrow.parquet as pq

    from adcirctime2cogs_spark.sinks.compact import compact_parquet
    from adcirctime2cogs_spark.tables import load_table

    tbl = str(tmp_path / "li_tbl")
    load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    ).repartition(20).write.parquet(tbl)

    compact_parquet(
        spark, tbl, target_file_bytes=64 * 1024, sort_cols=("l_orderkey",)
    )
    ranges = []
    for f in os.listdir(tbl):
        if not f.endswith(".parquet"):
            continue
        md = pq.read_metadata(os.path.join(tbl, f))
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            col = md.row_group(rg).column(0)
            mins.append(col.statistics.min)
            maxs.append(col.statistics.max)
        ranges.append((min(mins), max(maxs)))
    assert len(ranges) > 1  # the tiny target forced multiple files
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2  # disjoint per-file key ranges


def test_compact_parquet_partitioned_layout_preserved(spark, sf_dir, tmp_path):
    import os

    from adcirctime2cogs_spark.sinks.compact import compact_parquet
    from adcirctime2cogs_spark.tables import load_table

    tbl = str(tmp_path / "orders_tbl")
    load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    ).repartition(10).write.partitionBy("o_orderstatus").parquet(tbl)
    before = sorted(tuple(r) for r in spark.read.parquet(tbl).collect())

    stats = compact_parquet(
        spark, tbl, target_file_bytes=64 * 1024 * 1024,
        partition_cols=("o_orderstatus",),
    )
    # Hive dirs survive and rows are intact
    parts = [d for d in os.listdir(tbl) if d.startswith("o_orderstatus=")]
    assert parts
    after = sorted(tuple(r) for r in spark.read.parquet(tbl).collect())
    assert after == before
    assert stats.files_after < stats.files_before


def test_geotiff_float_predictor_roundtrip_and_payoff(tmp_path):
    """Predictor=3 COGs are lossless (NaN included) for smooth, noisy,
    and constant rasters; predictor=1 remains readable; and on a
    smooth field the predictor genuinely pays (file an order of
    magnitude smaller than the raw-bytes encoding)."""
    import os

    from adcirctime2cogs_spark.sinks import geotiff as gt

    rng = np.random.default_rng(13)
    # rows wider than zlib's 32 KB window (4500 * 8 B = 36 KB), the
    # production regime where plain deflate can't exploit row-to-row
    # similarity and the predictor's payoff shows
    gx = np.linspace(0, 4, 4500)[None, :]
    gy = np.linspace(0, 3, 320)[:, None]
    cases = {
        "smooth": 4.0 * gx - 7.0 * gy + 2.0,
        "noisy": rng.normal(size=(320, 4500)),
        "const": np.full((320, 4500), 7.25),
    }
    cases["smooth"][5:9, 17:40] = np.nan
    tr = [0.0, 0.01, 0.0, 3.2, 0.0, -0.01]
    for name, arr in cases.items():
        p = str(tmp_path / f"{name}.tif")
        gt.write_geotiff(p, arr, tr)
        back, tags = gt.read_geotiff(p)
        assert tags[gt.TAG_PREDICTOR] == 3
        assert np.array_equal(np.isnan(back), np.isnan(arr)), name
        m = ~np.isnan(arr)
        assert np.array_equal(back[m], arr[m]), name
    p1 = str(tmp_path / "nopred.tif")
    gt.write_geotiff(p1, cases["smooth"], tr, predictor=1)
    back, tags = gt.read_geotiff(p1)
    assert gt.TAG_PREDICTOR not in tags
    m = ~np.isnan(cases["smooth"])
    assert np.array_equal(back[m], cases["smooth"][m])
    assert os.path.getsize(str(tmp_path / "smooth.tif")) * 8 < \
        os.path.getsize(p1)
