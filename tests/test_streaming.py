"""Streaming == batch: replay the events parquet through Structured
Streaming and compare final state against the batch twins."""

import pytest
from pyspark.sql import functions as F

from adcirctime2cogs_spark.operators import eventwindows
from adcirctime2cogs_spark.streaming import windows as sw


@pytest.fixture(scope="module")
def events_stream(spark, sf_dir):
    return sw.read_events_stream(spark, sf_dir)


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_tumbling_stream_matches_batch(spark, sf_dir, events_stream):
    out = sw.run_to_memory(sw.tumbling_counts(events_stream), "t_tumble")
    batch = eventwindows.events_tumbling_window(spark, sf_dir)
    cols = ["win_start", "event_type", "n"]
    assert _rows(out, cols) == _rows(batch, cols)


def test_sliding_stream_matches_batch(spark, sf_dir, events_stream):
    out = sw.run_to_memory(sw.sliding_counts(events_stream), "t_slide")
    batch = eventwindows.events_sliding_window(spark, sf_dir)
    cols = ["win_start", "event_type", "n"]
    assert _rows(out, cols) == _rows(batch, cols)


def test_session_stream_matches_batch(spark, sf_dir, events_stream):
    out = sw.run_to_memory(sw.session_counts(events_stream), "t_sess")
    batch = eventwindows.events_session_window(spark, sf_dir)
    cols = ["user_id", "sess_start", "n"]
    assert _rows(out, cols) == _rows(batch, cols)


def test_dedup_within_watermark(spark, sf_dir, events_stream):
    out = sw.run_to_memory(sw.dedup_within_watermark(events_stream), "t_dedup")
    batch_pairs = (
        eventwindows.events_dedup_first(spark, sf_dir)
        .select("user_id", "event_type")
    )
    # streaming dedup keeps an arbitrary row per key, but the KEY SET
    # must match the batch dedup exactly
    assert _rows(out.select("user_id", "event_type"), ["user_id", "event_type"]) == _rows(
        batch_pairs, ["user_id", "event_type"]
    )


def test_stateful_running_totals(spark, sf_dir, events_stream):
    out = sw.run_to_memory(
        sw.running_value_by_user(events_stream), "t_state", mode="update"
    )
    # final state per user (one batch -> one emission) == batch groupBy
    from adcirctime2cogs_spark.tables import load_table

    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n_events"))
    )
    got = {r.user_id: r.n_events for r in out.collect()}
    want = {r.user_id: r.n_events for r in batch.collect()}
    assert got == want


def test_foreach_batch_parquet_sink(spark, sf_dir, tmp_path):
    """foreachBatch sink: the stream's tumbling aggregation lands as
    parquet via the batch writer, and the union of batch outputs (last
    update per window wins) equals the batch-twin aggregation."""
    import os

    from pyspark.sql import functions as F

    stream = sw.tumbling_counts(sw.read_events_stream(spark, sf_dir))
    out = str(tmp_path / "out")
    n = sw.run_to_parquet_batches(stream, out, str(tmp_path / "ckpt"))
    assert n >= 1
    assert any(d.startswith("batch=") for d in os.listdir(out))
    got = spark.read.option("basePath", out).parquet(out + "/batch=*")
    # updates across batches: keep the latest row per (window, type)
    latest = got.groupBy("win_start", "event_type").agg(
        F.max_by("n", "batch").alias("n")
    )
    batch = eventwindows.events_tumbling_window(spark, sf_dir)
    cols = ["win_start", "event_type", "n"]
    assert _rows(latest, cols) == _rows(batch.select(*cols), cols)


def test_watermark_drops_late_data(spark, tmp_path):
    """Late-data semantics: with a 10-min watermark, an event arriving
    in a later batch but timestamped before the watermark is dropped —
    its window never appears in the append-mode output."""
    import time as _time

    from pyspark.sql import functions as F

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = tmp_path / "stream_src"
    src.mkdir()

    def _write(name, rows):
        # one REAL file per batch (Spark's .write.parquet makes a
        # directory, which scrambles per-file trigger ordering)
        pdf = pd.DataFrame(
            rows, columns=["event_id", "event_type", "value", "ts"]
        ).astype({"ts": "datetime64[us]"})
        pq.write_table(
            pa.Table.from_pandas(pdf, preserve_index=False), str(src / name)
        )

    _write(
        "batch_a.parquet",
        [(i, "click", 1.0, f"2024-01-01 10:{m:02d}:00")
         for i, m in enumerate(range(0, 60, 5))],
    )
    _time.sleep(1.1)  # file source orders batches by modification time
    _write(
        "batch_b.parquet",
        # 09:00 is late vs batch_a's data, but the watermark only takes
        # effect one batch after it is computed -> still accepted here
        [(100, "click", 1.0, "2024-01-01 09:00:00"),
         (101, "click", 1.0, "2024-01-01 11:05:00")],
    )
    _time.sleep(1.1)
    _write(
        "batch_c.parquet",
        # by now the watermark (10:45+) is in force: this row is dropped
        [(102, "click", 1.0, "2024-01-01 08:00:00")],
    )

    stream = (
        spark.readStream.schema("event_id long, event_type string, value double, ts timestamp")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src) + "/*")
    )
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "5 minutes").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.date_format("w.start", "HH:mm").alias("ws"), "n")
    )
    q = agg.writeStream.outputMode("append").format("memory").queryName(
        "t_late"
    ).start()
    q.processAllAvailable()
    dropped = sum(
        so.get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress
        for so in p["stateOperators"]
    )
    q.stop()
    out = {r.ws for r in spark.table("t_late").collect()}
    assert "08:00" not in out       # late row dropped by the watermark
    assert dropped == 1             # and the state op counted the drop
    assert "10:00" in out           # on-time windows closed and emitted


def test_stream_static_enrichment(spark, sf_dir, events_stream):
    """Stream-static broadcast join == the same join run in batch."""
    from adcirctime2cogs_spark.tables import load_table

    cust = load_table(spark, sf_dir, "customer")
    got = sw.run_to_memory(
        sw.enrich_with_users(events_stream, cust), "enriched_events"
    )
    want = sw.enrich_with_users(load_table(spark, sf_dir, "events"), cust)
    cols = ["event_id", "user_id", "event_type", "value", "c_mktsegment"]
    assert _rows(got, cols) == _rows(want, cols)
    # every event must survive the left join exactly once
    assert got.count() == load_table(spark, sf_dir, "events").count()


def test_checkpoint_restart_is_exactly_once(spark, tmp_path):
    """Checkpoint recovery: stop a stream, add new source files, restart
    with the SAME checkpoint — already-processed batches must not be
    re-emitted (the resumability contract a production ingest relies
    on)."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = tmp_path / "cp_src"
    src.mkdir()
    ckpt = str(tmp_path / "cp_state")
    out = str(tmp_path / "cp_out")

    def _write(name, ids):
        pdf = pd.DataFrame({"event_id": ids, "value": [float(i) for i in ids]})
        pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), str(src / name))

    def _run_once():
        stream = (
            spark.readStream.schema("event_id long, value double")
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src))
        )
        q = (
            stream.writeStream.outputMode("append")
            .option("checkpointLocation", ckpt)
            .format("parquet")
            .option("path", out)
            .start()
        )
        q.processAllAvailable()
        q.stop()

    _write("a.parquet", [1, 2, 3])
    _run_once()
    first = spark.read.parquet(out)
    assert sorted(r.event_id for r in first.collect()) == [1, 2, 3]

    _write("b.parquet", [4, 5])
    _run_once()  # restart from the same checkpoint
    final = spark.read.parquet(out)
    # exactly once: old rows not re-emitted, new rows appended once
    assert sorted(r.event_id for r in final.collect()) == [1, 2, 3, 4, 5]


def test_regrid_stream_matches_batch(spark, tmp_path):
    """The domain flagship on Structured Streaming: timesteps arriving
    as file drops regrid incrementally (one micro-batch per drop) and
    the final state equals the batch regrid — nulls (dry nodes)
    included."""
    from adcirctime2cogs_spark.plans import micromesh as mm
    from adcirctime2cogs_spark.plans.regrid import regrid
    from adcirctime2cogs_spark.plans.weights import weights_table
    from adcirctime2cogs_spark.streaming import regrid_stream as rs

    w = weights_table(spark, mm.triangles(), mm.GRID)
    ts_batch = mm.timeseries_df(spark).withColumn("ts", F.to_timestamp("ts"))
    src = str(tmp_path / "drops")
    # one file per timestep = the forecast-advisory arrival pattern
    ts_batch.repartition(3, "ts").write.parquet(src)
    stream = rs.read_timeseries_stream(spark, src, max_files_per_trigger=1)
    out = sw.run_to_memory(rs.regrid_stream(w, stream), "t_regrid")

    batch = regrid(w, ts_batch)
    # round the value: the 3-term w·v sum folds in arrival order on the
    # streaming side, so the last ulp can differ from the batch plan
    cols = ["ts", "cell_id", "grid_row", "grid_col"]
    rounded = lambda df: _rows(df.withColumn("value", F.round("value", 9)),
                               cols + ["value"])
    assert rounded(out) == rounded(batch)
    # the dry-node cell nulls must survive the streaming path too
    assert any(r[4] is None for r in rounded(out))


def test_continuous_rollup_incremental_partitions(spark, sf_dir, tmp_path):
    """The materialized continuous aggregate: three time-ordered event
    drops stream through the tumbling agg into a win_key-partitioned
    parquet table via dynamic partition overwrite; the final table must
    equal the batch rollup exactly, and later batches must only touch
    their own windows' partitions."""
    import os

    from adcirctime2cogs_spark.tables import load_table

    events = load_table(spark, sf_dir, "events").orderBy("ts")
    total = events.count()
    cut1, cut2 = total // 3, 2 * total // 3
    pdf = events.toPandas()
    drops = tmp_path / "edrops"
    drops.mkdir()
    for i, chunk in enumerate(
        (pdf.iloc[:cut1], pdf.iloc[cut1:cut2], pdf.iloc[cut2:])
    ):
        p = str(drops / f"e{i}.parquet")
        spark.createDataFrame(chunk).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(drops / f"_tmp{i}"))
        part = next(
            f
            for f in os.listdir(str(drops / f"_tmp{i}"))
            if f.endswith(".parquet")
        )
        os.rename(str(drops / f"_tmp{i}" / part), p)
        os.utime(p, (1_700_000_000 + i * 60,) * 2)

    stream = (
        spark.readStream.schema(events.schema)
        .option("pathGlobFilter", "*.parquet")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(drops))
    )
    out = str(tmp_path / "rollup")
    n = sw.run_continuous_rollup(stream, out, str(tmp_path / "ck"))
    assert n >= 2  # genuinely incremental — several non-empty batches

    got = spark.read.parquet(out).drop("win_key")
    batch = eventwindows.events_tumbling_window(spark, sf_dir)
    cols = ["win_start", "event_type", "n", "total_value"]
    got_rows = sorted(
        (r[0], r[1], r[2], round(r[3], 6)) for r in got.select(*cols).collect()
    )
    batch_rows = sorted(
        (r[0], r[1], r[2], round(r[3], 6))
        for r in batch.select(*cols).collect()
    )
    assert got_rows == batch_rows


def test_streaming_cog_pipeline_end_to_end(spark, tmp_path):
    """The reference's whole dataflow as one always-on job: timestep
    file drops → watermarked streaming regrid → per-timestep COG files
    via foreachBatch, byte-comparable to the batch pipeline's COGs."""
    import os

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from adcirctime2cogs_spark.plans import micromesh as mm
    from adcirctime2cogs_spark.plans.regrid import regrid
    from adcirctime2cogs_spark.plans.weights import weights_table
    from adcirctime2cogs_spark.sinks.cog import write_cogs
    from adcirctime2cogs_spark.streaming import regrid_stream as rs

    w = weights_table(spark, mm.triangles(), mm.GRID)
    ts_batch = mm.timeseries_df(spark).withColumn("ts", F.to_timestamp("ts"))
    pdf = ts_batch.toPandas().sort_values(["ts", "node_id"])
    stamps = sorted(pdf["ts"].unique())

    # one parquet drop per timestep, mtimes ascending so the file
    # source replays them in arrival order; a final sentinel drop
    # advances the watermark past the last real timestep
    drops = tmp_path / "drops"
    drops.mkdir()
    sentinel = stamps[-1] + np.timedelta64(2, "h")
    batches = [pdf[pdf["ts"] == t] for t in stamps]
    batches.append(
        pdf[pdf["ts"] == stamps[0]].assign(ts=sentinel)
    )
    for i, b in enumerate(batches):
        path = str(drops / f"drop{i}.parquet")
        pq.write_table(
            pa.table(
                {
                    "ts": pa.array(b["ts"], pa.timestamp("us")),
                    "node_id": pa.array(b["node_id"], pa.int64()),
                    "value": pa.array(b["value"], pa.float64()),
                }
            ),
            path,
        )
        os.utime(path, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))

    stream = rs.read_timeseries_stream(spark, str(drops), max_files_per_trigger=1)
    regridded = rs.regrid_stream(w, stream, watermark="30 minutes")
    out_s = str(tmp_path / "cogs_stream")
    n = rs.run_regrid_to_cogs(
        regridded, mm.GRID, out_s, str(tmp_path / "ck")
    )
    assert n >= 1

    out_b = str(tmp_path / "cogs_batch")
    batch_manifest = write_cogs(
        regrid(w, ts_batch),
        mm.GRID,
        out_b,
    ).collect()
    # every real timestep's streaming COG exists and matches the batch
    # raster cell-for-cell (sentinel never completes, so no extra file)
    stream_files = sorted(os.listdir(out_s))
    batch_files = sorted(os.listdir(out_b))
    assert stream_files == batch_files
    assert len(batch_manifest) == len(stamps)
    from adcirctime2cogs_spark.sinks.geotiff import read_geotiff

    compared = 0
    for f in batch_files:
        if not f.endswith(".tif"):
            continue
        a, _ = read_geotiff(os.path.join(out_s, f))
        b, _ = read_geotiff(os.path.join(out_b, f))
        assert np.allclose(a, b, equal_nan=True)
        compared += 1
    assert compared == len(stamps)  # the loop must actually compare


def test_netcdf_stream_to_cog_full_flow(spark, tmp_path):
    """The reference's entire production flow, live: raw per-advisory
    NetCDF drops → readStream.format('adcirc_netcdf') → watermarked
    streaming regrid → per-timestep COG files — output byte-comparable
    to the batch pipeline on the same data."""
    import os

    import numpy as np

    from adcirctime2cogs_spark.plans import micromesh as mm
    from adcirctime2cogs_spark.plans.regrid import regrid
    from adcirctime2cogs_spark.plans.weights import weights_table
    from adcirctime2cogs_spark.sinks.cog import write_cogs
    from adcirctime2cogs_spark.sources.netcdf import AdcircNetCDFDataSource
    from adcirctime2cogs_spark.streaming import regrid_stream as rs

    ts_batch = mm.timeseries_df(spark).withColumn("ts", F.to_timestamp("ts"))
    pdf = ts_batch.toPandas().sort_values(["ts", "node_id"])
    stamps = sorted(pdf["ts"].unique())
    n_nodes = pdf["node_id"].nunique()

    # one fake one-timestep .nc per advisory: header + float64 node
    # values in node_id order (NaN encodes the dry node); a sentinel
    # advisory dated past the last real one advances the watermark
    drops = tmp_path / "nc"
    drops.mkdir()
    HDR = 8
    frames = [(t, pdf[pdf["ts"] == t]) for t in stamps]
    frames.append((stamps[-1] + np.timedelta64(2, "h"), frames[0][1]))
    for i, (t, frame) in enumerate(frames):
        vals = (
            frame.sort_values("node_id")["value"]
            .astype("float64")
            .to_numpy()
        )
        p = str(drops / f"adv{i}.nc")
        with open(p, "wb") as fh:
            fh.write(b"\x89HDF-hdr" + vals.tobytes())
        os.utime(p, (1_700_000_000 + i * 60,) * 2)

    stamp_by_file = {
        str(drops / f"adv{i}.nc"): t for i, (t, _) in enumerate(frames)
    }

    def splitter(path, length):
        return [(0, HDR, length - HDR)]

    def range_decoder(path, variable, t_idx, offset, nbytes):
        import pandas as pd

        with open(path, "rb") as fh:
            fh.seek(offset)
            vals = np.frombuffer(fh.read(nbytes), dtype="<f8")
        return pd.Timestamp(stamp_by_file[path]), range(len(vals)), vals

    spark.dataSource.register(
        AdcircNetCDFDataSource.with_codecs(splitter, range_decoder)
    )
    stream = (
        spark.readStream.format("adcirc_netcdf")
        .option("path", str(drops / "*.nc"))
        .load()
    )
    w = weights_table(spark, mm.triangles(), mm.GRID)
    out_s = str(tmp_path / "cogs_live")
    n = rs.run_regrid_to_cogs(
        rs.regrid_stream(w, stream, watermark="30 minutes"),
        mm.GRID,
        out_s,
        str(tmp_path / "ck"),
    )
    assert n >= 1

    out_b = str(tmp_path / "cogs_batch")
    write_cogs(
        regrid(w, ts_batch),
        mm.GRID,
        out_b,
    ).collect()
    assert sorted(os.listdir(out_s)) == sorted(os.listdir(out_b))
    from adcirctime2cogs_spark.sinks.geotiff import read_geotiff

    compared = 0
    for f in os.listdir(out_b):
        if f.endswith(".tif"):
            a, _ = read_geotiff(os.path.join(out_s, f))
            b, _ = read_geotiff(os.path.join(out_b, f))
            assert np.allclose(a, b, equal_nan=True)
            compared += 1
    assert compared == len(stamps)  # the loop must actually compare
    assert n_nodes == 6  # the golden fixture shape backing this test


def test_stream_stream_interval_join_matches_batch(spark, sf_dir, events_stream):
    from adcirctime2cogs_spark.tables import load_table

    out = sw.run_to_memory(
        sw.clicks_after_views(events_stream, events_stream), "ss_join"
    )
    batch_events = load_table(spark, sf_dir, "events")
    expected = sw.clicks_after_views(batch_events, batch_events)
    cols = ["view_id", "click_id", "user_id", "view_ts_s", "click_ts_s"]
    assert _rows(out, cols) == _rows(expected, cols)
    assert out.count() > 0


def test_stateful_session_flush_on_event_time_timeout(spark, tmp_path):
    """State TTL: a user silent past (last event + gap) is flushed as
    one final session record when a LATER batch advances the event-time
    watermark past the deadline, and the flushed key's state is
    removed. User 1 goes quiet after batch A; user 2 keeps eventing two
    hours later, dragging the watermark forward -> only user 1
    flushes."""
    import time as _time

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = tmp_path / "sess_src"
    src.mkdir()

    def _write(name, rows):
        pdf = pd.DataFrame(
            rows, columns=["user_id", "event_id", "ts"]
        ).astype({"ts": "datetime64[us]"})
        pq.write_table(
            pa.Table.from_pandas(pdf, preserve_index=False), str(src / name)
        )

    _write(
        "batch_a.parquet",
        [(1, 10, "2024-01-01 10:00:00"), (1, 11, "2024-01-01 10:05:00"),
         (2, 20, "2024-01-01 10:06:00")],
    )
    _time.sleep(1.1)
    _write("batch_b.parquet", [(2, 21, "2024-01-01 12:00:00")])
    _time.sleep(1.1)
    # third batch so the watermark computed after batch_b takes effect
    _write("batch_c.parquet", [(2, 22, "2024-01-01 12:01:00")])

    stream = (
        spark.readStream.schema("user_id long, event_id long, ts timestamp")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src) + "/*")
    )
    q = (
        sw.session_flush_on_timeout(stream, gap_minutes=30)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("t_flush")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    rows = {r.user_id: r for r in spark.table("t_flush").collect()}
    assert set(rows) == {1}, rows  # user 2 is still live -> no flush
    r = rows[1]
    assert r.n_events == 2
    assert pd.Timestamp(r.first_us, unit="us") == pd.Timestamp("2024-01-01 10:00:00")
    assert pd.Timestamp(r.last_us, unit="us") == pd.Timestamp("2024-01-01 10:05:00")


def test_session_flush_split_on_gap_semantics(spark, tmp_path):
    """Pin the split_on_gap=True unit semantics the stream_session_flush
    parity query depends on, batch case by batch case: (1) a single
    micro-batch containing TWO gap-separated sessions for one user
    emits the first immediately and retains the second; (2) a later
    batch CONTINUING the retained session merges into it (no emission);
    (3) a later batch gapping away CLOSES the carried session on
    arrival (gap detection, not timeout). The end-to-end oracle check
    in tests/test_oracle_parity.py would survive some compensating-bug
    pairs here; this test won't."""
    import time as _time

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = tmp_path / "split_src"
    src.mkdir()

    def _write(name, rows):
        pdf = pd.DataFrame(
            rows, columns=["user_id", "event_id", "ts"]
        ).astype({"ts": "datetime64[us]"})
        pq.write_table(
            pa.Table.from_pandas(pdf, preserve_index=False), str(src / name)
        )

    # batch A: user 1 has sessions {10:00, 10:10} and {11:00} (50-min
    # intra-batch gap) -> first emits at once, second is retained open
    _write(
        "a.parquet",
        [(1, 10, "2024-01-01 10:00:00"), (1, 11, "2024-01-01 10:10:00"),
         (1, 12, "2024-01-01 11:00:00")],
    )
    _time.sleep(1.1)
    # batch B: 11:20 continues the open session (20-min gap — merge)
    _write("b.parquet", [(1, 13, "2024-01-01 11:20:00")])
    _time.sleep(1.1)
    # batch C: 13:00 gaps away from 11:20 -> the carried {11:00, 11:20}
    # session closes ON ARRIVAL; {13:00} is retained (never flushed:
    # nothing later advances the watermark past its deadline)
    _write("c.parquet", [(1, 14, "2024-01-01 13:00:00")])

    stream = (
        spark.readStream.schema("user_id long, event_id long, ts timestamp")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src) + "/*")
    )
    q = (
        sw.session_flush_on_timeout(stream, gap_minutes=30, split_on_gap=True)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("t_split_gap")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = sorted(
        (r.n_events,
         str(pd.Timestamp(r.first_us, unit="us")),
         str(pd.Timestamp(r.last_us, unit="us")))
        for r in spark.table("t_split_gap").collect()
    )
    assert got == [
        (2, "2024-01-01 10:00:00", "2024-01-01 10:10:00"),  # intra-batch split
        (2, "2024-01-01 11:00:00", "2024-01-01 11:20:00"),  # merged then closed
    ]


def test_foreachbatch_checkpoint_resume_exactly_once(spark, tmp_path):
    """Fault-tolerance contract of the foreachBatch sink: a stream
    stopped after consuming part of its source and RESTARTED from the
    same checkpoint must process only the unseen files — every source
    row lands in the output exactly once across both runs (the
    property a 100 TB ingest relies on when an executor or driver
    dies mid-backfill)."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = tmp_path / "src"
    src.mkdir()
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def _write(name, ids):
        pdf = pd.DataFrame({"event_id": ids})
        pq.write_table(
            pa.Table.from_pandas(pdf, preserve_index=False), str(src / name)
        )

    def _run():
        stream = spark.readStream.schema("event_id long").parquet(
            str(src) + "/*"
        )
        return sw.run_to_parquet_batches(stream, out, ckpt, mode="append")

    _write("a.parquet", [1, 2, 3])
    n1 = _run()  # consumes file a, then stops (simulated failure point)
    assert n1 >= 1
    _write("b.parquet", [4, 5])
    n2 = _run()  # restart from the same checkpoint
    assert n2 >= 1

    got = sorted(
        r.event_id for r in spark.read.parquet(out + "/batch=*").collect()
    )
    assert got == [1, 2, 3, 4, 5]  # each row exactly once across runs


def test_continuous_rollup_with_interleaved_compaction(spark, sf_dir, tmp_path):
    """The streaming maintenance loop (VERDICT r06 item 8): the
    continuous rollup publishes every batch AND every compaction as an
    immutable VersionedTable version, WHILE a reader thread pins
    snapshots and scans — no read may ever fail or see a partial
    state, a scan pinned before later publishes must still finish
    (copy-on-write + GC grace), and the final table must equal the
    batch rollup exactly."""
    import os
    import threading

    from adcirctime2cogs_spark.sinks.compact import VersionedTable
    from adcirctime2cogs_spark.tables import load_table

    events = load_table(spark, sf_dir, "events")
    pdf = events.toPandas()
    drops = tmp_path / "cdrops"
    drops.mkdir()
    n_drops = 6
    step = len(pdf) // n_drops + 1
    for i in range(n_drops):
        chunk = pdf.iloc[i * step:(i + 1) * step]
        spark.createDataFrame(chunk, events.schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(drops / f"_tmp{i}"))
        part = next(
            f for f in os.listdir(str(drops / f"_tmp{i}"))
            if f.endswith(".parquet")
        )
        os.rename(str(drops / f"_tmp{i}" / part), str(drops / f"e{i}.parquet"))
        os.utime(str(drops / f"e{i}.parquet"), (1_700_000_000 + i * 60,) * 2)

    stream = (
        spark.readStream.schema(events.schema)
        .option("pathGlobFilter", "*.parquet")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(drops))
    )
    out = str(tmp_path / "rollup")

    # hammer pinned snapshots from another thread for the whole run;
    # every single read must succeed and be internally consistent
    stop = threading.Event()
    observations: list[tuple[int, int, int]] = []
    errors: list[BaseException] = []

    def reader():
        vt = VersionedTable(out)
        while not stop.is_set():
            snap = vt.snapshot()
            if not any(
                f.endswith(".parquet")
                for _, _, fs in os.walk(snap) for f in fs
            ):
                continue  # version not yet populated
            try:
                df = spark.read.parquet(snap)
                row = df.agg(
                    F.count(F.lit(1)).alias("c"), F.sum("n").alias("s")
                ).first()
                observations.append(
                    (vt.version(), int(row[0]), int(row[1] or 0))
                )
            except BaseException as exc:  # noqa: BLE001 — the assertion
                errors.append(exc)
                return

    t = threading.Thread(target=reader, daemon=True)
    t.start()
    try:
        n = sw.run_continuous_rollup(
            stream, out, str(tmp_path / "ck"), compact_every=2
        )
    finally:
        stop.set()
        t.join(timeout=120)
    assert not errors, f"pinned reader failed mid-publish: {errors[0]!r}"
    assert n >= 4
    assert observations, "reader thread never completed a read"
    assert all(c > 0 and s > 0 for _, c, s in observations)

    vt = VersionedTable(out)
    # every batch + every compaction published a version
    assert vt.version() >= n + n // 2

    # copy-on-write isolation: a scan PLANNED against a pinned
    # snapshot survives further publishes (append + compaction)
    pinned = spark.read.parquet(vt.snapshot())
    pinned_rows = pinned.count()
    vt.mutate(lambda d: None)  # no-op append publish
    vt.compact(spark, partition_cols=("win_key", "event_type"))
    assert pinned.count() == pinned_rows

    # and the final compacted table still equals the batch rollup
    got = spark.read.parquet(vt.snapshot()).drop("win_key")
    batch = eventwindows.events_tumbling_window(spark, sf_dir)
    cols = ["win_start", "event_type", "n", "total_value"]
    got_rows = sorted(
        (r[0], r[1], r[2], round(r[3], 6)) for r in got.select(*cols).collect()
    )
    batch_rows = sorted(
        (r[0], r[1], r[2], round(r[3], 6))
        for r in batch.select(*cols).collect()
    )
    assert got_rows == batch_rows


def test_versioned_table_compaction_reduces_files(spark, tmp_path):
    """Compaction really merges the per-batch small files, the content
    hash gate holds, and GC bounds the version count."""
    import os

    import numpy as np

    from adcirctime2cogs_spark.sinks.compact import (
        VersionedTable,
        _parquet_files,
    )

    vt = VersionedTable(str(tmp_path / "t"), keep=2)
    rng = np.random.default_rng(1)
    for b in range(6):
        pdf = __import__("pandas").DataFrame({
            "k": rng.integers(0, 5, 200), "v": rng.normal(size=200)
        })

        def append(d, pdf=pdf):
            spark.createDataFrame(pdf).coalesce(2).write.mode(
                "append"
            ).parquet(d)

        vt.mutate(append)
    before = len(_parquet_files(vt.snapshot()))
    total = spark.read.parquet(vt.snapshot()).count()
    stats = vt.compact(spark)
    assert stats.files_after < before
    assert spark.read.parquet(vt.snapshot()).count() == total == 1200
    versions = [n for n in os.listdir(str(tmp_path / "t"))
                if n.startswith("v")]
    assert len(versions) <= 2  # GC kept only `keep`


def test_ingest_with_cross_batch_dedup(spark, tmp_path):
    """The corpus front door: two drops arrive in separate stream
    runs; the second drop's byte-identical copy of a first-drop doc
    (and a within-batch duplicate pair) must land in the reject log
    with keep-lowest dup_of, never in the corpus — the ledger, not
    watermark state, carries dedup across arbitrary gaps."""
    import os

    from adcirctime2cogs_spark.streaming.ingest import (
        start_ingest_with_dedup,
    )

    drop = str(tmp_path / "drops")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    os.makedirs(drop)
    schema = ("doc_id long, text string, lang string, source string, "
              "n_chars long")
    batch1 = spark.createDataFrame(
        [(1, "alpha body", "en", "s", 10),
         (2, "beta body", "en", "s", 9),
         (3, "alpha body", "en", "s", 10)],  # within-drop dup of 1
        schema,
    )
    batch1.write.parquet(os.path.join(drop, "d1"))
    q = start_ingest_with_dedup(spark, drop + "/*", out, ck)
    q.awaitTermination(120)
    batch2 = spark.createDataFrame(
        [(10, "beta body", "en", "s", 9),     # cross-drop dup of 2
         (11, "gamma body", "en", "s", 10),
         # a drop file re-uploaded under a new name: TWO physical
         # copies of the SAME (doc_id, text) in one batch — exactly
         # one row may reach the corpus and ledger (review r10: both
         # copies used to pass the min-doc_id gate)
         (12, "delta body", "en", "s", 10),
         (12, "delta body", "en", "s", 10)],
        schema,
    )
    batch2.write.parquet(os.path.join(drop, "d2"))
    q2 = start_ingest_with_dedup(spark, drop + "/*", out, ck)
    q2.awaitTermination(120)

    corpus_rows = spark.read.parquet(
        os.path.join(out, "corpus.parquet")
    ).collect()
    assert sorted(r.doc_id for r in corpus_rows) == [1, 2, 11, 12]
    rejects = [
        (r.doc_id, r.dup_of) for r in
        spark.read.parquet(os.path.join(out, "rejects.parquet")).collect()
    ]
    assert sorted(rejects) == [(3, 1), (10, 2), (12, 12)]
    ledger = spark.read.parquet(os.path.join(out, "hashes.parquet"))
    assert ledger.count() == 4  # one row per accepted doc
    # effectively-once: a third run with no new drops changes nothing
    q3 = start_ingest_with_dedup(spark, drop + "/*", out, ck)
    q3.awaitTermination(120)
    assert spark.read.parquet(
        os.path.join(out, "corpus.parquet")
    ).count() == 4


def test_ewma_stream_matches_batch_bitexact(spark, sf_dir):
    """The per-event stateful EWMA (ring-buffer state, NoTimeout)
    must equal the batch window twin EXACTLY at 4dp — both sides
    evaluate the identical newest-first IEEE sum, so any mismatch is
    an ordering or state bug, not float noise."""
    from adcirctime2cogs_spark.operators.eventwindows import (
        events_ewma_smooth,
    )
    from adcirctime2cogs_spark.streaming.parity import stream_ewma_smooth

    batch = {
        r["event_id"]: r["ewma"]
        for r in events_ewma_smooth(spark, sf_dir).collect()
    }
    stream = {
        r["event_id"]: r["ewma"]
        for r in stream_ewma_smooth(spark, sf_dir).collect()
    }
    assert len(stream) == len(batch)
    diffs = {k for k in batch if stream[k] != batch[k]}
    assert not diffs, sorted(diffs)[:5]
