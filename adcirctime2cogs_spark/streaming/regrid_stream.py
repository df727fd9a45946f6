"""Streaming regrid: the domain flagship on Structured Streaming.

The reference is strictly batch — it reruns the whole pipeline per
forecast snapshot (run/adcircTime2cogs.py:266 CLI, one invocation per
advisory). Here the SAME weights ⋈ timeseries → sum(w·v) plan
(plans/regrid.py) runs continuously: model output lands as parquet
drops of (ts, node_id, value) rows, and each micro-batch regrids the
new timesteps incrementally.

Scale shape — identical to the batch plan, minus the per-run fixed
cost:

- the barycentric weights table is STATIC (the mesh doesn't change
  mid-storm); pass broadcast_weights=True to ship it to the stream
  side (no node_id shuffle) when the exploded table fits executor
  memory — for production-size grids (the reference's 8837x7999 is
  ~210M exploded rows) leave it False and let each micro-batch
  shuffle-join, the planner still auto-broadcasts small static
  sides;
- the per-(ts, cell) aggregation is keyed on the watermarked event
  time, so state for a timestep is dropped as soon as the watermark
  passes it — state size is O(cells × in-flight timesteps), not
  O(history);
- the sink sees one append per completed timestep: exactly the
  per-timestep COG cadence of the reference, but pipelined instead of
  batch-sequential.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from adcirctime2cogs_spark.plans.regrid import aggregate_cells, explode_weights
from adcirctime2cogs_spark.streaming.windows import drain_and_stop

TS_STREAM_SCHEMA = "ts timestamp, node_id long, value double"


def read_timeseries_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream over (ts, node_id, value) parquet drops — the
    layout sources/netcdf.adcirc_nc_to_tables writes, consumed as it
    lands."""
    reader = spark.readStream.schema(TS_STREAM_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.parquet(path)


def regrid_stream(
    weights: DataFrame,
    ts_stream: DataFrame,
    watermark: str = "1 hour",
    broadcast_weights: bool = False,
) -> DataFrame:
    """Continuous regrid: watermarked stream-static join + the SAME
    per-(ts, cell) aggregation as the batch plan (aggregate_cells —
    one implementation, so the expected-3 null mask cannot drift).
    broadcast_weights forces the static side to ship; default False
    is the scale-safe choice (a 70M-cell grid explodes to ~210M
    weight rows, past any broadcast limit) and the planner still
    broadcasts small static sides on its own."""
    flat = explode_weights(weights)
    if broadcast_weights:
        flat = F.broadcast(flat)
    joined = ts_stream.withWatermark("ts", watermark).join(flat, "node_id")
    return aggregate_cells(joined, ["value"])


def run_regrid_to_cogs(
    regridded: DataFrame, spec, out_dir: str, checkpoint_dir: str
) -> int:
    """Continuous COG production: drive the streaming regrid with a
    foreachBatch hook that pushes each micro-batch's COMPLETED
    timesteps (append mode — emitted exactly once, when the watermark
    passes them) through the batch COG sink. Returns the number of
    non-empty micro-batches.

    This closes the reference's whole dataflow as one always-on job:
    NetCDF drop → regrid → per-timestep COG, checkpointed and
    exactly-once, where the reference re-runs a batch CLI per advisory
    (run/adcircTime2cogs.py:266)."""
    from adcirctime2cogs_spark.sinks.cog import write_cogs

    n_batches = 0

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        nonlocal n_batches
        # ts stays a TIMESTAMP so write_cogs names files with the same
        # strftime(TS_FMT) the batch pipeline uses — pre-formatting to
        # a string hit the fallback path and produced a different
        # filename for the same timestep. persist: isEmpty() and the
        # COG write must not evaluate the regrid twice per trigger.
        batch_df.persist()
        try:
            if batch_df.isEmpty():
                return
            n_batches += 1
            write_cogs(batch_df, spec, out_dir).collect()
        finally:
            batch_df.unpersist()

    q = (
        regridded.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(write_batch)
        .start()
    )
    drain_and_stop(q)
    return n_batches
