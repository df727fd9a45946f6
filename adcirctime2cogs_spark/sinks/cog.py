"""COG sink (SURVEY O20): one Cloud-Optimized GeoTIFF per timestep.

The reference writes COGs sequentially inside its timestep loop
(run/adcircTime2cogs.py:190-209, write_cog at :205-206 via
datacube+GDAL). Here Spark fans out ONE TASK PER TIMESTEP; each task
builds its dense 2-D array and writes its own file — embarrassingly
parallel, and GDAL never sees a shared file (SURVEY §7 "what's hard").
A timestep's node values become its raster in `regrid_nodes` alone,
against the per-band weight arrays of plans/weights, each built once
by whichever task first needs it (plans/weights.ensure_band) — per
band a gather, a dot with the barycentric weights and a scatter into
the raster. Two entry points:

- `write_cogs_from_records` (the CLI, on every input): the whole job
  is one map-only stage, one task per record (and at least one per
  band), each building its share of the weight bands, decoding its
  record with its source's decoder, regridding and writing the COG;
  no shuffle;
- `write_cogs`: the groupBy ships an already regridded long table
  (ts, grid_row, grid_col, value) and the task pivots it (the
  streaming job, whose watermarked aggregation needs that table).

The writer emits REAL tiled-deflate COGs through the pure
struct+zlib codec in sinks/geotiff.py (no GDAL), so the COG bytes do
not depend on the executor image; `write_cogs` takes another writer.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, Row, SparkSession

from adcirctime2cogs_spark.plans.grid import GridSpec
from adcirctime2cogs_spark.plans.weights import WeightBands, ensure_band

# the reference's filename timestamp format (run/adcircTime2cogs.py:192)
TS_FMT = "%Y%m%dT%H%M%SZ"
MANIFEST_SCHEMA = "ts string, path string, n_cells long"


def _geotransform(spec: GridSpec) -> list[float]:
    """GDAL-style affine: (ulx, xres, 0, uly, 0, -yres) — pixel edges,
    y descending like the reference grid (run/adcircTime2cogs.py:74-75)."""
    return [spec.ul_lon, spec.res, 0.0, spec.ul_lat, 0.0, -spec.res]


def cog_writer(
    fname: str, arr: np.ndarray, transform: list[float], crs: str
) -> None:
    """No-GDAL writer: a real tiled-deflate COG via the pure-Python
    codec (sinks/geotiff.py). Writes are ATOMIC (temp file +
    os.replace) so a speculative/retried task can never leave a
    half-written raster behind — the retry simply replaces it. The
    temp suffix deliberately does NOT end in .tif: a mosaic indexer
    globbing *.tif must never pick up an in-progress or orphaned temp
    (ADVICE r10)."""
    import uuid

    from adcirctime2cogs_spark.sinks.geotiff import write_geotiff

    tmp = f"{fname}.tif.tmp-{uuid.uuid4().hex[:8]}"
    write_geotiff(tmp, arr, transform, crs, nodata=float("nan"))
    os.replace(tmp, fname + ".tif")


def _write_raster(
    out_dir: str, prefix: str, ts, arr: np.ndarray, n_cells: int,
    transform: list[float], crs: str, writer: Callable,
) -> pd.DataFrame:
    """Executor-side: name one timestep's file by its ts, write it with
    `writer`, and return its manifest row. out_dir must exist on the
    machine doing the write (driver-side makedirs covers local mode
    only). On a real cluster out_dir must be SHARED storage (NFS/Lustre
    — the reference's HPC world) or an object-store mount; tasks write
    their own files, never a shared one."""
    os.makedirs(out_dir, exist_ok=True)
    label = (
        ts.strftime(TS_FMT)
        if hasattr(ts, "strftime")
        else str(ts).replace(" ", "T").replace(":", "") + "Z"
    )
    fname = os.path.join(out_dir, f"{prefix}.{label}")
    writer(fname, arr, transform, crs)
    return pd.DataFrame({"ts": [str(ts)], "path": [fname], "n_cells": [n_cells]})


def write_cogs(
    raster_long: DataFrame,
    spec: GridSpec,
    out_dir: str,
    prefix: str = "raster",
    crs: str = "EPSG:4326",
    writer: Callable = cog_writer,
) -> DataFrame:
    """Write one COG per distinct ts from the long regrid output
    (ts, grid_row, grid_col, value). Returns a manifest DataFrame
    (ts, path, n_cells) — an action the caller triggers.

    The groupBy ships each timestep's cells to one task; the pivot to a
    dense (nrows x ncols) array with NaN for masked cells happens
    task-side, exactly like the reference's create_xarray boundary
    (run/adcircTime2cogs.py:94-109).
    """
    os.makedirs(out_dir, exist_ok=True)
    nrows, ncols = spec.ny - 1, spec.nx - 1
    transform = _geotransform(spec)

    def write_one(pdf: pd.DataFrame) -> pd.DataFrame:
        arr = np.full((nrows, ncols), np.nan, dtype="float64")
        arr[pdf["grid_row"].to_numpy(), pdf["grid_col"].to_numpy()] = (
            pdf["value"].to_numpy(dtype="float64")
        )
        return _write_raster(out_dir, prefix, pdf["ts"].iloc[0], arr,
                             len(pdf), transform, crs, writer)

    return raster_long.groupBy("ts").applyInPandas(
        write_one, schema=MANIFEST_SCHEMA
    )


def regrid_nodes(
    node: np.ndarray, val: np.ndarray, bands: WeightBands, first: int = 0,
) -> tuple[np.ndarray, int]:
    """ONE timestep's node values -> its raster of bands.spec and the
    number of cells the weights cover, against the per-band weight
    arrays, each read through plans/weights.ensure_band (which builds a
    band no task has built yet). The only place a COG pixel is
    computed. The bands are walked from band `first` on, wrapping
    around, so tasks that start at different bands build different
    ones; bands are disjoint, so the order changes no pixel.

    The rows are (node id, value) pairs with no nulls; NaN values stay.
    It sums the values of each node (`tot`, NaN where any is
    NaN) and counts them (`cnt`), then a cell's value is
    w0*tot[n0] + w1*tot[n1] + w2*tot[n2], published only where
    cnt[n0] + cnt[n1] + cnt[n2] == 3. That is
    plans/regrid.aggregate_cells' "exactly 3 contributions" rule, so
    dry nodes and missing or duplicate node rows give nodata here too.
    Node ids no triangle uses are ignored."""
    nrows, ncols = bands.spec.ny - 1, bands.spec.nx - 1
    n_nodes = bands.n_nodes
    keep = (node >= 0) & (node < n_nodes)
    node, val = node[keep], val[keep]
    # counts above 3 only need to stay above 3: clipped to 4 they fit
    # uint8, so the per-cell count sum costs 1 byte per cell
    cnt = np.minimum(np.bincount(node, minlength=n_nodes), 4
                     ).astype(np.uint8)
    tot = np.bincount(node, weights=val, minlength=n_nodes)
    arr = np.full(nrows * ncols, np.nan, dtype="float64")
    n_cells = 0
    for k in range(bands.count):
        b = (first + k) % bands.count
        wt = ensure_band(bands, b)
        value = wt["w0"] * tot[wt["n0"]]
        value += wt["w1"] * tot[wt["n1"]]
        value += wt["w2"] * tot[wt["n2"]]
        value[cnt[wt["n0"]] + cnt[wt["n1"]] + cnt[wt["n2"]] != 3] = np.nan
        # band-local cell index: scatter through a view of the band
        arr[b * bands.rows * ncols:][wt["cell"]] = value
        n_cells += len(value)
    return arr.reshape(nrows, ncols), n_cells


class DuplicateTimestepError(ValueError):
    """Two records of one input carry the same ts."""


def write_cogs_from_records(
    spark: SparkSession,
    records: list,
    decode: Callable[..., tuple],
    bands: WeightBands,
    out_dir: str,
    prefix: str,
) -> list[Row]:
    """Build the weight bands, then decode, regrid (regrid_nodes) and
    write one COG per timestep, all in one map-only stage with no
    shuffle. `records` are picklable descriptors, and `decode(record)`
    runs in the task and yields its (ts, node ids, values), one per
    timestep (several for a flat parquet row group that holds
    several, sources/mesh.plan_table_records): each source's adapter
    supplies both (sources/netcdf.nc_input, sources/mesh.table_input)
    and applies its own input's null rule, so the rows come with no
    nulls. `bands` need only be laid out
    (plans/weights.prepare_band_weights): with T records and B bands,
    task i of `spark.range(max(T, B), numPartitions=max(T, B))
    .mapInArrow` first builds band i mod B (plans/weights.ensure_band),
    so the bands are built in parallel even when T is below the core
    count. If i < T it then decodes records[i] and, for each timestep,
    regrids from band i mod B on, building any band still missing, and
    writes its COG, named by its ts. Tasks with i >= T yield no row;
    with no records the stage only builds the bands. Runs the job and
    returns the manifest rows (ts, path, n_cells).

    A task's memory: its raster (8 B per pixel), its record's node
    values (ids and values, plus per-node sums), and at most one band
    build at a time. A build explodes at most about
    plans/weights.BAND_CELLS candidate pixels at once, beside a few
    arrays per triangle (numpy peak ~485 MB for a 1.32M-cell band of a
    3.64M-triangle mesh). The band arrays are memory-mapped.

    Two records with one ts would race on one file name: a manifest
    that holds a ts twice raises DuplicateTimestepError (a ValueError)
    naming it, before the caller writes sidecars or an archive. The
    COGs the job wrote stay in out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    transform = _geotransform(bands.spec)
    n_tasks = max(len(records), bands.count)

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            for i in batch.column("id").to_pylist():
                first = i % bands.count
                ensure_band(bands, first)
                if i >= len(records):
                    continue
                for ts, node, val in decode(records[i]):
                    arr, n_cells = regrid_nodes(node, val, bands, first)
                    yield pa.RecordBatch.from_pandas(
                        _write_raster(out_dir, prefix, ts, arr, n_cells,
                                      transform, "EPSG:4326", cog_writer),
                        preserve_index=False)

    manifest = spark.range(n_tasks, numPartitions=n_tasks
                           ).mapInArrow(run, MANIFEST_SCHEMA).collect()
    seen: set[str] = set()
    for row in manifest:
        if row.ts in seen:
            raise DuplicateTimestepError(
                f"{prefix}: two records carry ts {row.ts}; their COGs "
                "share one file name")
        seen.add(row.ts)
    return manifest
