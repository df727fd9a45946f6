"""Mesh / timeseries table sources (engine-native path).

The reference reads one ADCIRC NetCDF (run/utilities/
adcirc_dask_utilities.py:36-44) into mesh arrays + a lazy [time, node]
variable. The engine's native layout is relational parquet (FIXTURES.md
B1-B4):

    mesh_nodes(node_id, lon, lat, depth)
    mesh_elements(elem_id, n0, n1, n2)
    timeseries(ts, node_id, value)      -- partitioned by ts at scale
    node_maxes(node_id, value)          -- the time-less `max` variables

ts-partitioned parquet gives the reference's `chunks={'time': 1}`
partition pruning (SURVEY P2) for free, plus column pruning at the scan
(P3). sources/netcdf.py is the one-shot adapter from NetCDF into this
layout.

`table_input` is the CLI's adapter for this layout: the mesh as arrays,
the records planned from parquet metadata, and their decoder
(sinks/cog.write_cogs_from_records).
"""

from __future__ import annotations

import os
import re
from typing import NamedTuple

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

MESH_NODES_SCHEMA = T.StructType(
    [
        T.StructField("node_id", T.LongType(), False),
        T.StructField("lon", T.DoubleType(), False),
        T.StructField("lat", T.DoubleType(), False),
        T.StructField("depth", T.DoubleType(), True),
    ]
)
MESH_ELEMENTS_SCHEMA = T.StructType(
    [
        T.StructField("elem_id", T.LongType(), False),
        T.StructField("n0", T.LongType(), False),
        T.StructField("n1", T.LongType(), False),
        T.StructField("n2", T.LongType(), False),
    ]
)
TIMESERIES_SCHEMA = T.StructType(
    [
        T.StructField("ts", T.TimestampType(), False),
        T.StructField("node_id", T.LongType(), False),
        T.StructField("value", T.DoubleType(), True),
    ]
)
NODE_MAXES_SCHEMA = T.StructType(
    [
        T.StructField("node_id", T.LongType(), False),
        T.StructField("value", T.DoubleType(), True),
    ]
)


def load_mesh(
    spark: SparkSession, base_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(mesh_nodes, mesh_elements) from parquet — the static tables the
    reference's get_adcirc_grid returns (adcirc_dask_utilities.py:15-22)."""
    nodes = spark.read.schema(MESH_NODES_SCHEMA).parquet(
        os.path.join(base_dir, "mesh_nodes.parquet")
    )
    elements = spark.read.schema(MESH_ELEMENTS_SCHEMA).parquet(
        os.path.join(base_dir, "mesh_elements.parquet")
    )
    return nodes, elements


def read_mesh_arrays(
    base_dir: str,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """The same two tables as driver-side numpy arrays, cast to the
    schema types above: (node_id, lon, lat, elements), elements being
    an (E, 4) int64 array of (elem_id, n0, n1, n2). Rows with a null in
    these columns are dropped. plans/weights.triangle_arrays rejects a
    duplicate node_id."""

    def read(name: str, schema: pa.Schema) -> pa.Table:
        return pq.read_table(
            os.path.join(base_dir, name), columns=schema.names
        ).cast(schema).drop_null()

    nodes = read("mesh_nodes.parquet", pa.schema(
        [("node_id", pa.int64()), ("lon", pa.float64()),
         ("lat", pa.float64())]))
    elements = read("mesh_elements.parquet", pa.schema(
        [(c, pa.int64()) for c in ("elem_id", "n0", "n1", "n2")]))
    node_id, lon, lat = (nodes.column(c).to_numpy() for c in nodes.column_names)
    elems = np.stack([elements.column(c).to_numpy()
                      for c in elements.column_names], axis=1)
    return node_id, lon, lat, elems


def table_name(variable: str) -> str:
    """The table under a base dir that holds `variable`: the time-less
    node_maxes for a `max`-named variable (the reference's regex
    dispatch, adcirc_dask_utilities.py:27), else {variable}.parquet."""
    return "node_maxes" if re.search("max", variable) else variable


def load_timeseries(
    spark: SparkSession, base_dir: str, variable: str = "timeseries"
) -> DataFrame:
    """Long-format [ts, node] variable. A `max` variable (table_name)
    loads node_maxes, labeled with the variable name as its one ts, so
    the regrid plan and the COG sink emit one `raster.<variable>` file,
    the reference's one raster per max variable."""
    from pyspark.sql import functions as F

    name = table_name(variable)
    path = os.path.join(base_dir, f"{name}.parquet")
    if name == "node_maxes":
        return spark.read.schema(NODE_MAXES_SCHEMA).parquet(path).select(
            F.lit(variable).alias("ts"), "node_id", "value")
    return spark.read.schema(TIMESERIES_SCHEMA).parquet(path)


def _utc(ts) -> pd.Timestamp:
    """A ts as a naive UTC pd.Timestamp, the CLI's file-name clock."""
    ts = pd.Timestamp(ts)
    return ts.tz_convert("UTC").tz_localize(None) if ts.tzinfo else ts


class TableRecord(NamedTuple):
    """A COG task's share of a (ts, node_id, value) table: (file, row
    groups) pairs, None for a whole file of `ts` alone. With row groups
    it keeps `ts`, or if ts is None every ts but `skip`'s, the k-th in
    ts order where k % part[1] == part[0]."""
    ts: object
    files: list
    skip: tuple = ()
    part: tuple = (0, 1)


def plan_table_records(path: str, min_records: int = 1) -> list:
    """The TableRecords of the (ts, node_id, value) table at `path` (a
    file or a directory), from metadata. A hive `ts=` directory is one
    record of its ts (Spark writes it URL-encoded, in its session time
    zone: UTC under session.get_spark); `__HIVE_DEFAULT_PARTITION__`,
    a null ts, is skipped. Flat row groups, ordered by their (min, max)
    ts (statistics, else the ts column read here), chain into clusters
    while one starts before the last ends. A ts where two clusters meet
    is a record of its own, reading the row groups that span it; each
    of C clusters is ceil(min_records / C) records, so one row group
    still spreads over min_records tasks. Rows not sorted by ts make
    one cluster: write them sorted, or partitionBy("ts")."""
    hive: dict[pd.Timestamp, list] = {}
    groups = []  # (lo, hi, file, row group)
    for frag in ds.dataset(path, format="parquet",
                           partitioning="hive").get_fragments():
        keys = ds.get_partition_keys(frag.partition_expression)
        if "ts" in keys:
            if keys["ts"] is not None:
                hive.setdefault(_utc(keys["ts"]), []).append(
                    (frag.path, None))
            continue
        pf = pq.ParquetFile(frag.path)
        col = pf.schema_arrow.names.index("ts")
        for rg in range(pf.metadata.num_row_groups):
            st = pf.metadata.row_group(rg).column(col).statistics
            lo, hi = ((st.min, st.max) if st is not None and st.has_min_max
                      else pc.min_max(pf.read_row_group(rg, columns=["ts"])
                                      .column(0)).as_py().values())
            if lo is not None:
                groups.append((_utc(lo), _utc(hi), frag.path, rg))
    clusters = []  # [lo, hi, row groups]
    for g in sorted(groups, key=lambda g: g[:2]):
        if clusters and g[0] < clusters[-1][1]:
            clusters[-1][1] = max(clusters[-1][1], g[1])
            clusters[-1][2].append(g)
        else:
            clusters.append([g[0], g[1], [g]])
    shared = {b[0] for a, b in zip(clusters, clusters[1:]) if a[1] == b[0]}
    clusters = [c for c in clusters if c[0] != c[1] or c[0] not in shared]
    n_part = -(-min_records // max(len(clusters), 1))
    return (
        [TableRecord(ts, files) for ts, files in sorted(hive.items())]
        + [TableRecord(None, [(g[2], [g[3]]) for g in rgs],
                       tuple(sorted(shared & {lo, hi})), (k, n_part))
           for lo, hi, rgs in clusters for k in range(n_part)]
        + [TableRecord(ts, [(g[2], [g[3]]) for g in groups
                            if g[0] <= ts <= g[1]]) for ts in sorted(shared)])


def decode_table_record(record: TableRecord):
    """Executor-side: one TableRecord -> yields (ts, node ids, values)
    in ts order, each of its files or row groups read once. Rows with a
    null node_id or value are dropped, as the join and count(value) of
    plans/regrid.aggregate_cells drop them; NaN values stay."""
    ts, files, skip, (k, n_part) = record
    whole = files[0][1] is None
    cols = ["node_id", "value"] + ([] if whole else ["ts"])
    t = pa.concat_tables([
        pq.ParquetFile(path).read(columns=cols) if whole
        else pq.ParquetFile(path).read_row_groups(rgs, columns=cols)
        for path, rgs in files])
    t = t.filter(pc.and_(t["node_id"].is_valid(), t["value"].is_valid()))
    node = t["node_id"].cast(pa.int64()).to_numpy()
    val = t["value"].cast(pa.float64()).to_numpy()
    if whole:
        yield ts, node, val
        return
    stamp = t["ts"].cast(pa.timestamp("us")).to_numpy(zero_copy_only=False)
    order = np.argsort(stamp, kind="stable")
    stamp, node, val = stamp[order], node[order], val[order]
    cuts = np.flatnonzero(stamp[1:] != stamp[:-1]) + 1
    skip = {np.datetime64(s, "us") for s in skip}
    runs = [(a, b) for a, b in zip(np.r_[0, cuts], np.r_[cuts, len(stamp)])
            if not np.isnat(stamp[a]) and stamp[a] not in skip
            and (ts is None or stamp[a] == np.datetime64(ts, "us"))]
    for a, b in runs[k::n_part]:
        yield pd.Timestamp(stamp[a]), node[a:b], val[a:b]


def table_input(base_dir: str, variable: str, min_records: int = 1) -> tuple:
    """The CLI's input from the tables under base_dir: (mesh arrays of
    read_mesh_arrays, records, decode_table_record). A `max` variable
    (table_name) is one record named by the variable, so it writes one
    `<variable>.<variable>Z` raster like the reference; otherwise
    plan_table_records plans {variable}.parquet."""
    name = table_name(variable)
    path = os.path.join(base_dir, f"{name}.parquet")
    if name == "node_maxes":
        records = [TableRecord(variable, [
            (frag.path, None) for frag in
            ds.dataset(path, format="parquet").get_fragments()])]
    else:
        records = plan_table_records(path, min_records)
    return read_mesh_arrays(base_dir), records, decode_table_record
