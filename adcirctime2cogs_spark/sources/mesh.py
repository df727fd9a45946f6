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
"""

from __future__ import annotations

import os

import numpy as np
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
    import pyarrow as pa
    import pyarrow.parquet as pq

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


def load_timeseries(
    spark: SparkSession, base_dir: str, variable: str = "timeseries"
) -> DataFrame:
    """Long-format [ts, node] variable. A `max`-named variable (the
    reference's regex dispatch, adcirc_dask_utilities.py:27) loads the
    time-less node_maxes table instead, labeled with the VARIABLE NAME
    as its single pseudo-timestep — so the same regrid plan (which
    groups by ts) and the COG sink (which names files by ts) run
    unchanged and emit one `raster.<variable>` file, matching the
    reference's one-raster-per-max-variable output."""
    import re

    from pyspark.sql import functions as F

    if re.search("max", variable):
        maxes = spark.read.schema(NODE_MAXES_SCHEMA).parquet(
            os.path.join(base_dir, "node_maxes.parquet")
        )
        return maxes.select(
            F.lit(variable).alias("ts"), "node_id", "value"
        )
    return spark.read.schema(TIMESERIES_SCHEMA).parquet(
        os.path.join(base_dir, f"{variable}.parquet")
    )
