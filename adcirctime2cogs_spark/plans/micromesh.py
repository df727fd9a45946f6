"""Micro-mesh golden fixture (FIXTURES.md B5).

6 nodes / 3 triangles forming a non-convex L-shape; node 2 at (2,0) is
in the convex hull but referenced by no element, so centroids near
(1.5, 0.4) are hull-interior yet outside the mesh — pinning the
reference's domain-mask semantics (run/adcircTime2cogs.py:178-185,
:201): convex-hull interpolation MINUS mesh mask == our join-based
mesh-domain result.

Timestep fields:
  t1: value = 2*lon + 3*lat + 1 (linear — barycentric interpolation
      must reproduce it exactly at every in-domain centroid);
  t2: value = lon*lat with node 3 dry (null) — cells in triangles 1/2
      (which reference node 3) must be null, cells in triangle 0 keep
      their value;
  t3: value = 10 - lon - lat.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from adcirctime2cogs_spark.plans.grid import GridSpec, raster_cells
from adcirctime2cogs_spark.plans.weights import triangle_arrays

NODES = [
    (0, 0.0, 0.0),
    (1, 1.0, 0.0),
    (2, 2.0, 0.0),  # hull vertex, not in any element
    (3, 0.0, 1.0),
    (4, 1.0, 1.0),
    (5, 0.0, 2.0),
]
ELEMENTS = [(0, 0, 1, 4), (1, 0, 4, 3), (2, 3, 4, 5)]

T1, T2, T3 = "2024-01-01 00:00:00", "2024-01-01 01:00:00", "2024-01-01 02:00:00"


def _field(ts: str, lon: float, lat: float, node_id: int) -> float | None:
    if ts == T1:
        return 2.0 * lon + 3.0 * lat + 1.0
    if ts == T2:
        return None if node_id == 3 else lon * lat
    return 10.0 - lon - lat


TIMESERIES = [
    (ts, nid, _field(ts, lon, lat, nid))
    for ts in (T1, T2, T3)
    for (nid, lon, lat) in NODES
]

GRID = GridSpec(ul_lon=0.0, ul_lat=2.0, res=0.4, nx=6, ny=6)  # 5x5 centroids


def triangles() -> dict[str, np.ndarray]:
    """The fixture's triangle_arrays, built on the driver (no Spark
    job)."""
    node_id, lon, lat = (np.array(c) for c in zip(*NODES))
    return triangle_arrays(node_id, lon, lat, np.array(ELEMENTS))


# Fixture frames are built with SQL VALUES (JVM LocalRelation), NOT
# createDataFrame(python_list): the latter plans a pickled-RDD scan
# whose Python-worker stages cost seconds per query — LocalRelations
# constant-fold and broadcast for free.


def nodes_df(spark: SparkSession) -> DataFrame:
    rows = ", ".join(f"({i}L, {x}D, {y}D)" for i, x, y in NODES)
    return spark.sql(f"SELECT * FROM VALUES {rows} AS t(node_id, lon, lat)")


def elements_df(spark: SparkSession) -> DataFrame:
    rows = ", ".join(f"({e}L, {a}L, {b}L, {c}L)" for e, a, b, c in ELEMENTS)
    return spark.sql(f"SELECT * FROM VALUES {rows} AS t(elem_id, n0, n1, n2)")


def timeseries_df(spark: SparkSession) -> DataFrame:
    rows = ", ".join(
        f"('{ts}', {nid}L, {'CAST(NULL AS DOUBLE)' if v is None else format(v, '.6f') + 'D'})"
        for ts, nid, v in TIMESERIES
    )
    return spark.sql(f"SELECT * FROM VALUES {rows} AS t(ts, node_id, value)")


def cells_df(spark: SparkSession) -> DataFrame:
    return raster_cells(spark, GRID).coalesce(1)


def sql_values() -> dict[str, str]:
    """The same fixture as SQL VALUES clauses for the DuckDB oracles."""
    nodes = ", ".join(f"({i}, {x:.1f}, {y:.1f})" for i, x, y in NODES)
    elements = ", ".join(f"({e}, {a}, {b}, {c})" for e, a, b, c in ELEMENTS)
    tsv = ", ".join(
        f"('{ts}', {nid}, {'NULL' if v is None else format(v, '.6f')})"
        for ts, nid, v in TIMESERIES
    )
    return {"nodes": nodes, "elements": elements, "tsv": tsv}
