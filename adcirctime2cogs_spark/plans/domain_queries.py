"""Oracle-checked domain queries over the micro-mesh fixture
(SURVEY §2A O7, O11, O13-O17 — the reference's core pipeline).

The DuckDB oracles are self-contained VALUES CTEs that recompute the
same barycentric math in SQL, formula-for-formula identical to
plans/weights.py so both engines produce bit-identical doubles (rounded
to 4dp anyway). sf_dir is ignored: the mesh is the inline fixture.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from adcirctime2cogs_spark.functions.numeric import r4

from adcirctime2cogs_spark.plans import micromesh as mm
from adcirctime2cogs_spark.plans.regrid import regrid
from adcirctime2cogs_spark.plans.weights import domain_mask, weights_table

QUERIES = {}
ORACLES = {}

_V = mm.sql_values()

# Shared oracle prelude: fixture VALUES + centroid grid + barycentric
# candidate/dedup pipeline mirroring plans/weights.py line for line.
_PRELUDE = f"""
WITH nodes(node_id, lon, lat) AS (VALUES {_V["nodes"]}),
elements(elem_id, n0, n1, n2) AS (VALUES {_V["elements"]}),
tsv(ts, node_id, value) AS (VALUES {_V["tsv"]}),
cells AS (
  SELECT gr * 5 + gc AS cell_id, gr AS grid_row, gc AS grid_col,
         0.0 + (gc + 0.5) * 0.4 AS cx,
         2.0 - (gr + 0.5) * 0.4 AS cy
  FROM generate_series(0, 4) t1(gr) CROSS JOIN generate_series(0, 4) t2(gc)
),
tri AS (
  SELECT e.elem_id, e.n0, e.n1, e.n2,
         a.lon AS x0, a.lat AS y0, b.lon AS x1, b.lat AS y1,
         c.lon AS x2, c.lat AS y2
  FROM elements e
  JOIN nodes a ON a.node_id = e.n0
  JOIN nodes b ON b.node_id = e.n1
  JOIN nodes c ON c.node_id = e.n2
),
cand AS (
  SELECT cells.cell_id, cells.grid_row, cells.grid_col,
         tri.elem_id, tri.n0, tri.n1, tri.n2,
         ((y1 - y2) * (cx - x2) + (x2 - x1) * (cy - y2))
           / ((y1 - y2) * (x0 - x2) + (x2 - x1) * (y0 - y2)) AS w0,
         ((y2 - y0) * (cx - x2) + (x0 - x2) * (cy - y2))
           / ((y1 - y2) * (x0 - x2) + (x2 - x1) * (y0 - y2)) AS w1
  FROM cells CROSS JOIN tri
),
wf AS (
  SELECT *, 1 - w0 - w1 AS w2 FROM cand
  WHERE w0 >= -1e-12 AND w1 >= -1e-12 AND (1 - w0 - w1) >= -1e-12
),
weights AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY cell_id ORDER BY elem_id) AS _rn
    FROM wf
  ) WHERE _rn = 1
)
"""


def _weights_df(spark: SparkSession) -> DataFrame:
    return weights_table(spark, mm.triangles(), mm.GRID)


def micromesh_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Static barycentric weights table (the row-band kernel, one
    map-only stage)."""
    w = _weights_df(spark)
    return w.select(
        "cell_id", "grid_row", "grid_col", "elem_id", "n0", "n1", "n2",
        r4("w0").alias("w0"),
        r4("w1").alias("w1"),
        r4("w2").alias("w2"),
    )


QUERIES["micromesh_weights"] = micromesh_weights
ORACLES["micromesh_weights"] = (
    _PRELUDE
    + """
SELECT cell_id, grid_row, grid_col, elem_id, n0, n1, n2,
       round(w0, 4) AS w0, round(w1, 4) AS w1, round(w2, 4) AS w2
FROM weights
"""
)


def micromesh_regrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-timestep regrid: weights x timeseries -> long raster, null
    for dry elements, out-of-domain cells absent."""
    out = regrid(_weights_df(spark), mm.timeseries_df(spark), broadcast_ts=True)
    return out.select(
        "ts", "grid_row", "grid_col", r4("value").alias("value")
    )


QUERIES["micromesh_regrid"] = micromesh_regrid
ORACLES["micromesh_regrid"] = (
    _PRELUDE
    + """
SELECT t0.ts, w.grid_row, w.grid_col,
       round(w.w0 * t0.value + w.w1 * t1.value + w.w2 * t2.value, 4) AS value
FROM weights w
JOIN tsv t0 ON t0.node_id = w.n0
JOIN tsv t1 ON t1.node_id = w.n1 AND t1.ts = t0.ts
JOIN tsv t2 ON t2.node_id = w.n2 AND t2.ts = t0.ts
"""
)


def micromesh_domain_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-domain centroids (anti-join): hull-interior cells near
    node 2's quadrant must appear here, not in the regrid output."""
    cells = mm.cells_df(spark)
    w = _weights_df(spark)
    return domain_mask(cells, w).select("cell_id", "grid_row", "grid_col")


QUERIES["micromesh_domain_mask"] = micromesh_domain_mask
ORACLES["micromesh_domain_mask"] = (
    _PRELUDE
    + """
SELECT c.cell_id, c.grid_row, c.grid_col
FROM cells c
WHERE NOT EXISTS (SELECT 1 FROM weights w WHERE w.cell_id = c.cell_id)
"""
)


def micromesh_bbox(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-sizing bbox aggregate (reference run/adcircTime2cogs.py:155-158)."""
    nodes = mm.nodes_df(spark)
    return nodes.agg(
        r4(F.min("lon")).alias("lon_min"),
        r4(F.max("lon")).alias("lon_max"),
        r4(F.min("lat")).alias("lat_min"),
        r4(F.max("lat")).alias("lat_max"),
        r4(F.avg("lat")).alias("lat_mean"),
    )


QUERIES["micromesh_bbox"] = micromesh_bbox
ORACLES["micromesh_bbox"] = f"""
WITH nodes(node_id, lon, lat) AS (VALUES {_V["nodes"]})
SELECT round(min(lon), 4) AS lon_min, round(max(lon), 4) AS lon_max,
       round(min(lat), 4) AS lat_min, round(max(lat), 4) AS lat_max,
       round(avg(lat), 4) AS lat_mean
FROM nodes
"""


def raster_grid_gen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raster centroid generation alone (reference compute_geotiff_grid,
    run/adcircTime2cogs.py:49-92): closed-form pixel centers, x
    ascending / y descending."""
    cells = mm.cells_df(spark)
    return cells.select(
        "cell_id", "grid_row", "grid_col",
        r4("cx").alias("cx"),
        r4("cy").alias("cy"),
    )


QUERIES["raster_grid_gen"] = raster_grid_gen
ORACLES["raster_grid_gen"] = """
SELECT gr * 5 + gc AS cell_id, gr AS grid_row, gc AS grid_col,
       round(0.0 + (gc + 0.5) * 0.4, 4) AS cx,
       round(2.0 - (gr + 0.5) * 0.4, 4) AS cy
FROM generate_series(0, 4) t1(gr) CROSS JOIN generate_series(0, 4) t2(gc)
"""
