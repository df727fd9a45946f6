"""Oracle-checked synthetic-mesh regrid queries (scale-parameterized).

The oracle is ANALYTIC: the synthetic field is linear per timestep
(value = 4*lon - 7*lat + 2 + k) and barycentric interpolation
reproduces linear fields exactly, so DuckDB simply evaluates
4*cx - 7*cy + 2 + k at every centroid — no mesh replication needed.
The driver's hash comparison therefore enforces the interpolation-
exactness property end to end, at whatever scale the query runs.

fp-safety of the rounding: centroid coords are multiples of
1/(grid_n-1), so value*1e4 sits >= ~1/(2*(grid_n-1)) away from the
floor(x+0.5) decision boundary — orders of magnitude above the ~1e-9
interpolation fp error.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from adcirctime2cogs_spark.functions.numeric import r4
from adcirctime2cogs_spark.plans.synthetic import synth_grid, synth_regrid

QUERIES = {}
ORACLES = {}

# (n_nodes_side, grid_edges, timesteps)
SMALL = (6, 7, 2)
BENCH = (100, 200, 12)


def _analytic_oracle(n: int, grid_n: int, n_ts: int) -> str:
    spec = synth_grid(grid_n)
    res = format(spec.res, ".17g")
    m = grid_n - 1
    return f"""
    SELECT concat('t', k) AS ts, gr AS grid_row, gc AS grid_col,
           round(4.0 * (0.0 + (gc + 0.5) * {res})
                 - 7.0 * (1.0 - (gr + 0.5) * {res})
                 + 2.0 + k, 4) AS value
    FROM generate_series(0, {m - 1}) a(gr)
    CROSS JOIN generate_series(0, {m - 1}) b(gc)
    CROSS JOIN generate_series(0, {n_ts - 1}) c(k)
    """


def _make_query(params):
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        out = synth_regrid(spark, *params)
        return out.select("ts", "grid_row", "grid_col", r4("value").alias("value"))

    return q


QUERIES["regrid_synthetic"] = _make_query(SMALL)
QUERIES["regrid_synthetic"].__doc__ = (
    "Synthetic-mesh regrid, small: 36 nodes / 50 triangles / 6x7 grid "
    "x 2 ts, verified against the analytic linear field."
)
ORACLES["regrid_synthetic"] = _analytic_oracle(*SMALL)

QUERIES["regrid_synthetic_bench"] = _make_query(BENCH)
QUERIES["regrid_synthetic_bench"].__doc__ = (
    "Synthetic-mesh regrid at bench scale: 10k nodes / ~19.6k triangles "
    "-> 199x199 raster x 12 ts (~475k output cells), same analytic "
    "oracle — the HSOFS-shaped workload of the reference "
    "(run/adcircTime2cogs.py:166-168) scaled to test-box size."
)
ORACLES["regrid_synthetic_bench"] = _analytic_oracle(*BENCH)


def _multivar_oracle(n: int, grid_n: int, n_ts: int) -> str:
    spec = synth_grid(grid_n)
    res = format(spec.res, ".17g")
    m = grid_n - 1
    return f"""
    SELECT concat('t', k) AS ts, gr AS grid_row, gc AS grid_col,
           round(4.0 * (0.0 + (gc + 0.5) * {res})
                 - 7.0 * (1.0 - (gr + 0.5) * {res})
                 + 2.0 + k, 4) AS value,
           round(-3.0 * (0.0 + (gc + 0.5) * {res})
                 + 5.0 * (1.0 - (gr + 0.5) * {res})
                 + 11.0 + 2.0 * k, 4) AS value2
    FROM generate_series(0, {m - 1}) a(gr)
    CROSS JOIN generate_series(0, {m - 1}) b(gc)
    CROSS JOIN generate_series(0, {n_ts - 1}) c(k)
    """


def _multivar_query(params):
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        from adcirctime2cogs_spark.plans.synthetic import synth_regrid_multi

        out = synth_regrid_multi(spark, *params)
        return out.select(
            "ts",
            "grid_row",
            "grid_col",
            r4("value").alias("value"),
            r4("value2").alias("value2"),
        )

    return q


QUERIES["regrid_multivar"] = _multivar_query(SMALL)
QUERIES["regrid_multivar"].__doc__ = (
    "Two variables regridded in ONE join+agg pass (regrid_multi) — the "
    "reference reruns its whole pipeline per variable; here variable N+1 "
    "costs only an extra pair of aggregates on the same shuffle. Both "
    "fields verified against their analytic linear forms."
)
ORACLES["regrid_multivar"] = _multivar_oracle(*SMALL)
