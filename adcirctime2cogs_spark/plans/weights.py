"""Point-in-triangle location + barycentric weights (SURVEY O13-O15 —
the one genuinely custom operator).

The reference hides point location inside matplotlib/scipy C
interpolators rebuilt per run (run/adcircTime2cogs.py:170-183,
199-200); because the mesh connectivity is *given*
(run/adcircTime2cogs.py:164-168), no Delaunay/Qhull is needed.

The result is the static `weights(cell_id, grid_row, grid_col, elem_id,
n0, n1, n2, w0, w1, w2)` table, computed ONCE per mesh+grid and reused
for every timestep and variable (the reference rebuilds its
interpolator per timestep, run/adcircTime2cogs.py:199 — hoisting this
is our biggest structural win, SURVEY P6). Cells absent from `weights`
are outside the mesh domain: the reference's ones-interpolation mask
(run/adcircTime2cogs.py:178-185) falls out as a left-anti join.

One kernel builds it for every caller: on a regular raster the pixel
centres inside a triangle's bbox are a closed-form row and column
range. The raster rows are cut into bands (`band_layout`) and one
Spark task builds each band. Each task explodes the candidate
centres of the triangles that reach its band, applies the barycentric
sign test and the min-elem_id pick in numpy (`band_weights`). No cell
spans two bands, so the pick needs no shuffle. Two forms share it:

- `weights_table` yields the band's rows as a DataFrame (the registry,
  synthetic, streaming and scale-leg callers) from one map-only
  `spark.range(bands).mapInArrow` stage, the triangles riding in the
  task closure;
- the CLI's form writes each band's rows as .npy arrays for the COG
  kernel (sinks/cog.regrid_nodes), the triangles memory-mapped from
  disk, and no weight row passes through the driver. The driver only
  lays the bands out (`prepare_band_weights`); `ensure_band` builds a
  band the first time a task needs it, under a per-band file lock.
  The COG stage's own tasks build them
  (sinks/cog.write_cogs_from_records), with no Spark job of their
  own; that stage given no records builds every band and writes
  nothing.

`build_weights`, a Spark SQL join of raster centroids and triangles on
a spatial bin, is the reference both forms are tested against row for
row; no engine path runs it. Boundary cells that land in two triangles
keep the lowest elem_id in every form: the shared-edge value is
identical either way, determinism is what matters.
"""

from __future__ import annotations

import fcntl
import os
import uuid
from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from adcirctime2cogs_spark.plans.grid import GridSpec

# Sign-test tolerance: points exactly on a shared edge belong to both
# triangles (deduped below); slight negative slack keeps hull-edge
# centroids that fp arithmetic would otherwise drop.
EPS = 1e-12


def triangles_with_coords(nodes: DataFrame, elements: DataFrame) -> DataFrame:
    """Join connectivity to node coordinates: one row per triangle with
    its 3 vertices ((x0,y0),(x1,y1),(x2,y2)).

    Nodes are broadcast when small; at HSOFS scale (~1.8M nodes /
    ~3.6M elements) Catalyst picks shuffle joins on node_id — still one
    static pass.
    """
    n = nodes.select("node_id", "lon", "lat")

    def v(i: int) -> DataFrame:
        return n.select(
            F.col("node_id").alias(f"n{i}"),
            F.col("lon").alias(f"x{i}"),
            F.col("lat").alias(f"y{i}"),
        )

    return (
        elements.join(v(0), "n0")
        .join(v(1), "n1")
        .join(v(2), "n2")
        .select("elem_id", "n0", "n1", "n2", "x0", "y0", "x1", "y1", "x2", "y2")
    )


def _binned_triangles(tris: DataFrame, bin_size: float) -> DataFrame:
    """Explode each triangle to all (bx, by) bins its bbox overlaps."""
    xmin = F.least("x0", "x1", "x2")
    xmax = F.greatest("x0", "x1", "x2")
    ymin = F.least("y0", "y1", "y2")
    ymax = F.greatest("y0", "y1", "y2")
    bxs = F.sequence(
        F.floor(xmin / bin_size).cast("long"), F.floor(xmax / bin_size).cast("long")
    )
    bys = F.sequence(
        F.floor(ymin / bin_size).cast("long"), F.floor(ymax / bin_size).cast("long")
    )
    return tris.withColumn("bx", F.explode(bxs)).withColumn("by", F.explode(bys))


def build_weights(
    cells: DataFrame, nodes: DataFrame, elements: DataFrame, bin_size: float
) -> DataFrame:
    """The static weights table: for each raster centroid inside the
    mesh, its containing triangle and barycentric weights.

    bin_size should be ~the typical triangle diameter: small enough
    that a bin meets few triangles, large enough that a triangle spans
    few bins (reference mesh ~1km elements on a 0.005 deg grid → a few
    x res). The join is a plain equi-join on (bx, by); AQE's skew-join
    splitting covers coastal bins that are triangle-dense.
    """
    tris = _binned_triangles(triangles_with_coords(nodes, elements), bin_size)
    binned_cells = cells.withColumn(
        "bx", F.floor(F.col("cx") / bin_size).cast("long")
    ).withColumn("by", F.floor(F.col("cy") / bin_size).cast("long"))

    j = binned_cells.join(tris, ["bx", "by"])

    det = (F.col("y1") - F.col("y2")) * (F.col("x0") - F.col("x2")) + (
        F.col("x2") - F.col("x1")
    ) * (F.col("y0") - F.col("y2"))
    # degenerate (zero-area / sliver) triangles: det == 0 makes every
    # weight inf/NaN — drop them before the division so a broken mesh
    # element can never claim a cell (real meshes do contain slivers)
    j = j.filter(det != 0)
    w0 = (
        (F.col("y1") - F.col("y2")) * (F.col("cx") - F.col("x2"))
        + (F.col("x2") - F.col("x1")) * (F.col("cy") - F.col("y2"))
    ) / det
    w1 = (
        (F.col("y2") - F.col("y0")) * (F.col("cx") - F.col("x2"))
        + (F.col("x0") - F.col("x2")) * (F.col("cy") - F.col("y2"))
    ) / det

    candidates = (
        j.withColumn("w0", w0)
        .withColumn("w1", w1)
        .withColumn("w2", 1 - F.col("w0") - F.col("w1"))
        .filter(
            (F.col("w0") >= -EPS) & (F.col("w1") >= -EPS) & (F.col("w2") >= -EPS)
        )
    )

    # boundary centroids on a shared edge match both adjacent triangles;
    # keep the lowest elem_id for a deterministic single row per cell.
    # min_by hash-agg, not a row_number window: partial aggregation
    # collapses duplicates map-side and no sort is ever materialized —
    # at the reference's 70M-cell raster that's the difference between
    # shuffling candidate rows and shuffling one row per cell.
    # PER-COLUMN min_by, not min_by(struct, ...): a struct agg buffer
    # is not hash-agg mutable and regresses the whole aggregate to
    # SortAggregate (two per-task sorts of the candidate rows); seven
    # primitive-buffer aggregates stay HashAggregate in whole-stage
    # codegen. elem_id is unique per candidate row within a cell, so
    # the per-column picks are mutually consistent by construction.
    return (
        candidates.groupBy("cell_id", "grid_row", "grid_col")
        .agg(
            F.min("elem_id").alias("elem_id"),
            *[
                F.min_by(c, "elem_id").alias(c)
                for c in ("n0", "n1", "n2", "w0", "w1", "w2")
            ],
        )
        .select(
            "cell_id", "grid_row", "grid_col", "elem_id",
            "n0", "n1", "n2", "w0", "w1", "w2",
        )
    )


def domain_mask(cells: DataFrame, weights: DataFrame) -> DataFrame:
    """Out-of-domain cells = cells with no containing triangle
    (reference ones-mask, run/adcircTime2cogs.py:178-185 → anti-join)."""
    return cells.join(weights.select("cell_id"), "cell_id", "left_anti")


# Raster rows cut into bands, one Spark task per band. A band holds at
# most BAND_CELLS raster cells (unless one raster row is longer), and a
# task explodes at most about that many candidate pixels at a time,
# which bounds its memory at any mesh size.
BAND_CELLS = 1 << 21
# the CLI's per-band arrays: band-local cell index (row-major,
# ascending), the 3 vertex node ids and the 3 barycentric weights of
# each in-domain cell
BAND_ARRAYS = ("cell", "n0", "n1", "n2", "w0", "w1", "w2")
# the triangles, sorted by elem_id: element ids, vertex node ids and
# coordinates
TRIANGLE_ARRAYS = ("tri_e", "tri_n", "tri_x", "tri_y")


def triangle_arrays(
    node_id: np.ndarray, lon: np.ndarray, lat: np.ndarray,
    elements: np.ndarray,
) -> dict[str, np.ndarray]:
    """triangles_with_coords on driver-side arrays (sources/mesh.
    read_mesh_arrays): each element's id, and its 3 vertex ids and
    coordinates as (T, 3) arrays, rows sorted by elem_id. An element
    with a vertex id that mesh_nodes lacks is dropped, as the inner
    joins drop it.

    Raises ValueError naming the id when a node_id occurs twice: a join
    on node_id would silently give every triangle that uses it one row
    per copy."""
    order = np.argsort(node_id, kind="stable")
    ids = node_id[order]
    dup = ids[1:][ids[1:] == ids[:-1]]
    if dup.size:
        raise ValueError(f"mesh_nodes has duplicate node_id {dup[0]}")
    verts = elements[:, 1:4]
    pos = np.searchsorted(ids, verts)
    found = pos < len(ids)
    found[found] = ids[pos[found]] == verts[found]
    keep = found.all(axis=1)
    by_elem = np.argsort(elements[keep, 0], kind="stable")
    idx = order[pos[keep][by_elem]]
    return {"tri_e": elements[keep, 0][by_elem],
            "tri_n": verts[keep][by_elem], "tri_x": lon[idx],
            "tri_y": lat[idx]}


def band_weights(
    tri_e: np.ndarray, tri_n: np.ndarray, tri_x: np.ndarray,
    tri_y: np.ndarray, spec: GridSpec, r0: int, r1: int,
) -> dict[str, np.ndarray]:
    """build_weights for raster rows r0..r1-1, in numpy, with the same
    float expressions in the same order: the pixel centres of
    raster_cells, det, w0, w1 and w2 = 1 - w0 - w1 of build_weights,
    its det != 0 drop, its -EPS test and its min-elem_id pick (the
    triangles come sorted by elem_id, so the first match of a cell in a
    stable sort by cell is that pick).

    A triangle's candidates are the pixel centres in its bbox widened
    by one pixel on each side, so the -EPS slack and the rounding of
    the range bounds cannot lose a match. Returns BAND_ARRAYS and the
    winning `elem_id`; `cell` is (row - r0) * ncols + col, ascending."""
    ncols = spec.nx - 1
    res = spec.res
    rlo = np.maximum(np.ceil((spec.ul_lat - tri_y.max(1)) / res - 0.5) - 1, r0)
    rhi = np.minimum(np.floor((spec.ul_lat - tri_y.min(1)) / res - 0.5) + 1,
                     r1 - 1)
    hit = np.flatnonzero(rhi >= rlo)  # the triangles that reach the band
    x, y = tri_x[hit], tri_y[hit]
    clo = np.maximum(np.ceil((x.min(1) - spec.ul_lon) / res - 0.5) - 1, 0)
    chi = np.minimum(np.floor((x.max(1) - spec.ul_lon) / res - 0.5) + 1,
                     ncols - 1)
    x0, x1, x2 = x.T
    y0, y1, y2 = y.T
    det = (y1 - y2) * (x0 - x2) + (x2 - x1) * (y0 - y2)
    # degenerate triangles (det == 0) go before the division, as in
    # build_weights
    keep = np.flatnonzero((chi >= clo) & (det != 0))
    hit = hit[keep]
    x0, x1, x2, y0, y1, y2, det = (
        a[keep] for a in (x0, x1, x2, y0, y1, y2, det))
    a0, b0 = y1 - y2, x2 - x1
    a1, b1 = y2 - y0, x0 - x2
    rlo = rlo[hit].astype(np.int64)
    clo = clo[keep].astype(np.int64)
    nc = chi[keep].astype(np.int64) - clo + 1
    count = (rhi[hit].astype(np.int64) - rlo + 1) * nc

    # explode the candidates a chunk of triangles at a time, so a task
    # holds about BAND_CELLS candidates however many triangles it has
    cuts = np.searchsorted(np.cumsum(count),
                           np.arange(BAND_CELLS, count.sum(), BAND_CELLS),
                           "right")
    parts = []
    for lo, hi in zip(np.r_[0, cuts], np.r_[cuts, len(count)]):
        k = count[lo:hi]
        t = np.repeat(np.arange(lo, hi), k)
        j = np.arange(len(t)) - np.repeat(np.cumsum(k) - k, k)
        row = rlo[t] + j // nc[t]
        col = clo[t] + j % nc[t]
        cx = spec.ul_lon + (col + 0.5) * res
        cy = spec.ul_lat - (row + 0.5) * res
        w0 = (a0[t] * (cx - x2[t]) + b0[t] * (cy - y2[t])) / det[t]
        w1 = (a1[t] * (cx - x2[t]) + b1[t] * (cy - y2[t])) / det[t]
        w2 = 1 - w0 - w1
        ok = (w0 >= -EPS) & (w1 >= -EPS) & (w2 >= -EPS)
        parts.append(((row[ok] - r0) * ncols + col[ok], t[ok],
                      w0[ok], w1[ok], w2[ok]))
    cell, t, w0, w1, w2 = (np.concatenate(c) for c in zip(*parts))
    order = np.argsort(cell, kind="stable")
    first = np.ones(len(order), bool)
    first[1:] = np.diff(cell[order]) != 0
    pick = order[first]
    tri = hit[t[pick]]
    n = tri_n[tri]
    return {"cell": cell[pick], "elem_id": tri_e[tri],
            "n0": n[:, 0], "n1": n[:, 1], "n2": n[:, 2],
            "w0": w0[pick], "w1": w1[pick], "w2": w2[pick]}


def band_layout(spark: SparkSession, spec: GridSpec) -> tuple[int, int]:
    """(rows per band, band count) of spec's raster: at least as many
    bands as cores, and at most BAND_CELLS cells per band (unless one
    raster row is longer)."""
    nrows, ncols = spec.ny - 1, spec.nx - 1
    per_core = -(-nrows // spark.sparkContext.defaultParallelism)
    rows = max(1, min(per_core, BAND_CELLS // ncols))
    return rows, -(-nrows // rows)


def weights_table(
    spark: SparkSession, tris: dict[str, np.ndarray], spec: GridSpec
) -> DataFrame:
    """build_weights' rows and schema from one map-only stage,
    `spark.range(bands)`, each task yielding its band's band_weights.
    `tris` (triangle_arrays) rides in the task closure: PySpark
    broadcasts a pickled command over 1 MB on its own. (At HSOFS size
    that is ~290 MB per Python worker, so the CLI memory-maps its
    triangles from disk instead: prepare_band_weights.)"""
    import pyarrow as pa
    from pyspark.sql.pandas.types import from_arrow_schema

    rows, count = band_layout(spark, spec)
    nrows, ncols = spec.ny - 1, spec.nx - 1
    schema = pa.schema(  # build_weights' schema
        [(c, pa.int64()) for c in ("cell_id", "grid_row", "grid_col",
                                   "elem_id", "n0", "n1", "n2")]
        + [(c, pa.float64()) for c in ("w0", "w1", "w2")])

    def run(batches):
        for batch in batches:
            for band in batch.column(0).to_pylist():
                r0 = band * rows
                w = band_weights(**tris, spec=spec, r0=r0,
                                 r1=min(r0 + rows, nrows))
                cell = w.pop("cell") + r0 * ncols
                yield pa.RecordBatch.from_pydict(
                    {"cell_id": cell, "grid_row": cell // ncols,
                     "grid_col": cell % ncols, **w}, schema=schema)

    return spark.range(0, count, 1, count).mapInArrow(
        run, from_arrow_schema(schema))


@dataclass(frozen=True)
class WeightBands:
    """The CLI's weights on disk: `count` bands of `rows` raster rows
    each (the last may be shorter) of spec's raster, BAND_ARRAYS per
    band under `dir`, and the node-id bound of the triangles (largest
    vertex id + 1)."""

    dir: str
    rows: int
    count: int
    n_nodes: int
    spec: GridSpec

    def path(self, band: int, name: str) -> str:
        return os.path.join(self.dir, f"band{band:05d}.{name}.npy")

    def load(self, band: int) -> dict[str, np.ndarray]:
        """One band's arrays, memory-mapped: every Python worker on a
        machine shares one page-cached copy."""
        return {name: np.load(self.path(band, name), mmap_mode="r")
                for name in BAND_ARRAYS}


def _save_atomic(path: str, arr: np.ndarray) -> None:
    """np.save to a temp name that no *.npy glob matches, then
    os.replace into place (the COG writers' rule): a retried or
    speculative task replaces a finished file and never leaves a
    partial one under the final name."""
    tmp = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
    with open(tmp, "wb") as fh:
        np.save(fh, arr)
    os.replace(tmp, path)


def write_band(bands: WeightBands, spec: GridSpec, band: int) -> None:
    """Executor-side: rasterize one band against the triangle arrays
    under bands.dir and write its BAND_ARRAYS, in order."""
    tris = {name: np.load(os.path.join(bands.dir, f"{name}.npy"),
                          mmap_mode="r")
            for name in TRIANGLE_ARRAYS}
    r0 = band * bands.rows
    arrays = band_weights(**tris, spec=spec, r0=r0,
                          r1=min(r0 + bands.rows, spec.ny - 1))
    for name in BAND_ARRAYS:
        _save_atomic(bands.path(band, name), arrays[name])


def ensure_band(bands: WeightBands, band: int) -> dict[str, np.ndarray]:
    """Executor-side: one band's arrays (WeightBands.load), built first
    (write_band) if no task has built them yet. The only place a band
    is built.

    write_band saves BAND_ARRAYS in order, each atomically, so a band
    is complete once its last array exists: then no lock is taken.
    Otherwise the task takes an exclusive fcntl.flock on
    `band<NNNNN>.lock` under bands.dir, checks again and builds. So
    each band is built once, and a waiter only ever waits on a running
    holder; a holder killed mid-band drops its lock with its process
    and leaves no last array, so the next holder rebuilds the whole
    band. A task holds at most one lock and waits on nothing while it
    holds it, so tasks that share bands cannot deadlock. The lock rests
    on the shared-storage assumption of bands.dir
    (prepare_band_weights); Linux NFSv4 clients emulate flock with
    POSIX byte-range locks."""
    done = bands.path(band, BAND_ARRAYS[-1])
    if not os.path.exists(done):
        lock = os.path.join(bands.dir, f"band{band:05d}.lock")
        with open(lock, "a") as fh:
            fcntl.flock(fh, fcntl.LOCK_EX)  # released on close
            if not os.path.exists(done):
                write_band(bands, bands.spec, band)
    return bands.load(band)


def prepare_band_weights(
    spark: SparkSession, tris: dict[str, np.ndarray], spec: GridSpec,
    weights_dir: str,
) -> WeightBands:
    """Driver-only, no Spark job: lay the CLI's weights out as bands of
    raster rows (band_layout) under weights_dir and write the triangle
    arrays (triangle_arrays) there once for the tasks that build the
    bands (ensure_band). weights_dir rests on the same shared-storage
    assumption as the COG output dir."""
    rows, count = band_layout(spark, spec)
    n_nodes = int(tris["tri_n"].max()) + 1 if tris["tri_n"].size else 0
    os.makedirs(weights_dir, exist_ok=True)
    for name in TRIANGLE_ARRAYS:
        np.save(os.path.join(weights_dir, f"{name}.npy"), tris[name])
    return WeightBands(weights_dir, rows, count, n_nodes, spec)

