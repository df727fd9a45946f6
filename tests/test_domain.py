"""Golden + property tests for the mesh->raster domain core
(SURVEY §5 items 2 and 4)."""

import math

import pytest
from pyspark.sql import functions as F

from adcirctime2cogs_spark.plans import micromesh as mm
from adcirctime2cogs_spark.plans.grid import GridSpec, raster_cells
from adcirctime2cogs_spark.plans.regrid import regrid
from adcirctime2cogs_spark.plans.weights import build_weights, domain_mask


@pytest.fixture(scope="module")
def weights(spark):
    w = build_weights(
        mm.cells_df(spark), mm.nodes_df(spark), mm.elements_df(spark), 0.5
    )
    w.cache().count()
    return w


def _in_domain(cx: float, cy: float) -> bool:
    """Ground truth for the L-shape: unit square + triangle
    {(0,1),(1,1),(0,2)} (boundary inclusive)."""
    eps = 1e-9
    if cy <= 1 + eps and cx <= 1 + eps:
        return True
    if 1 - eps <= cy <= 2 + eps and cx <= (2 - cy) + eps:
        return True
    return False


def test_weights_cover_exactly_the_mesh_domain(spark, weights):
    cells = {(r.grid_row, r.grid_col): (r.cx, r.cy) for r in mm.cells_df(spark).collect()}
    got = {(r.grid_row, r.grid_col) for r in weights.collect()}
    expected = {k for k, (cx, cy) in cells.items() if _in_domain(cx, cy)}
    assert got == expected
    assert len(got) == 12  # hand-counted for the 5x5 grid


def test_weights_are_convex_combinations(weights):
    for r in weights.collect():
        assert r.w0 >= -1e-12 and r.w1 >= -1e-12 and r.w2 >= -1e-12
        assert abs(r.w0 + r.w1 + r.w2 - 1.0) < 1e-12


def test_domain_mask_is_the_complement(spark, weights):
    masked = domain_mask(mm.cells_df(spark), weights)
    assert masked.count() == 25 - 12
    # hull-interior hole near unreferenced node 2 (FIXTURES B5): the
    # cell at (1.4, 0.2) is inside the convex hull but must be masked
    hole = masked.filter((F.col("grid_row") == 4) & (F.col("grid_col") == 3))
    assert hole.count() == 1


def test_linear_field_reproduced_exactly(spark, weights):
    out = regrid(weights, mm.timeseries_df(spark)).filter(F.col("ts") == mm.T1)
    rows = out.join(mm.cells_df(spark), "cell_id").select("cx", "cy", "value").collect()
    assert len(rows) == 12
    for r in rows:
        expected = 2.0 * r.cx + 3.0 * r.cy + 1.0
        assert math.isclose(r.value, expected, rel_tol=0, abs_tol=1e-12), (
            r.cx, r.cy, r.value, expected)


def test_dry_node_nulls_only_touching_triangles(spark, weights):
    out = regrid(weights, mm.timeseries_df(spark)).filter(F.col("ts") == mm.T2)
    by_elem = {r.cell_id: r.elem_id for r in weights.collect()}
    for r in out.collect():
        if by_elem[r.cell_id] == 0:  # triangle (0,1,4): no dry vertex
            assert r.value is not None
        else:  # triangles 1/2 reference dry node 3
            assert r.value is None


def test_ones_interpolate_to_ones(spark, weights):
    """The reference's own mask identity (run/adcircTime2cogs.py:178-183):
    interpolating a field of ones yields exactly 1 at every in-domain cell."""
    ones = mm.nodes_df(spark).select(
        F.lit("t").alias("ts"), "node_id", F.lit(1.0).alias("value")
    )
    out = regrid(weights, ones)
    vals = [r.value for r in out.collect()]
    assert len(vals) == 12
    assert all(abs(v - 1.0) < 1e-12 for v in vals)


def _structured_mesh(spark, n: int):
    """n x n node grid on [0,1]^2, each square split into 2 triangles."""
    nodes = [
        (i * n + j, j / (n - 1), i / (n - 1))
        for i in range(n)
        for j in range(n)
    ]
    elements = []
    eid = 0
    for i in range(n - 1):
        for j in range(n - 1):
            a, b = i * n + j, i * n + j + 1
            c, d = (i + 1) * n + j, (i + 1) * n + j + 1
            elements.append((eid, a, b, d)); eid += 1
            elements.append((eid, a, d, c)); eid += 1
    ndf = spark.createDataFrame(nodes, "node_id long, lon double, lat double")
    edf = spark.createDataFrame(elements, "elem_id long, n0 long, n1 long, n2 long")
    return ndf, edf


def test_random_triangles_match_numpy_bruteforce(spark):
    """Randomized equivalence: build_weights, the row-band kernel
    band_weights, and its DataFrame form weights_table, against a dense
    numpy brute force applying the IDENTICAL rules (same barycentric
    formulas, same -EPS slack, same min-elem_id dedupe) over a random
    triangle soup — catches any drift in the bin-join or bbox candidate
    generation (a triangle missed shows up as a set mismatch)."""
    import numpy as np

    from adcirctime2cogs_spark.plans.weights import (
        EPS,
        band_weights,
        build_weights,
        triangle_arrays,
        weights_table,
    )

    rng = np.random.default_rng(20240813)
    n_nodes, n_tris = 80, 150
    nx = rng.uniform(0, 1, n_nodes)
    ny_ = rng.uniform(0, 1, n_nodes)
    tris = np.array(
        [rng.choice(n_nodes, 3, replace=False) for _ in range(n_tris)]
    )
    nodes = spark.createDataFrame(
        [(int(i), float(nx[i]), float(ny_[i])) for i in range(n_nodes)],
        "node_id long, lon double, lat double",
    )
    elements = spark.createDataFrame(
        [(int(e), int(a), int(b), int(c)) for e, (a, b, c) in enumerate(tris)],
        "elem_id long, n0 long, n1 long, n2 long",
    )
    spec = GridSpec(ul_lon=0.0, ul_lat=1.0, res=1.0 / 14, nx=15, ny=15)
    cells = raster_cells(spark, spec)
    got = {
        r.cell_id: (r.elem_id, r.w0, r.w1, r.w2)
        for r in build_weights(cells, nodes, elements, bin_size=0.2).collect()
    }

    # dense numpy replication of the same pick rules
    cell_rows = cells.collect()
    x0, y0 = nx[tris[:, 0]], ny_[tris[:, 0]]
    x1, y1 = nx[tris[:, 1]], ny_[tris[:, 1]]
    x2, y2 = nx[tris[:, 2]], ny_[tris[:, 2]]
    det = (y1 - y2) * (x0 - x2) + (x2 - x1) * (y0 - y2)
    want = {}
    for r in cell_rows:
        w0 = ((y1 - y2) * (r.cx - x2) + (x2 - x1) * (r.cy - y2)) / det
        w1 = ((y2 - y0) * (r.cx - x2) + (x0 - x2) * (r.cy - y2)) / det
        w2 = 1 - w0 - w1
        ok = (w0 >= -EPS) & (w1 >= -EPS) & (w2 >= -EPS)
        hits = np.flatnonzero(ok)
        if hits.size:
            e = int(hits.min())  # min elem_id dedupe, same as the engine
            want[r.cell_id] = (e, w0[e], w1[e], w2[e])

    # the band kernel over 4-row bands, and its DataFrame form
    tri = triangle_arrays(
        np.arange(n_nodes), nx, ny_,
        np.column_stack([np.arange(n_tris), tris]).astype(np.int64),
    )
    band = {}
    for r0 in range(0, 14, 4):
        b = band_weights(**tri, spec=spec, r0=r0, r1=min(r0 + 4, 14))
        for k, c in enumerate(b["cell"]):
            band[r0 * 14 + int(c)] = (
                b["elem_id"][k], (b["n0"][k], b["n1"][k], b["n2"][k]),
                b["w0"][k], b["w1"][k], b["w2"][k],
            )
    table = {
        r.cell_id: (r.elem_id, (r.n0, r.n1, r.n2), r.w0, r.w1, r.w2)
        for r in weights_table(spark, tri, spec).collect()
    }

    for engine in (got, band, table):
        assert set(engine) == set(want)
    for cid, (e, w0, w1, w2) in want.items():
        ge, g0, g1, g2 = got[cid]
        assert ge == e, (cid, ge, e)
        assert abs(g0 - w0) < 1e-12 and abs(g1 - w1) < 1e-12 and abs(g2 - w2) < 1e-12
        for be, bn, b0, b1, b2 in (band[cid], table[cid]):
            assert be == e, (cid, be, e)
            assert bn == tuple(tris[e]), (cid, bn, tris[e])
            assert (b0, b1, b2) == (w0, w1, w2), cid


def test_structured_mesh_linear_property(spark):
    """Property check at a mesh/grid resolution mismatch: a 20x20-node
    mesh regridded to a 16x16-edge raster reproduces a linear field at
    every centroid (bin size unrelated to either spacing)."""
    ndf, edf = _structured_mesh(spark, 20)
    spec = GridSpec(ul_lon=0.0, ul_lat=1.0, res=1.0 / 15, nx=16, ny=16)
    cells = raster_cells(spark, spec)
    w = build_weights(cells, ndf, edf, bin_size=0.13)
    assert w.count() == 15 * 15  # every centroid is inside [0,1]^2
    tsv = ndf.select(
        F.lit("t").alias("ts"), "node_id",
        (4.0 * F.col("lon") - 7.0 * F.col("lat") + 2.0).alias("value"),
    )
    out = regrid(w, tsv).join(cells, "cell_id")
    bad = out.filter(
        F.abs(F.col("value") - (4.0 * F.col("cx") - 7.0 * F.col("cy") + 2.0)) > 1e-9
    ).count()
    assert bad == 0


def test_degenerate_triangle_claims_no_cells(spark):
    """A zero-area (collinear) triangle must never match any cell: its
    barycentric system is singular, so the det guard drops it before
    the weight division can produce inf/NaN."""
    from pyspark.sql import Row

    from adcirctime2cogs_spark.plans.grid import GridSpec, raster_cells
    from adcirctime2cogs_spark.plans.weights import build_weights

    nodes = spark.createDataFrame(
        [
            Row(node_id=0, lon=0.0, lat=0.0),
            Row(node_id=1, lon=1.0, lat=0.0),
            Row(node_id=2, lon=2.0, lat=0.0),  # collinear with 0 and 1
            Row(node_id=3, lon=0.5, lat=1.0),
        ]
    )
    elements = spark.createDataFrame(
        [
            Row(elem_id=0, n0=0, n1=1, n2=2),  # degenerate: zero area
            Row(elem_id=1, n0=0, n1=1, n2=3),  # proper triangle
        ]
    )
    cells = raster_cells(
        spark, GridSpec(ul_lon=0.0, ul_lat=1.0, res=0.25, nx=9, ny=5)
    )
    w = build_weights(cells, nodes, elements, bin_size=1.0)
    got = w.collect()
    assert all(r.elem_id == 1 for r in got), "degenerate triangle claimed cells"
    assert len(got) > 0  # the proper triangle still matches its cells
    for r in got:
        for v in (r.w0, r.w1, r.w2):
            assert math.isfinite(v)


def test_missing_node_row_nulls_cell_not_partial_sum(spark, weights):
    """A node row MISSING from the timeseries (partial drop, upstream
    filter) must null every touching cell — never publish the partial
    two-term sum. Regression: the mask once compared non-null count to
    the joined row count (which drop together when a row is absent)
    instead of to the expected 3."""
    full = mm.timeseries_df(spark).filter(F.col("ts") == mm.T1)
    partial = full.filter(F.col("node_id") != 4)
    out = {r.cell_id: r.value for r in regrid(weights, partial).collect()}
    by_nodes = {
        r.cell_id: (r.n0, r.n1, r.n2) for r in weights.collect()
    }
    baseline = {r.cell_id: r.value for r in
                regrid(weights, full).collect()}
    assert out, "partial regrid returned nothing"
    for cell, nodes in by_nodes.items():
        if 4 in nodes:
            assert out[cell] is None, f"cell {cell} published a partial sum"
        else:
            assert out[cell] == baseline[cell]


def test_duplicate_ts_node_row_nulls_cell_not_double_count(spark, weights):
    """Duplicate (ts, node) rows (double-delivered drop) surface as
    null, never as a silently doubled contribution."""
    full = mm.timeseries_df(spark).filter(F.col("ts") == mm.T1)
    dup = full.unionAll(full.filter(F.col("node_id") == 4))
    out = {r.cell_id: r.value for r in regrid(weights, dup).collect()}
    by_nodes = {r.cell_id: (r.n0, r.n1, r.n2) for r in weights.collect()}
    for cell, nodes in by_nodes.items():
        if 4 in nodes:
            assert out[cell] is None, f"cell {cell} double-counted node 4"
        else:
            assert out[cell] is not None
