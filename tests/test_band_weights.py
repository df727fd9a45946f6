"""The row-band weights kernel of plans/weights (band_weights, the
CLI's bands built by the record stage with no records, and the
DataFrame form weights_table) against
the Spark SQL bin join build_weights, row for row; atomic band writes;
building a band once under its lock (ensure_band); and the mesh input
checks."""

import dataclasses
import multiprocessing
import os
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from adcirctime2cogs_spark.pipeline import run_pipeline
from adcirctime2cogs_spark.plans import micromesh as mm
from adcirctime2cogs_spark.plans import weights as wmod
from adcirctime2cogs_spark.plans.grid import grid_spec_from_bbox, raster_cells
from adcirctime2cogs_spark.plans.weights import (
    BAND_ARRAYS,
    band_weights,
    build_weights,
    ensure_band,
    prepare_band_weights,
    triangle_arrays,
    weights_table,
    write_band,
)
from adcirctime2cogs_spark.sinks.cog import (
    regrid_nodes,
    write_cogs_from_records,
)
from adcirctime2cogs_spark.sinks.geotiff import read_geotiff
from adcirctime2cogs_spark.sources.mesh import load_mesh, read_mesh_arrays
from tests.test_cog_kernel import _perfbench_inputs


def _write_mesh(base, nodes, elements):
    """mesh_nodes / mesh_elements parquet from (id, lon, lat) and
    (elem_id, n0, n1, n2) tuples."""
    os.makedirs(base, exist_ok=True)
    node_id, lon, lat = (list(c) for c in zip(*nodes))
    pq.write_table(pa.table({
        "node_id": pa.array(node_id, pa.int64()),
        "lon": pa.array(lon, pa.float64()),
        "lat": pa.array(lat, pa.float64()),
        "depth": pa.array([None] * len(nodes), pa.float64()),
    }), os.path.join(base, "mesh_nodes.parquet"))
    pq.write_table(pa.table({
        name: pa.array(list(col), pa.int64())
        for name, col in zip(("elem_id", "n0", "n1", "n2"), zip(*elements))
    }), os.path.join(base, "mesh_elements.parquet"))


def _spec(base, res):
    _, lon, lat, _ = read_mesh_arrays(base)
    return grid_spec_from_bbox(
        {"lon_min": float(lon.min()), "lon_max": float(lon.max()),
         "lat_min": float(lat.min()), "lat_max": float(lat.max())}, res)


def _built_bands(spark, tris, spec, weights_dir):
    """Every band built: the record stage given no records."""
    bands = prepare_band_weights(spark, tris, spec, weights_dir)
    assert write_cogs_from_records(spark, [], None, bands,
                                   weights_dir + "_cogs", "none") == []
    return bands


def _sql_weights(spark, base, spec):
    nodes, elements = load_mesh(spark, base)
    return build_weights(
        raster_cells(spark, spec), nodes, elements, bin_size=spec.res * 4.0)


def _sorted(df):
    return df.toPandas().sort_values("cell_id", ignore_index=True)


def _concat(parts, rows, ncols):
    """Per-band arrays (band-local cells) as one table of global cells."""
    return {
        name: np.concatenate([
            p[name] + b * rows * ncols if name == "cell" else p[name]
            for b, p in enumerate(parts)
        ]) for name in parts[0]
    }


def _assert_tables_equal(got, want):
    for name in got:
        np.testing.assert_array_equal(got[name], want[name], err_msg=name)


def _check_parity(spark, base, res, tmp_path, monkeypatch):
    """weights_table's rows, the Spark band stage, and band_weights
    over 2-row bands with a 7-candidate chunk budget all equal
    build_weights exactly."""
    spec = _spec(base, res)
    sql = _sql_weights(spark, base, spec)
    want_df = _sorted(sql)
    want = {"cell": want_df["cell_id"].to_numpy(),
            **{c: want_df[c].to_numpy() for c in want_df.columns}}
    assert len(want["cell"])
    tris = triangle_arrays(*read_mesh_arrays(base))
    table = weights_table(spark, tris, spec)
    assert table.dtypes == sql.dtypes
    pd.testing.assert_frame_equal(_sorted(table), want_df, check_exact=True)
    bands = _built_bands(spark, tris, spec, str(tmp_path / "w"))
    ncols = spec.nx - 1
    _assert_tables_equal(
        _concat([bands.load(b) for b in range(bands.count)], bands.rows,
                ncols), want)

    monkeypatch.setattr(wmod, "BAND_CELLS", 7)
    nrows = spec.ny - 1
    parts = [band_weights(**tris, spec=spec, r0=r0, r1=min(r0 + 2, nrows))
             for r0 in range(0, nrows, 2)]
    _assert_tables_equal(_concat(parts, 2, ncols), want)


def test_band_weights_match_build_weights_micromesh(spark, tmp_path,
                                                    monkeypatch):
    """The L-shape, its hole and the hull node no triangle uses."""
    base = str(tmp_path / "in")
    _write_mesh(base, mm.NODES, mm.ELEMENTS)
    _check_parity(spark, base, 0.4, tmp_path, monkeypatch)


@pytest.mark.parametrize("res", [0.01, 0.05])
def test_band_weights_match_build_weights_jittered_mesh(spark, tmp_path,
                                                        monkeypatch, res):
    """A benchmark-style jittered mesh; at res 0.05 most triangles are
    smaller than a pixel and hold no pixel centre."""
    case = _perfbench_inputs().make_mesh(5, 24, 20, 0.6, 0.5, 1)
    base = str(tmp_path / "in")
    _write_mesh(
        base, [(i, x, y) for i, (x, y) in enumerate(zip(case.lon, case.lat))],
        [(e, *map(int, t - 1)) for e, t in enumerate(case.element)])
    _check_parity(spark, base, res, tmp_path, monkeypatch)


def test_band_weights_match_build_weights_vertices_on_pixel_centres(
    spark, tmp_path, monkeypatch
):
    """Mesh nodes sitting exactly on pixel centres (raster_cells'
    expressions), so many centres lie on a triangle's bbox edge, where
    the rounding of the candidate range bounds would lose them without
    the one-pixel widening. Two unused hull nodes fix the bbox."""
    res = 0.1
    step = [0, 2, 5, 6, 9, 13, 16, 19]
    nodes = [(0, 0.0, 0.0), (1, 2.0, 2.0)]
    for i in step:
        for j in step:
            nodes.append((len(nodes), 0.0 + (i + 0.5) * res,
                          2.0 - (j + 0.5) * res))
    k = len(step)
    elements = []
    for i in range(k - 1):
        for j in range(k - 1):
            a, b = 2 + i * k + j, 2 + (i + 1) * k + j
            elements += [(len(elements), a, b, b + 1),
                         (len(elements) + 1, a, b + 1, a + 1)]
    base = str(tmp_path / "in")
    _write_mesh(base, nodes, elements)
    _check_parity(spark, base, res, tmp_path, monkeypatch)


def test_band_weights_match_build_weights_degenerate(spark, tmp_path,
                                                     monkeypatch):
    """Zero-area triangles (three collinear vertices, a repeated
    vertex) claim no cell in either path; elem_ids out of order."""
    base = str(tmp_path / "in")
    _write_mesh(
        base,
        [(0, 0.0, 0.0), (1, 1.0, 0.0), (2, 2.0, 0.0), (3, 0.5, 1.0),
         (4, 1.5, 1.0)],
        [(7, 0, 1, 2), (3, 0, 1, 3), (5, 1, 1, 4), (1, 1, 2, 4),
         (2, 1, 4, 3)])
    _check_parity(spark, base, 0.25, tmp_path, monkeypatch)
    spec = _spec(base, 0.25)
    tris = triangle_arrays(*read_mesh_arrays(base))
    got = band_weights(**tris, spec=spec, r0=0, r1=spec.ny - 1)
    assert np.isfinite(np.stack([got["w0"], got["w1"], got["w2"]])).all()


def test_weights_table_of_off_raster_mesh_is_empty(spark, tmp_path):
    """A mesh lying entirely off the raster gives an empty frame with
    build_weights' schema, as build_weights does."""
    base = str(tmp_path / "in")
    _write_mesh(base, mm.NODES, mm.ELEMENTS)
    spec = dataclasses.replace(mm.GRID, ul_lon=10.0)  # [10, 12] x [0, 2]
    sql = _sql_weights(spark, base, spec)
    table = weights_table(spark, triangle_arrays(*read_mesh_arrays(base)),
                          spec)
    assert table.dtypes == sql.dtypes
    assert sql.count() == 0
    assert table.collect() == []


def test_band_rewrite_is_identical_and_leaves_no_temp(spark, tmp_path,
                                                     monkeypatch):
    """A retried band task writes over its own files: the same arrays,
    and no temp file left beside them. A task that dies mid-write
    leaves no file under a band array's name."""
    base = str(tmp_path / "in")
    _write_mesh(base, mm.NODES, mm.ELEMENTS)
    spec = _spec(base, 0.4)
    tris = triangle_arrays(*read_mesh_arrays(base))
    bands = _built_bands(spark, tris, spec, str(tmp_path / "w"))
    first = {n: np.array(a) for n, a in bands.load(1).items()}
    before = sorted(os.listdir(bands.dir))
    write_band(bands, spec, 1)
    assert sorted(os.listdir(bands.dir)) == before
    assert not [f for f in before if ".tmp-" in f]
    _assert_tables_equal(bands.load(1), first)

    for name in BAND_ARRAYS:
        os.remove(bands.path(1, name))
    real_save = np.save

    def dying(fh, arr):
        real_save(fh, arr)  # the temp is fully on disk...
        raise RuntimeError("executor killed")  # ...then the task dies

    monkeypatch.setattr(np, "save", dying)
    with pytest.raises(RuntimeError, match="executor killed"):
        write_band(bands, spec, 1)
    assert not [f for f in os.listdir(bands.dir)
                if f.startswith("band00001.") and f.endswith(".npy")]


def _micromesh_bands(spark, tmp_path):
    """The micromesh's bands at res 0.4, laid out but none built, and
    its triangle arrays."""
    base = str(tmp_path / "in")
    _write_mesh(base, mm.NODES, mm.ELEMENTS)
    tris = triangle_arrays(*read_mesh_arrays(base))
    bands = prepare_band_weights(spark, tris, _spec(base, 0.4),
                                 str(tmp_path / "w"))
    assert bands.count > 1
    return bands, tris


def _band_weights_of(bands, tris, band):
    r0 = band * bands.rows
    got = band_weights(**tris, spec=bands.spec, r0=r0,
                       r1=min(r0 + bands.rows, bands.spec.ny - 1))
    return {name: got[name] for name in BAND_ARRAYS}


def _counted_ensure_band(bands, band, counter, barrier, out):
    """One process of the race below: wrap write_band so that each
    build appends a line to `counter` (under the band's lock) and
    lingers, wait for the other processes, call ensure_band and save
    what it returned to `out`."""
    real = wmod.write_band

    def counted(*args):
        with open(counter, "a") as fh:
            fh.write(f"{os.getpid()}\n")
        time.sleep(0.3)  # hold the lock while the others arrive
        real(*args)

    wmod.write_band = counted
    barrier.wait(60)
    np.savez(out, **ensure_band(bands, band))


def test_ensure_band_builds_once_across_processes(spark, tmp_path):
    """6 processes (more than the usual 4 cores) ask for one unbuilt
    band at once: write_band runs exactly once, and every process reads
    band_weights' arrays."""
    bands, tris = _micromesh_bands(spark, tmp_path)
    ctx = multiprocessing.get_context("spawn")
    barrier = ctx.Barrier(6)
    counter = str(tmp_path / "builds.txt")
    outs = [str(tmp_path / f"got{i}.npz") for i in range(6)]
    procs = [ctx.Process(target=_counted_ensure_band,
                         args=(bands, 1, counter, barrier, out))
             for out in outs]
    for p in procs:
        p.start()
    for p in procs:
        p.join(120)
        if p.is_alive():
            p.terminate()
    assert [p.exitcode for p in procs] == [0] * 6
    with open(counter) as fh:
        assert len(fh.read().split()) == 1
    want = _band_weights_of(bands, tris, 1)
    for out in outs:
        with np.load(out) as got:
            _assert_tables_equal(dict(got), want)
    _assert_tables_equal(bands.load(1), want)
    assert not [f for f in os.listdir(bands.dir) if ".tmp-" in f]


def test_ensure_band_rebuilds_a_band_missing_its_last_array(spark,
                                                             tmp_path):
    """A band whose first arrays exist but whose last is missing (its
    builder was killed) is rebuilt whole: a stale first array is
    replaced too."""
    bands, tris = _micromesh_bands(spark, tmp_path)
    write_band(bands, bands.spec, 0)
    os.remove(bands.path(0, BAND_ARRAYS[-1]))
    np.save(bands.path(0, BAND_ARRAYS[0]), np.zeros(1, np.int64))
    _assert_tables_equal(ensure_band(bands, 0),
                         _band_weights_of(bands, tris, 0))
    _assert_tables_equal(bands.load(0), _band_weights_of(bands, tris, 0))


def test_ensure_band_reads_a_complete_band_without_the_lock(
    spark, tmp_path, monkeypatch
):
    """A complete band is read as it is: no lock file, no flock, no
    build."""
    bands, tris = _micromesh_bands(spark, tmp_path)
    write_band(bands, bands.spec, 1)

    def refuse(*args):
        raise AssertionError("a complete band took a lock or a build")

    monkeypatch.setattr(wmod.fcntl, "flock", refuse)
    monkeypatch.setattr(wmod, "write_band", refuse)
    _assert_tables_equal(ensure_band(bands, 1),
                         _band_weights_of(bands, tris, 1))
    assert not [f for f in os.listdir(bands.dir) if f.endswith(".lock")]


def test_regrid_nodes_on_unbuilt_bands_equals_prefetched(spark, tmp_path):
    """regrid_nodes on bands no task has built yet, walked from any
    first band, gives the raster and cell count that it gives after
    the record stage built them all with no records (_built_bands)."""
    case = _perfbench_inputs().make_mesh(5, 24, 20, 0.6, 0.5, 1)
    base = str(tmp_path / "in")
    _write_mesh(
        base, [(i, x, y) for i, (x, y) in enumerate(zip(case.lon, case.lat))],
        [(e, *map(int, t - 1)) for e, t in enumerate(case.element)])
    spec = _spec(base, 0.01)
    tris = triangle_arrays(*read_mesh_arrays(base))
    built = _built_bands(spark, tris, spec, str(tmp_path / "built"))
    assert built.count > 1
    node = np.arange(len(case.lon), dtype=np.int64)
    val = np.random.default_rng(0).normal(size=len(node))
    val[7] = np.nan  # a dry node
    want, want_cells = regrid_nodes(node, val, built)
    for first in (0, built.count - 1):
        lazy = prepare_band_weights(spark, tris, spec,
                                    str(tmp_path / f"lazy{first}"))
        got, n_cells = regrid_nodes(node, val, lazy, first)
        np.testing.assert_array_equal(got, want)
        assert n_cells == want_cells


def _write_micromesh_run(spark, base, nodes, elements):
    _write_mesh(base, nodes, elements)
    mm.timeseries_df(spark).withColumn(
        "ts", F.to_timestamp("ts")).write.parquet(base + "/zeta.parquet")


def test_duplicate_node_id_raises_before_any_spark_job(spark, tmp_path):
    """A duplicated node_id raises on the CLI path (run_pipeline) and
    on the DataFrame path (weights_table), before any Spark job."""
    nodes = mm.NODES + [(4, 1.1, 1.2)]
    base = str(tmp_path / "in")
    _write_micromesh_run(spark, base, nodes, mm.ELEMENTS)
    node_id, lon, lat = (np.array(c) for c in zip(*nodes))
    sc = spark.sparkContext
    sc.setJobGroup("duplicate-node", "weights of a bad mesh")
    try:
        with pytest.raises(ValueError, match="duplicate node_id 4"):
            run_pipeline(spark, base, str(tmp_path / "o"),
                         str(tmp_path / "f"), variable="zeta", res=0.4)
        with pytest.raises(ValueError, match="duplicate node_id 4"):
            weights_table(spark, triangle_arrays(
                node_id, lon, lat, np.array(mm.ELEMENTS)), mm.GRID)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("duplicate-node") == []


def test_element_with_missing_vertex_is_dropped(spark, tmp_path):
    """An element naming a node id that mesh_nodes lacks is dropped, as
    the inner joins drop it: the rasters equal those of the mesh
    without it."""
    clean = str(tmp_path / "clean")
    _write_micromesh_run(spark, clean, mm.NODES, mm.ELEMENTS)
    bad = str(tmp_path / "bad")
    # hull node 2 joins a triangle whose third vertex does not exist
    _write_micromesh_run(spark, bad, mm.NODES,
                         mm.ELEMENTS + [(3, 1, 2, 42)])
    results = [
        run_pipeline(spark, base, str(tmp_path / name / "o"),
                     str(tmp_path / name / "f"), variable="zeta", res=0.4)
        for name, base in (("c", clean), ("b", bad))
    ]
    tifs = sorted(f for f in os.listdir(results[0].cog_dir)
                  if f.endswith(".tif"))
    assert len(tifs) == 3
    assert tifs == sorted(f for f in os.listdir(results[1].cog_dir)
                          if f.endswith(".tif"))
    for f in tifs:
        a, _ = read_geotiff(os.path.join(results[0].cog_dir, f))
        b, _ = read_geotiff(os.path.join(results[1].cog_dir, f))
        np.testing.assert_array_equal(a, b)
