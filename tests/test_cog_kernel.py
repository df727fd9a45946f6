"""The CLI's node-value COG kernel (sinks/cog.regrid_nodes, driven by
pipeline.main / run_pipeline) against the long-table path
write_cogs(regrid(...)) on the same inputs: the same file names, the
same nodata pattern, and pixels within 4 ulp of the largest node value
(the old path sums its 3 terms in no fixed order). The CLI's record
stage (write_cogs_from_records) on a .nc against the same stage on the
parquet tables of the same records (adcirc_nc_to_tables, flat or
ts-partitioned): byte-identical COGs, also when that one stage has
more bands to build than cores."""

import hashlib
import importlib.util
import os
import pathlib
import sys
import threading

import numpy as np
import pytest
from pyspark.sql import functions as F

from adcirctime2cogs_spark.pipeline import main, run_pipeline
from adcirctime2cogs_spark.plans import micromesh as mm
from adcirctime2cogs_spark.plans import weights as wmod
from adcirctime2cogs_spark.plans.grid import (
    bounding_box,
    grid_spec_from_bbox,
    raster_cells,
)
from adcirctime2cogs_spark.plans.regrid import regrid
from adcirctime2cogs_spark.plans.weights import build_weights
from adcirctime2cogs_spark.sinks.cog import write_cogs
from adcirctime2cogs_spark.sinks.geotiff import read_geotiff
from adcirctime2cogs_spark.sources import netcdf3 as nc3
from adcirctime2cogs_spark.sources.mesh import (
    load_mesh,
    load_timeseries,
    plan_table_records,
)
from adcirctime2cogs_spark.sources.netcdf import (
    AdcircNetCDFDataSource,
    _default_range_decoder,
    adcirc_nc_to_tables,
    plan_records,
    scan_netcdf,
    write_static_tables,
)

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _perfbench_inputs():
    path = os.path.join(REPO_ROOT, "perfbench", "inputs.py")
    spec = importlib.util.spec_from_file_location("perfbench_inputs", path)
    mod = importlib.util.module_from_spec(spec)
    sys.modules[spec.name] = mod  # its dataclass resolves names there
    spec.loader.exec_module(mod)
    return mod


def _join_path_cogs(spark, mesh_dir, tsv, variable, res, out_dir):
    """The long-table path: exploded weights join + (ts, cell) agg, then
    the pivoting sink."""
    nodes, elements = load_mesh(spark, mesh_dir)
    spec = grid_spec_from_bbox(bounding_box(nodes), res)
    weights = build_weights(
        raster_cells(spark, spec), nodes, elements, bin_size=res * 4.0
    )
    write_cogs(regrid(weights, tsv), spec, out_dir, prefix=variable).collect()


def _assert_same_cogs(kernel_dir, join_dir, scale):
    tifs = sorted(f for f in os.listdir(kernel_dir) if f.endswith(".tif"))
    assert tifs
    assert tifs == sorted(f for f in os.listdir(join_dir) if f.endswith(".tif"))
    tol = 4 * np.spacing(scale)
    for f in tifs:
        a, _ = read_geotiff(os.path.join(kernel_dir, f))
        b, _ = read_geotiff(os.path.join(join_dir, f))
        assert a.shape == b.shape
        np.testing.assert_array_equal(np.isnan(a), np.isnan(b), err_msg=f)
        has = ~np.isnan(a)
        assert (np.abs(a[has] - b[has]) <= tol).all(), f


def _scale(spark, tsv):
    return float(tsv.agg(F.max(F.abs("value"))).first()[0])


def test_kernel_matches_join_path_micromesh_nc(spark, tmp_path):
    """The CLI on the micromesh fort.63.nc: the L-shaped domain, the
    hull node no triangle uses, and the dry node at t2."""
    from tests.test_netcdf3 import _write_micromesh_nc

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    nc = str(in_dir / "fort.63.nc")
    _write_micromesh_nc(nc)
    out = tmp_path / "o"
    assert main([
        "--input-dir", str(in_dir), "--output-dir", str(out),
        "--final-dir", str(tmp_path / "f"), "--input-file", "fort.63.nc",
        "--input-variable", "zeta", "--res", "0.4",
    ]) == 0
    # nothing is staged: neither the mesh nor the records
    assert not os.path.exists(out / "_tables")
    assert not os.path.exists(out / "_weights")

    mesh_dir = str(tmp_path / "mesh")
    write_static_tables(nc, mesh_dir, "zeta")
    tsv = mm.timeseries_df(spark).withColumn("ts", F.to_timestamp("ts"))
    _join_path_cogs(spark, mesh_dir, tsv, "zeta", 0.4,
                    str(tmp_path / "join"))
    _assert_same_cogs(str(out / "zeta"), str(tmp_path / "join"),
                      _scale(spark, tsv))


def test_kernel_matches_join_path_jittered_mesh(spark, tmp_path):
    """The CLI on a benchmark-style jittered-mesh fort.63.nc, against
    the join path over the same decoded records."""
    inputs = _perfbench_inputs()
    case = inputs.make_mesh(5, 24, 20, 0.6, 0.5, 3)
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    nc = str(in_dir / "fort.63.nc")
    inputs.write_fort63(nc, case)
    out = tmp_path / "o"
    assert main([
        "--input-dir", str(in_dir), "--output-dir", str(out),
        "--final-dir", str(tmp_path / "f"), "--input-file", "fort.63.nc",
        "--input-variable", "zeta", "--res", "0.01",
    ]) == 0
    assert len([f for f in os.listdir(out / "zeta")
                if f.endswith(".tif")]) == 3

    mesh_dir = str(tmp_path / "mesh")
    write_static_tables(nc, mesh_dir, "zeta")
    tsv = scan_netcdf(spark, nc, "zeta")
    _join_path_cogs(spark, mesh_dir, tsv, "zeta", 0.01,
                    str(tmp_path / "join"))
    _assert_same_cogs(str(out / "zeta"), str(tmp_path / "join"),
                      _scale(spark, tsv))


def _write_micromesh_tables(spark, base):
    mm.nodes_df(spark).withColumn(
        "depth", F.lit(None).cast("double")
    ).write.parquet(base + "/mesh_nodes.parquet")
    mm.elements_df(spark).write.parquet(base + "/mesh_elements.parquet")


def test_kernel_matches_join_path_on_bad_node_rows(spark, tmp_path):
    """Parquet input whose rows break the one-value-per-(ts, node)
    shape: a null (dry) node, a NaN node, a missing row, duplicate
    rows, a node id outside the mesh, a timestep where one vertex
    is missing while another is duplicated (3 contributions, so both
    paths publish that sum), and duplicates whose other row is NaN (a
    4th contribution: nodata) or null (not counted: published)."""
    base = str(tmp_path / "in")
    _write_micromesh_tables(spark, base)
    t1, t2, t3, t4 = mm.T1, mm.T2, mm.T3, "2024-01-01 03:00:00"
    coords = {nid: (lon, lat) for nid, lon, lat in mm.NODES}

    def v(t, nid):
        lon, lat = coords[nid]
        return {t1: 2.0 * lon + 3.0 * lat + 1.0, t2: lon * lat,
                t3: 10.0 - lon - lat, t4: lon - 2.0 * lat}[t]

    # triangles: 0 = (0, 1, 4), 1 = (0, 4, 3), 2 = (3, 4, 5)
    rows = []
    for t in (t1, t2, t3, t4):
        for nid in coords:
            if (t, nid) in ((t1, 1), (t3, 0)):
                continue  # missing rows
            val = v(t, nid)
            if (t, nid) == (t2, 3):
                val = None  # dry
            if (t, nid) == (t2, 5):
                val = float("nan")
            rows.append((t, nid, val))
    rows += [(t1, 5, v(t1, 5)), (t3, 1, v(t3, 1) + 0.5),  # duplicates
             (t2, 99, 7.0), (t3, -1, 7.0),  # ids outside the mesh
             (t4, 3, float("nan")), (t4, 1, None)]  # beside valid rows
    tsv = spark.createDataFrame(
        rows, "ts string, node_id long, value double"
    ).withColumn("ts", F.to_timestamp("ts"))
    tsv.write.parquet(base + "/zeta.parquet")

    result = run_pipeline(spark, base, str(tmp_path / "o"),
                          str(tmp_path / "f"), variable="zeta", res=0.4)
    assert result.n_timesteps == 4
    _join_path_cogs(spark, base, load_timeseries(spark, base, "zeta"),
                    "zeta", 0.4, str(tmp_path / "join"))
    _assert_same_cogs(result.cog_dir, str(tmp_path / "join"), 10.0)
    # every timestep keeps one triangle with values, so the comparison
    # covers pixels as well as the nodata pattern
    for f in os.listdir(result.cog_dir):
        if f.endswith(".tif"):
            a, _ = read_geotiff(os.path.join(result.cog_dir, f))
            assert np.isnan(a).any() and (~np.isnan(a)).any(), f


def test_kernel_matches_join_path_max_variable(spark, tmp_path):
    """A time-less max variable: one raster named by the variable."""
    base = str(tmp_path / "in")
    _write_micromesh_tables(spark, base)
    rows = [(nid, None if nid == 5 else 1.5 * lon - lat)
            for nid, lon, lat in mm.NODES]
    spark.createDataFrame(rows, "node_id long, value double").write.parquet(
        base + "/node_maxes.parquet")

    result = run_pipeline(spark, base, str(tmp_path / "o"),
                          str(tmp_path / "f"), variable="zeta_max", res=0.4)
    assert result.n_timesteps == 1
    _join_path_cogs(spark, base, load_timeseries(spark, base, "zeta_max"),
                    "zeta_max", 0.4, str(tmp_path / "join"))
    _assert_same_cogs(result.cog_dir, str(tmp_path / "join"), 3.0)
    assert os.listdir(str(tmp_path / "join")) == ["zeta_max.zeta_maxZ.tif"]


def test_weights_arrays_removed_when_the_sink_fails(spark, tmp_path,
                                                    monkeypatch):
    from adcirctime2cogs_spark import pipeline

    base = str(tmp_path / "in")
    _write_micromesh_tables(spark, base)
    mm.timeseries_df(spark).withColumn(
        "ts", F.to_timestamp("ts")).write.parquet(base + "/zeta.parquet")

    def failing(*args, **kwargs):
        assert os.listdir(os.path.join(tmp_path, "o", "_weights"))
        raise RuntimeError("sink failed")

    monkeypatch.setattr(pipeline, "write_cogs_from_records", failing)
    with pytest.raises(RuntimeError, match="sink failed"):
        run_pipeline(spark, base, str(tmp_path / "o"), str(tmp_path / "f"),
                     variable="zeta", res=0.4)
    assert not os.path.exists(tmp_path / "o" / "_weights")


def _cli(in_dir, out, final, res, input_file="fort.63.nc", variable="zeta"):
    return main([
        "--input-dir", str(in_dir), "--output-dir", str(out),
        "--final-dir", str(final), "--input-file", input_file,
        "--input-variable", variable, "--res", str(res),
    ])


def _tif_sha256(d):
    return {f: hashlib.sha256(pathlib.Path(d, f).read_bytes()).hexdigest()
            for f in sorted(os.listdir(d)) if f.endswith(".tif")}


def _assert_cli_equals_scan_path(spark, tmp_path, res):
    """The CLI on in/fort.63.nc against the CLI on the
    adcirc_nc_to_tables output of the same file, whose records
    scan_netcdf decodes and the parquet decoder reads back:
    byte-identical COGs under the same names. Every record must span
    more than one split."""
    nc = str(tmp_path / "in" / "fort.63.nc")
    assert all(len(r) > 1 for r in plan_records(
        nc, "zeta", AdcircNetCDFDataSource._splitter))
    out = tmp_path / "o"
    assert _cli(tmp_path / "in", out, tmp_path / "f", res) == 0
    tables = tmp_path / "tables"
    adcirc_nc_to_tables(spark, nc, str(tables), "zeta")
    assert _cli(tables, tmp_path / "scan", tmp_path / "scan_f", res) == 0
    cli = _tif_sha256(out / "zeta")
    assert len(cli) == 3
    assert cli == _tif_sha256(tmp_path / "scan" / "zeta")


def test_cli_equals_scan_path_on_subsplit_classic_records(
    spark, tmp_path, monkeypatch
):
    """Classic records cut into node-range splits: the CLI's task reads
    every sub-split of its record."""
    inputs = _perfbench_inputs()
    (tmp_path / "in").mkdir()
    inputs.write_fort63(str(tmp_path / "in" / "fort.63.nc"),
                        inputs.make_mesh(5, 24, 20, 0.6, 0.5, 3))
    monkeypatch.setattr(
        AdcircNetCDFDataSource, "_splitter",
        staticmethod(lambda path, ln, var: nc3.classic_splitter(
            path, ln, var, max_split_bytes=1024)))
    _assert_cli_equals_scan_path(spark, tmp_path, 0.01)


def test_cli_equals_scan_path_on_nc4_chunked_records(spark, tmp_path):
    """NetCDF-4 with 3 compressed chunks per record."""
    from tests.test_hdf5 import _write_micromesh_nc4

    (tmp_path / "in").mkdir()
    _write_micromesh_nc4(str(tmp_path / "in" / "fort.63.nc"), node_chunk=2)
    _assert_cli_equals_scan_path(spark, tmp_path, 0.4)


def test_cli_equals_scan_path_on_fill_value_nodes(
    spark, tmp_path, monkeypatch
):
    """The micromesh classic file, whose dry node at t2 is _FillValue,
    split into 2 node ranges per record."""
    from tests.test_netcdf3 import _write_micromesh_nc

    (tmp_path / "in").mkdir()
    _write_micromesh_nc(str(tmp_path / "in" / "fort.63.nc"))
    monkeypatch.setattr(
        AdcircNetCDFDataSource, "_splitter",
        staticmethod(lambda path, ln, var: nc3.classic_splitter(
            path, ln, var, max_split_bytes=24)))
    _assert_cli_equals_scan_path(spark, tmp_path, 0.4)
    t1, t2, _ = (read_geotiff(str(tmp_path / "o" / "zeta" / f))[0]
                 for f in sorted(_tif_sha256(tmp_path / "o" / "zeta")))
    assert np.isnan(t2).sum() > np.isnan(t1).sum()  # the dry node


def _finishes(spark, seconds, fn, *args):
    """fn(*args) in a thread under its own job group; fails, cancelling
    the group's Spark jobs, if it has not returned after `seconds`."""
    sc = spark.sparkContext
    errors = []

    def run():
        sc.setJobGroup("must-finish", "bounded wait")
        try:
            fn(*args)
        except BaseException as exc:  # noqa: BLE001 — re-raised below
            errors.append(exc)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    t = threading.Thread(target=run, daemon=True)
    t.start()
    t.join(seconds)
    if t.is_alive():
        sc.cancelJobGroup("must-finish")
        t.join(60)
        pytest.fail(f"not finished after {seconds} s")
    if errors:
        raise errors[0]


def _split_micromesh_nc(tmp_path, monkeypatch):
    """The micromesh classic file (3 records), split into 2 node ranges
    per record."""
    from tests.test_netcdf3 import _write_micromesh_nc

    (tmp_path / "in").mkdir()
    _write_micromesh_nc(str(tmp_path / "in" / "fort.63.nc"))
    monkeypatch.setattr(
        AdcircNetCDFDataSource, "_splitter",
        staticmethod(lambda path, ln, var: nc3.classic_splitter(
            path, ln, var, max_split_bytes=24)))


def test_cli_with_more_bands_than_cores_finishes_and_equals_scan_path(
    spark, tmp_path, monkeypatch
):
    """One raster row per band (BAND_CELLS patched in the driver only):
    20 bands, more than the cores, and 3 records. The CLI's one stage
    of 20 tasks builds every band once under its lock, finishes, and
    writes the COGs of the CLI on the same records' parquet tables."""
    _split_micromesh_nc(tmp_path, monkeypatch)
    res = 0.1  # a 20 x 20 raster
    monkeypatch.setattr(wmod, "BAND_CELLS", 20)
    spec = grid_spec_from_bbox(
        {"lon_min": 0.0, "lon_max": 2.0, "lat_min": 0.0, "lat_max": 2.0},
        res)
    rows, count = wmod.band_layout(spark, spec)
    assert rows == 1
    assert count > spark.sparkContext.defaultParallelism
    assert count > 3
    _finishes(spark, 300, _assert_cli_equals_scan_path, spark, tmp_path,
              res)


def test_cli_with_fewer_bands_than_records_equals_scan_path(
    spark, tmp_path, monkeypatch
):
    """2 bands of 3 raster rows and 3 records: tasks 0 and 2 start
    their regrid at the same band, and task 1 builds the other."""
    _split_micromesh_nc(tmp_path, monkeypatch)
    monkeypatch.setattr(wmod, "band_layout", lambda spark, spec: (3, 2))
    _finishes(spark, 300, _assert_cli_equals_scan_path, spark, tmp_path,
              0.4)


def test_two_records_with_one_ts_raise_before_sidecars_and_zip(
    spark, tmp_path, monkeypatch, capsys
):
    """Two records that decode to one ts would write one file name:
    the CLI prints the error naming the ts, with no traceback, exits 1
    and writes no sidecars and no zip."""
    from tests.test_netcdf3 import _write_micromesh_nc

    def one_ts_for_two_records(path, variable, t_idx, offset, nbytes):
        ts, ids, values = _default_range_decoder(
            path, variable, t_idx, offset, nbytes)
        return (mm.T1 if t_idx == 1 else ts), ids, values

    (tmp_path / "in").mkdir()
    _write_micromesh_nc(str(tmp_path / "in" / "fort.63.nc"))
    monkeypatch.setattr(AdcircNetCDFDataSource, "_range_decoder",
                        staticmethod(one_ts_for_two_records))
    assert _cli(tmp_path / "in", tmp_path / "o", tmp_path / "f", 0.4) == 1
    err = capsys.readouterr().err
    assert f"ts {mm.T1}" in err
    assert "Traceback" not in err
    assert all(f.endswith(".tif")
               for f in os.listdir(tmp_path / "o" / "zeta"))
    assert not os.path.exists(tmp_path / "f")


def test_cli_on_nc_max_variable_runs_one_job_and_matches_join_path(
    spark, tmp_path
):
    """A classic file with a time-less zeta_max, one node of it
    _FillValue: the CLI reads it in the one task of its one Spark job of
    one stage and writes one raster named by the variable, equal to the
    join path over the same values."""
    from tests.test_netcdf3 import FILL

    n = len(mm.NODES)
    zeta_max = np.array([1.5 * lon - lat for _, lon, lat in mm.NODES])
    zeta_max[3] = FILL
    (tmp_path / "in").mkdir()
    nc = str(tmp_path / "in" / "maxele.63.nc")
    nc3.write_classic(
        nc,
        dims=[("node", n), ("nele", len(mm.ELEMENTS)), ("nvertex", 3)],
        variables=[
            {"name": "x", "dims": ["node"],
             "data": np.array([x for _, x, _ in mm.NODES])},
            {"name": "y", "dims": ["node"],
             "data": np.array([y for _, _, y in mm.NODES])},
            {"name": "element", "dims": ["nele", "nvertex"],
             "data": np.array([e[1:] for e in mm.ELEMENTS],
                              dtype="int32") + 1},
            {"name": "zeta_max", "dims": ["node"], "data": zeta_max,
             "atts": {"_FillValue": FILL, "units": "m"}},
        ])
    sc = spark.sparkContext
    sc.setJobGroup("nc-max", "CLI job")
    try:
        assert _cli(tmp_path / "in", tmp_path / "o", tmp_path / "f", 0.4,
                    "maxele.63.nc", "zeta_max") == 0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup("nc-max")
    assert len(jobs) == 1
    assert len(st.getJobInfo(jobs[0]).stageIds) == 1
    cog_dir = tmp_path / "o" / "zeta_max"
    assert list(_tif_sha256(cog_dir)) == ["zeta_max.zeta_maxZ.tif"]
    assert sorted(os.listdir(tmp_path / "o")) == ["zeta_max"]

    tables = str(tmp_path / "tables")
    write_static_tables(nc, tables, "zeta_max")
    _join_path_cogs(spark, tables, load_timeseries(spark, tables, "zeta_max"),
                    "zeta_max", 0.4, str(tmp_path / "join"))
    _assert_same_cogs(str(cog_dir), str(tmp_path / "join"), 3.0)
    arr, _ = read_geotiff(str(cog_dir / "zeta_max.zeta_maxZ.tif"))
    assert np.isnan(arr).any() and (~np.isnan(arr)).any()


@pytest.mark.parametrize("layout", ["flat", "flat_row_groups",
                                    "partitioned"])
def test_cli_on_parquet_equals_cli_on_nc(spark, tmp_path, layout):
    """The CLI on parquet tables of the micromesh records against the
    CLI on the .nc itself: byte-identical COGs under the same names.
    The tables are written flat as one file whose row group spans
    every ts, flat and sorted by ts in row groups of 4 rows that split
    timesteps, or partitionBy("ts"). Each also holds one row with a
    null ts, which is ignored."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tests.test_netcdf3 import _write_micromesh_nc

    (tmp_path / "in").mkdir()
    nc = str(tmp_path / "in" / "fort.63.nc")
    _write_micromesh_nc(nc)
    assert _cli(tmp_path / "in", tmp_path / "o", tmp_path / "f", 0.4) == 0
    tables = tmp_path / "tables"
    path = str(tables / "zeta.parquet")
    null_ts = spark.createDataFrame(
        [(None, 0, 99.0)], "ts timestamp, node_id long, value double")
    if layout == "partitioned":
        adcirc_nc_to_tables(spark, nc, str(tables), "zeta")
        null_ts.write.mode("append").partitionBy("ts").parquet(path)
        assert sorted(p.name for p in (tables / "zeta.parquet").iterdir()
                      if p.is_dir()) == [
            "ts=2024-01-01 00%3A00%3A00", "ts=2024-01-01 01%3A00%3A00",
            "ts=2024-01-01 02%3A00%3A00", "ts=__HIVE_DEFAULT_PARTITION__"]
    else:
        write_static_tables(nc, str(tables), "zeta")
        rows = scan_netcdf(spark, nc, "zeta").unionByName(null_ts)
        if layout == "flat":
            rows.coalesce(1).write.parquet(path)
            (part,) = (tables / "zeta.parquet").glob("*.parquet")
            meta = pq.ParquetFile(part).metadata
            assert meta.num_row_groups == 1
            stats = meta.row_group(0).column(0).statistics
            assert stats.min != stats.max
        else:
            os.makedirs(path)
            t = pa.Table.from_pandas(
                rows.orderBy("ts", "node_id").toPandas(),
                preserve_index=False)
            pq.write_table(t, os.path.join(path, "part-0.parquet"),
                           row_group_size=4)
            plan = plan_table_records(path)
            assert any(r.ts is not None for r in plan)
            assert any(r.ts is None for r in plan)
    assert _cli(tables, tmp_path / "p", tmp_path / "pf", 0.4) == 0
    cli = _tif_sha256(tmp_path / "o" / "zeta")
    assert len(cli) == 3
    assert _tif_sha256(tmp_path / "p" / "zeta") == cli
