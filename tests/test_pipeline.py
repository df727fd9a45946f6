"""End-to-end pipeline test: parquet mesh in -> COGs + sidecars + zip
out, values checked against the analytic field."""

import os
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from adcirctime2cogs_spark.pipeline import run_pipeline
from adcirctime2cogs_spark.plans.synthetic import (
    synth_mesh,
    synth_nodes,
    synth_timeseries,
)

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_input(spark, base: str, n=12, n_ts=3):
    synth_nodes(spark, n).withColumn("depth", F.lit(5.0)).write.parquet(
        base + "/mesh_nodes.parquet"
    )
    elements = synth_mesh(n)[3]
    pq.write_table(
        pa.table({c: elements[:, i]
                  for i, c in enumerate(("elem_id", "n0", "n1", "n2"))}),
        base + "/mesh_elements.parquet",
    )
    # pipeline expects ts-typed timeseries; synthetic uses string labels
    tsv = synth_timeseries(spark, n, n_ts).withColumn(
        "ts",
        (F.lit("2024-01-01 00:00:00").cast("timestamp")
         + F.make_interval(hours=F.substring("ts", 2, 2).cast("int"))),
    )
    tsv.write.parquet(base + "/zeta.parquet")


def test_pipeline_end_to_end(spark, tmp_path):
    base = str(tmp_path / "in")
    out = str(tmp_path / "out")
    final = str(tmp_path / "final")
    _write_input(spark, base)

    result = run_pipeline(
        spark, base, out, final, variable="zeta", res=0.1
    )
    assert result.n_timesteps == 3
    assert result.archive.endswith(".zip")
    assert len(result.sidecars) == 3

    # check one raster numerically: field at k=0 is 4*lon - 7*lat + 2
    from adcirctime2cogs_spark.sinks.geotiff import geotransform_of, read_geotiff

    cog_files = sorted(
        p for p in __import__("os").listdir(result.cog_dir) if p.endswith(".tif")
    )
    arr, tags = read_geotiff(f"{result.cog_dir}/{cog_files[0]}")
    ulx, xres, _, uly, _, yres = geotransform_of(tags)
    nrows, ncols = arr.shape
    for r, c in [(0, 0), (nrows // 2, ncols // 2), (nrows - 1, ncols - 1)]:
        cx = ulx + (c + 0.5) * xres
        cy = uly + (r + 0.5) * yres  # yres negative
        assert abs(arr[r, c] - (4 * cx - 7 * cy + 2)) < 1e-9


def test_pipeline_s3_upload_with_fake_client(spark, tmp_path):
    """--s3-bucket path: the pipeline ensures the bucket and ships the
    archive through the injected client (reference O23 ordering:
    create-if-missing, then upload, non-fatal on failure)."""
    from tests.test_sinks_sources import _FakeS3Client

    base = str(tmp_path / "in")
    _write_input(spark, base)
    client = _FakeS3Client()
    result = run_pipeline(
        spark,
        base,
        str(tmp_path / "out"),
        str(tmp_path / "final"),
        variable="zeta",
        res=0.1,
        s3_bucket="cog-artifacts",
        s3_client=client,
    )
    assert result.uploaded is True
    assert "cog-artifacts" in client.buckets
    up = next(c for c in client.calls if c[0] == "upload")
    assert up[1] == result.archive and up[2] == "cog-artifacts"
    assert up[3].endswith(".zip") and up[4] == {"ACL": "public-read"}


def test_pipeline_yaml_config(tmp_path):
    """O26: YAML job config fills unset CLI flags; explicit flags win."""
    import pytest

    yaml = pytest.importorskip("yaml")
    from adcirctime2cogs_spark.pipeline import load_config_yaml, main

    cfg = tmp_path / "job.yml"
    cfg.write_text(
        yaml.safe_dump(
            {
                "input-dir": str(tmp_path / "missing_in"),
                "output-dir": str(tmp_path / "o"),
                "final-dir": str(tmp_path / "f"),
                "input-file": "swan_HS.63.nc",
                "input-variable": "swan_HS",
            }
        )
    )
    assert load_config_yaml(str(cfg))["input-file"] == "swan_HS.63.nc"
    # config-driven run reaches the swan dispatch (soft exit 0): every
    # required arg came from YAML, none from the CLI
    assert main(["--config", str(cfg)]) == 0
    # CLI flag overrides the YAML value -> non-swan file hard-exits 1
    assert main(["--config", str(cfg), "--input-file", "fort.63.nc"]) == 1


def test_pipeline_cli_swan_soft_exit(tmp_path):
    r = subprocess.run(
        [
            sys.executable, "-m", "adcirctime2cogs_spark.pipeline",
            "--input-dir", str(tmp_path), "--output-dir", str(tmp_path / "o"),
            "--final-dir", str(tmp_path / "f"), "--input-file", "swan_HS.63.nc",
            "--input-variable", "swan_HS",
        ],
        capture_output=True, text=True, cwd=REPO_ROOT,
    )
    assert r.returncode == 0  # swan missing input soft-exits 0

    r2 = subprocess.run(
        [
            sys.executable, "-m", "adcirctime2cogs_spark.pipeline",
            "--input-dir", str(tmp_path), "--output-dir", str(tmp_path / "o"),
            "--final-dir", str(tmp_path / "f"), "--input-variable", "zeta",
        ],
        capture_output=True, text=True, cwd=REPO_ROOT,
    )
    assert r2.returncode == 1  # non-swan missing input hard-exits 1


def test_pipeline_max_variable_end_to_end(spark, tmp_path):
    """The reference's max-variable run (maxele.63.nc-style): node_maxes
    in, ONE raster named by the variable out. Regression — the max
    dispatch returned a ts-less frame the regrid (which groups by ts)
    could not consume, and the CLI probe looked for maxele.parquet
    which never exists for max variables, so the whole path was dead
    through the pipeline."""
    import os

    base = str(tmp_path / "in")
    out = str(tmp_path / "out")
    final = str(tmp_path / "final")
    _write_input(spark, base)
    # node maxes: the k=0 synthetic field, so the analytic check holds
    synth_timeseries(spark, 12, 1).select("node_id", "value").write.parquet(
        base + "/node_maxes.parquet"
    )
    result = run_pipeline(
        spark, base, out, final, variable="maxele", res=0.1
    )
    assert result.n_timesteps == 1
    files = os.listdir(result.cog_dir)
    assert any("maxele" in f for f in files), files
    from adcirctime2cogs_spark.sinks.geotiff import geotransform_of, read_geotiff

    arr, tags = read_geotiff(
        f"{result.cog_dir}/" + next(f for f in files if f.endswith(".tif"))
    )
    ulx, xres, _, uly, _, yres = geotransform_of(tags)
    nrows, ncols = arr.shape
    r, c = nrows // 2, ncols // 2
    cx, cy = ulx + (c + 0.5) * xres, uly + (r + 0.5) * yres
    assert abs(arr[r, c] - (4 * cx - 7 * cy + 2)) < 1e-9


def test_pipeline_netcdf_input_end_to_end(spark, tmp_path):
    """Reference parity at the CLI door: ONE fort.63.nc in (mesh +
    zeta, classic NetCDF-3), COGs out — mesh/element/timeseries all
    extracted by the BUILT-IN codecs (zero injection), rasters
    identical to a run fed the equivalent parquet tables."""
    import os

    from adcirctime2cogs_spark.pipeline import main, run_pipeline
    from adcirctime2cogs_spark.plans import micromesh as mm
    from adcirctime2cogs_spark.sinks.geotiff import read_geotiff
    from tests.test_netcdf3 import _write_micromesh_nc

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    _write_micromesh_nc(str(in_dir / "fort.63.nc"))
    rc = main([
        "--input-dir", str(in_dir),
        "--output-dir", str(tmp_path / "o"),
        "--final-dir", str(tmp_path / "f"),
        "--input-file", "fort.63.nc",
        "--input-variable", "zeta",
        "--res", "0.4",
    ])
    assert rc == 0
    cog_dir = tmp_path / "o" / "zeta"
    tifs = sorted(p for p in os.listdir(cog_dir) if p.endswith(".tif"))
    assert len(tifs) == 3  # one COG per timestep

    # equivalent parquet-table run must produce identical rasters
    import numpy as np
    from pyspark.sql import functions as F

    base = str(tmp_path / "tables")
    mm.nodes_df(spark).withColumn(
        "depth", F.lit(None).cast("double")
    ).write.parquet(base + "/mesh_nodes.parquet")
    mm.elements_df(spark).write.parquet(base + "/mesh_elements.parquet")
    mm.timeseries_df(spark).withColumn(
        "ts", F.to_timestamp("ts")
    ).write.parquet(base + "/zeta.parquet")
    run_pipeline(
        spark, base, str(tmp_path / "o2"), str(tmp_path / "f2"),
        variable="zeta", res=0.4,
    )
    tifs2 = sorted(
        p for p in os.listdir(tmp_path / "o2" / "zeta") if p.endswith(".tif")
    )
    assert tifs == tifs2  # same per-ts filenames (same decoded stamps)
    for f in tifs:
        a, _ = read_geotiff(str(cog_dir / f))
        b, _ = read_geotiff(str(tmp_path / "o2" / "zeta" / f))
        assert np.allclose(a, b, equal_nan=True)


def test_pipeline_cli_unknown_nc_variable_exits_1(tmp_path, capsys):
    """A mistyped --input-variable on a .nc input is a one-line error
    naming the file's variables and exit code 1, not a KeyError
    traceback."""
    from adcirctime2cogs_spark.pipeline import main
    from tests.test_netcdf3 import _write_micromesh_nc

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    _write_micromesh_nc(str(in_dir / "fort.63.nc"))
    rc = main([
        "--input-dir", str(in_dir),
        "--output-dir", str(tmp_path / "o"),
        "--final-dir", str(tmp_path / "f"),
        "--input-file", "fort.63.nc",
        "--input-variable", "zetta",
    ])
    assert rc == 1
    err = capsys.readouterr().err
    assert "'zetta' not in" in err and "'zeta'" in err
    assert "Traceback" not in err


def _cli_nc_jobs(spark, in_dir, out_root, groups):
    """Run the CLI on in_dir/fort.63.nc once per job group; returns
    the status tracker."""
    from adcirctime2cogs_spark import pipeline

    sc = spark.sparkContext
    try:
        for group in groups:
            sc.setJobGroup(group, "CLI job")
            assert pipeline.main([
                "--input-dir", str(in_dir),
                "--output-dir", str(out_root / group / "o"),
                "--final-dir", str(out_root / group / "f"),
                "--input-file", "fort.63.nc",
                "--input-variable", "zeta",
                "--res", "0.4",
            ]) == 0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return sc.statusTracker()


def test_pipeline_cli_scans_nc_without_binaryfile_or_round_robin(
    spark, tmp_path
):
    """The CLI reads a .nc record variable in its COG job alone: that
    job's plan is a MapInArrow over a Range, with no exchange, no
    DataSource BatchScan, no binaryFile scan and no round-robin
    exchange."""
    from tests.test_netcdf3 import _write_micromesh_nc

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    _write_micromesh_nc(str(in_dir / "fort.63.nc"))
    st = _cli_nc_jobs(spark, in_dir, tmp_path, ["plan-shape"])
    plans = _plans_of_jobs(spark, [max(st.getJobIdsForGroup("plan-shape"))])
    assert len(plans) == 1
    assert "n_cells" in plans[0]  # the COG job's manifest schema
    assert "MapInArrow" in plans[0] and "Range (0, " in plans[0]
    assert "Exchange" not in plans[0]
    assert "BatchScan" not in plans[0]
    assert "binaryFile" not in plans[0]
    assert "RoundRobinPartitioning" not in plans[0]


def test_warm_nc_cli_job_runs_one_job_of_max_timesteps_bands_tasks(
    spark, tmp_path
):
    """A warm CLI job on a .nc record variable runs exactly 1 Spark
    job of one stage with max(timesteps, bands) tasks, which build the
    weight bands and decode, regrid and write each COG."""
    from adcirctime2cogs_spark.plans import micromesh as mm
    from adcirctime2cogs_spark.plans.weights import band_layout
    from tests.test_netcdf3 import _write_micromesh_nc

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    _write_micromesh_nc(str(in_dir / "fort.63.nc"))  # 3 timesteps
    st = _cli_nc_jobs(spark, in_dir, tmp_path, ["nc-cold", "nc-warm"])
    jobs = sorted(st.getJobIdsForGroup("nc-warm"))
    assert len(jobs) == 1
    stages = st.getJobInfo(jobs[0]).stageIds
    assert len(stages) == 1
    _, n_bands = band_layout(spark, mm.GRID)  # the CLI's grid at res 0.4
    assert st.getStageInfo(stages[0]).numTasks == max(3, n_bands)


def test_cog_writer_temp_name_never_matches_tif_glob(tmp_path, monkeypatch):
    """ADVICE r10: a mosaic indexer globbing *.tif must never see an
    in-progress or orphaned temp — so the atomic-writer temp suffix
    must not end in .tif. Pin both the crash residue (no *.tif left
    when the codec dies mid-write) and the success layout (exactly
    the final .tif, zero temp residue)."""
    import glob
    import os

    import numpy as np

    from adcirctime2cogs_spark.sinks import cog
    from adcirctime2cogs_spark.sinks import geotiff

    arr = np.arange(6.0).reshape(2, 3)
    tf = [0.0, 0.01, 0.0, 0.02, 0.0, -0.01]

    # crash mid-write: the temp exists at the moment of death and must
    # not be glob-visible as a .tif
    real_write = geotiff.write_geotiff

    def dying(path, *a, **kw):
        real_write(path, *a, **kw)  # temp fully on disk...
        raise RuntimeError("executor killed")  # ...then the task dies

    monkeypatch.setattr(
        "adcirctime2cogs_spark.sinks.geotiff.write_geotiff", dying
    )
    fname = str(tmp_path / "raster_000")
    try:
        cog.cog_writer(fname, arr, tf, "EPSG:4326")
    except RuntimeError:
        pass
    assert glob.glob(str(tmp_path / "*.tif")) == []
    residue = os.listdir(tmp_path)
    assert len(residue) == 1 and ".tif.tmp-" in residue[0]

    # success path: exactly the final name, temp replaced away
    monkeypatch.setattr(
        "adcirctime2cogs_spark.sinks.geotiff.write_geotiff", real_write
    )
    os.remove(tmp_path / residue[0])
    cog.cog_writer(fname, arr, tf, "EPSG:4326")
    assert os.listdir(tmp_path) == ["raster_000.tif"]


def _plans_of_jobs(spark, job_ids):
    """Physical plans of the SQL executions that ran any of job_ids."""
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    return [
        e.physicalPlanDescription()
        for e in (execs.apply(i) for i in range(execs.size()))
        if any(e.jobs().contains(j) for j in job_ids)
    ]


def test_warm_parquet_cli_job_runs_one_job_of_max_timesteps_bands_tasks(
    spark, tmp_path
):
    """A warm CLI job on parquet input runs exactly 1 Spark job of one
    map-only stage, with no exchange and no join, and max(timesteps,
    bands) tasks, which build the weight bands and decode, regrid and
    write each COG."""
    from adcirctime2cogs_spark import pipeline
    from adcirctime2cogs_spark.plans.grid import grid_spec_from_bbox
    from adcirctime2cogs_spark.plans.weights import band_layout
    from adcirctime2cogs_spark.sources.mesh import read_mesh_arrays

    in_dir = tmp_path / "in"
    _write_input(spark, str(in_dir))  # 3 timesteps
    sc = spark.sparkContext
    try:
        for group in ("cold", "warm"):
            sc.setJobGroup(group, "CLI job")
            assert pipeline.main([
                "--input-dir", str(in_dir),
                "--output-dir", str(tmp_path / group / "o"),
                "--final-dir", str(tmp_path / group / "f"),
                "--input-variable", "zeta",
                "--res", "0.1",
            ]) == 0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup("warm")
    assert len(jobs) == 1
    stages = st.getJobInfo(jobs[0]).stageIds
    assert len(stages) == 1
    _, lon, lat, _ = read_mesh_arrays(str(in_dir))
    spec = grid_spec_from_bbox(
        {"lon_min": float(lon.min()), "lon_max": float(lon.max()),
         "lat_min": float(lat.min()), "lat_max": float(lat.max())}, 0.1)
    _, n_bands = band_layout(spark, spec)
    assert st.getStageInfo(stages[0]).numTasks == max(3, n_bands)
    plans = _plans_of_jobs(spark, jobs)
    assert len(plans) == 1
    assert "Exchange" not in plans[0] and "Join" not in plans[0]
    assert "MapInArrow" in plans[0]
