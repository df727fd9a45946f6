"""The Python worker daemon (`worker_daemon`): zip importers re-read
their archive only when it changed, the session's workers run under
it, and workers import the driver's checkout from any working
directory."""

import importlib.util
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pyarrow as pa
import pytest

from adcirctime2cogs_spark import worker_daemon

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
before_313 = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="3.13 zipimport no longer re-reads")


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, source in modules.items():
            z.writestr(f"{name}.py", source)


@pytest.fixture
def reads(monkeypatch):
    """install() for this test only; returns the list of archives that
    zipimport._read_directory was asked to read."""
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    real = zipimport._read_directory
    calls = []
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda archive: calls.append(archive) or real(archive))
    worker_daemon.install()
    return calls


def test_importing_the_module_patches_nothing():
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"


@before_313
def test_unchanged_archive_is_not_reread(tmp_path, reads):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"zwd_a": "X = 1\n"})
    imp = zipimport.zipimporter(archive)
    reads.clear()
    for _ in range(4):
        imp.invalidate_caches()
    assert reads == [archive]  # the first call stamps the importer


@before_313
def test_rewritten_archive_is_reread_by_each_importer(tmp_path, reads):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"zwd_a": "X = 1\n"})
    first, second = zipimport.zipimporter(archive), zipimport.zipimporter(archive)
    first.invalidate_caches()
    second.invalidate_caches()
    reads.clear()
    _write_zip(archive, {"zwd_a": "X = 1\n", "zwd_new": "X = 2\n"})
    st = os.stat(archive)
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    first.invalidate_caches()
    second.invalidate_caches()
    assert reads == [archive, archive]
    for imp in (first, second):
        spec = imp.find_spec("zwd_new")
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        assert mod.X == 2


def test_install_is_a_no_op_from_313(monkeypatch):
    original = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", original)
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    worker_daemon.install()
    assert zipimport.zipimporter.invalidate_caches is original


@before_313
def test_session_workers_run_under_the_daemon(spark):
    def worker_invalidate_caches(batches):
        f = zipimport.zipimporter.invalidate_caches
        for _ in batches:
            yield pa.RecordBatch.from_pydict({
                "module": [sys.modules[f.__module__].__spec__.name],
                "qualname": [f.__qualname__],
            })

    row = (spark.range(1, numPartitions=1)
           .mapInArrow(worker_invalidate_caches, "module string, qualname string")
           .collect()[0])
    assert row.module == "adcirctime2cogs_spark.worker_daemon"
    assert row.qualname == "install.<locals>.invalidate_caches"


def test_workers_import_the_drivers_checkout_from_any_cwd(tmp_path):
    """A driver outside the checkout, with no PYTHONPATH, that puts the
    checkout only on its own sys.path (as __spark_entry__.py does): the
    NetCDF scan and a registry query with Python tasks both run."""
    from tests.test_netcdf3 import _write_micromesh_nc
    from adcirctime2cogs_spark.plans import micromesh as mm

    nc = str(tmp_path / "fort.63.nc")
    _write_micromesh_nc(nc)
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {REPO_ROOT!r})
        from adcirctime2cogs_spark import registry
        from adcirctime2cogs_spark.session import get_spark
        from adcirctime2cogs_spark.sources.netcdf import scan_netcdf
        spark = get_spark()
        print("scan", scan_netcdf(spark, {nc!r}, "zeta").count())
        q = registry.all_queries()["micromesh_weights"]
        print("weights", len(q(spark, {str(tmp_path)!r}).collect()))
    """)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    r = subprocess.run([sys.executable, "-c", script], cwd=tmp_path, env=env,
                       capture_output=True, text=True, timeout=600)
    assert r.returncode == 0, r.stderr[-4000:]
    out = dict(line.split() for line in r.stdout.splitlines())
    assert int(out["scan"]) == 3 * len(mm.NODES)
    assert int(out["weights"]) > 0
