"""The ``forecast_series`` workload: one ``fort.63.nc`` in, one COG per
timestep plus mosaic sidecars and a zip out, through the engine's CLI.

The traced variant runs the same dataflow as ``pipeline.run_pipeline``
but calls each layer's public functions itself and materializes every
layer's output once, so each span covers only its own layer.
"""

from __future__ import annotations

import contextlib
import glob
import io
import os
import shutil
import time
import zipfile

import numpy as np

from inputs import LAT0, LON0, MeshCase, make_mesh, write_fort63

VARIABLE = "zeta"
RES = 0.005
# Mesh nodes per axis, raster extent in degrees, hourly records. The
# node spacing is a few pixels, so point location stays cheap next to
# the per-timestep decode, regrid and COG encode.
NX, NY = 110, 90
SPAN_X, SPAN_Y = 1.5, 1.2
N_TS = 6
SIDECARS = ("datastore.properties", "indexer.properties",
            "timeregex.properties")


class ForecastSeries:
    """Inputs and job runners of the geo workload, all under ``work``."""

    def __init__(self, work: str, seed: int):
        self.work = work
        self.in_dir = os.path.join(work, "in")
        os.makedirs(self.in_dir, exist_ok=True)
        self.case: MeshCase = make_mesh(seed, NX, NY, SPAN_X, SPAN_Y, N_TS)
        self.nc_name = "fort.63.nc"
        self.nc_path = os.path.join(self.in_dir, self.nc_name)
        self.nc_bytes = write_fort63(self.nc_path, self.case)

    def sizes(self) -> dict:
        return {
            "nodes": len(self.case.lon),
            "triangles": len(self.case.element),
            "timesteps": self.case.n_ts,
            "pixels": round(SPAN_X / RES) * round(SPAN_Y / RES),
            "nc_bytes": self.nc_bytes,
        }

    def _dirs(self, k: int) -> tuple[str, str]:
        out = os.path.join(self.work, f"job{k}", "out")
        final = os.path.join(self.work, f"job{k}", "final")
        return out, final

    def cleanup(self, k: int) -> None:
        shutil.rmtree(os.path.join(self.work, f"job{k}"), ignore_errors=True)

    def cli_job(self, k: int) -> float:
        """Wall seconds of one CLI job into a fresh output dir, so the
        staged-table reuse of ``pipeline.main`` never skips ingest."""
        from adcirctime2cogs_spark import pipeline

        out, final = self._dirs(k)
        argv = ["--input-dir", self.in_dir, "--output-dir", out,
                "--final-dir", final, "--input-file", self.nc_name,
                "--input-variable", VARIABLE, "--res", str(RES)]
        t0 = time.perf_counter()
        with contextlib.redirect_stdout(io.StringIO()):
            rc = pipeline.main(argv)
        wall = time.perf_counter() - t0
        if rc != 0:
            raise RuntimeError(f"pipeline.main exited {rc}")
        return wall

    def traced_job(self, spark, tracer, k: int) -> float:
        """The CLI dataflow layer by layer, one span per layer."""
        from adcirctime2cogs_spark.plans.grid import (
            bounding_box, grid_spec_from_bbox, raster_cells)
        from adcirctime2cogs_spark.plans.regrid import regrid
        from adcirctime2cogs_spark.plans.weights import build_weights
        from adcirctime2cogs_spark.sinks.cog import write_cogs
        from adcirctime2cogs_spark.sinks.sidecar import (
            archive_output, write_mosaic_sidecars)
        from adcirctime2cogs_spark.sources.mesh import (
            load_mesh, load_timeseries)
        from adcirctime2cogs_spark.sources.netcdf import adcirc_nc_to_tables

        out, final = self._dirs(k)
        tables = os.path.join(out, "_tables")
        cog_dir = os.path.join(out, VARIABLE)
        with tracer.span("job", k) as root:
            with tracer.span("sources.ingest", k):
                adcirc_nc_to_tables(spark, self.nc_path, tables, VARIABLE)
            with tracer.span("plans.grid", k):
                nodes, elements = load_mesh(spark, tables)
                tsv = load_timeseries(spark, tables, VARIABLE)
                spec = grid_spec_from_bbox(bounding_box(nodes), RES)
                cells = raster_cells(spark, spec)
            with tracer.span("plans.weights", k):
                weights = build_weights(cells, nodes, elements,
                                        bin_size=RES * 4.0).cache()
                self.weights_rows = weights.count()
            with tracer.span("plans.regrid", k):
                broadcast_ts = tsv.count() * 16 < 64 * 1024 * 1024
                raster = regrid(weights, tsv,
                                broadcast_ts=broadcast_ts).cache()
                self.regrid_rows = raster.count()
            with tracer.span("sinks.cog", k):
                write_cogs(raster, spec, cog_dir, prefix=VARIABLE).collect()
            with tracer.span("sinks.sidecar", k):
                write_mosaic_sidecars(cog_dir, f"{VARIABLE}_mosaic")
                archive_output(cog_dir, final)
            raster.unpersist()
            weights.unpersist()
        return root.wall

    def verify(self, k: int) -> tuple[bool, dict]:
        """Read back the job's COGs, sidecars and zip. Every non-nodata
        pixel must equal the analytic field, every pixel centre inside
        the hull must have a value, and the rim outside it none."""
        from adcirctime2cogs_spark.sinks.geotiff import (
            geotransform_of, read_geotiff)

        out, final = self._dirs(k)
        cog_dir = os.path.join(out, VARIABLE)
        cogs = sorted(glob.glob(os.path.join(cog_dir, f"{VARIABLE}.*.tif")))
        ok = len(cogs) == self.case.n_ts
        cog_bytes, raw_bytes, interior_px, covered = 0, 0, 0, 0
        for t, path in enumerate(cogs):
            arr, tags = read_geotiff(path)
            if t == 0:
                self.sample = (arr, geotransform_of(tags))
            cog_bytes += os.path.getsize(path)
            raw_bytes += arr.size * 8
            ulx, rx, _, uly, _, ry = geotransform_of(tags)
            ok &= (abs(ulx - LON0) < 1e-9 and abs(uly - LAT0 - SPAN_Y) < 1e-9
                   and abs(rx - RES) < 1e-12 and abs(ry + RES) < 1e-12)
            cx = ulx + (np.arange(arr.shape[1]) + 0.5) * rx
            cy = uly + (np.arange(arr.shape[0]) + 0.5) * ry
            inside = (((cx > LON0) & (cx < LON0 + SPAN_X))[None, :]
                      & ((cy > LAT0) & (cy < LAT0 + SPAN_Y))[:, None])
            has = ~np.isnan(arr)
            exp = self.case.field(t, cx[None, :], cy[:, None])
            ok &= not (has & ~inside).any()
            ok &= bool((np.abs(arr[has] - exp[has]) <= 1e-6).all())
            interior_px += int(inside.sum())
            covered += int((has & inside).sum())
        ok &= interior_px > 0 and covered == interior_px
        ok &= all(os.path.exists(os.path.join(cog_dir, s)) for s in SIDECARS)
        zip_path = os.path.join(final, f"{VARIABLE}.zip")
        try:
            with zipfile.ZipFile(zip_path) as zf:
                members = set(zf.namelist())
        except (OSError, zipfile.BadZipFile):
            members = set()
        ok &= members == {os.path.basename(p) for p in cogs} | set(SIDECARS)
        return bool(ok), {"cog_bytes": cog_bytes,
                          "cog_ratio": raw_bytes / max(cog_bytes, 1)}

    def encode_mpx_per_s(self) -> float:
        """Encode throughput of ``sinks.geotiff.write_geotiff`` alone,
        on the first raster decoded by the last ``verify``."""
        from adcirctime2cogs_spark.sinks.geotiff import write_geotiff

        path = os.path.join(self.work, "encode_probe.tif")
        arr, transform = self.sample
        walls = []
        for _ in range(5):
            t0 = time.perf_counter()
            write_geotiff(path, arr, transform)
            walls.append(time.perf_counter() - t0)
        os.remove(path)
        return arr.size / 1e6 / float(np.median(walls))
