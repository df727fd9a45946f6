"""End-to-end pipeline: the Spark-first equivalent of the reference CLI
(run/adcircTime2cogs.py:242-279 argparse -> main() :121-240).

    input adapter -> mesh arrays + records -> bbox -> grid spec
      -> weights laid out as row bands, each built once by a task
      -> one task per record: decode + regrid + COG -> mosaic
      sidecars -> zip

Every input runs one Spark job of one map-only stage: max(records,
bands) tasks that build the weight bands and decode, regrid and write
their records' timesteps (sinks/cog.write_cogs_from_records).

Differences from the reference, by design (SURVEY §3.1 mapping):
- one Spark job regrids and writes every timestep, each task
  regridding its node values against the weights arrays and writing
  the COG (sinks/cog.regrid_nodes), where the reference loops over
  timesteps sequentially (SURVEY P9);
- weights computed once and reused across every timestep (the
  reference rebuilds its interpolator per step, P6). The driver takes
  the bbox of the mesh arrays with numpy, lays the raster rows out as
  bands and writes the triangles once as arrays
  (plans/weights.prepare_band_weights); the first task that needs a
  band rasterizes it in closed form and writes its weight arrays,
  under a per-band file lock (plans/weights.ensure_band). No join, no
  shuffle, no parquet round trip; the registry and streaming paths
  run the same kernel as a DataFrame (plans/weights.weights_table);
- input is one fort.*.nc, its mesh read into driver memory and never
  staged (sources/netcdf.nc_input), or the engine-native parquet
  layout (sources/mesh.table_input): each adapter returns the mesh
  arrays, the picklable records and the decoder a task runs on each.

CLI (mirrors the reference's 5 args):
    python -m adcirctime2cogs_spark.pipeline \
        --input-dir DIR --output-dir DIR --final-dir DIR \
        --input-file NAME --input-variable VAR [--res DEG]
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import time
from dataclasses import dataclass

from pyspark.sql import SparkSession

from adcirctime2cogs_spark.plans.grid import grid_spec_from_bbox
from adcirctime2cogs_spark.plans.weights import (
    prepare_band_weights,
    triangle_arrays,
)
from adcirctime2cogs_spark.sinks.cog import (
    DuplicateTimestepError,
    write_cogs_from_records,
)
from adcirctime2cogs_spark.sinks.sidecar import archive_output, write_mosaic_sidecars
from adcirctime2cogs_spark.sources.mesh import table_input, table_name
from adcirctime2cogs_spark.sources.netcdf import nc_input, open_nc


@dataclass
class PipelineResult:
    n_timesteps: int
    n_cells: int
    cog_dir: str
    archive: str
    sidecars: list[str]
    uploaded: bool = False
    timings: dict | None = None  # per-phase wall seconds


def run_pipeline(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    final_dir: str,
    variable: str,
    res: float,
    s3_bucket: str | None = None,
    s3_client=None,
    nc_path: str | None = None,
) -> PipelineResult:
    """The whole dataflow; returns a small result summary (files are
    the real output, like the reference) plus per-phase wall timings
    (load_bbox / regrid_cog / sidecar_zip) so scale runs can attribute
    cost without re-instrumenting. The weight bands are built inside
    the COG stage, so `regrid_cog` covers both.

    The input is the fort.*.nc at `nc_path` when given, else the
    tables in input_dir; its adapter plans the records before any Spark
    job. Two records with one ts raise DuplicateTimestepError (a
    ValueError) before the sidecars and the zip, and main exits 1."""
    timings: dict[str, float] = {}
    t0 = time.time()
    mesh, records, decode = (
        nc_input(nc_path, variable) if nc_path is not None
        else table_input(input_dir, variable,
                         spark.sparkContext.defaultParallelism))
    tris = triangle_arrays(*mesh)
    _, lon, lat, _ = mesh
    bbox = {"lon_min": float(lon.min()), "lon_max": float(lon.max()),  # O7
            "lat_min": float(lat.min()), "lat_max": float(lat.max())}
    spec = grid_spec_from_bbox(bbox, res)  # D4
    timings["load_bbox"] = round(time.time() - t0, 2)
    t0 = time.time()

    cog_dir = os.path.join(output_dir, variable)
    weights_dir = os.path.join(output_dir, "_weights")
    try:
        # O11 + O13-O15, once (P6); O1-O6 + O16-O17 + O20 per record
        bands = prepare_band_weights(spark, tris, spec, weights_dir)
        manifest = write_cogs_from_records(
            spark, records, decode, bands, cog_dir, prefix=variable)
        timings["regrid_cog"] = round(time.time() - t0, 2)
    finally:
        # remove the arrays even when a phase throws: a long-lived
        # session running many pipelines would otherwise leave one
        # weights copy per failed run behind
        shutil.rmtree(weights_dir, ignore_errors=True)
    t0 = time.time()

    sidecars = write_mosaic_sidecars(cog_dir, f"{variable}_mosaic")  # O21
    archive = archive_output(cog_dir, final_dir)  # O22
    timings["sidecar_zip"] = round(time.time() - t0, 2)
    uploaded = False
    if s3_bucket:
        # O23 (reference run/utilities/s3_utilities.py:33-49): ensure
        # the bucket, ship the archive; a failed upload is non-fatal
        # exactly like the reference's sidecar-upload contract
        from adcirctime2cogs_spark.sinks.sidecar import (
            ensure_bucket,
            upload_to_s3,
        )

        ensure_bucket(s3_bucket, client=s3_client)
        uploaded = upload_to_s3(
            s3_bucket,
            os.path.basename(archive),
            archive,
            client=s3_client,
        )

    return PipelineResult(
        n_timesteps=len(manifest),
        n_cells=sum(r.n_cells for r in manifest),
        cog_dir=cog_dir,
        archive=archive,
        sidecars=sidecars,
        uploaded=uploaded,
        timings=timings,
    )


def load_config_yaml(path: str) -> dict:
    """Driver-side YAML job config (reference O26,
    run/utilities/utilities.py:74-89 load_config / readConfigYml — job
    params, never data). Gated: PyYAML may be absent in this image."""
    try:
        import yaml
    except ImportError as exc:  # pragma: no cover - env-dependent
        raise RuntimeError("--config requires PyYAML") from exc
    with open(path) as fh:
        out = yaml.safe_load(fh)
    if not isinstance(out, dict):
        raise ValueError(f"config {path} must be a YAML mapping")
    return out


_ARG_DEFAULTS = {
    "input_dir": None,
    "output_dir": None,
    "final_dir": None,
    "input_file": "timeseries",
    "input_variable": "timeseries",
    "res": 0.005,
    "s3_bucket": None,
}


def main(argv: list[str] | None = None) -> int:
    # argument_default=SUPPRESS: an unset flag is ABSENT from the
    # namespace, so a flag explicitly set to its default value (e.g.
    # --res 0.005) is distinguishable from an unset one — "CLI flags
    # win over YAML" holds for default-valued flags too. Precedence:
    # CLI > YAML > _ARG_DEFAULTS.
    p = argparse.ArgumentParser(
        description=__doc__, argument_default=argparse.SUPPRESS
    )
    p.add_argument("--config", help="YAML file holding any of the flags below")
    p.add_argument("--input-dir")
    p.add_argument("--output-dir")
    p.add_argument("--final-dir")
    p.add_argument("--input-file")
    p.add_argument("--input-variable")
    p.add_argument("--res", type=float)
    p.add_argument("--s3-bucket")
    # every flag except --config must have a _ARG_DEFAULTS entry, or an
    # unset flag would be absent from the namespace (argument_default=
    # SUPPRESS) and blow up with AttributeError at first use
    undeclared = {
        a.dest for a in p._actions if a.dest not in ("help", "config")
    } - _ARG_DEFAULTS.keys()
    assert not undeclared, f"flags missing from _ARG_DEFAULTS: {sorted(undeclared)}"
    args = p.parse_args(argv)
    ns = vars(args)

    config = ns.pop("config", None)
    if config:
        # YAML values bypass argparse's per-flag type= coercion, so a
        # quoted numeric (res: "0.005") would flow through as a string
        # and TypeError deep inside run_pipeline — coerce here with
        # the same converter the CLI flag declares, failing fast
        coerce = {
            a.dest: a.type for a in p._actions if a.type is not None
        }
        for key, val in load_config_yaml(config).items():
            attr = key.replace("-", "_")
            if attr in _ARG_DEFAULTS and attr not in ns:
                conv = coerce.get(attr)
                if conv is not None and val is not None:
                    try:
                        val = conv(val)
                    except (TypeError, ValueError):
                        p.error(f"config {key}: invalid value {val!r}")
                ns[attr] = val
    for key, val in _ARG_DEFAULTS.items():
        ns.setdefault(key, val)
    missing = [k for k in ("input_dir", "output_dir", "final_dir")
               if getattr(args, k) is None]
    if missing:
        p.error(f"missing required: {', '.join(m.replace('_', '-') for m in missing)}")

    # a max variable lives in node_maxes.parquet (table_name), so
    # probing {variable}.parquet would reject every max-variable run
    probe = os.path.join(
        args.input_dir, f"{table_name(args.input_variable)}.parquet")
    nc_path = None
    if not os.path.exists(probe):
        nc_path = os.path.join(args.input_dir, args.input_file)
        if args.input_file.endswith(".nc") and os.path.exists(nc_path):
            # the reference's actual entry point: ONE fort.*.nc carrying
            # mesh + variable (run/adcircTime2cogs.py:148-156), read
            # straight into the record stage, never staged; its header
            # is checked here, before the JVM starts
            try:
                open_nc(nc_path, args.input_variable)
            except ValueError as exc:  # e.g. a mistyped --input-variable
                print(exc, file=sys.stderr)
                return 1
        elif args.input_file.startswith("swan"):
            # the reference's conditional dispatch (O28,
            # run/adcircTime2cogs.py:270-279): missing swan inputs
            # soft-exit
            print(f"swan input {probe} absent; nothing to do", file=sys.stderr)
            return 0
        else:
            print(f"input not found: {probe}", file=sys.stderr)
            return 1

    from adcirctime2cogs_spark.session import get_spark

    spark = get_spark(app_name="adcirctime2cogs_pipeline")
    try:
        result = run_pipeline(
            spark,
            args.input_dir,
            args.output_dir,
            args.final_dir,
            args.input_variable,
            args.res,
            s3_bucket=args.s3_bucket,
            nc_path=nc_path,
        )
    except DuplicateTimestepError as exc:  # two records, one ts
        print(exc, file=sys.stderr)
        return 1
    print(
        f"wrote {result.n_timesteps} COGs ({result.n_cells} cells) to "
        f"{result.cog_dir}; archive {result.archive}"
        + (" (uploaded)" if result.uploaded else "")
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
