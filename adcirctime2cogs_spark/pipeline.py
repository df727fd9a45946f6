"""End-to-end pipeline: the Spark-first equivalent of the reference CLI
(run/adcircTime2cogs.py:242-279 argparse -> main() :121-240).

    mesh tables -> driver arrays -> bbox -> grid spec
      -> weights laid out as row bands, each built once by a task
      node values -> one task per ts: regrid + COG -> mosaic
      sidecars -> zip

On a .nc record variable, one Spark job of one map-only stage in all:
max(timesteps, bands) tasks that build the weight bands and decode,
regrid and write one timestep each. Parquet input and max variables
build the bands in a map-only stage of their own first and add the
groupBy's shuffle stage.

Differences from the reference, by design (SURVEY §3.1 mapping):
- one Spark job regrids and writes every timestep, one task per
  timestep, each regridding its node values against the weights
  arrays and writing its COG (sinks/cog.regrid_nodes), where the
  reference loops over timesteps sequentially (SURVEY P9);
- weights computed once and reused across every timestep (the
  reference rebuilds its interpolator per step, P6). The driver reads
  the mesh tables with pyarrow (sources/mesh.read_mesh_arrays), takes
  the bbox with numpy, lays the raster rows out as bands and writes
  the triangles once as arrays (plans/weights.prepare_band_weights);
  the first task that needs a band rasterizes it in closed form and
  writes its weight arrays, under a per-band file lock
  (plans/weights.ensure_band). No join, no shuffle, no parquet round
  trip; the registry and streaming paths run the same kernel as a
  DataFrame (plans/weights.weights_table);
- input is either the engine-native parquet layout (sources/mesh.py)
  or one fort.*.nc: its mesh becomes parquet tables
  (sources/netcdf.write_static_tables) and its record variable is
  never staged: the driver plans the byte-range splits of each record
  (sources/netcdf.plan_records) and one mapInArrow task per record
  decodes them straight into its regrid and COG
  (sinks/cog.write_cogs_from_netcdf).

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
    build_band_weights,
    prepare_band_weights,
    triangle_arrays,
)
from adcirctime2cogs_spark.sinks.cog import (
    DuplicateTimestepError,
    write_cogs_from_netcdf,
    write_cogs_from_nodes,
)
from adcirctime2cogs_spark.sinks.sidecar import archive_output, write_mosaic_sidecars
from adcirctime2cogs_spark.sources.mesh import load_timeseries, read_mesh_arrays
from adcirctime2cogs_spark.sources.netcdf import (
    AdcircNetCDFDataSource,
    plan_records,
    write_static_tables,
)


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
    (load_bbox / weights / regrid_cog / sidecar_zip) so scale runs can
    attribute cost without re-instrumenting. On a .nc record variable
    the weight bands are built inside the COG stage, so `timings` has
    no `weights` key there and `regrid_cog` covers both.

    The mesh comes from input_dir. The node values are the record
    variable `variable` of the NetCDF file(s) at `nc_path` when given:
    its byte-range splits are planned here, before any Spark job, and
    each timestep is decoded, regridded and written by one task
    (sinks/cog.write_cogs_from_netcdf; two records with one ts raise
    DuplicateTimestepError, a ValueError, before the sidecars and the
    zip, and main exits 1). Otherwise they are the variable's table in
    input_dir (sources/mesh.load_timeseries)."""
    timings: dict[str, float] = {}
    t0 = time.time()
    node_id, lon, lat, elements = read_mesh_arrays(input_dir)
    tris = triangle_arrays(node_id, lon, lat, elements)
    if nc_path is not None:
        records = plan_records(
            nc_path, variable, AdcircNetCDFDataSource._splitter)
    else:
        timeseries = load_timeseries(spark, input_dir, variable)

    bbox = {"lon_min": float(lon.min()), "lon_max": float(lon.max()),  # O7
            "lat_min": float(lat.min()), "lat_max": float(lat.max())}
    spec = grid_spec_from_bbox(bbox, res)  # D4
    timings["load_bbox"] = round(time.time() - t0, 2)
    t0 = time.time()

    cog_dir = os.path.join(output_dir, variable)
    weights_dir = os.path.join(output_dir, "_weights")
    try:
        # O11 + O13-O15, once (P6)
        if nc_path is not None:  # O1-O6 + O16-O17 + O20
            bands = prepare_band_weights(spark, tris, spec, weights_dir)
            manifest = write_cogs_from_netcdf(
                spark, records, variable, bands, spec, cog_dir,
                prefix=variable)
        else:  # O16-O17 + O20
            bands = build_band_weights(spark, tris, spec, weights_dir)
            timings["weights"] = round(time.time() - t0, 2)
            t0 = time.time()
            manifest = write_cogs_from_nodes(
                timeseries, bands, spec, cog_dir, prefix=variable
            ).collect()
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

    # mirror load_timeseries' max-variable dispatch: max vars live in
    # node_maxes.parquet, so probing {variable}.parquet would reject
    # every valid max-variable run at the CLI door
    import re as _re

    probe_name = (
        "node_maxes" if _re.search("max", args.input_variable)
        else args.input_variable
    )
    probe = os.path.join(args.input_dir, f"{probe_name}.parquet")
    nc_input = os.path.join(args.input_dir, args.input_file)
    base_dir = args.input_dir
    record_nc = False
    if not os.path.exists(probe):
        if args.input_file.endswith(".nc") and os.path.exists(nc_input):
            # the reference's actual entry point: ONE fort.*.nc carrying
            # mesh + variable (run/adcircTime2cogs.py:148-156). The mesh
            # (and a time-less max variable) becomes parquet tables under
            # output-dir; a record variable is scanned per timestep
            # straight into the regrid below, never staged.
            base_dir = os.path.join(args.output_dir, "_tables")
            try:
                record_nc = write_static_tables(
                    nc_input, base_dir, args.input_variable
                )
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
            base_dir,
            args.output_dir,
            args.final_dir,
            args.input_variable,
            args.res,
            s3_bucket=args.s3_bucket,
            nc_path=nc_input if record_nc else None,
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
