#!/usr/bin/env python3
"""Benchmark of the adcirctime2cogs_spark engine.

    python3 perfbench/run.py --workload forecast_series --seed 1 \
        --seconds 12 --trace 0

Workloads (one closed-loop client, Spark ``local[nproc]``):

* ``forecast_series``: repeated CLI jobs ``pipeline.main`` over one
  seeded ``fort.63.nc``: ingest, grid, weights, regrid, one COG per
  timestep, sidecars and the zip.
* ``query_mix``: the registry queries of ``querymix.QUERIES`` in rounds,
  each round in a seeded order, over seeded fixture tables.

Set-up (session start, inputs, then a cold job or round and
``WARMUPS`` warm-up ones) runs once; then jobs or rounds run until
``--seconds`` of them have been timed, finishing the one in progress,
and ``job_s`` is the median of their walls scaled to no steal (see
``time_jobs``). Garbage is collected before every job. Every output
is checked outside the timed region. With ``--trace 1`` timed runs
alternate between untraced and traced, and the per-layer
metrics come from the traced ones. The last stdout line is the JSON
result; the line before it records the environment. Spans go to
``.bench_out/`` at the root of the checkout.
"""

from __future__ import annotations

import argparse
import gc
import json
import math
import os
import random
import shutil
import statistics
import sys
import time
import traceback
from contextlib import contextmanager

T_START = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("forecast_series", "query_mix")
GEO_LAYERS = ("sources.ingest", "plans.grid", "plans.weights",
              "plans.regrid", "sinks.cog", "sinks.sidecar")
MIX_MODULES = ("operators.relational", "operators.dedup",
               "operators.similarity", "operators.textstats",
               "operators.eventwindows", "operators.multimodal")
COUNTED = GEO_LAYERS[:-1] + ("registry.cold",) + MIX_MODULES
# warm-up jobs or rounds after the cold one, per workload: walls fall
# for several more while the JIT compiles, and a cheap mix round can
# afford more of them than a CLI job
WARMUPS = {"forecast_series": 1, "query_mix": 3}
# How much a job slows while the host withholds CPU time from the
# machine (steal): its log wall rises by this much per unit of steal
# share. Fitted within runs on a 4-vCPU VM, steal 0 to 0.25: 151
# forecast jobs of 41 runs, 219 mix rounds of 36 runs.
STEAL_SLOWDOWN = {"forecast_series": 3.1, "query_mix": 2.1}


def per_layer_names() -> list[str]:
    """Every metric a traced run prints; layers a workload does not
    touch read 0."""
    from spans import COUNTERS

    names = ["peak_rss_mb", "session.start_s", "trace.overhead_s",
             "trace.job_self_s", "qps", "query_p50_s", "query_p90_s"]
    names += [f"{layer}_s" for layer in GEO_LAYERS + ("registry.cold",)
              + MIX_MODULES]
    names += ["sources.ingest_mb_per_s", "plans.weights_rows",
              "plans.regrid_rows", "sinks.cog_bytes", "sinks.cog_ratio",
              "sinks.encode_mpx_per_s"]
    names += [f"{span}.{c}" for span in COUNTED for c in COUNTERS]
    return names


def unit_of(name: str) -> str:
    if name == "qps":
        return "1/s"
    if name.endswith("_mb_per_s"):
        return "MB/s"
    if name.endswith("_mpx_per_s"):
        return "Mpx/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_bytes"):
        return "B"
    if name.endswith(("_frac", "_ratio")):
        return "ratio"
    return "count"


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


class Run:
    """Counts attempted and failed operations."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def op(self, fn, *args):
        """(result, ok) of one operation; an exception is a failure."""
        self.attempted += 1
        try:
            return fn(*args), True
        except Exception:
            traceback.print_exc()
            self.failed += 1
            return None, False


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) of /proc/stat: the share of CPU time the host
    withheld from this machine shows how contended a run was."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields)


class Meter:
    """Records the share of the machine's CPU time the host withheld
    (steal) while each job ran."""

    def __init__(self, spark, out: dict):
        self.jvm = spark.sparkContext._jvm
        self.out = out
        out["steals"] = []

    @contextmanager
    def job(self):
        # collect garbage before the job, so that no job pays for the
        # heap an earlier one left behind
        gc.collect()
        self.jvm.System.gc()
        start = cpu_jiffies()
        yield
        steal, total = (b - a for a, b in zip(start, cpu_jiffies()))
        self.out["steals"].append(steal / max(total, 1))


def start_spark(work: str):
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # no hsperfdata file in /tmp: the run writes only inside the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    from adcirctime2cogs_spark.session import get_spark

    return get_spark(app_name="perfbench", extra_conf={
        "spark.ui.showConsoleProgress": "false"})


def stop_spark(spark) -> None:
    """Stop the application, then the gateway JVM, and wait for it."""
    sc = spark.sparkContext
    proc = sc._gateway.proc
    spark.stop()
    sc._gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)


def time_jobs(args, step, out: dict, slowdown: float) -> tuple:
    """Timed phase: ``step(False)`` runs one untraced job and returns its
    wall; with ``--trace 1`` each is followed by a traced ``step(True)``.
    Jobs run until ``--seconds`` of them have been timed.

    On a shared host a job that waits for stolen CPU times the
    neighbours, not the program, and spells of steal last minutes, so
    they move whole runs. Each untraced wall is therefore scaled to no
    steal: ``wall * exp(-slowdown * steal share)``. Returns (steal-scaled
    untraced walls, untraced walls, traced walls)."""
    plain, steals, traced = [], [], []
    while sum(plain) + sum(traced) < args.seconds or not plain or (
            args.trace and not traced):
        plain.append(step(False))
        steals.append(out["steals"][-1])
        if args.trace:
            traced.append(step(True))
    scaled = [w * math.exp(-slowdown * st) for w, st in zip(plain, steals)]
    out["timed_jobs"], out["job_wall_s"] = len(plain), median(plain)
    return scaled, plain, traced


def forecast_series(spark, args, work, run: Run, tracer) -> dict:
    from geo import ForecastSeries

    fs = ForecastSeries(work, args.seed)
    out = {"sizes": fs.sizes(), "walls": []}
    meter = Meter(spark, out)
    k = 0

    def job(traced: bool) -> float:
        nonlocal k
        k += 1
        with meter.job():
            if traced:
                wall, ok = run.op(fs.traced_job, spark, tracer, k)
            else:
                wall, ok = run.op(fs.cli_job, k)
        if ok:
            good, stats = fs.verify(k)
            run.failed += not good
            out.update(stats)
        fs.cleanup(k)
        spark.catalog.clearCache()
        out["walls"].append(wall or 0.0)
        return wall or 0.0

    job(False)  # cold: JIT, codegen, Python workers
    for _ in range(WARMUPS["forecast_series"]):
        job(False)
    out["setup_s"] = time.perf_counter() - T_START
    scaled, plain, traced = time_jobs(
        args, job, out, STEAL_SLOWDOWN["forecast_series"])
    m = {"job_s": median(scaled)}
    if args.trace:
        geo_trace_metrics(tracer, traced, plain, fs, out, m)
    out["metrics"] = m
    return out


def geo_trace_metrics(tracer, traced, plain, fs, out, m) -> None:
    from spans import COUNTERS

    selfs = tracer.self_times()
    by_layer: dict[str, list] = {}
    for s, own in zip(tracer.spans, selfs):
        by_layer.setdefault(s.name, []).append((s, own))
    for layer in GEO_LAYERS:
        spans = by_layer.get(layer, [])
        m[f"{layer}_s"] = median([own for _, own in spans])
        if layer in COUNTED:
            for c in COUNTERS:
                m[f"{layer}.{c}"] = median([s.spark[c] for s, _ in spans])
    m["trace.overhead_s"] = median(traced) - median(plain)
    m["trace.job_self_s"] = median([own for _, own in by_layer["job"]])
    m["sources.ingest_mb_per_s"] = fs.nc_bytes / 2**20 / m["sources.ingest_s"]
    m["plans.weights_rows"] = fs.weights_rows
    m["plans.regrid_rows"] = fs.regrid_rows
    m["sinks.cog_bytes"] = out["cog_bytes"]
    m["sinks.cog_ratio"] = out["cog_ratio"]
    m["sinks.encode_mpx_per_s"] = fs.encode_mpx_per_s()


def query_mix(spark, args, work, run: Run, tracer) -> dict:
    from inputs import write_tables
    from querymix import QUERIES, TABLE_SCALE, QueryMix, module_of

    sf_dir = os.path.join(work, "tables")
    rows = write_tables(sf_dir, args.seed, TABLE_SCALE)
    mix = QueryMix(spark, sf_dir)
    rng = random.Random(args.seed)
    out = {"sizes": {"table_rows": rows, "queries": len(QUERIES)},
           "walls": []}
    meter = Meter(spark, out)

    def check_all() -> None:
        t0 = time.perf_counter()
        for name in QUERIES:
            good, ok = run.op(mix.check, name)
            run.failed += ok and not good
        out["walls"].append(time.perf_counter() - t0)

    lats: list[list[float]] = []  # per-query walls of untraced rounds

    def round_(order, traced: bool, job: int) -> float:
        t0 = time.perf_counter()
        if not traced:
            lats.append([])
        for name in order:
            if traced:
                with tracer.span(module_of(mix.fns[name]), job):
                    run.op(mix.run, name)
            else:
                q0 = time.perf_counter()
                run.op(mix.run, name)
                lats[-1].append(time.perf_counter() - q0)
        wall = time.perf_counter() - t0
        out["walls"].append(wall)
        return wall

    job = 0

    def step(traced: bool) -> float:
        """One round in a seeded order; a traced round is one ``job``
        span with a span per query."""
        nonlocal job
        job += 1
        order = list(QUERIES)
        rng.shuffle(order)
        with meter.job():
            if not traced:
                return round_(order, False, job)
            with tracer.span("job", job) as root:
                round_(order, True, job)
        return root.wall

    # the cold round builds every first plan and records the answers
    if args.trace:
        with tracer.span("registry.cold", 0):
            check_all()
    else:
        check_all()
    for _ in range(WARMUPS["query_mix"]):
        step(False)
    out["setup_s"] = time.perf_counter() - T_START
    scaled, plain, traced = time_jobs(
        args, step, out, STEAL_SLOWDOWN["query_mix"])
    check_all()
    m = {"job_s": median(scaled)}
    if args.trace:
        mix_trace_metrics(tracer, traced, plain, m)
        timed = [x for r in lats[WARMUPS["query_mix"]:] for x in r]
        m["qps"] = len(timed) / sum(plain)
        m["query_p50_s"] = median(timed)
        m["query_p90_s"] = statistics.quantiles(timed, n=10)[-1]
    out["metrics"] = m
    return out


def mix_trace_metrics(tracer, traced, plain, m) -> None:
    from spans import COUNTERS

    cold = next(s for s in tracer.spans if s.name == "registry.cold")
    m["registry.cold_s"] = cold.wall
    for c in COUNTERS:
        m[f"registry.cold.{c}"] = cold.spark[c]
    for mod in MIX_MODULES:
        spans = [s for s in tracer.spans if s.name == mod]
        m[f"{mod}_s"] = median([s.wall for s in spans])
        rounds = {s.job for s in spans}
        for c in COUNTERS:
            # per-round totals of the module's queries, median over rounds
            m[f"{mod}.{c}"] = median([
                sum(s.spark[c] for s in spans if s.job == j)
                for j in rounds])
        if rounds:
            busy = median([sum(s.spark["busy_s"] for s in spans
                               if s.job == j) for j in rounds])
            wall = median([sum(s.wall for s in spans if s.job == j)
                           for j in rounds])
            m[f"{mod}.busy_frac"] = busy / (wall * tracer.cores)
    m["trace.overhead_s"] = median(traced) - median(plain)
    selfs = tracer.self_times()
    m["trace.job_self_s"] = median([
        own for s, own in zip(tracer.spans, selfs) if s.name == "job"])


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "adcirctime2cogs_spark")):
        print(f"engine package not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    from spans import Tracer, peak_rss_mb

    work = os.path.join(ROOT, ".bench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".bench_out")
    os.makedirs(work)
    os.makedirs(out_dir, exist_ok=True)
    load_start = os.getloadavg()[0]
    jiffies_start = cpu_jiffies()
    cwd = os.getcwd()
    os.chdir(work)
    spark = None
    try:
        spark = start_spark(work)
        session_s = time.perf_counter() - T_START
        tracer = Tracer(spark)
        run = Run()
        body = forecast_series if args.workload == "forecast_series" \
            else query_mix
        res = body(spark, args, work, run, tracer)
        m = res["metrics"]
        m["setup_s"] = res["setup_s"]
        # heap growth is left to the JVM, so the high-water mark varies
        # from run to run and has no bound
        m["peak_rss_mb"] = peak_rss_mb(spark.sparkContext)
        import pyspark

        steal, total = (b - a for a, b in zip(jiffies_start, cpu_jiffies()))
        env = {
            "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace,
            "nproc": os.cpu_count(),
            "spark_cores": spark.sparkContext.defaultParallelism,
            "driver_mem": spark.conf.get("spark.driver.memory"),
            "load1_start": load_start, "load1_end": os.getloadavg()[0],
            "cpu_steal_frac": steal / max(total, 1),
            "pyspark": pyspark.__version__, **res["sizes"],
            "job_walls": res["walls"], "job_steal_frac": res["steals"],
            "timed_jobs": res["timed_jobs"],
            "job_wall_s": res["job_wall_s"],
            "peak_rss_mb": m["peak_rss_mb"],
        }
    finally:
        if spark is not None:
            stop_spark(spark)
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        m["session.start_s"] = session_s
        names = per_layer_names()
        spans_path = os.path.join(
            out_dir, f"spans-{args.workload}-{args.seed}.jsonl")
        tracer.dump(spans_path)
        env["spans"] = os.path.relpath(spans_path, ROOT)
    else:
        names = ["setup_s", "job_s"]
    metrics = {n: {"value": float(m.get(n, 0.0)), "unit": unit_of(n)}
               for n in names}
    print(json.dumps({"env": env}))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
