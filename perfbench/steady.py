#!/usr/bin/env python3
"""Steadiness check of the benchmark.

    python3 perfbench/steady.py --runs 10 [--workload query_mix] \
        [--against .bench_out/steady.json]

Runs ``run.py`` once per seed 1..runs on each workload, untraced, for the
``run_seconds`` of ``BENCHMARK.json``, and reports every end-to-end
metric's median and quartiles. The spread is the distance between the
quartiles as a share of the median; it should stay below a third of the
metric's bound. With ``--against`` the medians are also compared with
an earlier summary: none may be worse by more than its bound. The
summary is written to ``.bench_out/steady.json``, after the earlier one
has been read. Exits 1 when a spread exceeds its bound, a median
regressed, or a run failed.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def one_run(workload: str, seed: int, seconds: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         workload, "--seed", str(seed), "--seconds", str(seconds),
         "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-4000:])
        raise RuntimeError(f"{workload} seed {seed} exited {proc.returncode}")
    return json.loads(lines[-1])


def summarize(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "q1": q1, "q3": q3,
            "spread": (q3 - q1) / statistics.median(values),
            "values": values}


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    workloads = [w["name"] for w in bench["workloads"]]
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--workload", action="append", choices=workloads)
    p.add_argument("--against")
    args = p.parse_args()
    metrics = {m["name"]: m for m in bench["end_to_end"]}
    before = {}
    if args.against:
        with open(args.against) as fh:
            before = json.load(fh)

    bad = False
    summary = {}
    for wl in args.workload or workloads:
        results = [one_run(wl, seed, bench["run_seconds"])
                   for seed in range(1, args.runs + 1)]
        bad |= not all(r["correct"] and r["failed"] == 0 for r in results)
        summary[wl] = {}
        for name, spec in metrics.items():
            s = summarize([r["metrics"][name]["value"] for r in results])
            summary[wl][name] = s
            limit = spec["bound"]
            note = "ok" if s["spread"] <= limit / 3 else (
                "wide" if s["spread"] <= limit else "TOO WIDE")
            bad |= s["spread"] > limit
            old = before.get(wl, {}).get(name)
            if old:
                worse = (s["median"] / old["median"] - 1
                         if spec["better"] == "lower"
                         else old["median"] / s["median"] - 1)
                note += f" vs-before {worse:+.3f}"
                if worse > limit:
                    note += " REGRESSED"
                    bad = True
            print(f"{wl:16s} {name:12s} median {s['median']:10.4f} "
                  f"q1 {s['q1']:10.4f} q3 {s['q3']:10.4f} "
                  f"spread {s['spread']:.3f} bound {limit} {note}")
    out = os.path.join(ROOT, ".bench_out", "steady.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as fh:
        json.dump(summary, fh, indent=1)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
