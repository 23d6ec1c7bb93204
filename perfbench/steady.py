#!/usr/bin/env python3
"""Steadiness self-check: repeat the benchmark on one commit and report
how much its figures move.

    python3 perfbench/steady.py --workloads bank_medallion,llm_curation \\
        --seeds 1-10 [--seconds 10] [--traced 2] [--warmup-curve 4]

Run from the repository root.  For every workload it runs one process
per seed, one after another, and prints for each end-to-end metric the
median, the interquartile range as a share of the median (the spread the
acceptance rule bounds) and max/min.  It also:

  * checks seeding: the first seed is run twice and must give identical
    input digests; different seeds must give different ones;
  * with ``--traced N``, makes N traced runs on the first seed, reports
    whether ``spark.jobs``/``stages``/``tasks`` repeat exactly, and the
    tracing overhead (traced ``trace.pass_s`` over untraced ``pass_s``);
  * with ``--warmup-curve K``, makes one run with K warm-up passes and
    prints the time of each, so the warm-up length can be chosen from
    data.

Each run's final JSON line and diagnostics are appended to
``--log`` (default ``.perfbench_steady.jsonl``).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def _seeds(spec: str) -> list[int]:
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def run_once(workload: str, seed: int, seconds: float, trace: int,
             warmup_passes: int | None = None) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    env = dict(os.environ)
    if warmup_passes is not None:
        env["PERFBENCH_WARMUP_PASSES"] = str(warmup_passes)
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, capture_output=True, text=True, env=env, timeout=600)
    wall = time.perf_counter() - t0
    lines = proc.stdout.strip().splitlines()
    diag = next((json.loads(line[len("# diagnostics "):]) for line in lines
                 if line.startswith("# diagnostics ")), {})
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{cmd} exited {proc.returncode}: {proc.stderr[-2000:]}")
    return {"workload": workload, "seed": seed, "trace": trace, "wall_s": wall,
            "result": json.loads(lines[-1]), "diagnostics": diag}


def spread(values: list[float]) -> dict:
    med = statistics.median(values)
    q = statistics.quantiles(values, n=4) if len(values) > 1 else [med, med, med]
    return {"n": len(values), "median": med, "iqr_share": (q[2] - q[0]) / med,
            "max_over_min": max(values) / min(values)}


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workloads", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--traced", type=int, default=0)
    p.add_argument("--warmup-curve", type=int, default=0)
    p.add_argument("--log", default=".perfbench_steady.jsonl")
    args = p.parse_args(argv)
    seeds = _seeds(args.seeds)
    ok = True
    with open(args.log, "a") as log:
        def record(r: dict) -> dict:
            log.write(json.dumps(r) + "\n")
            log.flush()
            return r

        for wl in args.workloads.split(","):
            runs = [record(run_once(wl, s, args.seconds, 0)) for s in seeds]
            again = record(run_once(wl, seeds[0], args.seconds, 0))
            print(f"== {wl}: {len(runs)} untraced runs, seeds {seeds[0]}..{seeds[-1]}")
            for metric in runs[0]["result"]["metrics"]:
                s = spread([r["result"]["metrics"][metric]["value"] for r in runs])
                print(f"  {metric:10s} n={s['n']} median={s['median']:.4f} "
                      f"iqr/median={s['iqr_share']:.3f} max/min={s['max_over_min']:.3f}")
            walls = [r["wall_s"] for r in runs]
            print(f"  wall per run: median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")
            failed = sum(r["result"]["failed"] for r in runs + [again])
            print(f"  failed ops: {failed} of {sum(r['result']['attempted'] for r in runs + [again])}")
            digests = [r["diagnostics"]["input_digest"] for r in runs]
            same = again["diagnostics"]["input_digest"] == digests[0]
            distinct = len(set(digests)) == len(digests)
            print(f"  seeding: same seed same inputs={same}; distinct seeds distinct inputs={distinct}")
            ok &= same and distinct and failed == 0
            if args.traced:
                traced = [record(run_once(wl, seeds[0], args.seconds, 1))
                          for _ in range(args.traced)]
                for k in ("spark.jobs", "spark.stages", "spark.tasks"):
                    vals = [t["result"]["metrics"][k]["value"] for t in traced]
                    print(f"  {k}: {vals} {'repeats' if len(set(vals)) == 1 else 'DIFFERS'}")
                untraced = statistics.median(
                    r["result"]["metrics"]["pass_s"]["value"] for r in runs)
                tp = statistics.median(
                    t["result"]["metrics"]["trace.pass_s"]["value"] for t in traced)
                print(f"  tracing overhead: traced pass_s {tp:.3f} / untraced {untraced:.3f}"
                      f" = {tp / untraced:.3f}")
            if args.warmup_curve:
                r = record(run_once(wl, seeds[0], args.seconds, 0, args.warmup_curve))
                curve = ", ".join(f"{x:.2f}" for x in r["diagnostics"]["warmup_curve_s"])
                print(f"  warm-up curve ({args.warmup_curve} passes): {curve}; "
                      f"then timed passes {[round(x, 2) for x in r['diagnostics']['passes_s']]}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
