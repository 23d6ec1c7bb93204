#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout of this repository.  One process is one
run: it starts the engine's Spark session (``session.get_spark`` on
``local[$SPARK_GRAFT_CPUS]``, default ``nproc``), generates the
workload's inputs from ``--seed``, warms up, then runs timed passes
until ``--seconds`` have passed and the workload's fewest passes are
done, checks the outputs, and prints one JSON
object as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` Spark's event log is enabled in the run's session, every
op's jobs are tagged with its span id, and the metrics are the
per-layer ones.  A ``# diagnostics`` JSON line before it carries the
sample counts, the pass times, each op's median, the warm-up curve, the
input digest and the host diagnostics; those never gate a run.

All scratch state lives under ``.perfbench_work/`` in the checkout and
is deleted before the process exits.
"""

from __future__ import annotations

import time

_T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

PACKAGE = "ultimate_data_engineering_project_spark"
WORKLOADS = ("bank_medallion", "llm_curation")

#: Per-layer metric names, in the order BENCHMARK.json declares them.
PER_LAYER = (
    "session.get_spark_s", "generator.gen_s", "warmup_s",
    "plans.build_s", "plans.force_s", "api.guard_s", "api.sql_s",
    "operators.text_s", "operators.dedup_s", "operators.similarity_s",
    "operators.clustering_s", "operators.classifier_s",
    "sources.ingest_s", "sources.write_s", "sources.landed_ratio",
    "sources.avro_s", "streaming.cdc_batch_s", "streaming.incr_dedup_batch_s",
    "pipelines.silver_s", "pipelines.gold_s", "quality.dq_s", "fraud.alerts_s",
    "tuning.cached_rdds_end", "trace.pass_s",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.tasks_failed",
    "spark.exec_run_s", "spark.exec_cpu_s", "spark.gc_s", "spark.cpu_per_run",
    "spark.shuffle_read_bytes", "spark.shuffle_write_bytes", "spark.spill_bytes",
    "spark.input_bytes", "spark.output_bytes", "spark.python_worker_s",
    "spark.job_busy_s", "spark.driver_only_s",
)
_UNITS = {"_s": "s", "_bytes": "bytes", "_ratio": "ratio", "_run": "ratio"}


def _unit(name: str) -> str:
    for suffix, unit in _UNITS.items():
        if name.endswith(suffix):
            return unit
    return "count"


def _parse(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _prepare_env(root: str, work: str, traced: bool) -> None:
    """Point every scratch location of Python, the JVM and Spark into
    the run's work dir, and make the package importable by Spark's
    Python workers."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    paths = [root, os.path.join(root, "tests")]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        paths + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    sys.path[:0] = paths
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Dderby.system.home={work}"
    submit = [f'--driver-java-options "{java_opts}"',
              f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"]
    if traced:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        submit += [
            "--conf spark.eventLog.enabled=true",
            f"--conf spark.eventLog.dir=file://{log_dir}",
            "--conf spark.eventLog.compress=false",
            "--conf spark.eventLog.rolling.enabled=true",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(submit + ["pyspark-shell"])


def _make_workload(name: str, run, work: str, seed: int):
    if name == "bank_medallion":
        from perfbench.bank import BankMedallion as cls
    else:
        from perfbench.curation import LlmCuration as cls
    return cls(run, work, seed)


def _stop(spark) -> None:
    """Stop the session, then end the JVM and wait for it to exit (it
    exits when its stdin pipe closes); its Python workers go with it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=120)


def main(argv: list[str]) -> int:
    args = _parse(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PACKAGE, "__init__.py")):
        print(f"run from the repository root: no {PACKAGE}/ in {root}", file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        return _bench(args, root, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _bench(args: argparse.Namespace, root: str, work: str) -> int:
    traced = bool(args.trace)
    _prepare_env(root, work, traced)
    import bench  # the repo's bench.py, for its serial host canary

    from perfbench import harness

    c0 = time.perf_counter()
    canary_pre = bench._canary_sec()
    canary_s = time.perf_counter() - c0
    cpu0 = harness.cpu_times()

    from ultimate_data_engineering_project_spark.session import get_spark

    t = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t
    run = harness.Run(spark, traced)
    if traced:
        run.time_guard()
    try:
        wl = _make_workload(args.workload, run, work, args.seed)
        t = time.perf_counter()
        inputs = wl.generate()
        gen_s = time.perf_counter() - t
        from perfbench.data import input_digest

        digest = input_digest(inputs)
        t = time.perf_counter()
        warm_curve = wl.warmup()
        warm_s = time.perf_counter() - t - run.check_s
        setup_s = time.perf_counter() - _T_START - canary_s - run.check_s

        passes: list[float] = []
        deadline = time.perf_counter() + args.seconds
        while len(passes) < wl.max_passes and (
            time.perf_counter() < deadline or len(passes) < wl.min_passes
        ):
            passes.append(wl.timed_pass())
        cached_end = harness.cached_rdds(spark)
        wl.check()
        jvm_rss = harness.jvm_peak_rss_mb(spark)
    finally:
        _stop(spark)
    cpu1 = harness.cpu_times()
    canary_post = bench._canary_sec()

    op_median = {
        n: statistics.median(s["dur"] for s in run.timed_ops() if s["name"] == n)
        for n in sorted(set(run.op_names))
    }
    e2e = {
        "setup_s": (setup_s, 1),
        "pass_s": (statistics.median(passes), len(passes)),
        "op_gmean_s": (statistics.geometric_mean(op_median.values()), len(run.op_names)),
    }
    diagnostics = {
        "workload": args.workload,
        "seed": args.seed,
        "traced": traced,
        "samples": {k: n for k, (_, n) in e2e.items()},
        "passes_s": passes,
        "op_median_s": op_median,
        "warmup_curve_s": warm_curve,
        "setup_parts_s": {"session": session_s, "generate": gen_s, "warmup": warm_s,
                          "canary_excluded": canary_s, "checks_excluded": run.check_s},
        "input_digest": digest,
        "errors": run.errors,
        "host": {
            "canary_pre_s": canary_pre,
            "canary_post_s": canary_post,
            "cpu_steal_share": harness.steal_share(cpu0, cpu1),
            "python_peak_rss_mb": harness.python_peak_rss_mb(),
            "jvm_peak_rss_mb": jvm_rss,
            "cpus": os.environ["SPARK_GRAFT_CPUS"],
        },
    }
    if traced:
        from perfbench.layers import layer_metrics

        values, op_jobs = layer_metrics(run, wl, os.path.join(work, "eventlog"), {
            "session.get_spark_s": session_s, "generator.gen_s": gen_s,
            "warmup_s": warm_s, "tuning.cached_rdds_end": cached_end,
            "trace.pass_s": e2e["pass_s"][0],
        })
        metrics = {k: {"value": values[k], "unit": _unit(k)} for k in PER_LAYER}
        trace_dir = os.path.join(root, ".perfbench_traces")
        os.makedirs(trace_dir, exist_ok=True)
        trace = os.path.join(trace_dir, f"{args.workload}-seed{args.seed}-{os.getpid()}.json")
        with open(trace, "w") as f:
            json.dump({"spans": run.spans, "op_jobs": op_jobs}, f)
        diagnostics["trace_file"] = os.path.relpath(trace, root)
    else:
        metrics = {k: {"value": v, "unit": "s"} for k, (v, _) in e2e.items()}
    failed = run.failed()
    print("# diagnostics " + json.dumps(diagnostics, default=str))
    print(json.dumps({
        "correct": not run.errors,
        "attempted": run.attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
