"""Per-layer metrics of a traced run: span times by layer, joined with
the Spark engine fields the event log attributes to each op's spans.

Only timed ops count; warm-up and check work is left out.
"""

from __future__ import annotations

from collections import defaultdict

from perfbench import eventlog

#: Per-layer metric -> benchmark layer whose timed ops it sums.
OP_LAYERS = {
    "operators.text_s": "operators.text",
    "operators.dedup_s": "operators.dedup",
    "operators.similarity_s": "operators.similarity",
    "operators.clustering_s": "operators.clustering",
    "operators.classifier_s": "operators.classifier",
    "sources.ingest_s": "sources.ingest",
    "sources.avro_s": "sources.avro",
    "pipelines.silver_s": "pipelines.silver",
    "pipelines.gold_s": "pipelines.gold",
    "quality.dq_s": "quality.dq",
    "fraud.alerts_s": "fraud.alerts",
}


def _child_seconds(run, name: str, layer: str | None = None) -> float:
    op_ids = {s["id"] for s in run.timed_ops()}
    return sum(
        s["dur"] for s in run.spans
        if s["parent"] in op_ids and s["name"] == name and layer in (None, s["layer"])
    )


def _per_batch(run, layer: str, batches_per_op: int) -> float:
    n = sum(1 for s in run.timed_ops() if s["layer"] == layer) * batches_per_op
    return run.layer_seconds(layer) / n if n else 0.0


def _owner(run) -> dict[str, dict]:
    """Span id -> the top-level op span it belongs to."""
    by_id = {s["id"]: s for s in run.spans}
    owner = {}
    for s in run.spans:
        top = s
        while top["parent"] is not None:
            top = by_id[top["parent"]]
        owner[s["id"]] = top
    return owner


def attribute(run, jobs: list[dict]) -> dict[str, list[dict]]:
    """Timed op id -> its jobs.  A job tagged with a span id belongs to
    that span's op.  Jobs that carry another description run on threads
    the tag does not reach (a streaming query's micro-batches); the run
    has one client and runs ops one at a time, so such a job belongs to
    the op whose interval holds its submission."""
    owner = _owner(run)
    ops = run.timed_ops()
    out: dict[str, list[dict]] = defaultdict(list)
    for job in jobs:
        op = owner.get(job["description"])
        if op is None:
            op = next((o for o in ops if o["wall0"] <= job["start"] <= o["wall1"]), None)
        if op is not None and op["kind"] == "op":
            out[op["id"]].append(job)
    return out


def layer_metrics(run, workload, log_dir: str, base: dict) -> tuple[dict, dict]:
    """The per-layer metrics, and the Spark jobs attributed to each
    timed op (its span id -> the jobs' event-log fields)."""
    per_op = attribute(run, eventlog.jobs(log_dir))
    engine = dict.fromkeys(eventlog.FIELDS, 0.0)
    driver_only = 0.0
    for op in run.timed_ops():
        for job in per_op[op["id"]]:
            for f in eventlog.FIELDS[:-1]:  # all but job_busy_s, a union
                engine[f] += job[f]
        busy = eventlog.overlap(
            [(j["start"], j["end"]) for j in per_op[op["id"]]], op["wall0"], op["wall1"]
        )
        engine["job_busy_s"] += busy
        driver_only += op["dur"] - busy
    out = dict(base)
    out.update({f"spark.{k}": v for k, v in engine.items()})
    out["spark.driver_only_s"] = driver_only
    out["spark.cpu_per_run"] = (
        engine["exec_cpu_s"] / engine["exec_run_s"] if engine["exec_run_s"] else 0.0
    )
    out.update({m: run.layer_seconds(layer) for m, layer in OP_LAYERS.items()})
    out["plans.build_s"] = _child_seconds(run, "build")
    out["plans.force_s"] = _child_seconds(run, "force", "plans")
    out["sources.write_s"] = _child_seconds(run, "force", "sources.write")
    out["api.sql_s"] = _child_seconds(run, "sql")
    out["api.guard_s"] = run.guard_s
    out["streaming.cdc_batch_s"] = _per_batch(run, "streaming.cdc_batch", 1)
    out["streaming.incr_dedup_batch_s"] = _per_batch(
        run, "streaming.incr_dedup_batch", getattr(workload, "stream_batches", 1)
    )
    out["sources.landed_ratio"] = getattr(workload, "landed_ratio", 0.0)
    return out, dict(per_op)
