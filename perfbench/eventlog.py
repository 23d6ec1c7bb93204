"""Reader of Spark's event log, grouped by job description.

Reads the uncompressed log a session writes with
``spark.eventLog.enabled=true`` and ``spark.eventLog.compress=false``:
either a rolling directory (``eventlog_v2_<app>/events_<n>_<app>``) or
a single file.  Jobs are grouped by their ``spark.job.description``
property; the benchmark sets it to the id of the span that started
them.  Per group it returns the ``spark.*`` fields:

    jobs, stages, tasks, tasks_failed, exec_run_s, exec_cpu_s, gc_s,
    shuffle_read_bytes, shuffle_write_bytes, spill_bytes, input_bytes,
    output_bytes, python_worker_s, job_busy_s

plus ``intervals``, the (start, end) epoch seconds of each job, from
which a caller derives the driver-only time of a span.

``python_worker_s`` sums the "time to run Python workers" metric
(start and initialize time included) of the Python evaluation
nodes (``ArrowEvalPython``, ``MapInPandas`` and their kin) in the final
adaptive plan of every SQL execution whose jobs carry the description.

Usage:  python3 perfbench/eventlog.py <event log dir or file>
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys
from collections import defaultdict

FIELDS = (
    "jobs", "stages", "tasks", "tasks_failed", "exec_run_s", "exec_cpu_s",
    "gc_s", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
    "input_bytes", "output_bytes", "python_worker_s", "job_busy_s",
)
#: Physical nodes that run Python workers.
PYTHON_NODES = re.compile(
    r"^(ArrowEvalPython|BatchEvalPython|MapInPandas|MapInArrow|PythonMapInArrow"
    r"|FlatMapGroupsInPandas|FlatMapGroupsInArrow|FlatMapCoGroupsIn\w+"
    r"|AggregateInPandas|WindowInPandas|ArrowWindowPython|ArrowAggregatePython"
    r"|BatchEvalPythonUDTF|ArrowEvalPythonUDTF)"
)
#: Total Python-worker time of a node; it already includes the worker
#: start and initialize times that the node also reports separately.
_PY_TIME = re.compile(r"time to run Python workers")
_SQL = "org.apache.spark.sql.execution.ui."


def log_files(path: str) -> list[str]:
    """Event files of the one application logged under ``path``, in
    write order.  ``path`` may be a log dir, a rolling-log dir or a file."""
    if os.path.isfile(path):
        return [path]
    rolled = sorted(glob.glob(os.path.join(path, "eventlog_v2_*")))
    if rolled:
        path = rolled[0]
    files = [f for f in glob.glob(os.path.join(path, "*")) if os.path.isfile(f)]
    if not files:
        raise FileNotFoundError(f"no event log under {path}")

    def index(f: str) -> int:
        m = re.match(r"events_(\d+)_", os.path.basename(f))
        return int(m.group(1)) if m else 0

    return sorted(files, key=index)


def events(path: str):
    for f in log_files(path):
        with open(f) as fh:
            for line in fh:
                if line.strip():
                    yield json.loads(line)


def _union(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def _python_metric_ids(plan: dict) -> list[tuple[int, str]]:
    found = []
    if PYTHON_NODES.match(plan.get("nodeName", "")):
        for m in plan.get("metrics", []):
            if _PY_TIME.search(m.get("name", "")):
                found.append((m["accumulatorId"], m.get("metricType", "timing")))
    for child in plan.get("children", []):
        found.extend(_python_metric_ids(child))
    return found


def _accum_value(update) -> float:
    try:
        return float(update)
    except (TypeError, ValueError):
        return 0.0


def jobs(path: str) -> list[dict]:
    """One record per job: ``job``, ``description``, ``start``, ``end``
    (epoch seconds) and the ``FIELDS`` (``job_busy_s`` is its duration)."""
    job_desc: dict[int, str | None] = {}
    job_exec: dict[int, int] = {}
    job_span: dict[int, list[float]] = {}
    stage_job: dict[int, int] = {}
    plans: dict[int, dict] = {}  # execution id -> latest (final) plan
    accum: dict[int, float] = defaultdict(float)
    per_job: dict[int, dict] = defaultdict(lambda: dict.fromkeys(FIELDS, 0))

    for ev in events(path):
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            props = ev.get("Properties") or {}
            job_desc[jid] = props.get("spark.job.description")
            if props.get("spark.sql.execution.id") is not None:
                job_exec[jid] = int(props["spark.sql.execution.id"])
            job_span[jid] = [ev["Submission Time"] / 1e3, ev["Submission Time"] / 1e3]
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerJobEnd":
            job_span[ev["Job ID"]][1] = ev["Completion Time"] / 1e3
        elif kind == "SparkListenerStageCompleted":
            sid = ev["Stage Info"]["Stage ID"]
            if sid in stage_job:
                per_job[stage_job[sid]]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            g = per_job[stage_job.get(ev["Stage ID"])]
            info = ev.get("Task Info") or {}
            g["tasks"] += 1
            reason = (ev.get("Task End Reason") or {}).get("Reason", "Success")
            if info.get("Failed") or reason != "Success":
                g["tasks_failed"] += 1
            for a in info.get("Accumulables", []):
                accum[a["ID"]] += _accum_value(a.get("Update"))
            m = ev.get("Task Metrics") or {}
            g["exec_run_s"] += m.get("Executor Run Time", 0) / 1e3
            g["exec_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            g["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            g["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            g["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            g["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            g["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            g["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
        elif kind in (_SQL + "SparkListenerSQLExecutionStart",
                      _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
            plans[ev["executionId"]] = ev["sparkPlanInfo"]
        elif kind == _SQL + "SparkListenerDriverAccumUpdates":
            for aid, value in ev.get("accumUpdates", []):
                accum[aid] += _accum_value(value)

    first_job: dict[int, int] = {}  # execution id -> its first job
    for jid, eid in sorted(job_exec.items()):
        first_job.setdefault(eid, jid)
    for eid, jid in first_job.items():
        for aid, mtype in _python_metric_ids(plans.get(eid, {})):
            scale = 1e9 if mtype == "nsTiming" else 1e3
            per_job[jid]["python_worker_s"] += accum.get(aid, 0.0) / scale
    out = []
    for jid in sorted(job_desc):
        rec = dict(per_job[jid], jobs=1, job=jid, description=job_desc[jid])
        rec["start"], rec["end"] = job_span[jid]
        rec["job_busy_s"] = rec["end"] - rec["start"]
        out.append(rec)
    return out


def read(path: str) -> dict[str | None, dict]:
    """Per job description: the ``FIELDS`` (``job_busy_s`` is the union
    of the job intervals) and the sorted job ``intervals``."""
    groups: dict[str | None, dict] = {}
    for rec in jobs(path):
        g = groups.setdefault(rec["description"], dict.fromkeys(FIELDS, 0))
        for f in FIELDS:
            g[f] += rec[f]
        g.setdefault("intervals", []).append((rec["start"], rec["end"]))
    for g in groups.values():
        g["intervals"].sort()
        g["job_busy_s"] = _union(g["intervals"])
    return groups


def overlap(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    return _union([(max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi])


if __name__ == "__main__":
    for desc, g in sorted(read(sys.argv[1]).items(), key=lambda kv: str(kv[0])):
        print(desc, {k: round(v, 4) if isinstance(v, float) else v
                     for k, v in g.items() if k != "intervals"})
