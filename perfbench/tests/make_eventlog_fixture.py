#!/usr/bin/env python3
"""Regenerate the tiny event-log fixture of ``test_eventlog.py``.

    python3 perfbench/tests/make_eventlog_fixture.py

Runs three small jobs in a local Spark session with an uncompressed
rolling event log: one tagged ``q_sql`` (a shuffle aggregate), one
tagged ``q_udf`` (a pandas UDF, so an ``ArrowEvalPython`` node) and one
untagged count.  It then keeps only the events the reader uses, drops
their bulky fields, and writes the result under
``perfbench/tests/eventlog_v2_tiny/``.
"""


import glob
import json
import os
import shutil
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
OUT = os.path.join(HERE, "eventlog_v2_tiny")
KEEP = {
    "SparkListenerJobStart": ("Event", "Job ID", "Submission Time", "Stage IDs", "Properties"),
    "SparkListenerJobEnd": ("Event", "Job ID", "Completion Time", "Job Result"),
    "SparkListenerStageCompleted": ("Event", "Stage Info"),
    "SparkListenerTaskEnd": ("Event", "Stage ID", "Task End Reason", "Task Info", "Task Metrics"),
    "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart":
        ("Event", "executionId", "sparkPlanInfo", "time"),
    "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate":
        ("Event", "executionId", "sparkPlanInfo"),
    "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates":
        ("Event", "executionId", "accumUpdates"),
}


def _slim_plan(plan: dict) -> dict:
    return {
        "nodeName": plan["nodeName"],
        "metrics": plan.get("metrics", []),
        "children": [_slim_plan(c) for c in plan.get("children", [])],
    }


def _slim(ev: dict) -> dict | None:
    keys = KEEP.get(ev["Event"])
    if keys is None:
        return None
    out = {k: ev[k] for k in keys if k in ev}
    if "Properties" in out:
        out["Properties"] = {k: v for k, v in out["Properties"].items()
                             if k in ("spark.job.description", "spark.sql.execution.id")}
    if "Stage Info" in out:
        out["Stage Info"] = {k: out["Stage Info"][k] for k in ("Stage ID", "Stage Attempt ID")}
    if "Task Info" in out:
        info = out["Task Info"]
        out["Task Info"] = {
            "Task ID": info["Task ID"], "Failed": info["Failed"],
            "Accumulables": [{"ID": a["ID"], "Name": a.get("Name"), "Update": a.get("Update")}
                             for a in info.get("Accumulables", [])],
        }
    if "sparkPlanInfo" in out:
        out["sparkPlanInfo"] = _slim_plan(out["sparkPlanInfo"])
    return out


def main() -> None:
    import pandas as pd
    from pyspark.sql import SparkSession, functions as F

    log_dir = tempfile.mkdtemp()
    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.ui.enabled", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", log_dir)
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "true")
        .config("spark.sql.shuffle.partitions", "2")
        .getOrCreate()
    )
    sc = spark.sparkContext

    @F.pandas_udf("long")
    def plus_one(s: pd.Series) -> pd.Series:
        return s + 1

    sc.setJobDescription("q_sql")
    spark.range(1000).groupBy((F.col("id") % 3).alias("k")).count() \
        .write.format("noop").mode("overwrite").save()
    sc.setJobDescription("q_udf")
    spark.range(1000).select(plus_one("id").alias("x")) \
        .write.format("noop").mode("overwrite").save()
    sc.setJobDescription(None)
    spark.range(10).count()
    spark.stop()

    src = sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*")))[0]
    shutil.rmtree(OUT, ignore_errors=True)
    os.makedirs(OUT)
    for f in sorted(glob.glob(os.path.join(src, "events_*"))):
        with open(f) as fin, open(os.path.join(OUT, "events_1_tiny"), "a") as fout:
            for line in fin:
                slim = _slim(json.loads(line))
                if slim is not None:
                    fout.write(json.dumps(slim) + "\n")
    shutil.rmtree(log_dir)


if __name__ == "__main__":
    main()
