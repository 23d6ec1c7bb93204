"""Pins the event-log reader on a tiny committed log (regenerate it with
``make_eventlog_fixture.py``).  Run with

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))

from perfbench import eventlog  # noqa: E402

FIXTURE = os.path.join(HERE, "eventlog_v2_tiny")


def test_groups_jobs_by_description():
    groups = eventlog.read(HERE)  # finds the eventlog_v2_* dir itself
    assert set(groups) == {"q_sql", "q_udf", None}
    assert groups == eventlog.read(FIXTURE)


def test_counts_and_bytes_per_description():
    g = eventlog.read(FIXTURE)
    sql, udf = g["q_sql"], g["q_udf"]
    assert sql["jobs"] >= 1 and sql["stages"] >= 2  # map stage + reduce stage
    assert sql["shuffle_write_bytes"] > 0 and sql["shuffle_read_bytes"] > 0
    assert udf["shuffle_write_bytes"] == 0
    for grp in g.values():
        assert grp["tasks"] >= grp["jobs"] >= 1
        assert grp["tasks_failed"] == 0
        assert grp["exec_run_s"] >= 0 and grp["exec_cpu_s"] >= 0
        assert 0 < grp["job_busy_s"] == eventlog.overlap(grp["intervals"], 0, 1e12)


def test_python_worker_time_only_on_python_nodes():
    g = eventlog.read(FIXTURE)
    udf = g["q_udf"]
    # the pinned "time to run Python workers" total, not start+init+run
    assert udf["python_worker_s"] == 2.955
    assert udf["python_worker_s"] <= udf["exec_run_s"]
    assert g["q_sql"]["python_worker_s"] == 0
    assert g[None]["python_worker_s"] == 0


def test_overlap_clips_and_merges():
    ivs = [(0.0, 2.0), (1.0, 3.0), (5.0, 6.0)]
    assert eventlog.overlap(ivs, 0.0, 10.0) == 4.0
    assert eventlog.overlap(ivs, 1.5, 5.5) == 2.0
    assert eventlog.overlap([], 0.0, 1.0) == 0.0
