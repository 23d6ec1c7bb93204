"""Run context shared by the workloads: the Spark session, the
span recorder, op accounting, forcing and host diagnostics.

Spans are kept in memory and written out once, at the end of a traced
run.  Each span records its name, its layer, its parent, and both clock
readings: ``perf_counter`` for durations and wall-clock epoch seconds to
line spans up with the job intervals of Spark's event log.
"""

from __future__ import annotations

import os
import resource
import time
from contextlib import contextmanager


class Rows:
    """Pre-collected rows posing as a DataFrame for ``oracle_utils.compare``
    (which only reads ``.columns`` and ``.collect()``), so the Spark side
    of a check is timed apart from the DuckDB side."""

    def __init__(self, df) -> None:
        self.columns = df.columns
        self._rows = df.collect()

    def collect(self):
        return self._rows


class Run:
    """State of one benchmark run: spans, op outcomes, check results."""

    def __init__(self, spark, traced: bool) -> None:
        self.spark = spark
        self.traced = traced
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.attempted = 0
        self.errors: dict[str, str] = {}  # op name -> first failure
        self.op_names: list[str] = []  # op name of every timed op, in order
        self.check_s = 0.0  # oracle-side check time, excluded from setup_s
        self.guard_s = 0.0  # time in the SQL guard during timed ops

    def time_guard(self) -> None:
        """Wrap ``api.is_read_only_sql`` (looked up by ``Engine.sql`` at
        call time) to add its duration inside timed ops to ``guard_s``."""
        from ultimate_data_engineering_project_spark import api

        guard = api.is_read_only_sql

        def timed_guard(sql: str) -> bool:
            t = time.perf_counter()
            try:
                return guard(sql)
            finally:
                if self._stack and self._stack[0]["kind"] == "op":
                    self.guard_s += time.perf_counter() - t

        api.is_read_only_sql = timed_guard

    # --- spans -----------------------------------------------------------
    @contextmanager
    def span(self, name: str, layer: str | None = None, kind: str = "span"):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": f"s{len(self.spans)}",
            "name": name,
            "kind": kind,
            "layer": layer,
            "parent": parent["id"] if parent else None,
            "t0": time.perf_counter(),
            "wall0": time.time(),
        }
        self.spans.append(rec)
        self._stack.append(rec)
        if self.traced:
            self.spark.sparkContext.setJobDescription(rec["id"])
        try:
            yield rec
        finally:
            rec["t1"] = time.perf_counter()
            rec["wall1"] = time.time()
            rec["dur"] = rec["t1"] - rec["t0"]
            self._stack.pop()
            if self.traced:
                self.spark.sparkContext.setJobDescription(
                    self._stack[-1]["id"] if self._stack else None
                )

    @contextmanager
    def op(self, name: str, layer: str, timed: bool = True):
        """One op: a span whose exception is recorded as a failed op
        instead of ending the run.  Untimed ops (warm-up) count neither
        as attempted nor in the latency samples."""
        if timed:
            self.attempted += 1
            self.op_names.append(name)
        with self.span(name, layer, kind="op" if timed else "warm") as rec:
            try:
                yield rec
            except Exception as ex:  # one op failing must not end the run
                rec["error"] = repr(ex)[:300]
                self.errors.setdefault(name, rec["error"])

    def fail(self, name: str, why: str) -> None:
        self.errors.setdefault(name, why[:300])

    def failed(self) -> int:
        return sum(1 for n in self.op_names if n in self.errors)

    def timed_ops(self) -> list[dict]:
        return [s for s in self.spans if s["kind"] == "op"]

    def layer_seconds(self, layer: str) -> float:
        return sum(s["dur"] for s in self.timed_ops() if s["layer"] == layer)

    def check(self, name: str, problems) -> None:
        if problems:
            self.fail(name, "check: " + "; ".join(map(str, problems))[:280])

    def compare(self, name: str, df, con, oracle: str) -> None:
        """Oracle check of one op; only the DuckDB side is excluded
        from the set-up time, the Spark collect is ordinary work."""
        from oracle_utils import compare

        try:
            rows = Rows(df)
            c0 = time.perf_counter()
            self.check(name, compare(rows, con, oracle))
            self.check_s += time.perf_counter() - c0
        except Exception as ex:  # a failing check is a failed op
            self.fail(name, f"check raised {ex!r}")


def warmup_passes(default: int) -> int:
    """Warm-up length; ``PERFBENCH_WARMUP_PASSES`` overrides it for the
    warm-up curve of the steadiness self-check."""
    return int(os.environ.get("PERFBENCH_WARMUP_PASSES", default))


def force(df) -> None:
    """Compute every column of ``df`` without writing or collecting it
    (``count()`` would let Catalyst prune the work away)."""
    df.write.format("noop").mode("overwrite").save()


# --- host diagnostics (recorded, never gating) ---------------------------
def cpu_times() -> tuple[int, int]:
    """(total, steal) jiffies from the aggregate cpu line of /proc/stat."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return 0, 0
    return sum(fields[:8]), fields[7] if len(fields) > 7 else 0


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[0] - before[0]
    return (after[1] - before[1]) / total if total > 0 else 0.0


def python_peak_rss_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def jvm_peak_rss_mb(spark) -> float | None:
    try:
        pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except Exception:  # diagnostics never fail a run
        return None
    return None


def cached_rdds(spark) -> int:
    return int(spark.sparkContext._jsc.getPersistentRDDs().size())
