"""Crash-replay check for the incremental ``batch=<id>`` streams."""

import os


def _snapshot(spark, roots):
    """Per output root: its ``batch=`` directory names and every row
    (partition columns included), both order-free."""
    snap = {}
    for root in roots:
        df = spark.read.option("basePath", root).parquet(root)
        snap[root] = (
            sorted(n for n in os.listdir(root) if n.startswith("batch=")),
            sorted(repr(tuple(r)) for r in df.collect()),
        )
    return snap


def assert_crash_replay(spark, q, restart, checkpoint, outputs):
    """Simulate a crash between the last batch's output writes and its
    checkpoint commit, then restart and check the replay is a no-op.

    ``q`` is the finished query, ``restart()`` starts the same stream on
    the same ``checkpoint`` and ``outputs`` are the stream's output
    roots.  Deleting ``commits/<n>`` (and its ``.<n>.crc``) leaves batch
    ``n``'s offsets logged but uncommitted, so the restarted query
    re-runs exactly batch ``n`` over the same input.  The replay must
    show in ``recentProgress`` with batch ``n``'s ``numInputRows``,
    leave every output tree row-for-row as it was and add no
    ``batch=`` directory."""
    commits = os.path.join(checkpoint, "commits")
    n = max(int(f) for f in os.listdir(commits) if f.isdigit())
    rows_n = next(p.numInputRows for p in q.recentProgress if p.batchId == n)
    assert rows_n > 0
    before = _snapshot(spark, outputs)
    os.remove(os.path.join(commits, str(n)))
    crc = os.path.join(commits, f".{n}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    q2 = restart()
    q2.awaitTermination(300)
    assert q2.exception() is None
    assert [(p.batchId, p.numInputRows) for p in q2.recentProgress] == [
        (n, rows_n)
    ]
    assert _snapshot(spark, outputs) == before
