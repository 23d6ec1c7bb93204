"""bank_medallion: one simulated banking day, ingested tick by tick
through bronze -> silver -> gold.

The package's seeded generator (``generator.gen_fakestream``) makes the
day's customers, accounts and transactions.  Their ``created_at`` /
``updated_at`` are spread evenly over 24 hours, and the day is cut into
24 hourly ticks.  Each tick runs eleven ops, each a call into a public
function of the package followed by its sink:

  1. ``sources.incremental.ingest_increment`` lands the tick's
     transactions into partitioned bronze parquet;
  2. ``streaming.pipelines.run_cdc_stream`` (availableNow) folds the
     tick's Debezium change feed into the customer table image;
  3. ``pipelines.silver_customers``, ``silver_transactions`` and
     ``account_balances`` are written with ``sinks.write_parquet``;
  4. the five gold dashboards are written the same way;
  5. the dashboard reads the daily-volume table back through the
     guarded ``Engine.sql``.

Warm-up runs a prefix of a throwaway day from a derived seed, in its own
directories.  The timed day starts from empty state and runs tick by
tick; one timed pass is one tick, so a run reports the median tick.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Ticks per simulated day, volumes of the generated day, and the share
#: of earlier customers updated per tick (the reference's churn rate).
TICKS = 24
N_CUSTOMERS, N_ACCOUNTS, N_TRANSACTIONS = 1_200, 150, 6_000
CHURN = 0.15
#: Warm-up ticks (the first pays class loading and JIT), and the
#: fewest timed ticks a run reports a median over.
WARMUP_TICKS = 1
MIN_TIMED_TICKS = 3
_DAY_S = 86_400
#: The dashboard's read of a gold table, through the guarded SQL API.
DASHBOARD_VIEW = "gold_daily_transaction_volume"
DASHBOARD_SQL = (
    f"SELECT transaction_type, SUM(n_transactions) AS n_transactions, "
    f"SUM(total_amount) AS total_amount FROM {DASHBOARD_VIEW} "
    f"GROUP BY transaction_type"
)


def _spread_over_day(table: pa.Table, id_col: str) -> pa.Table:
    """Re-time rows evenly over the day by id (the generator packs
    ``id % 86400`` seconds, so small volumes would all land in the first
    hour); transaction dates keep their late/future offsets."""
    ids = table[id_col].to_numpy()
    base = np.datetime64("2024-01-01T00:00:00", "us")
    new_ts = base + ((ids - 1) * _DAY_S // len(ids)).astype("timedelta64[s]")
    shift = new_ts - table["created_at"].to_numpy()
    out = table
    for col in ("created_at", "updated_at", "transaction_date"):
        if col in table.column_names:
            i = out.column_names.index(col)
            moved = out[col].to_numpy() + shift
            out = out.set_column(i, col, pa.array(moved, type=out.schema.field(col).type))
    return out


class BankDay:
    """Inputs of one simulated day, staged under ``root``."""

    def __init__(self, run, root: str, seed: int) -> None:
        from ultimate_data_engineering_project_spark import generator

        self.root = root
        src = os.path.join(root, "src")
        os.makedirs(src, exist_ok=True)
        triple = generator.gen_fakestream(
            run.spark, N_CUSTOMERS, N_ACCOUNTS, N_TRANSACTIONS, seed=seed
        )
        tables = {}
        for name, df in triple.items():
            t = df.toArrow()
            id_col = {"customers": "customer_id", "transactions": "transaction_id"}
            if name in id_col:
                t = _spread_over_day(t, id_col[name])
            pq.write_table(t, os.path.join(src, f"{name}.parquet"))
            tables[name] = t
        self.paths = {n: os.path.join(src, f"{n}.parquet") for n in tables}
        self.tables = tables
        self.envelopes = self._change_feed(tables["customers"], seed)

    def _change_feed(self, customers: pa.Table, seed: int) -> list[list[dict]]:
        """Per tick: a 'c' envelope per customer created in the tick and
        a 'u' envelope for ~CHURN of the earlier customers, stamped
        inside the tick after every create."""
        rng = np.random.default_rng(seed + 7)
        rows = customers.to_pylist()
        tick_s = _DAY_S // TICKS
        base = np.datetime64("2024-01-01T00:00:00", "s").astype("datetime64[ms]")
        feed: list[list[dict]] = []
        seen: list[dict] = []
        for tick in range(TICKS):
            lo = base + np.timedelta64(tick * tick_s * 1000, "ms")
            hi = lo + np.timedelta64(tick_s * 1000, "ms")
            env = []
            for r in rows:
                ms = np.datetime64(r["created_at"], "ms")
                if lo <= ms < hi:
                    env.append(_envelope("c", None, r, int(ms.astype(np.int64))))
            n_upd = int(round(CHURN * len(seen)))
            for k, i in enumerate(sorted(rng.choice(len(seen), n_upd, replace=False))):
                before = seen[i]
                after = dict(before)
                after["phone"] = f"+1-555-{int(rng.integers(0, 10**7)):07d}"
                stamp = hi - np.timedelta64(n_upd - k, "ms")
                after["updated_at"] = stamp.astype("datetime64[us]").item()
                env.append(_envelope("u", before, after, int(stamp.astype(np.int64))))
                seen[i] = after
            seen.extend(r for r in rows if lo <= np.datetime64(r["created_at"], "ms") < hi)
            feed.append(env)
        return feed


def _envelope(op: str, before: dict | None, after: dict, ts_ms: int) -> dict:
    def img(r):
        return None if r is None else json.dumps(r, default=str)

    return {"op": op, "ts_ms": ts_ms, "before": img(before), "after": img(after)}


class BankMedallion:
    name = "bank_medallion"
    min_passes, max_passes = MIN_TIMED_TICKS, TICKS

    def __init__(self, run, work: str, seed: int) -> None:
        self.run = run
        self.work = work
        self.seed = seed
        self.landed_ratio = 0.0  # rows landed in bronze / source rows, timed ticks
        self.ticks_done = 0  # timed ticks run so far

    def generate(self) -> list[str]:
        self.day = BankDay(self.run, os.path.join(self.work, "day"), self.seed)
        self.warm_day = BankDay(
            self.run, os.path.join(self.work, "warm_day"), self.seed + 100_003
        )
        return [self.day.root, self.warm_day.root]

    def warmup(self) -> list[float]:
        """A prefix of the throwaway day, in its own directories."""
        from perfbench.harness import warmup_passes

        curve = []
        for t in range(warmup_passes(WARMUP_TICKS)):
            if t % TICKS == 0:
                self._reset(self.warm_day, "warm")
            curve.append(self._tick(self.warm_day, "warm", t % TICKS, timed=False))
        return curve

    def timed_pass(self) -> float:
        """The next tick of the timed day, which starts from empty state."""
        if self.ticks_done == 0:
            self._reset(self.day, "timed")
        self.ticks_done += 1
        return self._tick(self.day, "timed", self.ticks_done - 1, timed=True)

    # --- one tick ---------------------------------------------------------
    def _dirs(self, day: BankDay, tag: str) -> dict[str, str]:
        base = os.path.join(day.root, tag)
        return {k: os.path.join(base, k) for k in (
            "bronze", "state", "feed", "image", "checkpoint", "silver", "gold")}

    def _reset(self, day: BankDay, tag: str) -> None:
        shutil.rmtree(os.path.join(day.root, tag), ignore_errors=True)
        self.landed: list[int] = []
        self.watermarks: list = []

    def _tick(self, day: BankDay, tag: str, tick: int, timed: bool) -> float:
        import time

        from pyspark.sql import functions as F

        from perfbench.harness import force
        from ultimate_data_engineering_project_spark import pipelines, quality
        from ultimate_data_engineering_project_spark.api import Engine
        from ultimate_data_engineering_project_spark.schemas import FAKESTREAM_CUSTOMERS
        from ultimate_data_engineering_project_spark.sources import sinks
        from ultimate_data_engineering_project_spark.sources.incremental import (
            WatermarkStore,
            ingest_increment,
        )
        from ultimate_data_engineering_project_spark.streaming.pipelines import (
            cdc_table_image,
            run_cdc_stream,
        )

        run, spark = self.run, self.run.spark
        d = self._dirs(day, tag)
        if tick == 0:
            for p in d.values():
                os.makedirs(p, exist_ok=True)
        # the source system's activity during the tick: its change-feed
        # file appears in the feed directory (outside any op span)
        with open(os.path.join(d["feed"], f"tick={tick:02d}.json"), "w") as f:
            for e in day.envelopes[tick]:
                f.write(json.dumps(e) + "\n")
        tick_end = np.datetime64("2024-01-01T00:00:00", "s") + np.timedelta64(
            (tick + 1) * (_DAY_S // TICKS), "s"
        )
        start = time.perf_counter()

        def op(name, layer):
            return run.op(name, layer, timed=timed)

        store = WatermarkStore(d["state"])
        with op("ingest_transactions", "sources.ingest"):
            live = spark.read.parquet(day.paths["transactions"]).filter(
                F.col("updated_at") < F.lit(str(tick_end)).cast("timestamp_ntz")
            )
            n = ingest_increment(live, "transactions", d["bronze"], store)
            if timed:
                self.landed.append(n)
                self.watermarks.append(store.get("transactions"))
        with op("cdc_customers", "streaming.cdc_batch"):
            q = run_cdc_stream(
                spark, d["feed"], FAKESTREAM_CUSTOMERS, ["customer_id"],
                d["image"], d["checkpoint"],
            )
            q.awaitTermination()

        accounts = spark.read.parquet(day.paths["accounts"])

        def write(name, layer, build):
            path = os.path.join(d["silver" if layer == "pipelines.silver" else "gold"], name)
            with op(name, layer):
                with run.span("build", layer):
                    df = build()
                with run.span("force", "sources.write"):
                    sinks.write_parquet(df, path, mode="overwrite")

        silver = lambda n: spark.read.parquet(os.path.join(d["silver"], n))  # noqa: E731
        write("silver_customers", "pipelines.silver",
              lambda: pipelines.silver_customers(cdc_table_image(spark, d["image"])))
        write("silver_transactions", "pipelines.silver",
              lambda: pipelines.silver_transactions(
                  spark.read.parquet(os.path.join(d["bronze"], "transactions")), accounts))
        write("account_balances", "pipelines.silver",
              lambda: pipelines.account_balances(silver("silver_transactions")))
        write("gold_daily_transaction_volume", "pipelines.gold",
              lambda: pipelines.gold_daily_transaction_volume(silver("silver_transactions")))
        write("gold_customer_acquisition", "pipelines.gold",
              lambda: pipelines.gold_customer_acquisition(silver("silver_customers")))
        write("gold_balance_distribution", "pipelines.gold",
              lambda: pipelines.gold_balance_distribution(
                  silver("account_balances").withColumnRenamed("current_balance", "balance")))
        write("gold_fraud_alerts", "fraud.alerts",
              lambda: pipelines.gold_fraud_alerts(silver("silver_transactions")))
        write("gold_dq_report", "quality.dq",
              lambda: quality.dq_report(
                  silver("silver_customers"), accounts, silver("silver_transactions")))
        with op("dashboard_read", "api"):
            engine = Engine(spark)
            engine.register(DASHBOARD_VIEW, spark.read.parquet(os.path.join(d["gold"], DASHBOARD_VIEW)))
            with run.span("sql", "api"):
                df = engine.sql(DASHBOARD_SQL)
            with run.span("force", "plans"):
                force(df)
        return time.perf_counter() - start

    # --- correctness (untimed, after the timed ticks) --------------------
    def check(self) -> None:
        import duckdb
        from oracle_utils import compare
        from pyspark.sql import functions as F

        from ultimate_data_engineering_project_spark.streaming.pipelines import cdc_table_image

        run, spark, day, ticks = self.run, self.run.spark, self.day, self.ticks_done
        d = self._dirs(day, "timed")
        upd = day.tables["transactions"]["updated_at"].to_numpy()
        tick_s = _DAY_S // TICKS
        base = np.datetime64("2024-01-01T00:00:00", "us")
        edges = [base + np.timedelta64(t * tick_s, "s") for t in range(ticks + 1)]
        expected = [int(((upd >= lo) & (upd < hi)).sum()) for lo, hi in zip(edges, edges[1:])]
        self.landed_ratio = sum(self.landed) / sum(expected)
        if self.landed != expected:
            run.fail("ingest_transactions", f"landed {self.landed} != source {expected}")
        wms = [np.datetime64(w, "us") for w in self.watermarks]
        if any(b <= a for a, b in zip(wms, wms[1:])):
            run.fail("ingest_transactions", f"watermark not increasing: {wms}")
        for t, w in enumerate(wms):
            want = upd[upd < edges[t + 1]].max()
            if w != want:
                run.fail("ingest_transactions", f"tick {t}: watermark {w} != max {want}")

        # CDC image == last-writer-wins over the envelopes, field by field
        lww: dict[int, tuple[int, dict]] = {}
        for env in (e for tick in day.envelopes[:ticks] for e in tick):
            after = json.loads(env["after"])
            cid = after["customer_id"]
            if cid not in lww or env["ts_ms"] > lww[cid][0]:
                lww[cid] = (env["ts_ms"], after)
        image = {r["customer_id"]: r.asDict() for r in cdc_table_image(spark, d["image"]).collect()}
        bad = [c for c, (_, a) in lww.items()
               if c not in image or any(str(image[c][k]) != str(v) for k, v in a.items())]
        if len(image) != len(lww) or bad:
            run.fail("cdc_customers", f"image {len(image)} rows vs {len(lww)}; {len(bad)} differ")

        # gold daily totals == silver counts, per day, == landed source rows
        silver_tx = spark.read.parquet(os.path.join(d["silver"], "silver_transactions"))
        per_day = {
            str(r["day"]): r["n"]
            for r in silver_tx.groupBy(F.to_date("transaction_date").alias("day"))
            .agg(F.count(F.lit(1)).alias("n")).collect()
        }
        gold = spark.read.parquet(os.path.join(d["gold"], DASHBOARD_VIEW))
        gold_day = {
            str(r["day"]): r["n"]
            for r in gold.groupBy("day").agg(F.sum("n_transactions").alias("n")).collect()
        }
        if gold_day != per_day or sum(per_day.values()) != sum(expected):
            run.fail("gold_daily_transaction_volume",
                     f"gold {sum(gold_day.values())} vs silver {sum(per_day.values())} "
                     f"vs source {sum(expected)}")

        # the dashboard read == DuckDB running the same SQL on the gold files
        con = duckdb.connect()
        con.execute(f"CREATE VIEW {DASHBOARD_VIEW} AS SELECT * FROM read_parquet("
                    f"'{os.path.join(d['gold'], DASHBOARD_VIEW)}/*.parquet')")
        run.check("dashboard_read", compare(spark.sql(DASHBOARD_SQL), con, DASHBOARD_SQL))
