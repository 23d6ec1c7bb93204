"""llm_curation: one pass of the LLM-data-curation operators over a
seeded corpus.

A pass runs one catalog entry per operator family through
``Engine.catalog_query`` and forces it with the ``noop`` sink, then
feeds the corpus, cut into seeded slices, through
``streaming.pipelines.run_incremental_dedup_stream``.  The first pass
of a run collects every result instead and checks it: against the
entry's DuckDB oracle where it has one, otherwise against an exact
recomputation in NumPy / Python.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow.parquet as pq

from perfbench import data

#: (catalog entry, layer).  One or more per operator module.
ENTRIES = (
    ("docs_quality_scores", "operators.text"),
    ("dedup_clusters", "operators.dedup"),
    ("ann_topk_ivf", "operators.similarity"),
    ("semantic_dedup_pairs", "operators.clustering"),
    ("docs_quality_model_holdout", "operators.classifier"),
    ("avro_embedding_roundtrip", "sources.avro"),
)
STREAM_OP = "incremental_dedup_stream"
#: Slices the incremental stream is fed in, and warm-up passes.
SLICES = 2
WARMUP_PASSES = 1
#: Recall of ``ann_topk_ivf`` against brute force that the check requires.
MIN_IVF_RECALL = 0.8


def _shingles(text: str, n: int = 3) -> set:
    toks = text.split()
    return {tuple(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def _jaccard(a: str, b: str) -> float:
    sa, sb = _shingles(a), _shingles(b)
    return len(sa & sb) / len(sa | sb) if sa | sb else 0.0


class LlmCuration:
    name = "llm_curation"
    min_passes, max_passes = 1, 1_000

    def __init__(self, run, work: str, seed: int) -> None:
        self.run = run
        self.work = work
        self.seed = seed
        self.sf_dir = os.path.join(work, "fixtures")
        self.slice_dir = os.path.join(work, "slices")
        self.passes_run = 0
        self.stream_batches = SLICES
        self.landed_ratio = 0.0  # docs landed in the stream's index / corpus docs

    def generate(self) -> list[str]:
        from ultimate_data_engineering_project_spark.api import Engine

        data.gen_corpus(self.sf_dir, self.seed)
        docs = pq.read_table(os.path.join(self.sf_dir, "documents.parquet"))
        part = np.random.default_rng(self.seed + 3).permutation(docs.num_rows) % SLICES
        os.makedirs(self.slice_dir)
        for k in range(SLICES):
            pq.write_table(
                docs.filter(part == k).select(["doc_id", "text"]),
                os.path.join(self.slice_dir, f"slice-{k}.parquet"),
            )
        self.slice_of = dict(zip(docs["doc_id"].to_pylist(), part.tolist()))
        self.texts = dict(zip(docs["doc_id"].to_pylist(), docs["text"].to_pylist()))
        # catalog entries read their tables by path; no views to register
        self.engine = Engine(self.run.spark)
        return [self.sf_dir]

    def warmup(self) -> list[float]:
        """The first pass collects and checks every result; later ones
        (``PERFBENCH_WARMUP_PASSES`` > 1) force the catalog entries
        only."""
        from oracle_utils import duck_connection

        from perfbench.harness import warmup_passes

        self.con = duck_connection(self.sf_dir)
        return [
            self._pass(timed=False, check=(i == 0), stream=(i == 0))
            for i in range(warmup_passes(WARMUP_PASSES))
        ]

    def timed_pass(self) -> float:
        return self._pass(timed=True, check=False)

    def _pass(self, timed: bool, check: bool, stream: bool = True) -> float:
        import time

        from perfbench.harness import force
        from ultimate_data_engineering_project_spark.plans.catalog import _REGISTRY

        run = self.run
        total = 0.0
        for name, layer in ENTRIES:
            t = time.perf_counter()
            with run.op(name, layer, timed=timed):
                with run.span("build", "plans"):
                    df = self.engine.catalog_query(name, self.sf_dir)
                if check:
                    oracle = _REGISTRY[name].oracle
                    if oracle:
                        run.compare(name, df, self.con, oracle)
                    else:
                        self._check_no_oracle(name, df)
                else:
                    with run.span("force", "plans"):
                        force(df)
            total += time.perf_counter() - t
        if stream:
            total += self._stream(timed, check)
        self.passes_run += 1
        return total

    def _stream(self, timed: bool, check: bool) -> float:
        import time

        from ultimate_data_engineering_project_spark.streaming.pipelines import (
            run_incremental_dedup_stream,
        )

        spark = self.run.spark
        base = os.path.join(self.work, f"stream-{self.passes_run}")
        t = time.perf_counter()
        with self.run.op(STREAM_OP, "streaming.incr_dedup_batch", timed=timed):
            docs = (
                spark.readStream.schema("doc_id BIGINT, text STRING")
                .option("maxFilesPerTrigger", 1)
                .parquet(self.slice_dir)
            )
            q = run_incremental_dedup_stream(
                spark, docs, os.path.join(base, "index"), os.path.join(base, "pairs"),
                os.path.join(base, "checkpoint"),
            )
            q.awaitTermination()
        elapsed = time.perf_counter() - t
        if check:
            self._check_stream(os.path.join(base, "pairs"))
            landed = pq.read_table(os.path.join(base, "index_docs")).num_rows
            self.landed_ratio = landed / len(self.texts)
        shutil.rmtree(base, ignore_errors=True)
        return elapsed

    # --- checks without a SQL oracle --------------------------------------
    def _check_no_oracle(self, name: str, df) -> None:
        if name == "ann_topk_ivf":
            self.run.check(name, self._ann_problems([r.asDict() for r in df.collect()]))
        else:
            self.run.fail(name, "no oracle and no check")

    def _ann_problems(self, rows: list[dict]) -> list[str]:
        """Cosine scores must be exact; recall against brute force at
        least ``MIN_IVF_RECALL``."""
        emb = pq.read_table(os.path.join(self.sf_dir, "embeddings.parquet")).to_pydict()
        ids = np.array(emb["vec_id"])
        vecs = np.array(emb["embedding"], dtype=np.float64)
        vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
        problems, hit, want = [], 0, 0
        for qi in ids[ids < 5]:
            sims = vecs @ vecs[ids == qi][0]
            order = [i for i in np.argsort(-sims) if ids[i] != qi][:5]
            truth = {int(ids[i]) for i in order}
            got = {r["neighbor_id"]: r["cosine_sim"] for r in rows if r["query_id"] == qi}
            hit += len(truth & set(got))
            want += len(truth)
            for nid, cs in got.items():
                if abs(float(sims[ids == nid][0]) - cs) > 1e-4:
                    problems.append(f"query {qi} neighbor {nid}: cosine {cs}")
        if want == 0 or hit / want < MIN_IVF_RECALL:
            problems.append(f"recall {hit}/{want} below {MIN_IVF_RECALL}")
        return problems

    def _check_stream(self, pairs_dir: str) -> None:
        """Every verified pair pairs a doc with one from an earlier slice
        at exact Jaccard >= 0.5; the near-duplicates the generator plants
        across slices must show up."""
        import glob

        files = glob.glob(os.path.join(pairs_dir, "batch=*", "*.parquet"))
        rows = [r for f in files for r in pq.read_table(f).to_pylist()]
        problems = []
        for r in rows:
            a, b = r["new_id"], r["old_id"]
            if self.slice_of[a] == self.slice_of[b] or _jaccard(self.texts[a], self.texts[b]) < 0.5:
                problems.append(f"pair {a},{b}")
        if not rows:
            problems.append("no cross-slice pairs found")
        self.run.check(STREAM_OP, problems[:5])

    def check(self) -> None:
        """Checked in the first (warm-up) pass."""
