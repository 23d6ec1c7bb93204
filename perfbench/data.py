"""Seeded input generation for the ``llm_curation`` workload.

The corpus is generated here from the run's seed with NumPy and written
with PyArrow: the program under test only ever sees these files.  It has
the schema and the shape of the package's TPC-H-like test corpora
(``documents``: docs of 10-99 tokens drawn uniformly from a 30-word
vocabulary, 5 % near-duplicates of an earlier doc with one token
replaced by ``dup``, five languages, 20 sources; ``embeddings``: unit
vectors of 64 dimensions with a label out of 10) at the row counts of
the sf0.01 corpus (500 and 500; sf0.1 has 5,000 and 2,000), before a
seeded id-hash subsample keeps 90 % of each table.  One departure: the
test corpora's vectors are uniformly random, these form ten clusters
(the labels), the corpus ``ann_topk_ivf``'s coarse quantizer is built
for; its check requires recall 0.8 against brute force.  The catalog
entries and their DuckDB oracles run on it unchanged.  (The
banking day of ``bank.py`` comes from the package's own ``generator``.)
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_DOCUMENTS, N_EMBEDDINGS, DIM = 500, 500, 64
MIN_TOKENS, MAX_TOKENS = 10, 100  # document length, half-open
NEAR_DUP_SHARE = 0.05
_VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
_LANGS = (["en", "zh", "es", "de", "fr"], [0.41, 0.15, 0.15, 0.14, 0.15])


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _keep_90pct(ids: np.ndarray, seed: int) -> np.ndarray:
    """Seeded id-hash subsample: the 90 % of ids with the smallest
    seeded md5, in id order (an exact share, so every seed gives the
    same row count)."""
    h = [hashlib.md5(f"{seed}:{i}".encode()).hexdigest() for i in ids.tolist()]
    keep = np.argsort(h, kind="stable")[: len(ids) * 9 // 10]
    return ids[np.sort(keep)]


def gen_corpus(out_dir: str, seed: int) -> dict[str, int]:
    """Write ``documents`` and ``embeddings`` into ``out_dir``; returns
    their row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)

    lengths = rng.integers(MIN_TOKENS, MAX_TOKENS, N_DOCUMENTS)
    is_dup = rng.random(N_DOCUMENTS) < NEAR_DUP_SHARE
    is_dup[0] = False
    texts: list[str] = []
    for i in range(N_DOCUMENTS):
        if is_dup[i]:  # near-duplicate of an earlier doc
            toks = texts[int(rng.integers(0, i))].split()
            toks[int(rng.integers(0, len(toks)))] = "dup"
        else:
            toks = rng.choice(_VOCAB, lengths[i]).tolist()
        texts.append(" ".join(toks))
    doc_ids = _keep_90pct(np.arange(N_DOCUMENTS, dtype=np.int64), seed)
    texts = [texts[i] for i in doc_ids.tolist()]
    _write(out_dir, "documents", {
        "doc_id": doc_ids,
        "text": texts,
        "lang": rng.choice(_LANGS[0], len(doc_ids), p=_LANGS[1]).tolist(),
        "source": [f"src{i % 20}" for i in doc_ids.tolist()],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })

    labels = rng.integers(0, 10, N_EMBEDDINGS)
    centroids = rng.standard_normal((10, DIM))
    vecs = centroids[labels] + 0.6 * rng.standard_normal((N_EMBEDDINGS, DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    # vec_id is renumbered 0..n-1 after the subsample: the clustering
    # operators seed k-means from the first k ids and require them dense
    kept = _keep_90pct(np.arange(N_EMBEDDINGS, dtype=np.int64), seed + 1)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(len(kept), dtype=np.int64),
        "embedding": pa.array(
            [v.astype(np.float32) for v in vecs[kept]], pa.list_(pa.float32())
        ),
        "label": pa.array(labels[kept].astype(np.int32)),
    })
    return {"documents": len(doc_ids), "embeddings": len(kept)}


def input_digest(paths: list[str]) -> str:
    """md5 over the bytes of every file under ``paths`` (sorted walk):
    the seeding self-check compares these across runs."""
    h = hashlib.md5()
    for root in sorted(paths):
        for dirpath, dirnames, files in os.walk(root):
            dirnames.sort()
            for f in sorted(files):
                with open(os.path.join(dirpath, f), "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()
