"""Trained hashed-token quality classifier (operators/classifier.py):
semantics vs a pure-Python reference, mergeable-statistics invariant,
held-out accuracy above the base rate, and the broadcast scoring plan.
"""

import hashlib
import math

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

from tests.stream_replay import assert_crash_replay
from ultimate_data_engineering_project_spark.operators import classifier

_SETTINGS = dict(
    max_examples=10,
    deadline=None,
    suppress_health_check=[
        HealthCheck.function_scoped_fixture,
        HealthCheck.too_slow,
    ],
)

_STOP = set(
    __import__(
        "ultimate_data_engineering_project_spark.operators.text",
        fromlist=["STOPWORDS"],
    ).STOPWORDS
)


def _py_feature(tok: str, dim: int) -> int:
    return int(hashlib.md5(tok.encode()).hexdigest()[:12], 16) % dim


def _py_features(text: str, dim: int, bigrams: bool = False) -> list[int]:
    """The operator's feature stream: hashed tokens (multiplicity)
    [++ hashed adjacent bigrams] ++ the three structural marker ids."""
    toks = text.split(" ")
    n_tok = len(toks)
    n_stop = sum(1 for t in toks if t in _STOP)
    n_dist = len(set(toks))
    feats = [_py_feature(t, dim) for t in toks]
    if bigrams:
        feats += [
            _py_feature(f"{a} {b}", dim) for a, b in zip(toks, toks[1:])
        ]
    feats.append(dim + min(n_tok // 8, 15))
    feats.append(dim + 16 + min(math.floor(96 * n_stop / n_tok), 31))
    feats.append(dim + 48 + min(math.floor(30 * n_dist / n_tok), 31))
    return feats


def _py_label(text: str) -> int:
    toks = text.split(" ")
    n_tok = len(toks)
    n_stop = sum(1 for t in toks if t in _STOP)
    n_dist = len(set(toks))
    return int(
        n_tok >= 16 and 12 * n_stop <= n_tok and 15 * n_dist >= 7 * n_tok
    )


def _py_model(texts, labels, dim, alpha=1, bigrams=False):
    """Pure-Python NB weights, the operator's exact arithmetic: BIGINT
    counts, the four-log expression, round-half-up to micro-units."""
    from collections import Counter

    c_pos, c_neg = Counter(), Counter()
    for text, y in zip(texts, labels):
        for f in _py_features(text, dim, bigrams=bigrams):
            (c_pos if y else c_neg)[f] += 1
    np_, nn = sum(c_pos.values()), sum(c_neg.values())
    v = dim + classifier.N_MARKER_IDS

    def w(cp, cn):
        x = (
            math.log(cp + alpha)
            - math.log(np_ + alpha * v)
            - math.log(cn + alpha)
            + math.log(nn + alpha * v)
        )
        return math.floor(x * 1e6 + 0.5) if x >= 0 else -math.floor(
            -x * 1e6 + 0.5
        )

    return {
        f: (c_pos.get(f, 0), c_neg.get(f, 0), w(c_pos.get(f, 0), c_neg.get(f, 0)))
        for f in set(c_pos) | set(c_neg)
    }


texts_strategy = st.lists(
    st.tuples(
        st.lists(
            st.sampled_from(["the", "a", "spark", "row", "scan", "b", "zz"]),
            min_size=1,
            max_size=24,
        ).map(" ".join),
        st.integers(min_value=0, max_value=1),
    ),
    min_size=2,
    max_size=12,
)


@given(data=texts_strategy)
@settings(**_SETTINGS)
def test_nb_weights_match_python_reference(spark, data):
    """Trained weights (counts AND micro-quantized log-odds) == a
    pure-Python NB on random small-vocab corpora with random labels —
    dim=32 forces hash collisions, the regime the hashing trick must
    aggregate correctly."""
    dim = 32
    df = spark.createDataFrame(data, "text string, y long")
    # check_sizing=False: these corpora are deliberately tiny (the
    # arithmetic is under test, not the sizing policy — which has its
    # own trip test below)
    weights, _ = classifier.nb_train(
        df, F.col("y"), dim=dim, check_sizing=False
    )
    got = {
        r["feature"]: (r["c_pos"], r["c_neg"], r["weight_micro"])
        for r in weights.collect()
    }
    expect = _py_model([t for t, _ in data], [y for _, y in data], dim)
    assert got == expect


@given(data=texts_strategy)
@settings(**_SETTINGS)
def test_nb_weights_with_bigrams_match_python_reference(spark, data):
    """The WIDENED feature stream (hashed adjacent bigrams into the
    same 0..dim-1 space — the fastText word-ngram recipe) keeps the
    exact-arithmetic contract: trained weights == the pure-Python NB
    with the same bigram hashing, at a collision-forcing dim."""
    dim = 32
    df = spark.createDataFrame(data, "text string, y long")
    weights, _ = classifier.nb_train(
        df, F.col("y"), dim=dim, bigrams=True, check_sizing=False
    )
    got = {
        r["feature"]: (r["c_pos"], r["c_neg"], r["weight_micro"])
        for r in weights.collect()
    }
    expect = _py_model(
        [t for t, _ in data], [y for _, y in data], dim, bigrams=True
    )
    assert got == expect


def test_nb_sizing_guard_trips_on_oversized_dim(spark, sf_dir):
    """The documented at-zero-decision collapse is now ENFORCED: a dim
    whose Laplace mass crowds the corpus token mass raises at model
    time, naming a corpus-fit dim, instead of silently training a
    base-rate predictor (r11 verdict nit #3)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    label = classifier.integer_quality_label()
    with pytest.raises(ValueError, match="headroom|suggest_dim"):
        classifier.nb_train(docs, label, dim=65_536)


def test_nb_sizing_guard_tiny_corpus_advises_no_dim(spark):
    """When even the dim=64 floor cannot satisfy the headroom, the
    guard must say so (grow the corpus / check_sizing=False) instead of
    advising a dim that trips the identical error again — the
    advice-loop the r12 review flagged."""
    df = spark.createDataFrame(
        [(i, "just a few words here") for i in range(10)],
        "doc_id long, text string",
    )
    with pytest.raises(ValueError, match="too small for ANY dim"):
        classifier.nb_train(df, classifier.integer_quality_label(), dim=64)


def test_suggest_dim_is_corpus_derived():
    """suggest_dim: largest power of two holding SIZING_HEADROOM×
    headroom, clamped to [64, 2^20]."""
    assert classifier.suggest_dim(27_939) == 2_048
    assert classifier.suggest_dim(0) == 64
    assert classifier.suggest_dim(10**13) == 2**20
    # the suggested dim itself passes the guard inequality
    for tokens in (5_000, 27_939, 270_704):
        d = classifier.suggest_dim(tokens)
        assert (
            classifier.SIZING_HEADROOM
            * (d + classifier.N_MARKER_IDS)
            <= tokens
        ) or d == 64


def test_null_text_scores_like_empty(spark):
    """A NULL text must not diverge cross-engine (the DuckDB oracle's
    LEAST/CASE branches still emit rows for NULL text): the operator
    reads text through COALESCE(text, ''), so a NULL doc labels 0, is
    NOT dropped by the feature explode, and scores exactly like an
    empty-string doc."""
    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "spark rows scan fast")],
        "doc_id long, text string",
    )
    labels = {
        r["doc_id"]: r["y"]
        for r in df.select(
            "doc_id", classifier.integer_quality_label().alias("y")
        ).collect()
    }
    assert labels[1] == 0 and labels[2] == 0
    weights, stats = classifier.nb_train(
        df, classifier.integer_quality_label(), dim=32, check_sizing=False
    )
    scored = {
        r["doc_id"]: r["score_micro"]
        for r in classifier.nb_score(df, weights, stats, dim=32).collect()
    }
    assert set(scored) == {1, 2, 3}
    assert scored[1] == scored[2]


def test_nb_counts_merge_invariant(spark, sf_dir):
    """The sufficient statistics are MERGEABLE (continuous-aggregate
    discipline): counts from two disjoint halves, merged, give
    bit-identical weights to full-corpus training."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    label = classifier.integer_quality_label()
    dim = 256
    h1 = docs.filter(F.col("doc_id") % 2 == 0)
    h2 = docs.filter(F.col("doc_id") % 2 == 1)
    merged_counts = classifier.merge_nb_counts(
        classifier.nb_token_counts(h1, label, dim=dim),
        classifier.nb_token_counts(h2, label, dim=dim),
    )
    full_counts = classifier.nb_token_counts(docs, label, dim=dim)
    assert (
        merged_counts.exceptAll(full_counts).count() == 0
        and full_counts.exceptAll(merged_counts).count() == 0
    )
    w_merged, _ = classifier.nb_model(
        merged_counts, classifier.nb_doc_counts(docs, label), dim=dim
    )
    w_full, _ = classifier.nb_model(
        full_counts, classifier.nb_doc_counts(docs, label), dim=dim
    )
    assert sorted(map(tuple, w_merged.collect())) == sorted(
        map(tuple, w_full.collect())
    )


def test_holdout_accuracy_beats_base_rate(spark, sf_dir):
    """The distilled model must actually LEARN: held-out accuracy on
    the fixture corpus well above the majority-class base rate
    (measured 0.848 vs 0.664 at sf0.001; pinned with slack — a model
    predicting one class scores exactly the base rate, which is what
    the pre-marker, oversmoothed variants did)."""
    from ultimate_data_engineering_project_spark.plans.catalog import catalog

    rows = (
        catalog()["docs_quality_model_holdout"]
        .fn(spark, sf_dir)
        .select("predicted", "label")
        .collect()
    )
    acc = sum(r.predicted == r.label for r in rows) / len(rows)
    base = max(
        sum(r.label for r in rows), sum(1 - r.label for r in rows)
    ) / len(rows)
    assert acc >= base + 0.10, (acc, base)
    assert acc >= 0.78, acc


def test_score_join_broadcasts_model(spark, sf_dir):
    """Scoring must BROADCAST the <=dim-row model onto the token
    stream — a sort-merge join here would shuffle every token
    occurrence at corpus scale."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    label = classifier.integer_quality_label()
    weights, stats = classifier.nb_train(docs, label, dim=256)
    scored = classifier.nb_score(docs, weights, stats, dim=256)
    p = scored._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p, p


def test_incremental_model_stream_matches_batch(spark, sf_dir, tmp_path):
    """The streamed sufficient statistics derive a model BIT-IDENTICAL
    to one-shot training on the same corpus (exact BIGINT partials —
    the continuous-aggregate contract), and before_batch replays the
    model at a batch boundary == training on just that prefix."""
    from ultimate_data_engineering_project_spark.sources.readers import (
        load_table,
    )
    from ultimate_data_engineering_project_spark.streaming.pipelines import (
        run_incremental_quality_model_stream,
    )

    dim = 256
    docs = load_table(spark, sf_dir, "documents")
    n = docs.count()
    third = n // 3
    src = str(tmp_path / "docs_src")
    for i, (lo, hi) in enumerate(
        [(0, third), (third, 2 * third), (2 * third, n)]
    ):
        docs.filter(
            (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
        ).coalesce(1).write.parquet(src + f"/b{i}")
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/b*")
    )
    counts_dir = str(tmp_path / "nb_counts")
    dstats_dir = str(tmp_path / "nb_dstats")
    q = run_incremental_quality_model_stream(
        spark, stream, counts_dir, dstats_dir, str(tmp_path / "ckpt"),
        dim=dim,
    )
    q.awaitTermination(300)

    label = classifier.integer_quality_label()

    def model_key(pair):
        weights, stats = pair
        return (
            sorted(map(tuple, weights.collect())),
            [tuple(r) for r in stats.collect()],
        )

    inc = classifier.nb_model_from_partials(
        spark, counts_dir, dstats_dir, dim=dim
    )
    full = classifier.nb_train(docs, label, dim=dim)
    assert model_key(inc) == model_key(full)

    # time travel: model as of batch 1 == one-shot train on batch 0
    prefix = classifier.nb_model_from_partials(
        spark, counts_dir, dstats_dir, dim=dim, before_batch=1
    )
    first = classifier.nb_train(
        docs.filter(F.col("doc_id") < third), label, dim=dim
    )
    assert model_key(prefix) == model_key(first)

    # crash replay: the last batch re-run after a crash before its
    # commit overwrites its own partitions with identical rows, so the
    # on-disk partials and the derived model are unchanged
    assert_crash_replay(
        spark,
        q,
        lambda: run_incremental_quality_model_stream(
            spark, stream, counts_dir, dstats_dir, str(tmp_path / "ckpt"),
            dim=dim,
        ),
        str(tmp_path / "ckpt"),
        [counts_dir, dstats_dir],
    )
    replayed = classifier.nb_model_from_partials(
        spark, counts_dir, dstats_dir, dim=dim
    )
    assert model_key(replayed) == model_key(full)
