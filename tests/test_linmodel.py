"""Hashed linear quality model (operators/linmodel.py)."""

import hashlib

import pytest
from pyspark.sql import functions as F

from document_extractor_spark.operators.linmodel import (
    bucket_of,
    hashed_linear_score,
    train_hashed_linear,
)
from document_extractor_spark.plans import assert_no_python, physical_plan


def _py_score(text, w, bias=0, bigrams=True):
    """Independent pure-Python reimplementation."""
    if text is None:
        return None
    toks = [t.lower() for t in text.strip().split()]
    toks = [t for t in toks if t]
    feats = list(toks)
    if bigrams and len(toks) >= 2:
        feats += [f"{a}_{b}" for a, b in zip(toks, toks[1:])]
    return bias + sum(w[bucket_of(t, len(w))] for t in feats)


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_score_matches_python_twin(spark):
    dim = 64
    w = [((i * 37) % 401) - 200 for i in range(dim)]
    rows = [
        (0, "the Fast fast query"),
        (1, "slow slow dup"),
        (2, "  "),           # whitespace-only → 0 features, score = bias
        (3, None),           # NULL text → NULL score, not kept
        (4, "single"),       # no bigram possible
    ]
    out = hashed_linear_score(_df(spark, rows), w, bias_milli=7,
                              threshold_milli=0).collect()
    got = {r["doc_id"]: (r["q_n_feats"], r["q_score_milli"], r["q_keep"])
           for r in out}
    for doc_id, text in rows:
        want = _py_score(text, w, bias=7)
        n_toks = len(text.split()) if text else 0
        n_feats = 0 if text is None else (
            n_toks + max(0, n_toks - 1))
        assert got[doc_id][0] == n_feats, doc_id
        assert got[doc_id][1] == want, doc_id
        assert got[doc_id][2] == (want is not None and want >= 0), doc_id


def test_unigram_only_ignores_order(spark):
    dim = 32
    w = [((i * 53) % 201) - 100 for i in range(dim)]
    df = _df(spark, [(0, "alpha beta gamma"), (1, "gamma beta alpha")])
    uni = {r["doc_id"]: r["q_score_milli"]
           for r in hashed_linear_score(df, w, bigrams=False).collect()}
    bi = {r["doc_id"]: r["q_score_milli"]
          for r in hashed_linear_score(df, w, bigrams=True).collect()}
    assert uni[0] == uni[1]          # bag of words: order-free
    assert bi[0] != bi[1]            # bigrams see the order


def test_bucket_function_cross_engine(spark):
    """Spark's conv-bridge bucket (the one the model scores and trains
    with, functions/hashing.md5_bucket) == the Python md5 twin."""
    toks = ["fast", "slow", "naïve", "a_b", ""]
    df = spark.createDataFrame([(t,) for t in toks], "t string")
    from document_extractor_spark.functions.hashing import md5_bucket

    b = md5_bucket(F.md5("t"), 512).cast("int")
    got = {r["t"]: r["b"]
           for r in df.select("t", b.alias("b")).collect()}
    for t in toks:
        assert got[t] == int(
            hashlib.md5(t.encode()).hexdigest()[:8], 16) % 512, t


def test_plan_is_one_narrow_projection(spark):
    """Scoring must be shuffle-free, join-free, Python-free."""
    df = _df(spark, [(0, "x y z")])
    out = hashed_linear_score(df, [1] * 256)
    assert_no_python(out)
    plan = physical_plan(out)
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_weight_vector_guards(spark):
    df = _df(spark, [(0, "x")])
    with pytest.raises(ValueError, match="buckets"):
        hashed_linear_score(df, [])
    with pytest.raises(ValueError, match="buckets"):
        hashed_linear_score(df, [0] * 5000)
    with pytest.raises(ValueError, match="dim"):
        train_hashed_linear(df.withColumn("y", F.lit(True)), "y", dim=0)


def test_training_separates_planted_classes(spark):
    good = [(i, "fast vector query spark excellent signal", True)
            for i in range(20)]
    bad = [(100 + i, "slow dup spam spam casino casino", False)
           for i in range(20)]
    df = spark.createDataFrame(good + bad,
                               "doc_id bigint, text string, y boolean")
    w = train_hashed_linear(df, "y", dim=256)
    assert len(w) == 256
    scored = hashed_linear_score(df, w).collect()
    for r in scored:
        assert r["q_keep"] == (r["doc_id"] < 100), r
    # smoothing: an unseen document scores near zero, not at an extreme
    probe = hashed_linear_score(
        _df(spark, [(0, "zzz qqq")]), w).head()["q_score_milli"]
    assert abs(probe) < 1000 * 4


def test_long_document_is_linear(spark):
    """30k-token hostile doc: the quadratic element_at bigram build
    would take minutes here (9·10^8 token re-evaluations); the
    zip_with build completes in seconds and scores exactly."""
    dim = 64
    w = [((i * 37) % 401) - 200 for i in range(dim)]
    text = " ".join(f"tok{i % 97}" for i in range(30_000))
    out = hashed_linear_score(
        _df(spark, [(0, text)]), w, bias_milli=3).collect()[0]
    assert out["q_n_feats"] == 30_000 + 29_999
    assert out["q_score_milli"] == _py_score(text, w, bias=3)
