"""Incremental MinHash-LSH index (operators/dedup.py §7)."""

import pytest
from pyspark.sql import functions as F

from document_extractor_spark.operators.dedup import (
    ingest_near_dups,
    minhash_index,
)
from document_extractor_spark.plans import assert_no_python


def _hist(spark):
    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "one two three four five six seven eight nine"),
        (3, "red green blue cyan magenta yellow black white"),
        (4, "alpha beta gamma delta epsilon zeta eta theta"),  # dup of 1
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_clone_dropped_fresh_kept(spark):
    hist = _hist(spark)
    idx = minhash_index(hist)
    new = spark.createDataFrame(
        [
            (100, "alpha beta gamma delta epsilon zeta eta theta"),  # clone
            (101, "totally novel words nowhere in history corpus"),
        ],
        "doc_id bigint, text string")
    got = {r["id"]: (r["best_match_id"], r["jaccard_est"], r["keep"])
           for r in ingest_near_dups(new, idx).collect()}
    # clone: est 1.0; ties between historical dups 1 and 4 break to min
    assert got[100] == (1, 1.0, False)
    assert got[101] == (None, None, True)


def test_near_clone_estimate_between(spark):
    hist = _hist(spark)
    idx = minhash_index(hist)
    # one token changed out of eight: most shingles survive
    new = spark.createDataFrame(
        [(200, "alpha beta gamma delta epsilon zeta eta CHANGED")],
        "doc_id bigint, text string")
    rows = ingest_near_dups(new, idx, threshold=0.99).collect()
    assert len(rows) == 1
    r = rows[0]
    # the mutated tail kills some components but not most
    if r["jaccard_est"] is not None:
        assert 0.0 < r["jaccard_est"] < 1.0
        assert r["best_match_id"] in (1, 4)
        assert r["keep"]          # below the 0.99 bar


def test_index_shape_and_guards(spark):
    hist = _hist(spark)
    idx = minhash_index(hist, k=32, bands=8)
    assert idx.columns == ["band", "band_hash", "id", "sig"]
    assert idx.count() == 4 * 8
    new = hist.limit(1)
    with pytest.raises(ValueError, match="threshold"):
        ingest_near_dups(new, idx, threshold=0.0)
    with pytest.raises(ValueError, match="divide"):
        ingest_near_dups(new, idx, bands=7)


def test_plans_are_jvm_only(spark):
    hist = _hist(spark)
    idx = minhash_index(hist)
    assert_no_python(idx)
    assert_no_python(ingest_near_dups(hist.limit(1), idx))


def test_drop_near_duplicates_keep_by(spark):
    """Quality-aware near-dedup keeps the best cluster member, min id
    on ties; the default path still keeps the min id."""
    from document_extractor_spark.operators.dedup import (
        drop_near_duplicates)

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (1, base, 10),
        (2, base + " tail", 90),             # near-dup of 1, better q
        (3, "unrelated totally different words here now", 50),
        (4, base + " tail2", 90),            # ties with 2 → min id wins
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string, q int")
    best = {r["doc_id"] for r in drop_near_duplicates(
        df, threshold=0.5, keep_by="q").collect()}
    assert best == {2, 3}
    default = {r["doc_id"] for r in drop_near_duplicates(
        df, threshold=0.5).collect()}
    assert default == {1, 3}


def test_drop_near_duplicates_keep_by_null_score_ranks_last(spark):
    """A cluster member with a NULL score never beats a scored one: an
    unscored page has no quality evidence. An all-NULL cluster keeps
    its min id."""
    from document_extractor_spark.operators.dedup import (
        drop_near_duplicates)

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    other = "one two three four five six seven eight nine ten"
    rows = [
        (1, base, None),
        (2, base + " tail", 5),
        (3, other, None),
        (4, other + " tail", None),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string, q int")
    kept = {r["doc_id"] for r in drop_near_duplicates(
        df, threshold=0.5, keep_by="q").collect()}
    assert kept == {2, 3}


def _tokens_doc(prefix, n=200):
    return " ".join(f"{prefix}{i}" for i in range(n))


def test_minhash_signature_components_are_independent(spark):
    """Each of the k components is its own salted min-hash; a 200-token
    doc has (almost surely) k distinct components, not one value."""
    from document_extractor_spark.operators.dedup import (
        minhash_signatures)

    df = spark.createDataFrame([(1, _tokens_doc("w"))],
                               "doc_id bigint, text string")
    sig = minhash_signatures(df, k=32).collect()[0]["sig"]
    assert len(sig) == 32
    assert len(set(sig)) > 1


def test_minhash_finds_prefix_shifted_clone(spark):
    """Two 200-token docs differing only by a one-token prefix share
    198 of 199 shingles (Jaccard ≈ 0.995): LSH must make them a
    candidate pair and verification must keep it."""
    from document_extractor_spark.operators.dedup import (
        minhash_near_duplicates,
        minhash_signatures,
    )

    body = _tokens_doc("w")
    df = spark.createDataFrame([(1, body), (2, "lead " + body)],
                               "doc_id bigint, text string")
    sigs = {r["doc_id"]: r["sig"]
            for r in minhash_signatures(df, k=32).collect()}
    shared = sum(a == b for a, b in zip(sigs[1], sigs[2]))
    assert shared >= 24
    pairs = [(r["id_a"], r["id_b"])
             for r in minhash_near_duplicates(df, threshold=0.8).collect()]
    assert pairs == [(1, 2)]


def test_blank_docs_make_no_hot_lsh_bucket(spark):
    """NULL, empty and whitespace-only docs have no token, so they get
    no signature and no band rows; before, they all shared one
    signature and piled into one bucket per band. Blank and short new
    docs still survive the ingest gate (no evidence → kept)."""
    blanks = ["", None, "   ", "\n\t "]
    rows = ([(i, blanks[i % len(blanks)]) for i in range(200)]
            + [(1000 + i, f"s{i} t{i}") for i in range(50)]
            + [(2000 + i, _tokens_doc(f"d{i}_", 20)) for i in range(5)])
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    idx = minhash_index(df)
    biggest = (idx.groupBy("band", "band_hash").count()
               .agg(F.max("count")).collect()[0][0])
    assert biggest <= 2
    assert idx.select("id").distinct().count() == 55

    new = spark.createDataFrame(
        [(5000, ""), (5001, None), (5002, "   "), (5003, "fresh short")],
        "doc_id bigint, text string")
    got = {r["id"]: (r["best_match_id"], r["keep"])
           for r in ingest_near_dups(new, idx).collect()}
    assert got == {i: (None, True) for i in (5000, 5001, 5002, 5003)}


# ---------------------------------------------------------------------------
# mirror_families
# ---------------------------------------------------------------------------


def test_mirror_families_components(spark):
    from document_extractor_spark.operators.dedup import mirror_families

    rows = [
        # A and B: full mirrors (3 shared texts)
        ("a.com", "text one"), ("a.com", "text two"), ("a.com", "text three"),
        ("b.com", "text one"), ("b.com", "text two"), ("b.com", "text three"),
        # E: subset mirror (containment — 2/2 of its texts are A's)
        ("e.com", "text one"), ("e.com", "text two"),
        # C: 1 of 3 shared with A → 333333 ppm < 500000 → no edge
        # (shares "text three", which E does NOT carry — else the
        # min-side containment rule would link C to the 2-text E at
        # exactly 1/2)
        ("c.com", "text three"), ("c.com", "own c2"), ("c.com", "own c3"),
        # D: disjoint
        ("d.com", "entirely different"),
        (None, "text one"), ("x.com", None),
    ]
    got = {r["host"]: (r["family_id"], r["n_hashes"])
           for r in mirror_families(
               spark.createDataFrame(rows, "source string, text string")
           ).collect()}
    assert got == {
        "a.com": ("a.com", 3),
        "b.com": ("a.com", 3),
        "e.com": ("a.com", 2),
    }


def test_mirror_families_cap_and_guards(spark):
    import pytest as _pt

    from document_extractor_spark.operators.dedup import mirror_families

    # one text on 3 hosts with cap 2 → evidence excluded → no families
    rows = [(h, "mass boilerplate") for h in ("a", "b", "c")]
    df = spark.createDataFrame(rows, "source string, text string")
    assert mirror_families(df, max_hosts_per_hash=2).count() == 0
    with _pt.raises(ValueError, match="overlap_ppm_threshold"):
        mirror_families(df, overlap_ppm_threshold=0)
    with _pt.raises(ValueError, match="max_hosts_per_hash"):
        mirror_families(df, max_hosts_per_hash=1)


def test_mirror_families_text_never_shuffles(spark):
    from document_extractor_spark.operators.dedup import mirror_families
    from document_extractor_spark.plans import physical_plan

    df = spark.createDataFrame(
        [("a", "x" * 40), ("b", "x" * 40)], "source string, text string")
    for line in physical_plan(mirror_families(df)).splitlines():
        if "Exchange" in line:
            assert "text" not in line, line
