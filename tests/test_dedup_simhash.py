"""SimHash pair operators: the exact-duplicate path must be the
hamming=0 subset of the banded hamming search (the subsumption the fused
`dedup_simhash_hamming` oracle slot relies on)."""

from __future__ import annotations

from pyspark.sql import functions as F

from xarray_dataaccessor_spark.operators.dedup import (
    simhash_duplicate_pairs,
    simhash_hamming_pairs,
)


def _docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),
        (3, "the quick brown fox jumps over the lazy cat"),
        (4, "completely different text with other words entirely"),
        (5, "completely different text with other words entirely"),
        (6, "short"),
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_exact_pairs_equal_hamming_zero_subset(spark):
    df = _docs(spark)
    exact = {
        (r["id_a"], r["id_b"])
        for r in simhash_duplicate_pairs(df).select("id_a", "id_b").collect()
    }
    hamm = simhash_hamming_pairs(df, max_hamming=2)
    zero = {
        (r["id_a"], r["id_b"])
        for r in hamm.filter(F.col("hamming") == 0).select("id_a", "id_b").collect()
    }
    assert exact == zero
    assert (1, 2) in exact and (4, 5) in exact


def test_hamming_pairs_monotone_in_threshold(spark):
    df = _docs(spark)
    p1 = {
        (r["id_a"], r["id_b"])
        for r in simhash_hamming_pairs(df, max_hamming=1).select("id_a", "id_b").collect()
    }
    p3 = {
        (r["id_a"], r["id_b"])
        for r in simhash_hamming_pairs(df, max_hamming=3).select("id_a", "id_b").collect()
    }
    assert p1 <= p3


def test_pair_guard_trips_and_routes(spark):
    """The N² routing guard (SCALE.md's measured knee, enforced):
    a corpus sized to exceed the ceiling raises CandidatePairExplosion
    with the MinHash pointer; auto_route degrades to LSH estimates;
    max_candidate_pairs=None restores the exact audit path."""
    import pytest

    from xarray_dataaccessor_spark.operators.dedup import (
        CandidatePairExplosion,
        jaccard_pairs,
        simhash_duplicate_pairs,
        simhash_hamming_pairs,
    )

    # 40 near-identical docs -> every doc pairs with every other
    rows = [(i, "alpha beta gamma delta epsilon zeta eta theta") for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")

    with pytest.raises(CandidatePairExplosion, match="minhash_near_duplicates"):
        jaccard_pairs(df, max_candidate_pairs=100)
    # the measured count rides on the exception for caller-side logging
    try:
        jaccard_pairs(df, max_candidate_pairs=100)
    except CandidatePairExplosion as e:
        assert e.n_pairs > 100 and e.ceiling == 100

    with pytest.warns(RuntimeWarning, match="auto-routing"):
        routed = jaccard_pairs(df, max_candidate_pairs=100, auto_route=True)
    got = routed.collect()
    assert got and set(routed.columns) == {"id_a", "id_b", "jaccard"}
    assert all(r["jaccard"] >= 0.6 for r in got)

    # exact path: identical docs pair at jaccard 1.0 when un-guarded
    exact = jaccard_pairs(df, max_candidate_pairs=None)
    assert exact.filter(F.col("jaccard") == 1.0).count() == 40 * 39 // 2

    with pytest.raises(CandidatePairExplosion, match="birthday"):
        simhash_duplicate_pairs(df, max_candidate_pairs=100)
    with pytest.raises(CandidatePairExplosion, match="max_hamming"):
        simhash_hamming_pairs(df, max_hamming=2, max_candidate_pairs=100)
    # below the ceiling: results flow, and the guard cache is tracked
    from xarray_dataaccessor_spark.operators.cachectl import release

    release()
    ok = simhash_hamming_pairs(df, max_hamming=2, max_candidate_pairs=10_000)
    assert ok.count() == 40 * 39 // 2
    assert release() == 1


def test_jaccard_prefix_filter_is_exact(spark, sf_dir):
    """r14 (VERDICT r13 #8): the prefix-filtered candidate path must
    emit EXACTLY the full inverted-index join's pair set and values —
    the prefix only prunes candidate GENERATION; verification recounts
    the true intersections. Run both paths over the real corpus shape
    and compare row-exactly."""
    from pyspark.sql import functions as F

    from xarray_dataaccessor_spark.functions.hashing import portable_hash32
    from xarray_dataaccessor_spark.operators.dedup import (
        _pairs_from_occurrences,
        word_shingles,
    )
    from xarray_dataaccessor_spark.sources.tables import load

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    occ = word_shingles(docs, "text", "doc_id", 3).select(
        F.col("doc_id"), portable_hash32(F.col("shingle")).alias("h")
    )
    plain = _pairs_from_occurrences(occ, "doc_id", 0.6, use_prefix=False)
    pref = _pairs_from_occurrences(occ, "doc_id", 0.6, use_prefix=True)
    a = sorted(map(tuple, plain.collect()))
    b = sorted(map(tuple, pref.collect()))
    assert a == b and len(a) > 0
