"""Incremental (append-batch) dedup: a new batch classified against a
LANDED corpus's persisted fingerprints + MinHash signatures, without
recomputing the old side. The contract is equivalence: the incremental
decisions equal a full-corpus rerun restricted to the new ids."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from xarray_dataaccessor_spark.functions.hashing import portable_hash64
from xarray_dataaccessor_spark.operators.dedup import (
    build_dedup_state,
    incremental_dedup,
    minhash_near_duplicates,
)


@pytest.fixture(scope="module")
def corpus_and_batch(spark):
    """Landed corpus (ids 0-49) + append batch (ids 100-119) with planted
    duplicates: exact copies of corpus docs, near-copies (one word
    changed), exact and near dups WITHIN the batch, and fresh docs."""
    base = [
        (i, f"document number {i} talks about topic {i % 7} in long "
            f"rambling sentences with enough words to shingle properly "
            f"plus unique tail {i * 31}")
        for i in range(50)
    ]
    batch = [
        # exact copy of corpus doc 3
        (100, base[3][1]),
        # near copy of corpus doc 7 (one word changed)
        (101, base[7][1].replace("rambling", "winding")),
        # fresh
        (102, "completely novel content about volcanoes and tides with "
              "plenty of additional words for shingles here today"),
        # exact copy of batch doc 102
        (103, "completely novel content about volcanoes and tides with "
              "plenty of additional words for shingles here today"),
        # near copy of batch doc 102
        (104, "completely novel content about volcanoes and waves with "
              "plenty of additional words for shingles here today"),
        # fresh
        (105, "yet another entirely different text on glaciers melting "
              "slowly over geological ages and ice cores drilled deep"),
    ]
    cdf = spark.createDataFrame(base, "doc_id bigint, text string")
    bdf = spark.createDataFrame(batch, "doc_id bigint, text string")
    return cdf, bdf


def test_incremental_matches_full_rerun(spark, corpus_and_batch, tmp_path):
    cdf, bdf = corpus_and_batch
    path = str(tmp_path / "state")
    build_dedup_state(cdf, path, num_perm=16)
    inc = {
        r["doc_id"]: r
        for r in incremental_dedup(
            spark, bdf, path, num_perm=16, rows_per_band=2, threshold=0.5
        ).collect()
    }
    assert set(inc) == {100, 101, 102, 103, 104, 105}

    # full rerun over corpus+batch, restricted to new ids
    full = cdf.unionByName(bdf)
    fp = full.select("doc_id", portable_hash64(F.col("text")).alias("fp"))
    fa, fb = fp.alias("a"), fp.alias("b")
    exact_of = {
        r["id"]: r["dup_of"]
        for r in (
            fa.join(fb, F.col("a.fp") == F.col("b.fp"))
            .filter(F.col("b.doc_id") < F.col("a.doc_id"))
            .groupBy(F.col("a.doc_id").alias("id"))
            .agg(F.min("b.doc_id").alias("dup_of"))
            .collect()
        )
    }
    nd = minhash_near_duplicates(full, num_perm=16, rows_per_band=2)
    near = {}
    for r in nd.filter(F.col("est_jaccard") >= 0.5).collect():
        lo, hi = sorted((r["id_a"], r["id_b"]))
        cur = near.get(hi)
        cand = (r["est_jaccard"], -lo)
        if cur is None or cand > cur:
            near[hi] = cand

    for nid, row in inc.items():
        if nid in exact_of:
            assert row["status"] == "exact_dup", (nid, row)
            assert row["dup_of"] == exact_of[nid]
        elif nid in near:
            assert row["status"] == "near_dup", (nid, row)
            est, neg = near[nid]
            assert row["dup_of"] == -neg and row["est_jaccard"] == est
        else:
            assert row["status"] == "unique", (nid, row)

    # the planted structure itself
    assert inc[100]["status"] == "exact_dup" and inc[100]["dup_of"] == 3
    assert inc[101]["status"] == "near_dup" and inc[101]["dup_of"] == 7
    assert inc[102]["status"] == "unique"
    assert inc[103]["status"] == "exact_dup" and inc[103]["dup_of"] == 102
    assert inc[104]["status"] == "near_dup" and inc[104]["dup_of"] == 102
    assert inc[105]["status"] == "unique"


def test_incremental_never_reads_corpus_text(spark, corpus_and_batch, tmp_path):
    """The whole point of the state: the plan must scan only the
    persisted fingerprint/signature parquet, never the corpus text."""
    cdf, bdf = corpus_and_batch
    path = str(tmp_path / "state2")
    build_dedup_state(cdf, path, num_perm=16)
    out = incremental_dedup(spark, bdf, path, num_perm=16)
    files = out.inputFiles()
    assert files, "expected file-backed state scans"
    assert all("fingerprints" in f or "signatures" in f for f in files), files


def test_substring_dedup_removes_cross_doc_passages(spark):
    """Exact substring dedup (Lee et al.): a verbatim passage pasted
    into several documents survives in exactly one (keep_first) and is
    cut from the rest; distinct text and sub-threshold overlaps are
    untouched; reconstruction preserves token order."""
    from xarray_dataaccessor_spark.operators.dedup import substring_dedup

    boiler = " ".join(f"boiler{i}" for i in range(25))  # 25-token passage
    docs = [
        (1, f"unique head one {boiler} unique tail one"),
        (2, f"other opening words {boiler} and different ending text"),
        (3, "completely independent document with its own twenty words "
            "that nobody else shares at all in any way whatsoever here"),
        # short shared run (5 tokens) — below min_tokens, untouched
        (4, "shared five token run here plus its own padding words one"),
        (5, "shared five token run here plus other padding words two"),
    ]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    out = {r["doc_id"]: r for r in
           substring_dedup(df, min_tokens=20, keep_first=True).collect()}
    # doc 1 (smallest id) keeps the passage
    assert out[1]["n_removed"] == 0
    assert out[1]["cleaned_text"] == docs[0][1]
    # doc 2 loses exactly the 25 passage tokens, order preserved
    assert out[2]["n_removed"] == 25
    assert out[2]["cleaned_text"] == \
        "other opening words and different ending text"
    for d in (3, 4, 5):
        assert out[d]["n_removed"] == 0, d
        assert out[d]["cleaned_text"] == docs[d - 1][1]


def test_substring_dedup_within_one_document(spark):
    """A passage repeated INSIDE one document is also deduplicated:
    the first occurrence stays, the repeat is cut."""
    from xarray_dataaccessor_spark.operators.dedup import substring_dedup

    passage = " ".join(f"p{i}" for i in range(22))
    df = spark.createDataFrame(
        [(1, f"{passage} middle words in between {passage}")],
        "doc_id bigint, text string",
    )
    out = substring_dedup(df, min_tokens=20).collect()[0]
    assert out["n_removed"] == 22
    assert out["cleaned_text"] == f"{passage} middle words in between"


def test_substring_dedup_no_keep_first(spark):
    """keep_first=False removes EVERY occurrence (the scrub-everything
    policy for contaminated passages)."""
    from xarray_dataaccessor_spark.operators.dedup import substring_dedup

    passage = " ".join(f"q{i}" for i in range(21))
    df = spark.createDataFrame(
        [(1, f"aa bb {passage}"), (2, f"{passage} cc dd")],
        "doc_id bigint, text string",
    )
    out = {r["doc_id"]: r for r in
           substring_dedup(df, min_tokens=21, keep_first=False).collect()}
    assert out[1]["cleaned_text"] == "aa bb"
    assert out[2]["cleaned_text"] == "cc dd"


def test_substring_dedup_overlapping_runs_counted_once(spark):
    """Two shared passages separated by a short gap produce overlapping
    removal spans; n_removed must equal the actual token loss (derived
    from the kept set), never a double-counted span-length sum."""
    from xarray_dataaccessor_spark.operators.dedup import substring_dedup

    a = " ".join(f"a{i}" for i in range(20))
    b = " ".join(f"b{i}" for i in range(20))
    # gap of 2 tokens between the passages: the two spans overlap
    docs = [
        (1, f"{a} g1 g2 {b}"),
        (2, f"xx {a} yy {b} zz"),
    ]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    out = {r["doc_id"]: r for r in
           substring_dedup(df, min_tokens=20).collect()}
    assert out[1]["n_removed"] == 0
    assert out[2]["n_removed"] == 40
    assert out[2]["cleaned_text"] == "xx yy zz"
    # conservation: n_tokens - n_removed == len(cleaned tokens)
    for d in (1, 2):
        kept = len(out[d]["cleaned_text"].split())
        assert out[d]["n_tokens"] - out[d]["n_removed"] == kept


def test_state_num_perm_mismatch_is_loud(spark, corpus_and_batch, tmp_path):
    """A state built with fewer permutations than requested must fail
    with an actionable message, not silently mis-join."""
    cdf, bdf = corpus_and_batch
    path = str(tmp_path / "state8")
    build_dedup_state(cdf, path, num_perm=8)
    with pytest.raises(ValueError, match="rebuild the state"):
        incremental_dedup(spark, bdf, path, num_perm=16)


def test_intermediate_caches_tagged_and_releasable(spark):
    """ADVICE r5: long-lived sessions accumulate the operator's internal
    caches — the operator registers them with ``cachectl`` and
    ``release`` frees them after the consuming action."""
    from xarray_dataaccessor_spark.operators.cachectl import (
        release,
        tracked_count,
    )
    from xarray_dataaccessor_spark.functions.hashing import portable_hash64
    from xarray_dataaccessor_spark.operators.dedup import (
        incremental_dedup_frames,
        minhash_signatures,
        word_shingles,
    )

    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "wholly unrelated text here")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(10, "alpha beta gamma delta"), (11, "fresh new content entirely")],
        "doc_id long, text string",
    )
    fps = corpus.select("doc_id", portable_hash64(F.col("text")).alias("fp"))
    sigs = minhash_signatures(word_shingles(corpus, "text", "doc_id", 3), 8, "doc_id")
    release()
    out = incremental_dedup_frames(batch, fps, sigs, num_perm=8)
    rows = out.collect()
    assert len(rows) == 2
    released = release()
    assert released == 2  # nfp + nsig
    assert release() == 0  # idempotent
    assert tracked_count() == 0
