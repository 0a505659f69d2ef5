"""MinHash LSH banding emits each candidate pair exactly once, from the
lowest band whose (kept) bucket both documents share: the pair set and
``est_jaccard`` equal a pure-Python banding reference, and no
``(id_a, id_b)`` repeats."""

from __future__ import annotations

from collections import Counter
from itertools import combinations

from xarray_dataaccessor_spark.operators.dedup import (
    lsh_candidate_pairs,
    minhash_near_duplicates,
    minhash_signatures,
    word_shingles,
)

NUM_PERM, ROWS = 16, 2
N_BANDS = NUM_PERM // ROWS


def _bands(sig):
    return [tuple(sig[b * ROWS:(b + 1) * ROWS]) for b in range(N_BANDS)]


def _reference(sigs, max_bucket=None):
    """{(id_a, id_b): (shared kept bands, est_jaccard)} by brute force."""
    size = Counter((b, key) for s in sigs.values() for b, key in enumerate(_bands(s)))
    out = {}
    for a, b in combinations(sorted(sigs), 2):
        shared = [
            i for i, (x, y) in enumerate(zip(_bands(sigs[a]), _bands(sigs[b])))
            if x == y and (max_bucket is None or size[(i, x)] <= max_bucket)
        ]
        if shared:
            agree = sum(x == y for x, y in zip(sigs[a], sigs[b]))
            out[(a, b)] = (shared, agree / NUM_PERM)
    return out


def test_minhash_pairs_once_and_match_reference(spark):
    base = [
        "the spark engine reads the grid table and writes one partition per month "
        "while the stream job merges late rows into the landed parquet files",
        "a query over the customer table joins orders and groups revenue by region "
        "then sorts the result and keeps the top ten rows for the report",
        "hash the shingles of every document and keep the smallest value for each "
        "permutation so similar texts agree on many of the sixteen minimum hashes",
    ]
    rows = []
    for i, text in enumerate(base):
        words = text.split()
        rows.append((10 * i, text))
        rows.append((10 * i + 1, text))  # exact copy: shares all 8 bands
        for j, pos in enumerate((3, 11, 19)):  # edited copies: one word swapped
            edited = words.copy()
            edited[pos] = "zebra"
            rows.append((10 * i + 2 + j, " ".join(edited)))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    sig_df = minhash_signatures(word_shingles(df), NUM_PERM)
    sigs = {
        r["doc_id"]: [r[f"mh{i}"] for i in range(NUM_PERM)] for r in sig_df.collect()
    }
    ref = _reference(sigs)
    n_shared = [len(bands) for bands, _ in ref.values()]
    assert N_BANDS in n_shared  # exact copies
    assert any(0 < n < N_BANDS for n in n_shared)  # edited copies

    got = [(r["id_a"], r["id_b"], r["est_jaccard"]) for r in minhash_near_duplicates(df).collect()]
    pairs = [(a, b) for a, b, _ in got]
    assert len(pairs) == len(set(pairs))  # each pair exactly once
    assert set(pairs) == set(ref)
    for a, b, est in got:
        assert est == ref[(a, b)][1], (a, b)

    only = [(r["id_a"], r["id_b"]) for r in lsh_candidate_pairs(sig_df, NUM_PERM, ROWS).collect()]
    assert len(only) == len(set(only)) and set(only) == set(ref)


def test_dropped_bucket_is_not_a_first_shared_band(spark):
    """Documents 0..9 all fall into one band-0 bucket, which max_bucket=5
    drops. Pair (0, 1) also shares band 3, so it must still surface, once,
    from band 3; pair (2, 3) shares only the dropped bucket and must not."""
    sigs = {}
    for d in range(12):
        sig = [1000 * d + i for i in range(NUM_PERM)]
        if d < 10:
            sig[0:2] = [7, 7]  # band 0: the hot bucket
        sigs[d] = sig
    sigs[1][6:8] = sigs[0][6:8]  # band 3 shared by (0, 1) only
    sigs[11][:] = sigs[10]  # an ordinary exact copy elsewhere
    sig_df = spark.createDataFrame(
        [(d, *s) for d, s in sigs.items()],
        ", ".join(["doc_id long"] + [f"mh{i} long" for i in range(NUM_PERM)]),
    )
    ref = _reference(sigs, max_bucket=5)
    assert set(ref) == {(0, 1), (10, 11)}
    got = [
        (r["id_a"], r["id_b"])
        for r in lsh_candidate_pairs(sig_df, NUM_PERM, ROWS, max_bucket=5).collect()
    ]
    assert sorted(got) == sorted(ref)
    uncapped = [(r["id_a"], r["id_b"]) for r in lsh_candidate_pairs(sig_df, NUM_PERM, ROWS).collect()]
    assert len(uncapped) == len(set(uncapped)) and set(uncapped) == set(_reference(sigs))
