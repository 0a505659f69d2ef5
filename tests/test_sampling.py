"""Deterministic sampling / splitting / decontamination operators
(operators/sampling.py): stability, kept-set determinism, planted
contamination, and plan shape (the fact table must not shuffle for a
hash sample)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from xarray_dataaccessor_spark.operators.sampling import (
    BUCKETS,
    deterministic_split,
    hash_bucket,
    ngram_contamination,
    stratified_downsample,
)


def _docs(spark, n=400):
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("lang"), (F.col("id") % 4).cast("string")).alias("lang"),
    )


def test_split_is_stable_under_corpus_growth(spark):
    """A document's split assignment depends only on its id — appending
    rows (the incremental-ingest case) must not flip any assignment."""
    small = deterministic_split(_docs(spark, 200), "doc_id").collect()
    large = deterministic_split(_docs(spark, 400), "doc_id").collect()
    small_map = {r["doc_id"]: r["split"] for r in small}
    large_map = {r["doc_id"]: r["split"] for r in large}
    for k, v in small_map.items():
        assert large_map[k] == v
    # both classes occur, eval rate in the right ballpark (50/1000)
    n_eval = sum(1 for v in large_map.values() if v == "eval")
    assert 0 < n_eval < 60


def test_split_rate_scales_with_per_mille(spark):
    out = deterministic_split(_docs(spark, 400), "doc_id", eval_per_mille=500)
    n_eval = out.filter(F.col("split") == "eval").count()
    assert 140 < n_eval < 260  # ~200 expected, binomial slack


def test_stratified_downsample_to_min(spark):
    # skewed strata: 300 of lang0, 60 of lang1, 40 of lang2
    df = spark.range(400).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < 300, "lang0")
        .when(F.col("id") < 360, "lang1")
        .otherwise("lang2")
        .alias("lang"),
    )
    kept = stratified_downsample(df, "lang", "doc_id").groupBy("lang").count().collect()
    counts = {r["lang"]: r["count"] for r in kept}
    # every stratum lands near the min stratum size (40); binomial slack
    for lang, c in counts.items():
        assert 15 <= c <= 65, counts
    # the smallest stratum keeps (almost) everything: thr = 65536 exactly
    assert counts["lang2"] >= 38


def test_stratified_downsample_deterministic(spark):
    df = _docs(spark, 300)
    a = sorted(r["doc_id"] for r in stratified_downsample(df, "lang").collect())
    b = sorted(r["doc_id"] for r in stratified_downsample(df, "lang").collect())
    assert a == b


def test_stratified_plan_fact_table_never_shuffles(spark):
    """The only Exchange feeding the kept-rows side must be the
    stratum-count aggregation (strata-sized); the fact scan reaches the
    filter through a broadcast join."""
    from xarray_dataaccessor_spark.plans.explain import plan_string

    df = _docs(spark, 300)
    plan = plan_string(stratified_downsample(df, "lang"))
    assert "BroadcastHashJoin" in plan
    # no SortMergeJoin anywhere: a sort-merge would mean the fact table
    # shuffled on the join key
    assert "SortMergeJoin" not in plan


def test_ngram_contamination_planted(spark):
    """A train doc sharing its full text with an eval doc is ~100%
    contaminated; an unrelated doc reports no overlap row."""
    eval_df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today")],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(
        [
            (10, "the quick brown fox jumps over the lazy dog today"),
            (11, "completely different words about spark and parquet files"),
            (12, "prefix words then the quick brown fox jumps over the lazy dog today"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in ngram_contamination(train, eval_df).collect()}
    assert out[10]["contamination"] == pytest.approx(1.0)
    assert 11 not in out  # zero overlap -> not in the actionable set
    assert 0.5 < out[12]["contamination"] < 1.0
    assert out[12]["n_overlap"] == out[10]["n_shingles"]


def test_hash_bucket_range_and_portability(spark):
    """Buckets live in [0, 65536) and reproduce DuckDB's
    ('0x'||substr(md5(x),1,8))::BIGINT % 65536 bit-for-bit."""
    import duckdb

    df = spark.range(50).select(F.col("id").cast("string").alias("s"))
    got = {r["s"]: r["b"] for r in df.select("s", hash_bucket("s").alias("b")).collect()}
    con = duckdb.connect()
    for s, b in got.items():
        want = con.execute(
            f"SELECT ('0x' || substr(md5('{s}'), 1, 8))::BIGINT % 65536"
        ).fetchone()[0]
        assert b == want and 0 <= b < BUCKETS


def test_sequence_packing_deterministic_and_bounded(spark):
    from xarray_dataaccessor_spark.operators.sampling import sequence_packing

    docs = spark.createDataFrame(
        [(i, 50 + (i * 37) % 400) for i in range(500)], "doc_id bigint, n_tok int"
    )
    packed = sequence_packing(docs, "n_tok", budget=1024)
    pdf = packed.toPandas()
    assert len(pdf) == 500
    # deterministic: re-running yields the identical assignment
    pdf2 = sequence_packing(docs, "n_tok", budget=1024).toPandas()
    assert pdf.sort_values("doc_id").reset_index(drop=True).equals(
        pdf2.sort_values("doc_id").reset_index(drop=True)
    )
    # every pack's clamped token mass stays within budget + one doc tail:
    # a pack is a budget-grid cell, so the docs ENDING in it carry at
    # most budget tokens of ends plus the head that started in the
    # previous cell
    sums = pdf.groupby("pack_id")["n_tokens"].sum()
    assert (sums <= 1024 + 449).all()
    # pack_pos is a dense 1..n sequence within each pack
    for _, g in pdf.groupby("pack_id"):
        assert sorted(g["pack_pos"]) == list(range(1, len(g) + 1))


def test_sequence_packing_oversized_doc_isolated(spark):
    from xarray_dataaccessor_spark.operators.sampling import sequence_packing

    docs = spark.createDataFrame(
        [(1, 10), (2, 5000), (3, 10)], "doc_id bigint, n_tok int"
    )
    pdf = sequence_packing(docs, "n_tok", budget=1024, order_col="doc_id").toPandas()
    # the oversized doc is clamped to one full budget cell: it may share
    # its pack with the small doc that precedes it in order, but it can
    # never spill into the FOLLOWING pack
    big_pack = pdf.loc[pdf.doc_id == 2, "pack_id"].iloc[0]
    after = pdf.loc[pdf.doc_id == 3, "pack_id"].iloc[0]
    assert big_pack != after


def test_shuffle_rows_deterministic_permutation(spark):
    from xarray_dataaccessor_spark.operators.sampling import shuffle_rows
    from xarray_dataaccessor_spark.sources.tables import load

    docs = load(spark, "/root/testdata/sf0.001", "documents").select("doc_id")
    a = [r["doc_id"] for r in shuffle_rows(docs, seed=1).collect()]
    b = [r["doc_id"] for r in shuffle_rows(docs, seed=1).collect()]
    c = [r["doc_id"] for r in shuffle_rows(docs, seed=2).collect()]
    assert a == b  # reproducible
    assert sorted(a) == sorted(c)  # a permutation
    assert a != c  # seeds independent
    assert a != sorted(a)  # actually shuffled
    # partition-layout independence: a different input split, same order
    d = [
        r["doc_id"]
        for r in shuffle_rows(docs.repartition(7), seed=1).collect()
    ]
    assert d == a


def test_shard_shuffled_balance_and_coverage(spark):
    from xarray_dataaccessor_spark.operators.sampling import shard_shuffled
    from xarray_dataaccessor_spark.sources.tables import load

    docs = load(spark, "/root/testdata/sf0.001", "documents").select("doc_id")
    n = docs.count()
    out = shard_shuffled(docs, n_shards=8, seed=3)
    sizes = {r["shard"]: r["count"] for r in out.groupBy("shard").count().collect()}
    assert set(sizes) == set(range(8))
    assert sum(sizes.values()) == n
    # hash-mod balance: no shard more than 2x the mean
    assert max(sizes.values()) <= 2 * (n // 8 + 1)


def test_portable_shuffle_matches_duckdb_replay(spark):
    """shuffle_rows(portable=True) keys on the md5-derived hash, so the
    exact permutation is replayable in DuckDB — the cross-engine
    reproducibility contract the xxhash64 fast path cannot offer."""
    import duckdb

    from xarray_dataaccessor_spark.operators.sampling import shuffle_rows

    df = spark.createDataFrame([(i,) for i in range(97)], "doc_id bigint")
    got = [r["doc_id"] for r in shuffle_rows(df, seed=3, portable=True).collect()]
    want = [
        r[0]
        for r in duckdb.connect().execute(
            """
            SELECT doc_id FROM range(97) t(doc_id)
            ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':3'), 1, 15))::BIGINT,
                     doc_id
            """
        ).fetchall()
    ]
    assert got == want
    assert sorted(got) == list(range(97)) and got != list(range(97))


def test_contamination_span_detects_planted_passage(spark):
    """A verbatim eval passage inside a train doc must surface with the
    passage's token length; scattered single-shingle overlap must not."""
    from xarray_dataaccessor_spark.operators.sampling import contamination_spans

    passage = "the quick brown fox jumps over the lazy dog tonight again"
    train = spark.createDataFrame(
        [
            (1, "intro words here " + passage + " trailing text follows now"),
            # only one isolated shared 3-gram ("quick brown fox")
            (2, "some quick brown fox unrelated padding words everywhere"),
            (3, "completely clean text with nothing shared at all today"),
        ],
        "doc_id bigint, text string",
    )
    ev = spark.createDataFrame([(100, passage)], "doc_id bigint, text string")
    out = {r["doc_id"]: r["max_span_tokens"] for r in
           contamination_spans(train, ev).collect()}
    # doc 1 contains the full 11-token passage -> span = 11 tokens
    assert out[1] == len(passage.split())
    # doc 2 shares exactly one 3-gram -> span = 3 tokens
    assert out[2] == 3
    assert 3 not in out


def test_contamination_report_fused_matches_composition(spark):
    """The fused single-pass report's ``'exact'`` rows must agree with
    composing ngram_contamination + contamination_spans (collision-free
    small corpus: distinct-string and distinct-hash counts coincide)."""
    from xarray_dataaccessor_spark.operators.sampling import (
        contamination_report,
        contamination_spans,
        ngram_contamination,
    )

    passage = "the quick brown fox jumps over the lazy dog tonight again"
    train = spark.createDataFrame(
        [
            (1, "intro words here " + passage + " trailing text follows now"),
            (2, "some quick brown fox unrelated padding words everywhere"),
            (3, "completely clean text with nothing shared at all today"),
            # duplicate shingles inside one doc (repeated phrase)
            (4, passage + " and then " + passage),
        ],
        "doc_id bigint, text string",
    )
    ev = spark.createDataFrame([(100, passage)], "doc_id bigint, text string")
    fused = {r["doc_id"]: r for r in contamination_report(train, ev).collect()
             if r["variant"] == "exact"}
    ov = {r["doc_id"]: r for r in ngram_contamination(train, ev).collect()}
    sp = {r["doc_id"]: r["max_span_tokens"] for r in
          contamination_spans(train, ev).collect()}
    assert set(fused) == set(ov) == {1, 2, 4}
    for d in fused:
        assert fused[d]["n_shingles"] == ov[d]["n_shingles"]
        assert fused[d]["n_overlap"] == ov[d]["n_overlap"]
        assert fused[d]["contamination"] == pytest.approx(ov[d]["contamination"])
        assert fused[d]["max_span_tokens"] == sp[d]
    assert fused[1]["max_span_tokens"] == len(passage.split())


def test_mixture_resample_hits_targets_and_is_deterministic(spark):
    """mixture_resample materializes a target mixture: per-stratum token
    mass lands within sampling noise of target * p, up-sampled strata
    replicate with epoch counters, and the (doc, epoch) set is a pure
    function of (id, seed) — identical under any partitioning."""
    import duckdb

    from xarray_dataaccessor_spark.operators.sampling import mixture_resample

    rows = []
    rng = __import__("numpy").random.default_rng(5)
    for i in range(600):
        src = "big" if i < 500 else "small"
        rows.append((i, src, int(rng.integers(50, 150))))
    df = spark.createDataFrame(rows, "doc_id bigint, source string, tok bigint")
    w = spark.createDataFrame(
        [("big", 0.5), ("small", 0.5)], "source string, p double"
    )
    out = mixture_resample(df, w, "tok", total_tokens=100_000)
    agg = {r["source"]: r["t"] for r in
           out.groupBy("source").agg(F.sum("tok").alias("t")).collect()}
    for s in ("big", "small"):
        assert abs(agg[s] - 50_000) / 50_000 < 0.1, agg
    # 'small' holds ~1/6 of tokens but gets 1/2 of the target: upsampled
    epochs = out.filter(F.col("source") == "small").agg(
        F.max("epoch")
    ).collect()[0][0]
    assert epochs >= 1
    a = sorted((r["doc_id"], r["epoch"]) for r in out.collect())
    b = sorted(
        (r["doc_id"], r["epoch"])
        for r in mixture_resample(
            df.repartition(13), w, "tok", total_tokens=100_000
        ).collect()
    )
    assert a == b
    # DuckDB replay of the per-(doc, copy) decision: same kept multiset
    con = duckdb.connect()
    con.register("docs", df.toPandas())
    got = con.execute("""
        WITH tot AS (SELECT source, SUM(tok) AS st FROM docs GROUP BY source),
        r AS (SELECT source, 0.5 * 100000 / st AS r FROM tot),
        d AS (SELECT d.*, r.r,
                     ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':0'), 1, 8))::BIGINT % 65536 AS b
              FROM docs d JOIN r USING (source)),
        n AS (SELECT *, CAST(floor(r) AS INT) +
                     CASE WHEN b < (r - floor(r)) * 65536 THEN 1 ELSE 0 END AS nc
              FROM d)
        SELECT doc_id, unnest(range(nc)) AS epoch FROM n WHERE nc > 0
    """).fetchall()
    assert sorted(got) == a


def test_mixture_resample_missing_stratum_errors(spark):
    """ADVICE r5: a stratum present in the corpus but absent from the
    weights table must raise, not be silently dropped; a zero-token
    stratum must raise, not produce an inf rate."""
    from xarray_dataaccessor_spark.operators.sampling import mixture_resample

    df = spark.createDataFrame(
        [(1, "en", 100), (2, "fr", 50), (3, "de", 70)],
        "doc_id long, source string, n_tokens long",
    )
    w = spark.createDataFrame([("en", 0.6), ("fr", 0.4)], "source string, p double")
    out = mixture_resample(df, w, "n_tokens", total_tokens=200)
    with pytest.raises(Exception, match="absent from weights: de"):
        out.collect()

    zero = spark.createDataFrame(
        [(1, "en", 0)], "doc_id long, source string, n_tokens long"
    )
    w2 = spark.createDataFrame([("en", 1.0)], "source string, p double")
    with pytest.raises(Exception, match="zero token mass: en"):
        mixture_resample(zero, w2, "n_tokens", total_tokens=100).collect()

    # symmetric direction (ADVICE r6): a weight stratum with no corpus
    # rows means its target mass is undeliverable — raise, don't
    # silently under-deliver
    w3 = spark.createDataFrame(
        [("en", 0.5), ("fr", 0.3), ("de", 0.1), ("zz", 0.1)],
        "source string, p double",
    )
    with pytest.raises(Exception, match="absent from corpus: zz"):
        mixture_resample(df, w3, "n_tokens", total_tokens=200).collect()


def _dsir_corpus(spark):
    """20 'science'-flavored target-like docs + 20 'spam'-flavored docs,
    deterministic wording."""
    sci = [
        (
            i,
            "the experiment measured the reaction rate under controlled "
            f"temperature conditions trial {i}",
            "en",
        )
        for i in range(20)
    ]
    spam = [
        (
            100 + i,
            f"buy cheap deals now click here winner {i} free offer bonus",
            "xx",
        )
        for i in range(20)
    ]
    return spark.createDataFrame(
        sci + spam, "doc_id bigint, text string, lang string"
    )


def test_dsir_weights_prefer_target_like_docs(spark):
    from xarray_dataaccessor_spark.operators.sampling import (
        dsir_importance_weights,
    )

    docs = _dsir_corpus(spark)
    target = docs.filter(F.col("lang") == "en").select("doc_id")
    w = dsir_importance_weights(docs, target, n_buckets=512, orders=(1,))
    rows = {r["doc_id"]: float(r["dsir_logw"]) for r in w.collect()}
    assert len(rows) == 40  # one weight per doc, including non-target
    sci_min = min(rows[i] for i in range(20))
    spam_max = max(rows[100 + i] for i in range(20))
    assert sci_min > spam_max  # target-like docs strictly outrank spam
    # bigram path runs and stays one-row-per-doc
    w2 = dsir_importance_weights(docs, target, n_buckets=512, orders=(1, 2))
    assert w2.count() == 40


def test_dsir_select_deterministic_and_ranked(spark):
    from xarray_dataaccessor_spark.operators.sampling import dsir_select

    docs = _dsir_corpus(spark)
    target = docs.filter(F.col("lang") == "en").select("doc_id")
    sel = dsir_select(docs, target, k=10, n_buckets=512, orders=(1,))
    got = sorted(
        (r["dsir_rank"], r["doc_id"]) for r in sel.collect()
    )
    assert [rk for rk, _ in got] == list(range(1, 11))
    # partition-layout independence: same selection from a repartitioned
    # corpus (the portable-hash + decimal-key contract)
    sel2 = dsir_select(
        docs.repartition(7), target, k=10, n_buckets=512, orders=(1,)
    )
    got2 = sorted((r["dsir_rank"], r["doc_id"]) for r in sel2.collect())
    assert got == got2
    # importance resampling should skew the pick toward target-like docs
    picked = {d for _, d in got}
    assert len([d for d in picked if d < 100]) >= 8


def test_dsir_empty_text_weighs_zero(spark):
    from xarray_dataaccessor_spark.operators.sampling import (
        dsir_importance_weights,
    )

    docs = spark.createDataFrame(
        [(1, "alpha beta", "en"), (2, "", "en"), (3, "   ", "xx")],
        "doc_id bigint, text string, lang string",
    )
    target = docs.filter(F.col("lang") == "en").select("doc_id")
    w = dsir_importance_weights(docs, target, n_buckets=64, orders=(1,))
    rows = {r["doc_id"]: float(r["dsir_logw"]) for r in w.collect()}
    assert len(rows) == 3
    assert rows[2] == 0.0 and rows[3] == 0.0


def test_priority_sample_exact_when_small_and_bounded_error(spark):
    """A stratum with <= k rows is sampled whole with tau=0 and an
    EXACT total; a big stratum's Horvitz-Thompson estimate lands within
    the ~1/sqrt(k) band of the true total."""
    from xarray_dataaccessor_spark.operators.sampling import priority_sample

    df = spark.range(1000).selectExpr(
        "id AS doc_id",
        "CAST(CASE WHEN id % 97 = 0 THEN 500 ELSE 1 + id % 20 END AS BIGINT)"
        " AS w",
    )
    small = priority_sample(df.filter("doc_id < 40"), "w", k=64)
    rows = small.collect()
    assert len(rows) == 40
    assert all(r["tau"] == 0.0 for r in rows)
    assert rows[0]["est_total"] == rows[0]["exact_total"]

    big = priority_sample(df, "w", k=64).limit(1).collect()[0]
    rel = abs(big["est_total"] - big["exact_total"]) / big["exact_total"]
    assert rel < 0.35, (big["est_total"], big["exact_total"])


def test_priority_sample_partition_invariant_and_stratified(spark):
    from xarray_dataaccessor_spark.operators.sampling import priority_sample

    df = spark.range(600).selectExpr(
        "id AS doc_id", "CAST(id % 4 AS STRING) AS src",
        "CAST(1 + id % 30 AS BIGINT) AS w",
    )
    a = priority_sample(df, "w", strata_col="src", k=16).toPandas()
    b = priority_sample(df.repartition(13), "w", strata_col="src", k=16
                        ).toPandas()
    a = a.sort_values(["src", "doc_id"]).reset_index(drop=True)
    b = b.sort_values(["src", "doc_id"]).reset_index(drop=True)
    assert a.equals(b)
    assert (a.groupby("src").size() == 16).all()
    # priorities weight-sensitive: heavier rows overrepresented
    kept_mean_w = a["w"].mean()
    all_mean_w = 15.5
    assert kept_mean_w > all_mean_w
    import pytest

    with pytest.raises(ValueError, match="k must be"):
        priority_sample(df, "w", k=0)


def test_one_decontamination_report():
    """One contamination report in ``sampling`` (its ``'exact'`` and
    ``'bloom'`` rows come from one corpus pass), one word k-gram window
    in the package, and one Spark spelling of the Bloom keys: the
    ``'b1:'`` salt appears only in ``sketch.py`` and in oracle SQL."""
    import ast
    from pathlib import Path

    import xarray_dataaccessor_spark as pkg

    root = Path(pkg.__file__).parent
    texts = {p.relative_to(root).as_posix(): p.read_text() for p in root.rglob("*.py")}
    trees = {p: ast.parse(t) for p, t in texts.items()}

    sampling = [
        n.name for n in trees["operators/sampling.py"].body
        if isinstance(n, ast.FunctionDef)
    ]
    assert [n for n in sampling if "contamination_report" in n] == ["contamination_report"]
    assert "_contamination_assemble" not in sampling

    def calls(node, attr):
        return [
            c for c in ast.walk(node)
            if isinstance(c, ast.Call)
            and isinstance(c.func, ast.Attribute)
            and c.func.attr == attr
        ]

    windows = [
        (path, d.name)
        for path, tree in trees.items()
        for d in ast.walk(tree)
        if isinstance(d, ast.FunctionDef)
        and any(calls(c, "get") for c in calls(d, "concat_ws"))
    ]
    assert windows == [("operators/dedup.py", "_word_kgrams")]

    salted = sorted(p for p, t in texts.items() if "'b1:'" in t or '"b1:"' in t)
    assert salted == ["operators/sketch.py", "queries_ext.py"]
    oracle = [
        c.value for c in ast.walk(trees["queries_ext.py"])
        if isinstance(c, ast.Constant) and isinstance(c.value, str) and "b1:" in c.value
    ]
    assert oracle and all("SELECT" in v for v in oracle)
