"""Engine-portable HyperLogLog (operators/sketch.py)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from xarray_dataaccessor_spark.operators.sketch import hll_ndv, hll_ndv_sql


def _vals(spark, n, n_distinct, parts=8):
    return spark.range(0, n, 1, parts).select(
        (F.col("id") % n_distinct).cast("string").alias("v"),
        (F.col("id") % 3).cast("int").alias("g"),
    )


@pytest.mark.parametrize("n_distinct", [7, 150, 4000])
def test_hll_within_error_bound(spark, n_distinct):
    df = _vals(spark, 20_000, n_distinct)
    est = hll_ndv(df, "v", p=6).first()["approx_ndv"]
    # 64 registers: sigma ~13%; allow 4 sigma (md5 is one fixed hash
    # function, not an average over seeds)
    assert abs(est - n_distinct) <= max(4 * 0.13 * n_distinct, 4.0), est


def test_hll_small_range_is_linear_counting(spark):
    df = _vals(spark, 100, 5)
    est = hll_ndv(df, "v", p=6).first()["approx_ndv"]
    # 5 distincts, 64 registers: linear counting is near-exact
    assert abs(est - 5) <= 1.0


def test_hll_grouped_and_partition_invariant(spark):
    df = _vals(spark, 9_000, 300)
    a = {r["g"]: r["approx_ndv"]
         for r in hll_ndv(df, "v", p=6, group_cols=("g",)).collect()}
    b = {r["g"]: r["approx_ndv"]
         for r in hll_ndv(df.repartition(3), "v", p=6,
                          group_cols=("g",)).collect()}
    assert a == b  # register MAX + decimal sum: layout cannot move it
    assert set(a) == {0, 1, 2}


def test_hll_merge_equals_union(spark):
    """Sketches are decomposable: registers of (A union B) = MAX of the
    two register tables — running the op over the union equals merging,
    which is what makes incremental appends free."""
    a = _vals(spark, 5_000, 200).filter(F.col("g") != 0)
    b = _vals(spark, 5_000, 200).filter(F.col("g") == 0)
    whole = hll_ndv(a.unionByName(b), "v", p=6).first()["approx_ndv"]
    union = hll_ndv(_vals(spark, 5_000, 200), "v", p=6).first()["approx_ndv"]
    assert whole == union


def test_hll_duckdb_replay(spark):
    import duckdb

    df = _vals(spark, 6_000, 500)
    got = {r["g"]: r["approx_ndv"]
           for r in hll_ndv(df, "v", p=6, group_cols=("g",)).collect()}
    con = duckdb.connect()
    con.register("src", df.toPandas())
    sql = hll_ndv_sql("v", p=6).replace("__hll_src",
                                        "(SELECT g AS grp, v FROM src)")
    exp = dict(con.execute(sql).fetchall())
    assert got == exp  # bit-for-bit, rounding included


def test_hll_rejects_bad_p(spark):
    with pytest.raises(ValueError, match="p must be"):
        hll_ndv(_vals(spark, 10, 5), "v", p=20)


def test_hll_higher_p_tightens(spark):
    df = _vals(spark, 40_000, 2_000)
    e6 = hll_ndv(df, "v", p=6).first()["approx_ndv"]
    e10 = hll_ndv(df, "v", p=10).first()["approx_ndv"]
    assert abs(e10 - 2_000) / 2_000 <= 0.10
    # p=10's 3% sigma should beat p=6's 13% most of the time; assert the
    # bound, not the race
    assert abs(e6 - 2_000) / 2_000 <= 0.55


# ---------------------------------------------------------------------------
# Bloom filter
# ---------------------------------------------------------------------------
def test_bloom_no_false_negatives_and_low_fp(spark):
    from xarray_dataaccessor_spark.functions.hashing import portable_hash32
    from xarray_dataaccessor_spark.operators.sketch import (
        bloom_build,
        bloom_contains_sql,
    )

    members = spark.range(0, 2_000, 1, 8).select(
        F.concat(F.lit("m"), F.col("id").cast("string")).alias("v")
    )
    words = bloom_build(members, "v", m_bits=65536, k=3)
    probes = spark.range(0, 6_000, 1, 8).select(
        F.when(F.col("id") < 2_000,
               F.concat(F.lit("m"), F.col("id").cast("string")))
        .otherwise(F.concat(F.lit("x"), F.col("id").cast("string")))
        .alias("v"),
        (F.col("id") < 2_000).alias("is_member"),
    ).select(
        "v", "is_member",
        portable_hash32(F.concat(F.lit("b1:"), F.col("v"))).alias("__h1"),
        portable_hash32(F.concat(F.lit("b2:"), F.col("v"))).alias("__h2"),
    )
    got = probes.withColumn(
        "hit", F.expr(bloom_contains_sql("__h1", "__h2", words, k=3))
    )
    fn = got.filter(F.col("is_member") & ~F.col("hit")).count()
    assert fn == 0  # Bloom filters never miss members
    fp = got.filter(~F.col("is_member") & F.col("hit")).count()
    # n=2000, m=65536, k=3 -> fp ~ 6.3e-4; 4000 probes -> expect ~2.5
    assert fp <= 20, fp


def test_bloom_duckdb_build_and_probe_parity(spark):
    """The filter words AND every membership decision replay in DuckDB."""
    import duckdb

    from xarray_dataaccessor_spark.functions.hashing import portable_hash32
    from xarray_dataaccessor_spark.operators.sketch import (
        bloom_build,
        bloom_build_sql,
        bloom_contains_sql,
    )

    members = spark.createDataFrame(
        [(f"w{i*7%97}",) for i in range(60)], "v string"
    ).distinct()
    words = bloom_build(members, "v", m_bits=2048, k=3)
    con = duckdb.connect()
    con.register("mem", members.toPandas())
    built = dict(con.execute(
        bloom_build_sql("mem", "v", m_bits=2048, k=3)
    ).fetchall())
    exp = [0] * (2048 // 32)
    for w, b in built.items():
        exp[w] = int(b)
    assert exp == words
    # probe parity on members + strangers
    probes = spark.createDataFrame(
        [(f"w{i}",) for i in range(120)] + [(f"z{i}",) for i in range(200)],
        "v string",
    ).select(
        "v",
        portable_hash32(F.concat(F.lit("b1:"), F.col("v"))).alias("__h1"),
        portable_hash32(F.concat(F.lit("b2:"), F.col("v"))).alias("__h2"),
    )
    got = {
        r["v"]: r["hit"]
        for r in probes.withColumn(
            "hit", F.expr(bloom_contains_sql("__h1", "__h2", words, k=3))
        ).collect()
    }
    con.register("probes", probes.toPandas())
    duck = dict(con.execute(
        "SELECT v, " + bloom_contains_sql("__h1", "__h2", words, k=3,
                                          dialect="duckdb")
        + " FROM probes"
    ).fetchall())
    assert got == duck  # identical decisions, false positives included


def test_bloom_merge_is_or(spark):
    from xarray_dataaccessor_spark.operators.sketch import bloom_build

    a = spark.createDataFrame([(f"a{i}",) for i in range(50)], "v string")
    b = spark.createDataFrame([(f"b{i}",) for i in range(50)], "v string")
    wa = bloom_build(a, "v", m_bits=1024, k=3)
    wb = bloom_build(b, "v", m_bits=1024, k=3)
    wu = bloom_build(a.unionByName(b), "v", m_bits=1024, k=3)
    assert [x | y for x, y in zip(wa, wb)] == wu


def test_bloom_rejects_bad_m(spark):
    from xarray_dataaccessor_spark.operators.sketch import bloom_build

    with pytest.raises(ValueError, match="multiple of 32"):
        bloom_build(spark.range(3).selectExpr("CAST(id AS STRING) v"),
                    "v", m_bits=100)


def test_bloom_contamination_superset_of_exact(spark, sf_dir):
    """Bloom hits are a SUPERSET of exact hits (no false negatives), and
    at the default size the reports are identical on this corpus."""
    from xarray_dataaccessor_spark.operators.sampling import (
        contamination_report,
        deterministic_split,
    )
    from xarray_dataaccessor_spark.sources.tables import load

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    split = deterministic_split(docs, "doc_id", eval_per_mille=50)
    train = split.filter(F.col("split") == "train").drop("split")
    ev = split.filter(F.col("split") == "eval").drop("split")
    rows = contamination_report(train, ev, k=3).collect()
    exact = {r["doc_id"]: (r["n_overlap"], r["max_span_tokens"])
             for r in rows if r["variant"] == "exact"}
    bloom = {r["doc_id"]: (r["n_overlap"], r["max_span_tokens"])
             for r in rows if r["variant"] == "bloom"}
    assert set(exact) <= set(bloom)
    for d, (n, s) in exact.items():
        bn, bs = bloom[d]
        assert bn >= n and bs >= s, d


# ---------------------------------------------------------------------------
# Count-Min sketch
# ---------------------------------------------------------------------------
def test_cms_never_undercounts_and_is_tight_on_heavy(spark):
    from xarray_dataaccessor_spark.operators.sketch import (
        cms_build,
        cms_estimate_sql,
    )

    # zipf-ish: item j appears 1000//(j+1) times
    rows = [(f"t{j}",) for j in range(200) for _ in range(1000 // (j + 1))]
    df = spark.createDataFrame(rows, "v string").repartition(8)
    true = {}
    for (v,) in rows:
        true[v] = true.get(v, 0) + 1
    counters = cms_build(df, "v", w=1024, d=3)
    n = sum(true.values())
    probes = spark.createDataFrame([(k,) for k in true], "v string")
    est = {
        r["v"]: r["e"]
        for r in probes.selectExpr(
            "v", cms_estimate_sql("v", counters) + " AS e"
        ).collect()
    }
    import math

    eps_n = math.e / 1024 * n
    for v, t in true.items():
        assert est[v] >= t, v                    # never undercounts
        assert est[v] <= t + 3 * eps_n, v        # CM bound (loose factor)
    # heavy hitters are near-exact
    assert est["t0"] - true["t0"] <= eps_n


def test_cms_duckdb_replay(spark):
    import duckdb

    from xarray_dataaccessor_spark.operators.sketch import (
        cms_build,
        cms_estimate_sql,
    )

    df = spark.createDataFrame(
        [(f"w{i % 37}",) for i in range(500)], "v string"
    )
    counters = cms_build(df, "v", w=64, d=3)
    probes = spark.createDataFrame(
        [(f"w{i}",) for i in range(50)], "v string"
    )
    got = {
        r["v"]: r["e"]
        for r in probes.selectExpr(
            "v", cms_estimate_sql("v", counters) + " AS e"
        ).collect()
    }
    con = duckdb.connect()
    con.register("probes", probes.toPandas())
    duck = dict(con.execute(
        "SELECT v, " + cms_estimate_sql("v", counters, dialect="duckdb")
        + " FROM probes"
    ).fetchall())
    assert got == duck


def test_cms_weighted_and_merge(spark):
    from xarray_dataaccessor_spark.operators.sketch import cms_build

    a = spark.createDataFrame([("x", 5), ("y", 2)], "v string, n int")
    b = spark.createDataFrame([("x", 1), ("z", 7)], "v string, n int")
    ca = cms_build(a, "v", w=32, d=2, weight_col="n")
    cb = cms_build(b, "v", w=32, d=2, weight_col="n")
    cu = cms_build(a.unionByName(b), "v", w=32, d=2, weight_col="n")
    assert [
        [x + y for x, y in zip(ra, rb)] for ra, rb in zip(ca, cb)
    ] == cu  # sketches of disjoint batches merge by addition
    assert sum(ca[0]) == 7  # row sums = total weight


def test_cms_rejects_bad_dims(spark):
    from xarray_dataaccessor_spark.operators.sketch import cms_build

    with pytest.raises(ValueError, match="positive"):
        cms_build(spark.range(3).selectExpr("CAST(id AS STRING) v"),
                  "v", w=0)


def test_bottomk_sample_merge_law_and_size(spark):
    """Bottom-k of the full table == bottom-k over the union of
    per-batch bottom-k samples (the MIN-k merge law), and groups
    smaller than k are sampled whole."""
    from xarray_dataaccessor_spark.operators.sketch import bottomk_sample

    df = spark.range(2000).selectExpr(
        "id", "CAST(id % 3 AS STRING) AS g", "CAST(id * 7 % 991 AS DOUBLE) AS v"
    )
    full = bottomk_sample(df, "v", ["id"], group_cols=("g",), k=32)
    b1 = bottomk_sample(df.filter("id < 1000"), "v", ["id"],
                        group_cols=("g",), k=32)
    b2 = bottomk_sample(df.filter("id >= 1000"), "v", ["id"],
                        group_cols=("g",), k=32)
    # re-sampling the union of partial samples IS the merge
    merged = bottomk_sample(
        b1.unionByName(b2).withColumnRenamed("__tie", "id2"),
        "v", ["id2"], group_cols=("g",), k=32,
    )
    a = full.select("g", "__h", "v").toPandas().sort_values(
        ["g", "__h"]).reset_index(drop=True)
    m = merged.select("g", "__h", "v").toPandas().sort_values(
        ["g", "__h"]).reset_index(drop=True)
    assert a.equals(m)
    sizes = full.groupBy("g").count().toPandas()
    assert (sizes["count"] == 32).all()
    # small group: sampled whole
    small = bottomk_sample(df.filter("id < 10"), "v", ["id"], k=32)
    assert small.count() == 10


def test_bottomk_quantiles_track_exact(spark):
    """Sample quantiles land within the O(1/sqrt(k)) rank window of the
    exact ones, and a <=k group reproduces the exact quantile."""
    from xarray_dataaccessor_spark.operators.sketch import (
        bottomk_quantiles,
        bottomk_sample,
    )

    df = spark.range(4000).selectExpr(
        "id", "CAST(id * id % 7919 AS DOUBLE) AS v"
    )
    s = bottomk_sample(df, "v", ["id"], k=256)
    q = bottomk_quantiles(s, "v").collect()[0]
    assert q["k_used"] == 256 and q["h_k"] > 0
    exact = df.selectExpr(
        "percentile(v, 0.4) p40", "percentile(v, 0.6) p60",
        "percentile(v, 0.9) p90", "percentile(v, 0.99) p99",
    ).collect()[0]
    assert exact["p40"] <= q["q5"] <= exact["p60"]
    assert exact["p90"] <= q["q95"] <= exact["p99"]
    whole = bottomk_quantiles(
        bottomk_sample(df.filter("id < 100"), "v", ["id"], k=256), "v"
    ).collect()[0]
    ew = df.filter("id < 100").selectExpr(
        "round(percentile(v, 0.5), 6) p50").collect()[0]
    assert whole["k_used"] == 100 and whole["q5"] == ew["p50"]


def test_bottomk_sample_partition_invariant(spark):
    from xarray_dataaccessor_spark.operators.sketch import bottomk_sample

    df = spark.range(1000).selectExpr("id", "CAST(id AS DOUBLE) AS v")
    a = bottomk_sample(df, "v", ["id"], k=50).toPandas().sort_values(
        "__h").reset_index(drop=True)
    b = bottomk_sample(df.repartition(17), "v", ["id"], k=50
                       ).toPandas().sort_values("__h").reset_index(drop=True)
    assert a.equals(b)
    import pytest

    with pytest.raises(ValueError, match="k must be"):
        bottomk_sample(df, "v", ["id"], k=0)


def test_exact_quantiles_histogram_matches_builtin(spark):
    """The distributed histogram interpolation equals the built-in
    exact percentile (round 6) on integer values, grouped and global,
    including the frac == 0 edge."""
    from xarray_dataaccessor_spark.operators.sketch import (
        exact_quantiles_histogram,
    )

    df = spark.range(5000).selectExpr(
        "CAST(id % 7 AS STRING) AS g", "CAST(id * id % 9973 AS BIGINT) AS v"
    )
    got = exact_quantiles_histogram(
        df, "v", group_cols=("g",), probs=(0.5, 0.95)
    ).toPandas().set_index("g").sort_index()
    want = df.groupBy("g").agg(
        F.round(F.expr("percentile(v, 0.5D)"), 6).alias("q5"),
        F.round(F.expr("percentile(v, 0.95D)"), 6).alias("q95"),
    ).toPandas().set_index("g").sort_index()
    assert got["q5"].tolist() == want["q5"].tolist()
    assert got["q95"].tolist() == want["q95"].tolist()
    # global (no groups), exact-rank edge: 5 values, p=0.5 -> frac 0
    one = spark.range(5).selectExpr("CAST(id * 10 AS BIGINT) AS v")
    g = exact_quantiles_histogram(one, "v", probs=(0.5,)).collect()[0]
    assert g["q5"] == 20.0


def test_bottomk_sample_precut_identical(spark):
    """The map-side hash pre-cut returns the identical sample (the cut
    keeps every true bottom-k member at these sizes) and rejects
    unsafe margins."""
    import pytest

    from xarray_dataaccessor_spark.operators.sketch import bottomk_sample

    df = spark.range(3000).selectExpr(
        "id", "CAST(id % 3 AS STRING) AS g", "CAST(id AS DOUBLE) AS v"
    )
    a = bottomk_sample(df, "v", ["id"], group_cols=("g",), k=32
                       ).toPandas().sort_values(["g", "__h"]).reset_index(drop=True)
    b = bottomk_sample(df, "v", ["id"], group_cols=("g",), k=32, precut=8.0
                       ).toPandas().sort_values(["g", "__h"]).reset_index(drop=True)
    assert a.equals(b)
    with pytest.raises(ValueError, match="precut"):
        bottomk_sample(df, "v", ["id"], k=32, precut=1.5)
