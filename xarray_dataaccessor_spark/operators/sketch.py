"""Cardinality sketches: an engine-portable HyperLogLog.

At 100 TB, ``count_distinct`` pays an expand + full shuffle of the
distinct keys; the corpus-health numbers a curation pipeline watches
(distinct fingerprints, distinct URLs/domains per source) only need
~2% accuracy. Spark ships ``approx_count_distinct`` (HLL++), but its
register hashing is JVM-private — an oracle cannot replay it. This
HyperLogLog (Flajolet, Fusy, Gandouet, Meunier 2007) is built from the
repo's portable md5 hash and integer register arithmetic, so DuckDB
reproduces every register and the final estimate from the same SQL
spelling:

- register  = top ``p`` bits of the 32-bit md5 prefix hash,
- rho       = leading-zero count of the remaining ``32 - p`` bits + 1
  (pure integer: ``(32 - p) + 1 - length(bin(rest))``),
- registers combine with MAX (one register-sized shuffle with map-side
  combine; merging sketches of disjoint batches is the same MAX, so
  the sketch is decomposable and incremental-append friendly),
- the harmonic sum folds ``pow(2, -rho)`` through DECIMAL(38,28) —
  powers of two up to 2^-27 are exact there, so the sum is
  order-independent and engine-exact,
- the small-range (linear-counting) correction applies below 2.5 m
  with zero registers present; the final estimate rounds to 6 decimals
  (the repo's float-portability discipline for the one ``ln`` call).

The 32-bit hash caps honest use around ~100 M distincts per group
(hash-collision bias beyond); the large-range correction is therefore
deliberately omitted — at bigger cardinalities swap the hash width,
not the correction.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Flajolet et al. 2007 bias constants (alpha_m) for the register
#: counts this module supports.
_ALPHA = {16: 0.673, 32: 0.697, 64: 0.709}


def _alpha(m: int) -> float:
    return _ALPHA.get(m, 0.7213 / (1.0 + 1.079 / m))


def hll_ndv(
    df: DataFrame,
    col: str,
    p: int = 6,
    group_cols: Sequence[str] = (),
    out_col: str = "approx_ndv",
) -> DataFrame:
    """Approximate number of distinct ``col`` values per ``group_cols``
    (one row per group; one total row when no groups). Standard error
    ~= 1.04 / sqrt(2^p) — p=6 (64 registers) gives ~13%, p=10 ~3%.

    Returns ``(*group_cols, out_col double)``. See module docstring for
    the portability contract; the SQL replay lives in the
    ``token_count_by_source`` oracle's 'report' variant."""
    if not 4 <= p <= 12:
        raise ValueError("p must be in [4, 12] for the 32-bit hash")
    from xarray_dataaccessor_spark.functions.hashing import portable_hash32

    m = 1 << p
    rest_bits = 32 - p
    h = portable_hash32(F.col(col).cast("string"))
    reg = F.shiftright(h, rest_bits)
    rest = h % F.lit(1 << rest_bits)
    rho = (
        F.when(rest == 0, F.lit(rest_bits + 1))
        .otherwise(F.lit(rest_bits + 1) - F.length(F.bin(rest)))
        .cast("int")
    )
    keys = list(group_cols)
    regs = (
        df.select(*keys, reg.alias("__reg"), rho.alias("__rho"))
        .groupBy(*keys, "__reg")
        .agg(F.max("__rho").alias("__rho"))
    )
    agg = regs.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("__hit"),
        F.sum(
            F.expr("CAST(pow(2.0, -__rho) AS DECIMAL(38,28))")
        ).alias("__s_hit"),
    )
    s = (
        (F.lit(m) - F.col("__hit")).cast("double")
        + F.col("__s_hit").cast("double")
    )
    e_raw = F.lit(_alpha(m) * m * m) / s
    v = F.lit(m) - F.col("__hit")  # never-hit registers are the zeros
    est = F.when(
        (e_raw <= F.lit(2.5 * m)) & (v > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / v.cast("double")),
    ).otherwise(e_raw)
    return agg.select(*keys, F.round(est, 6).alias(out_col))


def bloom_keys(x: Column) -> tuple[Column, Column]:
    """The two Kirsch-Mitzenmacher base hashes of a string column,
    ``h1 = md5('b1:'||x)`` and ``h2 = md5('b2:'||x)`` 32-bit prefixes —
    the one Spark spelling of the Bloom key derivation that
    :func:`bloom_build` writes with and every probe side reads with
    (:func:`bloom_build_sql` is the DuckDB replay)."""
    from xarray_dataaccessor_spark.functions.hashing import portable_hash32

    return (
        portable_hash32(F.concat(F.lit("b1:"), x)),
        portable_hash32(F.concat(F.lit("b2:"), x)),
    )


def bloom_build(
    df: DataFrame, col: str, m_bits: int = 65536, k: int = 3
) -> list[int]:
    """Build an engine-portable Bloom filter over ``col``'s distinct
    values and return it as ``m_bits / 32`` words (32 bits per long —
    DuckDB's BIGINT ``<<`` checks overflow at bit 63, so 32-bit words
    keep every shift overflow- and sign-free) — the broadcastable
    membership summary that replaces a shuffle join at 100 TB (the
    decontamination use case: eval-set shingles become a literal array
    in a map-side predicate instead of a join side).

    Hashing is Kirsch-Mitzenmacher double hashing over the repo's
    portable md5 hash: ``pos_i = (h1 + i*h2) % m_bits`` with ``h1, h2``
    from :func:`bloom_keys` — every position, and therefore every false
    positive, reproduces exactly in DuckDB (:func:`bloom_build_sql`).
    Bit words aggregate with ``bit_or`` (one m/32-sized shuffle with
    map-side combine; disjoint-batch filters merge with OR, so
    incremental appends are free). The collect is ``m_bits / 32`` longs — 16 KB at the default
    size, a model artifact like the PCA components.

    False-positive rate ~= (1 - e^(-k n / m))^k; the default 64 K bits
    with k=3 holds ~5 000 distinct members under 1e-3."""
    if m_bits % 32 or m_bits <= 0:
        raise ValueError("m_bits must be a positive multiple of 32")
    h1, h2 = bloom_keys(F.col(col).cast("string"))
    pos = F.explode(
        F.array(*[(h1 + F.lit(i) * h2) % F.lit(m_bits) for i in range(k)])
    )
    rows = (
        df.select(pos.alias("__p"))
        .select(
            F.shiftright("__p", 5).alias("__w"),
            F.expr("shiftleft(1L, CAST(__p % 32 AS INT))").alias("__b"),
        )
        .groupBy("__w")
        .agg(F.expr("bit_or(__b)").alias("__bits"))
        .collect()
    )
    words = [0] * (m_bits // 32)
    for r in rows:
        words[r["__w"]] = int(r["__bits"])
    return words


def bloom_contains_sql(
    h1_col: str, h2_col: str, words: list[int], k: int = 3,
    dialect: str = "spark",
) -> str:
    """Boolean SQL expression testing membership against a built filter.
    ``h1_col`` / ``h2_col`` name PRE-COMPUTED hash columns (compute them
    once per row; referencing columns keeps the md5 work out of the k
    bit probes). The filter inlines as ONE literal array built as a SQL
    string (memory: py4j-literal-cost). ``dialect`` emits the Spark or
    DuckDB spelling of the same integer arithmetic — bit-identical
    decisions, false positives included."""
    m_bits = len(words) * 32
    if dialect == "spark":
        arr = "array(" + ",".join(f"{w}L" for w in words) + ")"
        tests = []
        for i in range(k):
            pos = f"(({h1_col} + {i} * {h2_col}) % {m_bits})"
            tests.append(
                f"((shiftright(element_at({arr}, CAST({pos} DIV 32 AS INT)"
                f" + 1), CAST({pos} % 32 AS INT)) & 1) = 1)"
            )
        return " AND ".join(tests)
    if dialect == "duckdb":
        arr = "[" + ",".join(f"{w}::BIGINT" for w in words) + "]"
        tests = []
        for i in range(k):
            pos = f"(({h1_col} + {i} * {h2_col}) % {m_bits})"
            tests.append(
                f"((({arr}[CAST({pos} // 32 AS INT) + 1] >> "
                f"CAST({pos} % 32 AS INT)) & 1) = 1)"
            )
        return " AND ".join(tests)
    raise ValueError(f"unknown dialect {dialect!r}")


def bloom_build_sql(src: str, expr: str, m_bits: int = 65536, k: int = 3) -> str:
    """DuckDB replay of :func:`bloom_build`: a SELECT producing
    ``(w, bits)`` rows from relation ``src``'s column/expression
    ``expr`` — used by oracles that must rebuild the identical filter
    in SQL before testing membership with the joinable form."""
    h1 = f"('0x' || substr(md5('b1:' || CAST({expr} AS VARCHAR)), 1, 8))::BIGINT"
    h2 = f"('0x' || substr(md5('b2:' || CAST({expr} AS VARCHAR)), 1, 8))::BIGINT"
    poses = " UNION ALL ".join(
        f"SELECT (({h1}) + {i} * ({h2})) % {m_bits} AS pos FROM {src}"
        for i in range(k)
    )
    return (
        f"SELECT pos // 32 AS w, bit_or(1::BIGINT << CAST(pos % 32 AS INT))"
        f" AS bits FROM ({poses}) GROUP BY 1"
    )


def cms_build(
    df: DataFrame,
    col: str,
    w: int = 1024,
    d: int = 3,
    weight_col: str | None = None,
) -> list[list[int]]:
    """Count-Min sketch (Cormode & Muthukrishnan 2005) of ``col``'s
    frequency distribution — the third member of the sketch family
    (HLL = how many distinct, Bloom = is it present, CMS = how often):
    point-queryable counts in ``d x w`` integers instead of a
    vocabulary-sized table. At 100 TB the build is one corpus scan +
    one (d x w)-sized shuffle with map-side combine; disjoint-batch
    sketches merge by elementwise ADDITION, so incremental appends are
    free. Estimates only OVERCOUNT: ``true <= est <= true + eps * N``
    with ``eps = e / w`` at the usual depth-3.

    Row ``i`` hashes with the repo's portable md5 under a per-row salt
    (``c{i}:``), so every bucket index — and therefore every collision
    — reproduces exactly in DuckDB (:func:`cms_sql` emits the replay).
    ``weight_col`` makes it a weighted sketch (e.g. token counts per
    doc); default weight 1 per row. Returns ``d`` lists of ``w``
    ints — a model artifact like the Bloom words."""
    if w <= 0 or d <= 0:
        raise ValueError("w and d must be positive")
    from xarray_dataaccessor_spark.functions.hashing import portable_hash32

    x = F.col(col).cast("string")
    wt = (
        F.col(weight_col).cast("long") if weight_col else F.lit(1).cast("long")
    )
    rows = (
        df.select(
            F.explode(
                F.array(*[
                    F.struct(
                        F.lit(i).alias("i"),
                        (
                            portable_hash32(F.concat(F.lit(f"c{i}:"), x))
                            % F.lit(w)
                        ).alias("b"),
                    )
                    for i in range(d)
                ])
            ).alias("__rb"),
            wt.alias("__wt"),
        )
        .groupBy(F.col("__rb.i").alias("__i"), F.col("__rb.b").alias("__b"))
        .agg(F.sum("__wt").alias("__c"))
        .collect()
    )
    counters = [[0] * w for _ in range(d)]
    for r in rows:
        counters[r["__i"]][r["__b"]] = int(r["__c"])
    return counters


def cms_estimate_sql(
    expr: str, counters: list[list[int]], dialect: str = "spark"
) -> str:
    """SQL expression estimating ``expr``'s count against a built CMS:
    ``least`` over the d per-row counters at the salted-hash buckets.
    Counter rows inline as literal arrays built as SQL strings (memory:
    py4j-literal-cost); identical integer arithmetic in both dialects."""
    w = len(counters[0])
    probes = []
    for i, row in enumerate(counters):
        if dialect == "spark":
            arr = "array(" + ",".join(f"{c}L" for c in row) + ")"
            h = (
                f"CAST(conv(substring(md5(concat('c{i}:', CAST({expr} AS "
                f"STRING))), 1, 8), 16, 10) AS BIGINT)"
            )
            probes.append(
                f"element_at({arr}, CAST({h} % {w} AS INT) + 1)"
            )
        elif dialect == "duckdb":
            arr = "[" + ",".join(f"{c}::BIGINT" for c in row) + "]"
            h = (
                f"('0x' || substr(md5('c{i}:' || CAST({expr} AS VARCHAR)),"
                f" 1, 8))::BIGINT"
            )
            probes.append(f"{arr}[CAST({h} % {w} AS INT) + 1]")
        else:
            raise ValueError(f"unknown dialect {dialect!r}")
    return "least(" + ", ".join(probes) + ")"


def hll_ndv_sql(expr: str, p: int = 6) -> str:
    """The DuckDB spelling of :func:`hll_ndv` over value expression
    ``expr`` — emitted as a correlated-free aggregate body the caller
    wraps with its own GROUP BY keys (see the token_count_by_source
    oracle). Kept NEXT to the Spark implementation so the two cannot
    drift silently."""
    m = 1 << p
    rest_bits = 32 - p
    a = _alpha(m)
    h = f"('0x' || substr(md5(CAST({expr} AS VARCHAR)), 1, 8))::BIGINT"
    return f"""
        SELECT grp,
            round(CASE WHEN {a!r} * {m} * {m} /
                       (CAST({m} - COUNT(*) AS DOUBLE)
                        + CAST(SUM(CAST(pow(2.0, -rho) AS DECIMAL(38,28)))
                               AS DOUBLE)) <= {2.5 * m!r}
                       AND {m} - COUNT(*) > 0
                  THEN {float(m)!r} * ln({float(m)!r} /
                       CAST({m} - COUNT(*) AS DOUBLE))
                  ELSE {a!r} * {m} * {m} /
                       (CAST({m} - COUNT(*) AS DOUBLE)
                        + CAST(SUM(CAST(pow(2.0, -rho) AS DECIMAL(38,28)))
                               AS DOUBLE))
                  END, 6) AS approx_ndv
        FROM (
            SELECT grp, reg,
                   MAX(CASE WHEN rest = 0 THEN {rest_bits + 1}
                        ELSE {rest_bits + 1} - length(bin(rest)) END) AS rho
            FROM (
                SELECT grp, {h} // {1 << rest_bits} AS reg,
                       {h} % {1 << rest_bits} AS rest
                FROM __hll_src
            ) GROUP BY grp, reg
        ) GROUP BY grp
    """


def bottomk_sample(
    df: DataFrame,
    value_col: str,
    key_cols: Sequence[str],
    group_cols: Sequence[str] = (),
    k: int = 256,
    precut: float | None = None,
    counts: DataFrame | None = None,
) -> DataFrame:
    """Bottom-k-by-hash coordinated sample of ``value_col`` per group —
    the mergeable uniform sample that backs :func:`bottomk_quantiles`.

    The k rows whose portable key hash is smallest form a uniform
    sample WITHOUT replacement of the group (the hash is a fixed random
    order, so "smallest k hashes" = "first k of a shuffled order").
    Three properties make it the 100 TB shape for distributional
    monitoring where the exact ``percentile`` in
    ``text.corpus_report`` stops scaling:

    - **Mergeable**: bottom-k of a union = bottom-k of the union of
      per-batch bottom-k samples (MIN-k law, same shape as the HLL MAX
      merge) — partial samples combine map-side and append
      incrementally; pinned by test_sketch.py's merge-law test.
    - **Coordinated**: the same keys are sampled in every batch/run
      (the hash is the only randomness), so two corpus versions'
      samples difference cleanly.
    - **Bounded**: the only shuffle carries ``(group, hash, value)``
      triples, and the per-group sort input can be pre-cut with any
      conservative hash threshold without changing the result (rows
      with ``h`` above the true k-th hash never enter the sample).

    Returns ``(*group_cols, __h, __tie, value_col)`` rows, ≤ k per
    group — the sample in mergeable form. ``__tie`` is the string key
    that breaks exact hash collisions deterministically.

    ``precut`` (e.g. 8.0) engages the threshold trick the docstring
    above describes, IN-PLAN: a group-sized count aggregation
    broadcasts back and rows with ``h >= (precut * k / n_group) * 2^32``
    are dropped MAP-SIDE before the rank window — the sort input
    shrinks from the table to ~precut*k rows per group. The k-th order
    statistic of n uniform hashes exceeding precut*k/n has probability
    ~exp(-k*(precut - 1 - ln precut)) (~e^-1200 at the defaults), and
    even in that un-observable case both engines apply the IDENTICAL
    cut, so cross-engine exactness is unconditional — a shortfall
    would surface as ``k_used < k``. The cut must be replayed in any
    SQL oracle (the ``rollup_revenue`` 'bk' variant does).

    Oracle replay: the ``rollup_revenue`` 'bk' variant replays hash,
    cut, rank and quantiles in DuckDB SQL verbatim."""
    if k < 1:
        raise ValueError(f"k must be >= 1: {k}")
    if precut is not None and precut < 2.0:
        raise ValueError(f"precut must be >= 2 (safety margin): {precut}")
    from pyspark.sql.window import Window

    from xarray_dataaccessor_spark.functions.hashing import portable_hash32

    keys = list(group_cols)
    tie = F.concat_ws("-", *[F.col(c).cast("string") for c in key_cols])
    base = df.select(
        *keys,
        portable_hash32(tie).alias("__h"),
        tie.alias("__tie"),
        F.col(value_col),
    )
    if precut is not None:
        # counts come from the INPUT, not from base: base's projection
        # carries the md5 hash, and aggregating it would pay a second
        # full hashing pass just to count rows per group. A caller that
        # already has per-group counts (e.g. from a value histogram it
        # builds anyway — rollup_revenue 'bk') passes them in and this
        # scan disappears.
        if counts is None:
            counts = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("__n"))
        thr = (F.lit(float(precut * k)) / F.col("__n").cast("double")) * F.lit(
            4294967296.0
        )
        if keys:
            base = base.join(F.broadcast(counts), keys)
        else:
            base = base.crossJoin(F.broadcast(counts))
        base = base.filter(F.col("__h").cast("double") < thr).drop("__n")
    w = Window.partitionBy(*keys).orderBy("__h", "__tie")
    return (
        base.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def bottomk_quantiles(
    sample: DataFrame,
    value_col: str,
    group_cols: Sequence[str] = (),
    probs: Sequence[float] = (0.5, 0.95),
) -> DataFrame:
    """Summarize a :func:`bottomk_sample` into per-group quantile
    estimates: ``(*group_cols, k_used, h_k, q_<p> ...)`` with each
    quantile the exact linear-interpolated percentile OF THE SAMPLE
    (rounded to 6 decimals — the repo's float-portability discipline),
    ``k_used`` the realized sample size and ``h_k`` the largest sampled
    hash (the merge/threshold handle: a future batch only changes the
    sample where its hashes beat ``h_k``). Sample quantiles converge on
    the true ones at O(1/sqrt(k)); the bench slot emits the exact
    quantiles beside them so the error is visible in the verified
    rows."""
    keys = list(group_cols)
    aggs = [
        F.count(F.lit(1)).alias("k_used"),
        F.max("__h").alias("h_k"),
    ]
    for p in probs:
        aggs.append(
            F.round(
                F.expr(f"percentile({value_col}, {p!r})"), 6
            ).alias(f"q{str(p).replace('0.', '')}")
        )
    return sample.groupBy(*keys).agg(*aggs)


def exact_quantiles_histogram(
    df: DataFrame,
    value_col: str,
    group_cols: Sequence[str] = (),
    probs: Sequence[float] = (0.5, 0.95),
) -> DataFrame:
    """EXACT linear-interpolated quantiles per group via a value
    histogram — the distributed replacement for the built-in
    ``percentile`` aggregate, whose per-group value buffers merge on
    single reducers (measured 16 s for two probes over 18M rows / 6
    groups at sf3 where this takes a fraction).

    Plan: ``groupBy(group, value).count()`` (map-side combinable) ->
    per-group cumulative window over DISTINCT values (the only sort,
    over distinct values, distributed by group) -> each probe selects
    its two bracketing values by 0-based rank and interpolates with
    the standard definition ``pos = p * (n - 1); v_lo + (v_hi - v_lo)
    * frac``. Integer ranks and counts stay BIGINT-exact; the final
    interpolation is the one float expression, written identically in
    the SQL oracles (same op order), and rounds to 6 decimals (the
    repo's float-portability discipline — feed integer-unit values,
    e.g. cents, so interpolation is engine-exact).

    Returns ``(*group_cols, q<p>... double)``."""
    return quantiles_from_histogram(
        value_histogram(df, value_col, group_cols),
        value_col,
        group_cols,
        probs,
    )


def value_histogram(
    df: DataFrame, value_col: str, group_cols: Sequence[str] = ()
) -> DataFrame:
    """``(group, value, __c)`` counts — the map-side-combinable scan
    behind :func:`exact_quantiles_histogram`, exposed so a caller can
    build it ONCE and reuse it for quantiles AND per-group counts
    (``sum(__c)``) instead of re-scanning the input (the
    ``rollup_revenue`` 'bk' fusion, VERDICT r11 #3)."""
    return df.groupBy(*group_cols, value_col).agg(
        F.count(F.lit(1)).alias("__c")
    )


def quantiles_from_histogram(
    hist: DataFrame,
    value_col: str,
    group_cols: Sequence[str] = (),
    probs: Sequence[float] = (0.5, 0.95),
) -> DataFrame:
    """The cumulative-rank interpolation half of
    :func:`exact_quantiles_histogram`, over a prebuilt
    :func:`value_histogram`."""
    keys = list(group_cols)
    from pyspark.sql.window import Window

    w_cum = Window.partitionBy(*keys).orderBy(value_col)
    h = (
        hist.withColumn("__cum", F.sum("__c").over(w_cum))
        .withColumn("__lo", F.col("__cum") - F.col("__c"))
        .withColumn(
            "__n", F.sum("__c").over(
                Window.partitionBy(*keys).orderBy(value_col).rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            )
        )
    )
    aggs = []
    for p in probs:
        pos = F.lit(float(p)) * (F.col("__n") - F.lit(1)).cast("double")
        lo = F.floor(pos)
        frac = pos - lo.cast("double")
        # row covering 0-based rank r: __lo <= r < __cum
        v_lo = F.max(
            F.when((F.col("__lo") <= lo) & (lo < F.col("__cum")),
                   F.col(value_col))
        )
        v_hi = F.max(
            F.when(
                (F.col("__lo") <= lo + 1) & (lo + 1 < F.col("__cum")),
                F.col(value_col),
            )
        )
        q = v_lo.cast("double") + (
            v_hi.cast("double") - v_lo.cast("double")
        ) * F.max(frac)
        name = f"q{str(p).replace('0.', '')}"
        aggs.append(
            F.round(
                F.when(F.max(frac) == 0.0, v_lo.cast("double")).otherwise(q),
                6,
            ).alias(name)
        )
    return h.groupBy(*keys).agg(*aggs)
