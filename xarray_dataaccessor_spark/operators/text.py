"""Text-analysis operators for large-scale training-data pipelines
(SURVEY §7.8 extension surface; no reference counterpart — the reference
has no string library of its own, §2.7).

All operators are pure built-in expressions (whole-stage codegen, no
Python in the hot path) and scale by embarrassing parallelism: one pass
over the documents table, no shuffle except final aggregations.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from xarray_dataaccessor_spark.functions.hashing import portable_hash64
from xarray_dataaccessor_spark.operators.cachectl import tracked_cache

# Small marker-word sets for the language-ID heuristic. Real pipelines
# use character n-gram models (fasttext-style); the mechanism here — per
# language score as a sum of marker hits, argmax with a deterministic
# tie-break — is the same shape, entirely JVM-side.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "is", "value", "table"),
    "de": ("der", "die", "das", "und", "ist", "nicht"),
    "es": ("el", "la", "los", "de", "que", "es"),
    "fr": ("le", "la", "les", "et", "est", "une"),
    "zh": ("的", "是", "不", "了", "在"),
}

STOPWORDS = ("the", "a", "an", "of", "and", "or", "to", "in", "is", "it")

# BPE-ish tokenizer regex: runs of letters, single digits, or single
# punctuation marks — the classic pre-tokenization split.
BPE_TOKEN_RE = "[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"


def _word_count(text: Column) -> Column:
    return F.size(F.split(F.trim(text), "\\s+"))


def _marker_hits(text: Column, words: tuple[str, ...]) -> Column:
    """Count occurrences of any marker word (word-boundary regex)."""
    pattern = "\\b(" + "|".join(words) + ")\\b"
    return F.size(F.regexp_extract_all(F.lower(text), F.lit(pattern), F.lit(0)))


def text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Quality-scoring statistics per document: lengths, punctuation /
    digit / stopword ratios, mean word length, and a composite quality
    flag (length + stopword-presence heuristics a la C4/Gopher rules)."""
    t = F.col(text_col)
    n_chars = F.length(t)
    n_words = _word_count(t)
    n_punct = F.size(F.regexp_extract_all(t, F.lit("[^A-Za-z0-9\\s]"), F.lit(0)))
    n_digits = F.size(F.regexp_extract_all(t, F.lit("[0-9]"), F.lit(0)))
    n_stop = _marker_hits(t, STOPWORDS)
    return df.withColumns(
        {
            "n_chars": n_chars,
            "n_words": n_words,
            "mean_word_len": (n_chars - (n_words - F.lit(1)))
            / n_words.cast("double"),
            "punct_ratio": n_punct / n_chars.cast("double"),
            "digit_ratio": n_digits / n_chars.cast("double"),
            "stopword_ratio": n_stop / n_words.cast("double"),
            "quality_ok": (n_words >= 5)
            & (n_chars >= 30)
            & (n_punct / n_chars.cast("double") < 0.2),
        }
    )


def language_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Marker-hit language ID with deterministic tie-break (language name
    ascending on equal score, 'und' when nothing matches)."""
    t = F.col(text_col)
    scored = df
    for lang, words in LANG_MARKERS.items():
        scored = scored.withColumn(f"score_{lang}", _marker_hits(t, words))
    best = F.lit("und")
    best_score = F.lit(0)
    for lang in sorted(LANG_MARKERS, reverse=True):
        s = F.col(f"score_{lang}")
        # iterate reversed so that on ties the alphabetically-first wins;
        # a zero score never beats the 'und' default
        best = F.when((s >= best_score) & (s > 0), F.lit(lang)).otherwise(best)
        best_score = F.greatest(s, best_score)
    return scored.withColumn("lang_pred", best).withColumn(
        "lang_score", best_score
    )


def token_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace token count + BPE-ish regex token count per document."""
    t = F.col(text_col)
    return df.withColumns(
        {
            "ws_tokens": _word_count(t),
            "bpe_tokens": F.size(
                F.regexp_extract_all(t, F.lit(BPE_TOKEN_RE), F.lit(0))
            ),
        }
    )


def fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Document fingerprint: md5 of the whitespace-normalized lowercased
    text plus a 60-bit numeric fold of it (join-key friendly)."""
    normalized = F.lower(F.regexp_replace(F.col(text_col), "\\s+", " "))
    return df.withColumns(
        {
            "fp_md5": F.md5(normalized),
            "fp_num": portable_hash64(normalized),
        }
    )


def remove_duplicate_chunks(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_words: int = 10,
) -> DataFrame:
    """C4-style duplicate-passage removal: documents are split into
    non-overlapping ``chunk_words``-word chunks, each chunk is kept only
    at its globally-first occurrence (smallest (doc_id, position)), and
    documents are reassembled from their surviving chunks.

    Scale shape: one explode, one window rank partitioned by the chunk
    hash (the shuffle key is a 60-bit fingerprint, never the text), one
    groupBy to reassemble. Output: ``(id, text, n_chunks_total,
    n_chunks_kept)`` with ``text`` rebuilt in original chunk order.
    """
    from pyspark.sql.window import Window

    words = F.split(F.col(text_col), " ")
    n_chunks = F.ceil(F.size(words) / F.lit(chunk_words)).cast("int")
    chunk_idx = F.sequence(F.lit(0), n_chunks - F.lit(1))
    chunks = df.select(
        F.col(id_col),
        F.explode(chunk_idx).alias("pos"),
        words.alias("__w"),
    ).select(
        id_col,
        "pos",
        F.concat_ws(
            " ",
            F.slice(F.col("__w"), F.col("pos") * chunk_words + 1, chunk_words),
        ).alias("chunk"),
    )
    hashed = chunks.withColumn("h", portable_hash64(F.col("chunk")))
    w = Window.partitionBy("h").orderBy(id_col, "pos")
    kept = hashed.withColumn("__rk", F.row_number().over(w)).filter(
        F.col("__rk") == 1
    )
    reassembled = kept.groupBy(id_col).agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "chunk"))),
                lambda s: s["chunk"],
            ),
        ).alias("text"),
        F.count(F.lit(1)).alias("n_chunks_kept"),
    )
    totals = hashed.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_chunks_total"))
    return totals.join(reassembled, on=id_col, how="left").select(
        id_col,
        F.coalesce(F.col("text"), F.lit("")).alias("text"),
        "n_chunks_total",
        F.coalesce(F.col("n_chunks_kept"), F.lit(0)).alias("n_chunks_kept"),
    )


# ---------------------------------------------------------------------------
# Gopher-style repetition / quality gating and PII scrubbing — the two
# curation passes every large-scale pretraining pipeline runs between
# ingestion and dedup (Rae et al. 2021 "Scaling Language Models" app. A
# for the repetition thresholds; no reference counterpart).
# ---------------------------------------------------------------------------

#: Gopher-flavored keep thresholds (fractions of exact integer counts,
#: so both engines compute bit-identical doubles)
GOPHER_MIN_WORDS = 50
GOPHER_MAX_TOP_WORD_FRAC = 0.30
GOPHER_MAX_TOP_BIGRAM_FRAC = 0.18
GOPHER_MIN_UNIQUE_FRAC = 0.30
GOPHER_WORD_LEN_RANGE = (2.0, 12.0)


def word_counts(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document word counts ``(id, w, c)`` — the shared tokenized
    base every unigram-shaped quality signal derives from (gopher
    profile, bigram-LM vocabulary, hashed classifier features). One
    corpus scan + one (id, w)-keyed aggregation; callers that consume it
    more than once should cache it — at 100 TB sharing this table is
    what keeps the quality stack at two corpus scans total."""
    words = F.split(F.trim(F.col(text_col)), "\\s+")
    return (
        df.select(F.col(id_col), F.explode(words).alias("w"))
        .filter(F.length("w") > 0)
        .groupBy(id_col, "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def bigram_counts(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document bigram counts ``(id, w1, w2, c)`` — the shared
    adjacency base for the gopher bigram profile and the bigram-LM
    score. The dangling last ``zip_with`` element (null w2) is dropped,
    matching the string-bigram rule (words never contain whitespace, so
    the (w1, w2) pair and the ``'w1 w2'`` string count identically)."""
    warr = F.filter(
        F.split(F.trim(F.col(text_col)), "\\s+"), lambda w: F.length(w) > 0
    )
    return (
        df.select(
            F.col(id_col),
            F.explode(
                F.zip_with(
                    warr,
                    F.slice(warr, 2, 2_000_000_000),
                    lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
                )
            ).alias("b"),
        )
        .select(id_col, F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
        .filter(F.col("w2").isNotNull())
        .groupBy(id_col, "w1", "w2")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def gopher_repetition_signals(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Word-repetition quality signals per document plus the composite
    ``keep`` verdict: most-frequent-word fraction, most-frequent-bigram
    fraction, unique-word fraction, mean word length.

    Plan shape: the shared :func:`word_counts` / :func:`bigram_counts`
    tables each collapse to a per-document profile — all
    partial-aggregated map-side, shuffled on the document id only.
    Nothing is collected; at 100 TB this is two keyed aggregations over
    the corpus scan, the same shape as the shingle pipeline
    ([[oracle-exactness]]: ratios are int/int divisions, so Spark and
    DuckDB produce identical doubles)."""
    return gopher_from_counts(
        word_counts(df, text_col, id_col),
        bigram_counts(df, text_col, id_col),
        id_col,
    )


def gopher_from_counts(
    wc: DataFrame, bc: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """:func:`gopher_repetition_signals` from pre-aggregated
    :func:`word_counts` / :func:`bigram_counts` — lets one tokenized
    pass feed gopher + LM + classifier features."""
    uni = wc.groupBy(id_col).agg(
        F.sum("c").alias("n_words"),
        F.max("c").alias("top_word_n"),
        F.count(F.lit(1)).alias("n_unique"),
        F.sum(F.length("w") * F.col("c")).alias("sum_word_len"),
    )
    bi = bc.groupBy(id_col).agg(
        F.sum("c").alias("n_bigrams"), F.max("c").alias("top_bigram_n")
    )
    j = uni.join(bi, on=id_col, how="left")
    top_word_frac = F.col("top_word_n") / F.col("n_words").cast("double")
    top_bigram_frac = F.when(
        F.col("n_bigrams").isNotNull() & (F.col("n_bigrams") > 0),
        F.col("top_bigram_n") / F.col("n_bigrams").cast("double"),
    ).otherwise(F.lit(0.0))
    unique_frac = F.col("n_unique") / F.col("n_words").cast("double")
    mean_word_len = F.col("sum_word_len") / F.col("n_words").cast("double")
    lo, hi = GOPHER_WORD_LEN_RANGE
    return j.select(
        F.col(id_col),
        F.col("n_words").cast("bigint").alias("n_words"),
        top_word_frac.alias("top_word_frac"),
        top_bigram_frac.alias("top_bigram_frac"),
        unique_frac.alias("unique_word_frac"),
        mean_word_len.alias("mean_word_len"),
        (
            (F.col("n_words") >= GOPHER_MIN_WORDS)
            & (top_word_frac <= GOPHER_MAX_TOP_WORD_FRAC)
            & (top_bigram_frac <= GOPHER_MAX_TOP_BIGRAM_FRAC)
            & (unique_frac >= GOPHER_MIN_UNIQUE_FRAC)
            & (mean_word_len >= lo)
            & (mean_word_len <= hi)
        ).alias("keep"),
    )


#: PII patterns restricted to syntax Java regex and RE2 (DuckDB) parse
#: identically: no backreferences, no lookaround.
PII_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+"
PII_IPV4_RE = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
PII_PHONE_RE = "\\+?[0-9]{3}[- ][0-9]{3}[- ][0-9]{4}"


def pii_scrub(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Count and redact emails / IPv4 addresses / phone numbers:
    ``n_emails, n_ips, n_phones`` plus the scrubbed text with each match
    replaced by a typed token (``<EMAIL>``/``<IP>``/``<PHONE>``).

    Entirely map-side (regexp codegen, no shuffle, no Python); order of
    redaction is fixed (emails, then IPs, then phones) so the output is
    deterministic and engine-portable."""
    t = F.col(text_col)
    n_emails = F.size(F.regexp_extract_all(t, F.lit(PII_EMAIL_RE), F.lit(0)))
    n_ips = F.size(F.regexp_extract_all(t, F.lit(PII_IPV4_RE), F.lit(0)))
    n_phones = F.size(F.regexp_extract_all(t, F.lit(PII_PHONE_RE), F.lit(0)))
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(t, PII_EMAIL_RE, "<EMAIL>"), PII_IPV4_RE, "<IP>"
        ),
        PII_PHONE_RE,
        "<PHONE>",
    )
    return df.withColumns(
        {
            "n_emails": n_emails,
            "n_ips": n_ips,
            "n_phones": n_phones,
            "scrubbed": scrubbed,
        }
    )


def bigram_lm_scores(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Add-one-smoothed bigram language-model fluency score per document
    — the CCNet-style quality signal (Wenzek et al. 2020 score documents
    with an LM and keep the low-perplexity tail; here the LM is a bigram
    model trained ON the corpus itself, so boilerplate scores fluent and
    word salad scores high):

        p(w2 | w1) = (c(w1 w2) + 1) / (c(w1) + V),  V = |vocab| + 1

    Returns ``(id, lm_bigrams, lm_neg_log2p)`` where ``lm_neg_log2p`` is
    the mean negative log2 probability over the document's bigram
    occurrences (lower = more predictable text).

    Scale shape: two corpus-wide count aggregations (unigrams, bigrams —
    partial-aggregated map-side, shuffled on the gram key), then the
    occurrence stream joins the two count tables (AQE broadcasts them
    when the vocabulary fits) and one per-document aggregation. No
    driver participation; the model IS the count tables.

    Exactness ([[oracle-exactness]]): counts and the probability
    division are exact cross-engine, but ``log2`` differs in the last
    ulp between engines — each term is therefore ROUNDED to 6 decimals
    before the order-independent DECIMAL sum, which makes the score
    deterministic and engine-portable (1e-9 flip margin per term)."""
    return bigram_lm_from_counts(
        word_counts(df, text_col, id_col),
        bigram_counts(df, text_col, id_col),
        id_col,
    )


def bigram_lm_from_counts(
    wc: DataFrame, bc: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """:func:`bigram_lm_scores` from pre-aggregated counts. The model
    tables derive by re-aggregating the per-document counts (strictly
    smaller input than the raw occurrence stream), and the per-document
    score folds ``c`` occurrences of a bigram as ``c * term`` — exact,
    because every occurrence of the same (w1, w2) contributes the same
    6-decimal-rounded term, so the multiply IS the repeated decimal
    add. The heavy join therefore runs over distinct (doc, bigram) rows
    instead of every occurrence — at 100 TB that is the difference
    between joining the token stream and joining its compacted counts."""
    uni = wc.groupBy("w").agg(F.sum("c").alias("cw"))
    vocab = uni.agg((F.count(F.lit(1)) + 1).alias("v"))
    big = bc.groupBy("w1", "w2").agg(F.sum("c").alias("cb"))
    uni1 = uni.select(F.col("w").alias("w1"), "cw")
    p = (F.col("cb") + 1) / (F.col("cw") + F.col("v")).cast("double")
    term = F.round(-F.log2(p), 6).cast("decimal(28,14)")
    return (
        bc.join(big, ["w1", "w2"])
        .join(uni1, "w1")
        .crossJoin(F.broadcast(vocab))
        .groupBy(id_col)
        .agg(
            F.sum("c").alias("lm_bigrams"),
            (
                F.sum((term * F.col("c")).cast("decimal(28,14)")).cast("double")
                / F.sum("c")
            ).alias("lm_neg_log2p"),
        )
    )


def kneser_ney_from_counts(
    wc: DataFrame, bc: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Interpolated Kneser-Ney bigram LM scoring (Kneser & Ney 1995;
    the smoothing family KenLM — and therefore CCNet's reference
    model — uses) from the shared pre-aggregated count tables, with
    add-one's systematic underestimate of seen mass replaced by
    absolute discounting plus the continuation distribution::

        P(w2|w1) = max(c(w1,w2) - D, 0) / c(w1)
                   + D * N1+(w1,*) / c(w1) * P_cont(w2)
        P_cont(w2) = N1+(*,w2) / N1+(*,*)
        D = n1 / (n1 + 2 * n2)          (count-of-counts estimate)

    Plan shape (the ``bigram_lm_from_counts`` discipline): model tables
    re-aggregate the per-document counts (vocabulary-sized shuffles);
    ``D`` and ``N1+(*,*)`` ride one broadcast 1-row aggregate — fully
    LAZY, no driver action, so the operator composes into cached
    pipelines without forcing an early materialization; the
    per-document score joins the compacted (doc, bigram) rows —
    occurrences fold as ``c * term`` with 6-decimal-rounded terms, so
    everything replays exactly in SQL (tested + the gopher oracle slot).
    Returns ``(id, kn_bigrams, kn_neg_log2p)``. Property pinned in
    tests: ``sum over the vocabulary of P(w2|w1) == 1`` per context.

    The global bigram table ``big`` is a tracked cache (lazy,
    MEMORY_AND_DISK): it feeds four branches — the context counts, the
    continuation counts, the broadcast D/N1+(*,*) aggregate, and the
    per-document join — and Spark does not reuse exchanges across the
    broadcast-subquery boundary, so without the persist every branch
    re-tokenizes the corpus from scratch (measured: the r9 slot plan
    ran 10 parquet scans of ``documents``; serialized in single-task
    broadcast threads those passes were the slot's dominant cost AND
    its run-to-run variance amplifier — diagnosed round 10). ``big``
    is vocabulary-squared-bounded (a model table, not fact data), so
    the cache is safe at any corpus scale."""
    big = tracked_cache(bc.groupBy("w1", "w2").agg(F.sum("c").alias("cb")))
    ctx = big.groupBy("w1").agg(
        F.sum("cb").alias("cw1"),
        F.count(F.lit(1)).alias("n_cont"),  # N1+(w1, *)
    )
    right = big.groupBy("w2").agg(F.count(F.lit(1)).alias("n_left"))
    n1 = F.sum((F.col("cb") == 1).cast("long"))
    n2 = F.sum((F.col("cb") == 2).cast("long"))
    glob = big.agg(
        F.count(F.lit(1)).alias("n_big"),
        # textbook fallback D=0.5 when no singletons/doubletons exist
        # (a corpus whose every bigram repeats 3+ times — real at large
        # SF on templated text); the oracle mirrors the CASE exactly
        F.when(n1 + 2 * n2 == 0, F.lit(0.5))
        .otherwise(n1.cast("double") / (n1 + F.lit(2) * n2))
        .alias("d"),
    )
    d = F.col("d")
    p = (
        F.greatest(F.col("cb") - d, F.lit(0.0))
        / F.col("cw1").cast("double")
        + d * F.col("n_cont") / F.col("cw1").cast("double")
        * (F.col("n_left") / F.col("n_big").cast("double"))
    )
    term = F.round(-F.log2(p), 6).cast("decimal(28,14)")
    return (
        bc.join(big, ["w1", "w2"])
        .join(ctx, "w1")
        .join(right, "w2")
        .crossJoin(F.broadcast(glob))
        .groupBy(id_col)
        .agg(
            F.sum("c").alias("kn_bigrams"),
            (
                F.sum((term * F.col("c")).cast("decimal(28,14)")).cast("double")
                / F.sum("c")
            ).alias("kn_neg_log2p"),
        )
    )


def perplexity_buckets(
    scores: DataFrame,
    n_buckets: int = 3,
    score_col: str = "lm_neg_log2p",
    id_col: str = "doc_id",
    resolution: int = 2,
) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020): label
    every document ``head`` / ``middle`` / ``tail`` (or bucket index
    for ``n_buckets != 3``) by which corpus-wide score tercile it falls
    in — the standard way a pretraining pipeline tiers a crawl by LM
    fluency before sampling.

    Scale discipline: NO global sort. Scores quantize to ``resolution``
    decimals (map-side), a bounded histogram aggregates per quantized
    value, one window over the histogram (thousands of rows, not the
    corpus) derives cumulative mass, and the per-bucket thresholds
    broadcast back for a map-side label join. The cut rule is
    ``bucket b = count of thresholds <= quantized score`` with
    threshold ``t_k`` = the smallest quantized value whose cumulative
    count reaches ``ceil(k * n / n_buckets)`` — deterministic integer
    arithmetic end to end, so the labels replay exactly in SQL (ties
    share a quantized value and therefore a bucket; bucket populations
    are as even as ties allow). Documents with a NULL score (no
    bigrams) keep a NULL bucket.

    Returns ``scores`` plus ``ppl_bucket`` (int, 0 = most fluent) and
    ``ppl_tier`` (head/middle/tail when ``n_buckets == 3``)."""
    from pyspark.sql.window import Window

    q = F.round(F.col(score_col), resolution)
    hist = (
        scores.filter(F.col(score_col).isNotNull())
        .groupBy(q.alias("__q"))
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    wcum = Window.orderBy("__q").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.select(
        "__q", F.sum("__c").over(wcum).alias("__cum"),
        F.sum("__c").over(
            Window.orderBy("__q").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("__n"),
    )
    # smallest quantized value reaching each cut's cumulative target:
    # dense per-threshold min via a conditional aggregate (k-1 rows)
    cuts = [
        F.min(
            F.when(
                F.col("__cum") * n_buckets >= F.col("__n") * k, F.col("__q")
            )
        ).alias(f"__t{k}")
        for k in range(1, n_buckets)
    ]
    thresholds = cum.agg(*cuts)
    bucket = sum(
        (q > F.col(f"__t{k}")).cast("int") for k in range(1, n_buckets)
    )
    out = scores.crossJoin(F.broadcast(thresholds)).withColumn(
        "ppl_bucket",
        F.when(F.col(score_col).isNotNull(), bucket).cast("int"),
    )
    if n_buckets == 3:
        out = out.withColumn(
            "ppl_tier",
            F.element_at(
                F.array(F.lit("head"), F.lit("middle"), F.lit("tail")),
                F.col("ppl_bucket") + 1,
            ),
        )
    return out.drop(*[f"__t{k}" for k in range(1, n_buckets)])


def corpus_report(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str | None = None,
    quantiles: str = "exact",
    sample_k: int = 4096,
) -> DataFrame:
    """One-call corpus health summary — the numbers a data engineer
    checks before pointing a training run at a crawl: document and
    exact-duplicate counts, token totals, and the token-length
    distribution. One row per ``group_col`` value (or one row total):

    ``n_docs, n_unique_texts, dup_rate, total_tokens, mean_tokens,
    p50_tokens, p95_tokens, min_tokens, max_tokens``

    Plan: one corpus scan computing map-side lengths + fingerprints,
    then a single aggregation (count_distinct adds the usual expand).
    ``quantiles`` picks the percentile execution: ``"exact"`` uses the
    built-in exact ``percentile`` (the only non-decomposable piece —
    fine through the low-TB range), ``"bottomk"`` estimates p50/p95
    from the ``sample_k``-row mergeable bottom-k-by-hash sample
    (:func:`~.sketch.bottomk_sample` — the 100 TB path: the percentile
    input is k rows per group instead of the corpus, at O(1/sqrt(k))
    rank error; the default 4096 gives ~1.5 %). All ratios int/int.
    Composes with the deeper per-document operators (``text_stats``,
    ``gopher_repetition_signals``) which this deliberately does not
    duplicate."""
    if quantiles not in ("exact", "bottomk"):
        raise ValueError(
            f"quantiles must be 'exact' or 'bottomk': {quantiles!r}"
        )
    from xarray_dataaccessor_spark.functions.hashing import portable_hash64

    toks = F.size(
        F.filter(
            F.split(F.trim(F.col(text_col)), "\\s+"),
            lambda w: F.length(w) > 0,
        )
    )
    # id_col is only touched on the bottomk path (it keys the sample);
    # the exact path keeps the original contract where the input needs
    # no id column at all
    base = df.select(
        *( [F.col(group_col)] if group_col else [] ),
        *( [F.col(id_col)] if quantiles == "bottomk" else [] ),
        toks.alias("__n"),
        portable_hash64(F.col(text_col)).alias("__fp"),
    )
    keys = [group_col] if group_col else []
    if quantiles == "bottomk":
        from xarray_dataaccessor_spark.operators.sketch import (
            bottomk_quantiles,
            bottomk_sample,
        )

        q = bottomk_quantiles(
            bottomk_sample(
                base, "__n", [id_col], group_cols=keys, k=sample_k
            ),
            "__n", group_cols=keys, probs=(0.5, 0.95),
        ).select(
            *keys,
            F.col("q5").alias("p50_tokens"),
            F.col("q95").alias("p95_tokens"),
        )
        agg = base.groupBy(*keys).agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_distinct(F.col("__fp")).alias("n_unique_texts"),
            F.sum("__n").alias("total_tokens"),
            F.avg("__n").alias("mean_tokens"),
            F.min("__n").alias("min_tokens"),
            F.max("__n").alias("max_tokens"),
        )
        joined = (
            agg.join(F.broadcast(q), keys) if keys
            else agg.crossJoin(F.broadcast(q))
        )
        return joined.select(
            *keys, "n_docs", "n_unique_texts", "total_tokens",
            "mean_tokens", "p50_tokens", "p95_tokens", "min_tokens",
            "max_tokens",
        ).withColumn(
            "dup_rate",
            (F.col("n_docs") - F.col("n_unique_texts"))
            / F.col("n_docs").cast("double"),
        )
    return (
        base.groupBy(*keys)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_distinct(F.col("__fp")).alias("n_unique_texts"),
            F.sum("__n").alias("total_tokens"),
            F.avg("__n").alias("mean_tokens"),
            F.expr("percentile(__n, 0.5)").alias("p50_tokens"),
            F.expr("percentile(__n, 0.95)").alias("p95_tokens"),
            F.min("__n").alias("min_tokens"),
            F.max("__n").alias("max_tokens"),
        )
        .withColumn(
            "dup_rate",
            (F.col("n_docs") - F.col("n_unique_texts"))
            / F.col("n_docs").cast("double"),
        )
    )


def dedup_within_doc(
    df: DataFrame,
    text_col: str = "text",
    unit: str = "line",
    min_len: int = 0,
) -> DataFrame:
    """Remove repeated lines/paragraphs WITHIN each document — the
    acted-on counterpart of :func:`gopher_repetition_signals` (boiler-
    plate navigation bars, repeated headers, and decoding loops show up
    as verbatim repeated units; Gopher/RefinedWeb drop the repeats, not
    the document). Pure map-side array ops: split on the unit boundary
    (``line`` = newline, ``paragraph`` = blank line), keep the FIRST
    occurrence of each unit (``array_distinct`` preserves first-seen
    order), drop later repeats, and rejoin. Units shorter than
    ``min_len`` characters are kept verbatim (single-word bullets reap-
    pear legitimately; only substantial units are deduplicated — they
    carry a ``\\x00`` tag inline so distinctness never crosses the
    length classes).

    Adds ``<text_col>_dedup``, ``n_units``, ``n_unique_units``,
    ``intra_dup_ratio``. Zero shuffles, zero UDFs — at 100 TB this is
    scan-speed cleanup before the corpus-level dedup stack."""
    if unit == "line":
        sep_pat, join_sep = "\\n", "\n"
    elif unit == "paragraph":
        sep_pat, join_sep = "\\n{2,}", "\n\n"
    else:
        raise ValueError("unit must be 'line' or 'paragraph'")
    units = F.split(F.col(text_col), sep_pat)
    # tag short units with their position so array_distinct keeps them
    # all; long units tag with a constant so repeats collapse
    tagged = F.transform(
        units,
        lambda u, i: F.when(
            F.length(u) < min_len,
            F.concat(u, F.lit("\x00p"), i.cast("string")),
        ).otherwise(u),
    )
    kept = F.transform(
        F.array_distinct(tagged),
        lambda u: F.regexp_replace(u, "\\x00p[0-9]+$", ""),
    )
    n_units = F.size(units)
    n_unique = F.size(F.array_distinct(tagged))
    return (
        df.withColumn(f"{text_col}_dedup", F.array_join(kept, join_sep))
        .withColumn("n_units", n_units.cast("long"))
        .withColumn("n_unique_units", n_unique.cast("long"))
        .withColumn(
            "intra_dup_ratio",
            (n_units - n_unique) / n_units.cast("double"),
        )
    )
