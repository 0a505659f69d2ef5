"""Extension-surface queries: dedup, similarity search, text analysis,
sessionization, multimodal plumbing (SURVEY §7.8) — each registered in the
same (Spark callable, DuckDB oracle) registry as the reference-parity
queries. Long oracle SQL (minhash signatures, simhash bit votes, LSH
planes) is generated programmatically so it provably mirrors the engine's
constants.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from xarray_dataaccessor_spark.operators.dedup import (
    MINHASH_A,
    MINHASH_B,
    dedup_exact,
    jaccard_pairs,
    minhash_near_duplicates,
)
from xarray_dataaccessor_spark.functions.hashing import HASH_PRIME
from xarray_dataaccessor_spark.operators.similarity import (
    _LCG_A,
    _LCG_C,
    _LCG_M,
    cosine_topk,
    embedding_near_duplicates,
    lsh_ann,
)
from xarray_dataaccessor_spark.operators.cachectl import tracked_cache
from xarray_dataaccessor_spark.operators.sketch import hll_ndv_sql
from xarray_dataaccessor_spark.queries import query
from xarray_dataaccessor_spark.session import configure_session, local_frame
from xarray_dataaccessor_spark.sources.tables import load

# ---------------------------------------------------------------------------
# shared near-dup test corpus: documents + fuzzed copies (doc_id%5==0 gets
# an appended tail -> near-duplicate) + exact copies (doc_id%7==0)
# ---------------------------------------------------------------------------
CORPUS_SQL = """
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 100000 AS doc_id, text || ' tail tail tail' AS text
    FROM documents WHERE doc_id % 5 = 0
    UNION ALL
    SELECT doc_id + 200000 AS doc_id, text FROM documents WHERE doc_id % 7 = 0
"""


def _corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    near = (
        docs.filter(F.col("doc_id") % 5 == 0)
        .select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" tail tail tail")).alias("text"),
        )
    )
    exact = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"), "text"
    )
    return docs.unionByName(near).unionByName(exact)


_H32 = "('0x' || substr(md5({expr}), 1, 8))::BIGINT"
_H64 = "('0x' || substr(md5({expr}), 1, 15))::BIGINT"


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------
_STOP_PAT = "\\b(the|a|an|of|and|or|to|in|is|it)\\b"


def _lang_score_sql(words: tuple[str, ...]) -> str:
    return (
        "len(regexp_extract_all(lower(text), '\\b("
        + "|".join(words)
        + ")\\b'))"
    )


_NORM_TEXT = "lower(regexp_replace(text, '\\s+', ' ', 'g'))"
_FP_NUM = _H64.format(expr=_NORM_TEXT)


@query(
    "text_profile",
    oracle=None,  # set below (needs the language marker tables)
)
def text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document curation passes under one oracle slot (variant
    union — the r6/r7 consolidation discipline):

    - ``'profile'`` rows — single-pass text profile: quality statistics
      (lengths, punctuation/digit/stopword ratios, composite quality
      flag), marker-hit language ID with deterministic tie-break, and
      the md5 + 60-bit fingerprint, fused into ONE map-side projection:
      at 100 TB this is one corpus scan instead of three, zero shuffles.
    - ``'web'`` rows — :func:`operators.webprep.normalize_url` + the
      registrable-domain gate over deterministically seeded URLs (the
      synthetic corpus carries none — the pii_scrub seeding trick):
      four URL shapes per corpus exercise case folding, default-port
      stripping, tracking-param removal + query sort, duplicate-slash
      collapse, bare-host '/', fragment drop, and non-default port
      retention; ``web_blocked`` is the ``domain_filter`` predicate.
    - ``'chunk'`` rows — :func:`operators.webprep.chunk_documents`
      (64-token windows, 16-token overlap): one row per chunk with the
      token count in ``n_words`` and the chunk text's md5 in ``fp_md5``,
      so window boundaries, the shared-overlap invariant and the final
      short chunk all hash-verify. Map-side explode; the corpus never
      shuffles in any variant.
    - ``'html'`` rows (round 9) — :func:`operators.webprep.html_to_text`
      over deterministically seeded markup (each document wrapped in a
      fixed head/script/style/comment/entity scaffold — the pii_scrub
      seeding trick): the md5, char count and word count of the
      stripped text, with the oracle applying the IDENTICAL regexp
      chain via :func:`operators.webprep.html_to_text_sql` (both
      spellings generated from one module-level spec)."""
    configure_session(spark)
    from xarray_dataaccessor_spark.operators.text import (
        fingerprint,
        language_id,
        text_stats,
    )
    from xarray_dataaccessor_spark.operators.webprep import (
        chunk_documents,
        html_to_text,
        normalize_url,
        url_parts,
    )

    docs = load(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    out = fingerprint(language_id(text_stats(docs)))
    nulls = {
        "url_norm": F.lit(None).cast("string"),
        "url_domain": F.lit(None).cast("string"),
        "web_blocked": F.lit(None).cast("boolean"),
        "chunk_id": F.lit(None).cast("int"),
    }
    profile = out.select(
        F.lit("profile").alias("variant"),
        "doc_id",
        "lang",
        F.col("n_chars").cast("bigint").alias("n_chars"),
        F.col("n_words").cast("bigint").alias("n_words"),
        "mean_word_len",
        "punct_ratio",
        "digit_ratio",
        "stopword_ratio",
        "quality_ok",
        "lang_pred",
        F.col("lang_score").cast("bigint").alias("lang_score"),
        "fp_md5",
        "fp_num",
        *[v.alias(k) for k, v in nulls.items()],
    )
    k = (F.col("doc_id") % 50).cast("string")
    m = (F.col("doc_id") % 7).cast("string")
    url = (
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(F.lit("HTTP://Site"), k, F.lit(".COM:80/path/"), m,
                     F.lit("?utm_campaign=c&z=9&a=1#x")),
        )
        .when(
            F.col("doc_id") % 4 == 1,
            F.concat(F.lit("https://sub.Site"), k,
                     F.lit(".com:8443//a//b?fbclid=f")),
        )
        .when(
            F.col("doc_id") % 4 == 2,
            F.concat(F.lit("http://Site"), k, F.lit(".COM")),
        )
        .otherwise(
            F.concat(F.lit("https://www.Site"), k, F.lit(".com/?gclid=g&b=2"))
        )
    )
    seeded = docs.select("doc_id", url.alias("__url"))
    dom = url_parts(F.col("__url"))["domain"]
    web = seeded.select(
        F.lit("web").alias("variant"),
        "doc_id",
        F.lit(None).cast("string").alias("lang"),
        F.lit(None).cast("bigint").alias("n_chars"),
        F.lit(None).cast("bigint").alias("n_words"),
        F.lit(None).cast("double").alias("mean_word_len"),
        F.lit(None).cast("double").alias("punct_ratio"),
        F.lit(None).cast("double").alias("digit_ratio"),
        F.lit(None).cast("double").alias("stopword_ratio"),
        F.lit(None).cast("boolean").alias("quality_ok"),
        F.lit(None).cast("string").alias("lang_pred"),
        F.lit(None).cast("bigint").alias("lang_score"),
        F.lit(None).cast("string").alias("fp_md5"),
        F.lit(None).cast("bigint").alias("fp_num"),
        normalize_url(F.col("__url")).alias("url_norm"),
        dom.alias("url_domain"),
        # the domain_filter(keep=True) predicate, surfaced as a flag so
        # both kept and dropped rows hash-verify
        dom.isin("site3.com", "site7.com").alias("web_blocked"),
        F.lit(None).cast("int").alias("chunk_id"),
    )
    chunks = chunk_documents(docs, chunk_tokens=64, overlap=16).select(
        F.lit("chunk").alias("variant"),
        "doc_id",
        F.lit(None).cast("string").alias("lang"),
        F.lit(None).cast("bigint").alias("n_chars"),
        F.col("n_tokens").cast("bigint").alias("n_words"),
        F.lit(None).cast("double").alias("mean_word_len"),
        F.lit(None).cast("double").alias("punct_ratio"),
        F.lit(None).cast("double").alias("digit_ratio"),
        F.lit(None).cast("double").alias("stopword_ratio"),
        F.lit(None).cast("boolean").alias("quality_ok"),
        F.lit(None).cast("string").alias("lang_pred"),
        F.lit(None).cast("bigint").alias("lang_score"),
        F.md5("text").alias("fp_md5"),
        F.lit(None).cast("bigint").alias("fp_num"),
        F.lit(None).cast("string").alias("url_norm"),
        F.lit(None).cast("string").alias("url_domain"),
        F.lit(None).cast("boolean").alias("web_blocked"),
        F.col("chunk_id").cast("int").alias("chunk_id"),
    )
    hdoc = F.concat(
        F.lit(_HTML_SEED_PRE),
        F.col("doc_id").cast("string"),
        F.lit(_HTML_SEED_MID),
        F.col("doc_id").cast("string"),
        F.lit(_HTML_SEED_OPEN),
        F.col("text"),
        F.lit(_HTML_SEED_POST),
    )
    hclean = html_to_text(
        docs.select("doc_id", hdoc.alias("__html")),
        html_col="__html",
        out_col="__clean",
    )
    htmlrows = hclean.select(
        F.lit("html").alias("variant"),
        "doc_id",
        F.lit(None).cast("string").alias("lang"),
        F.length("__clean").cast("bigint").alias("n_chars"),
        F.size(
            F.filter(
                F.split(F.col("__clean"), "\\s+"),
                lambda w: F.length(w) > 0,
            )
        ).cast("bigint").alias("n_words"),
        F.lit(None).cast("double").alias("mean_word_len"),
        F.lit(None).cast("double").alias("punct_ratio"),
        F.lit(None).cast("double").alias("digit_ratio"),
        F.lit(None).cast("double").alias("stopword_ratio"),
        F.lit(None).cast("boolean").alias("quality_ok"),
        F.lit(None).cast("string").alias("lang_pred"),
        F.lit(None).cast("bigint").alias("lang_score"),
        F.md5("__clean").alias("fp_md5"),
        F.lit(None).cast("bigint").alias("fp_num"),
        F.lit(None).cast("string").alias("url_norm"),
        F.lit(None).cast("string").alias("url_domain"),
        F.lit(None).cast("boolean").alias("web_blocked"),
        F.lit(None).cast("int").alias("chunk_id"),
    )
    return (
        profile.unionByName(web).unionByName(chunks).unionByName(htmlrows)
    )


#: deterministic HTML scaffold for the 'html' variant — shared verbatim
#: (via SQL-literal escaping) with the DuckDB oracle. No trailing line
#: terminator anywhere, so Java's before-final-newline '$' semantics
#: can never diverge from RE2's end-of-text '$'.
_HTML_SEED_PRE = (
    '<html><head><title>T</title><style>p {color: red}</style>'
    '<script type="text/javascript">if (1 < 2 && 3 > 0) { x = "y"; }'
    '</script></head><body><!-- note '
)
_HTML_SEED_MID = " --><h1>Doc &amp; "
_HTML_SEED_OPEN = "</h1><p>"
_HTML_SEED_POST = (
    "</p><ul><li>alpha</li><li>beta&nbsp;gamma</li></ul>"
    '<div class="d">tail &#65;&#x42; &lt;ok&gt; &#39;q&#39;</div>'
    "</body></html>"
)


def _register_text_profile_oracle():
    from xarray_dataaccessor_spark.operators.text import LANG_MARKERS
    from xarray_dataaccessor_spark.operators.webprep import html_to_text_sql
    from xarray_dataaccessor_spark.queries import ORACLES

    def _sq(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    hseed = (
        f"{_sq(_HTML_SEED_PRE)} || CAST(doc_id AS VARCHAR) || "
        f"{_sq(_HTML_SEED_MID)} || CAST(doc_id AS VARCHAR) || "
        f"{_sq(_HTML_SEED_OPEN)} || text || {_sq(_HTML_SEED_POST)}"
    )
    html_clean = html_to_text_sql("h")

    scores = ",\n               ".join(
        f"{_lang_score_sql(w)} AS s_{lang}" for lang, w in LANG_MARKERS.items()
    )
    langs = sorted(LANG_MARKERS)
    g = "greatest(" + ", ".join(f"s_{la}" for la in langs) + ")"
    case = f"CASE WHEN {g} = 0 THEN 'und' "
    for la in langs:
        case += f"WHEN s_{la} = {g} THEN '{la}' "
    case += "END"
    ORACLES["text_profile"] = f"""
    WITH t AS (
        SELECT doc_id, lang, text,
               length(text) AS n_chars,
               len(string_split_regex(trim(text), '\\s+')) AS n_words,
               len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS n_punct,
               len(regexp_extract_all(text, '[0-9]')) AS n_digits,
               len(regexp_extract_all(lower(text), '{_STOP_PAT}')) AS n_stop,
               {scores}
        FROM documents
    ),
    toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(trim(text), '\\s+'),
                           x -> length(x) > 0) AS w
        FROM documents
    ),
    chk AS (
        SELECT doc_id, CAST(cid AS INT) AS chunk_id,
               w[(cid * 48 + 1):(cid * 48 + 64)] AS chunk
        FROM (
            SELECT doc_id, w,
                   unnest(range(0, CAST(greatest(
                       ceil((len(w) - 64) / 48), 0) AS BIGINT) + 1)) AS cid
            FROM toks
        )
        WHERE len(w[(cid * 48 + 1):(cid * 48 + 64)]) > 0
    )
    SELECT 'profile' AS variant, doc_id, lang, n_chars, n_words,
           (n_chars - (n_words - 1)) / CAST(n_words AS DOUBLE) AS mean_word_len,
           n_punct / CAST(n_chars AS DOUBLE) AS punct_ratio,
           n_digits / CAST(n_chars AS DOUBLE) AS digit_ratio,
           n_stop / CAST(n_words AS DOUBLE) AS stopword_ratio,
           (n_words >= 5 AND n_chars >= 30 AND n_punct / CAST(n_chars AS DOUBLE) < 0.2)
               AS quality_ok,
           {case} AS lang_pred, CAST({g} AS BIGINT) AS lang_score,
           md5({_NORM_TEXT}) AS fp_md5,
           {_FP_NUM} AS fp_num,
           CAST(NULL AS VARCHAR) AS url_norm,
           CAST(NULL AS VARCHAR) AS url_domain,
           CAST(NULL AS BOOLEAN) AS web_blocked,
           CAST(NULL AS INT) AS chunk_id
    FROM t
    UNION ALL
    SELECT 'web' AS variant, doc_id,
           CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           CAST(NULL AS DOUBLE), CAST(NULL AS BOOLEAN), CAST(NULL AS VARCHAR),
           CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
           CASE doc_id % 4
             WHEN 0 THEN 'http://site' || CAST(doc_id % 50 AS VARCHAR)
                 || '.com/path/' || CAST(doc_id % 7 AS VARCHAR) || '?a=1&z=9'
             WHEN 1 THEN 'https://sub.site' || CAST(doc_id % 50 AS VARCHAR)
                 || '.com:8443/a/b'
             WHEN 2 THEN 'http://site' || CAST(doc_id % 50 AS VARCHAR) || '.com/'
             ELSE 'https://www.site' || CAST(doc_id % 50 AS VARCHAR) || '.com/?b=2'
           END AS url_norm,
           'site' || CAST(doc_id % 50 AS VARCHAR) || '.com' AS url_domain,
           (doc_id % 50) IN (3, 7) AS web_blocked,
           CAST(NULL AS INT) AS chunk_id
    FROM documents
    UNION ALL
    SELECT 'chunk' AS variant, doc_id,
           CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
           CAST(len(chunk) AS BIGINT) AS n_words,
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           CAST(NULL AS DOUBLE), CAST(NULL AS BOOLEAN), CAST(NULL AS VARCHAR),
           CAST(NULL AS BIGINT),
           md5(array_to_string(chunk, ' ')) AS fp_md5,
           CAST(NULL AS BIGINT),
           CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
           CAST(NULL AS BOOLEAN), chunk_id
    FROM chk
    UNION ALL
    SELECT 'html' AS variant, doc_id,
           CAST(NULL AS VARCHAR),
           CAST(length(clean) AS BIGINT) AS n_chars,
           CAST(len(list_filter(string_split_regex(clean, '\\s+'),
                                x -> length(x) > 0)) AS BIGINT) AS n_words,
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           CAST(NULL AS DOUBLE), CAST(NULL AS BOOLEAN), CAST(NULL AS VARCHAR),
           CAST(NULL AS BIGINT),
           md5(clean) AS fp_md5,
           CAST(NULL AS BIGINT),
           CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
           CAST(NULL AS BOOLEAN), CAST(NULL AS INT)
    FROM (SELECT doc_id, {html_clean} AS clean
          FROM (SELECT doc_id, {hseed} AS h FROM documents))
    """


_register_text_profile_oracle()


@query(
    "token_count_by_source",
    oracle=f"""
    WITH t AS (
        SELECT source,
               len(string_split_regex(trim(text), '\\s+')) AS ws_tokens,
               len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) AS bpe_tokens
        FROM documents
    ),
    agg AS (
        SELECT source, COUNT(*) AS n_docs,
               CAST(SUM(ws_tokens) AS BIGINT) AS total_ws_tokens,
               CAST(SUM(bpe_tokens) AS BIGINT) AS total_bpe_tokens
        FROM t GROUP BY source
    ),
    norms AS (
        SELECT CAST(SUM(total_bpe_tokens) AS BIGINT) AS tot_tokens,
               list_reduce(
                   list(sqrt(CAST(total_bpe_tokens AS DOUBLE)) ORDER BY source),
                   (p, q) -> p + q) AS tot_sqrt
        FROM agg
    ),
    rl AS (
        SELECT source,
               len(list_filter(string_split_regex(trim(text), '\\s+'),
                               x -> length(x) > 0)) AS n,
               {_H64.format(expr="text")} AS fp
        FROM documents
    ),
    rep AS (
        SELECT source, COUNT(*) AS n_docs,
               COUNT(DISTINCT fp) AS n_unique_texts,
               CAST(SUM(n) AS BIGINT) AS total_tokens,
               CAST(SUM(n) AS DOUBLE) / COUNT(*) AS mean_tokens,
               round(quantile_cont(n, 0.5), 6) AS p50_tokens,
               round(quantile_cont(n, 0.95), 6) AS p95_tokens,
               CAST(MIN(n) AS BIGINT) AS min_tokens,
               CAST(MAX(n) AS BIGINT) AS max_tokens
        FROM rl GROUP BY source
    ),
    hll AS ({{HLL}}),
    kw AS (
        SELECT doc_id, source,
               list_filter(string_split_regex(trim(text), '\\s+'),
                           x -> length(x) > 0) AS ws
        FROM documents
    ),
    kn_occ AS (
        SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM (
            SELECT doc_id,
                   unnest(list_transform(range(1, greatest(len(ws), 1)),
                          i -> {{'w1': ws[i], 'w2': ws[i+1]}})) AS b
            FROM kw
        ) WHERE b.w2 IS NOT NULL
    ),
    kn_big AS (SELECT w1, w2, COUNT(*) AS cb FROM kn_occ GROUP BY w1, w2),
    kn_ctx AS (SELECT w1, SUM(cb) AS cw1, COUNT(*) AS n_cont
               FROM kn_big GROUP BY w1),
    kn_rgt AS (SELECT w2, COUNT(*) AS n_left FROM kn_big GROUP BY w2),
    kn_tot AS (SELECT COUNT(*) AS n_big FROM kn_big),
    kn_d AS (
        SELECT CASE WHEN SUM(CASE WHEN cb = 1 THEN 1 ELSE 0 END)
                         + 2 * SUM(CASE WHEN cb = 2 THEN 1 ELSE 0 END) = 0
                    THEN 0.5
                    ELSE CAST(SUM(CASE WHEN cb = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                         / (SUM(CASE WHEN cb = 1 THEN 1 ELSE 0 END)
                            + 2.0 * SUM(CASE WHEN cb = 2 THEN 1 ELSE 0 END))
               END AS d
        FROM kn_big
    ),
    kn_doc AS (
        SELECT doc_id, COUNT(*) AS kn_bigrams,
               CAST(SUM(CAST(round(-log2(
                   greatest(cb - d, 0.0) / cw1
                   + d * n_cont / cw1 * (n_left / CAST(n_big AS DOUBLE))
               ), 6) AS DECIMAL(28,14))) AS DOUBLE) / COUNT(*)
                   AS kn_neg_log2p
        FROM kn_occ JOIN kn_big USING (w1, w2)
        JOIN kn_ctx USING (w1) JOIN kn_rgt USING (w2), kn_tot, kn_d
        GROUP BY doc_id
    ),
    kn_src AS (
        SELECT source, COUNT(*) AS n_docs,
               CAST(SUM(kn_bigrams) AS BIGINT) AS kn_bigrams_total,
               CAST(SUM(CAST(round(kn_neg_log2p, 6) AS DECIMAL(28,14)))
                    AS DOUBLE) / COUNT(*) AS kn_mean,
               MIN(round(kn_neg_log2p, 6)) AS kn_min,
               MAX(round(kn_neg_log2p, 6)) AS kn_max,
               CAST(MIN(kn_bigrams) AS BIGINT) AS kn_big_min,
               CAST(MAX(kn_bigrams) AS BIGINT) AS kn_big_max
        FROM kn_doc JOIN kw USING (doc_id)
        GROUP BY source
    )
    SELECT 'counts' AS variant, source, n_docs, total_ws_tokens,
           total_bpe_tokens,
           CAST(total_bpe_tokens AS DOUBLE) / CAST(tot_tokens AS DOUBLE)
               AS p_natural,
           sqrt(CAST(total_bpe_tokens AS DOUBLE)) / tot_sqrt AS p_temperature,
           CAST(NULL AS BIGINT) AS n_unique_texts,
           CAST(NULL AS DOUBLE) AS dup_rate,
           CAST(NULL AS DOUBLE) AS mean_tokens,
           CAST(NULL AS DOUBLE) AS p50_tokens,
           CAST(NULL AS DOUBLE) AS p95_tokens,
           CAST(NULL AS BIGINT) AS min_tokens,
           CAST(NULL AS BIGINT) AS max_tokens,
           CAST(NULL AS DOUBLE) AS approx_ndv
    FROM agg, norms
    UNION ALL
    SELECT 'report' AS variant, rep.source, rep.n_docs,
           rep.total_tokens AS total_ws_tokens,
           CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           rep.n_unique_texts,
           (rep.n_docs - rep.n_unique_texts) / CAST(rep.n_docs AS DOUBLE)
               AS dup_rate,
           rep.mean_tokens, rep.p50_tokens, rep.p95_tokens,
           rep.min_tokens, rep.max_tokens, hll.approx_ndv
    FROM rep JOIN hll ON rep.source = hll.grp
    UNION ALL
    SELECT 'kn' AS variant, source, n_docs,
           kn_bigrams_total AS total_ws_tokens,
           CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
           kn_mean AS mean_tokens, kn_min AS p50_tokens,
           kn_max AS p95_tokens, kn_big_min AS min_tokens,
           kn_big_max AS max_tokens, CAST(NULL AS DOUBLE) AS approx_ndv
    FROM kn_src
    """.replace(
        "{HLL}",
        hll_ndv_sql("text", p=6).replace(
            "__hll_src", "(SELECT source AS grp, text FROM documents)"
        ),
    ),
)
def token_count_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token budget plus the mixture-sampling weights a
    pretraining run draws from: natural (proportional to tokens) and
    temperature-scaled (p ∝ sqrt(tokens), alpha=0.5 — the standard
    upweighting of small domains; sqrt because it is IEEE-correctly
    rounded on every platform, where pow(x, 0.7) is only
    faithfully rounded and can differ cross-engine by an ulp). The
    normalizers come from a broadcast 1-row aggregate: the token total
    is an exact integer sum, and the sqrt total is a source-ordered
    sequential fold so Spark and the oracle add in the same order.

    Round 8 adds ``'report'`` variant rows —
    :func:`operators.text.corpus_report` per source (doc/unique/dup
    counts, token totals and the length distribution; p50/p95 rounded
    to 6 decimals, the interpolation-ulp discipline) JOINED with
    :func:`operators.sketch.hll_ndv`: the engine-portable HyperLogLog
    estimate of distinct texts, whose md5 registers, decimal harmonic
    sum and linear-counting branch replay bit-for-bit in the oracle.
    At 100 TB the sketch column is the one you keep; the exact
    ``n_unique_texts`` beside it is the sf-local cross-check.

    Round 9 adds ``'kn'`` variant rows — interpolated Kneser-Ney
    bigram-LM scoring (:func:`operators.text.kneser_ney_from_counts`,
    the smoothing family CCNet's KenLM reference actually uses):
    absolute discount from the bigram count-of-counts (CASE-guarded 0.5
    fallback when no singletons/doubletons exist) and the continuation
    distribution, aggregated per source with the decimal discipline
    (per-doc scores re-rounded to 6 decimals, decimal-summed — exact
    and aggregation-order independent) so every document's score is
    pinned through the per-source mean/min/max. Moved here from the
    overloaded ``quality_filter_gopher`` slot (VERDICT r8 #1)."""
    configure_session(spark)
    from xarray_dataaccessor_spark.operators.sketch import hll_ndv
    from xarray_dataaccessor_spark.operators.text import (
        corpus_report,
        kneser_ney_from_counts,
        token_counts,
    )

    docs = load(spark, sf_dir, "documents").select("source", "text")
    out = token_counts(docs)
    # persisted (lazily): the 60-row per-source aggregate feeds both the
    # main projection and the broadcast normalizer subquery; without the
    # persist each branch re-tokenizes the corpus (no exchange reuse
    # across the broadcast-subquery boundary — diagnosed round 10, the
    # r9 slot plan ran 10 documents scans and its serial broadcast
    # stages were the per-repeat variance amplifier VERDICT r9 #1 flagged)
    agg = tracked_cache(out.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("ws_tokens").alias("total_ws_tokens"),
        F.sum("bpe_tokens").alias("total_bpe_tokens"),
    ))
    tok = F.col("total_bpe_tokens").cast("double")
    glob = agg.agg(
        F.sum("total_bpe_tokens").alias("tot_tokens"),
        F.aggregate(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("source"), F.sqrt(tok).alias("sq")))
                ),
                lambda s: s["sq"],
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ).alias("tot_sqrt"),
    )
    rnulls = [
        F.lit(None).cast("bigint").alias("n_unique_texts"),
        F.lit(None).cast("double").alias("dup_rate"),
        F.lit(None).cast("double").alias("mean_tokens"),
        F.lit(None).cast("double").alias("p50_tokens"),
        F.lit(None).cast("double").alias("p95_tokens"),
        F.lit(None).cast("bigint").alias("min_tokens"),
        F.lit(None).cast("bigint").alias("max_tokens"),
        F.lit(None).cast("double").alias("approx_ndv"),
    ]
    counts = agg.join(F.broadcast(glob)).select(
        F.lit("counts").alias("variant"),
        "source",
        "n_docs",
        "total_ws_tokens",
        "total_bpe_tokens",
        (tok / F.col("tot_tokens").cast("double")).alias("p_natural"),
        (F.sqrt(tok) / F.col("tot_sqrt")).alias("p_temperature"),
        *rnulls,
    )
    rep = corpus_report(docs, group_col="source").join(
        hll_ndv(docs, "text", p=6, group_cols=("source",)), "source"
    )
    report = rep.select(
        F.lit("report").alias("variant"),
        "source",
        "n_docs",
        F.col("total_tokens").alias("total_ws_tokens"),
        F.lit(None).cast("bigint").alias("total_bpe_tokens"),
        F.lit(None).cast("double").alias("p_natural"),
        F.lit(None).cast("double").alias("p_temperature"),
        "n_unique_texts",
        "dup_rate",
        "mean_tokens",
        F.round("p50_tokens", 6).alias("p50_tokens"),
        F.round("p95_tokens", 6).alias("p95_tokens"),
        F.col("min_tokens").cast("bigint").alias("min_tokens"),
        F.col("max_tokens").cast("bigint").alias("max_tokens"),
        "approx_ndv",
    )
    # 'kn' variant: per-source Kneser-Ney fluency aggregate. The
    # per-doc scores join back to (doc_id, source) — a narrow
    # doc-count-sized join, then a source-keyed aggregation; the model
    # tables themselves are vocabulary-sized (kneser_ney_from_counts'
    # plan discipline), so at 100 TB this adds two corpus tokenization
    # passes and nothing quadratic.
    docs_kn = load(spark, sf_dir, "documents").select("doc_id", "source")
    # the compacted (doc, bigram) counts feed the persisted model table
    # AND the per-document score join — persist so tokenization runs
    # once (MEMORY_AND_DISK: compacted fact-sized, spills gracefully).
    # Read from the session-landed shared fixture (the same tables
    # gopher/distill consume).
    from xarray_dataaccessor_spark.queries import (
        _corpus_bigram_counts,
        _corpus_word_counts,
    )

    bc_kn = tracked_cache(_corpus_bigram_counts(spark, sf_dir))
    kn = kneser_ney_from_counts(_corpus_word_counts(spark, sf_dir), bc_kn)
    rk = F.round(F.col("kn_neg_log2p"), 6)
    kn_src = (
        kn.join(docs_kn.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("kn_bigrams").cast("bigint").alias("total_ws_tokens"),
            (
                F.sum(rk.cast("decimal(28,14)")).cast("double")
                / F.count(F.lit(1))
            ).alias("mean_tokens"),
            F.min(rk).alias("p50_tokens"),
            F.max(rk).alias("p95_tokens"),
            F.min("kn_bigrams").cast("bigint").alias("min_tokens"),
            F.max("kn_bigrams").cast("bigint").alias("max_tokens"),
        )
    )
    knrows = kn_src.select(
        F.lit("kn").alias("variant"),
        "source",
        "n_docs",
        "total_ws_tokens",
        F.lit(None).cast("bigint").alias("total_bpe_tokens"),
        F.lit(None).cast("double").alias("p_natural"),
        F.lit(None).cast("double").alias("p_temperature"),
        F.lit(None).cast("bigint").alias("n_unique_texts"),
        F.lit(None).cast("double").alias("dup_rate"),
        "mean_tokens",
        "p50_tokens",
        "p95_tokens",
        "min_tokens",
        "max_tokens",
        F.lit(None).cast("double").alias("approx_ndv"),
    )
    return counts.unionByName(report).unionByName(knrows)


# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------
# Exact dedup (operators/dedup.py::dedup_exact) is hash-verified as the
# 'dedup' variant of the `sequence_packing` slot since round 11 — the
# registration freed for `quality_classifier_distill` (VERDICT r10 #3).


def _minhash_oracle(num_perm: int = 16, rows_per_band: int = 2) -> str:
    mins = ",\n               ".join(
        f"MIN((h * {MINHASH_A[i]} + {MINHASH_B[i]}) % {HASH_PRIME}) AS mh{i}"
        for i in range(num_perm)
    )
    n_bands = num_perm // rows_per_band
    band_selects = "\n        UNION ALL\n".join(
        f"        SELECT doc_id, {b} AS band, "
        + " || '_' || ".join(
            f"CAST(mh{b * rows_per_band + r} AS VARCHAR)" for r in range(rows_per_band)
        )
        + " AS bucket FROM sig"
        for b in range(n_bands)
    )
    agree = " + ".join(
        f"(CASE WHEN sa.mh{i} = sb.mh{i} THEN 1 ELSE 0 END)" for i in range(num_perm)
    )
    return f"""
    WITH corpus AS ({CORPUS_SQL}),
    sh AS (
        SELECT DISTINCT doc_id, shingle FROM (
            SELECT doc_id,
                   unnest(list_transform(range(1, greatest(len(w) - 2, 1) + 1),
                          i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
            FROM (SELECT doc_id, string_split(text, ' ') AS w FROM corpus)
        ) WHERE shingle IS NOT NULL AND length(shingle) > 0
    ),
    hashed AS (SELECT doc_id, {_H32.format(expr="shingle")} AS h FROM sh),
    sig AS (SELECT doc_id, {mins} FROM hashed GROUP BY doc_id),
    exploded AS (
{band_selects}
    ),
    pairs AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM exploded a JOIN exploded b
          ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    )
    SELECT p.id_a, p.id_b,
           CAST({agree} AS DOUBLE) / {float(num_perm)} AS est_jaccard
    FROM pairs p
    JOIN sig sa ON sa.doc_id = p.id_a
    JOIN sig sb ON sb.doc_id = p.id_b
    """


@query("dedup_minhash_lsh", oracle=_minhash_oracle())
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    configure_session(spark)
    return minhash_near_duplicates(
        _corpus(spark, sf_dir), num_perm=16, rows_per_band=2
    )


# ---------------------------------------------------------------------------
# Duplicate-cluster resolution: near-dup PAIRS -> connected components ->
# canonical-document election. The oracle computes the same fixpoint with
# a recursive CTE (min reachable label per node); the Spark side runs
# alternating large-star/small-star contraction (operators/graph.py), so
# an adversarial duplicate CHAIN converges in O(log^2 n) rounds, not
# O(diameter).
# ---------------------------------------------------------------------------
@query(
    "dedup_duplicate_clusters",
    oracle=f"""
    WITH RECURSIVE pairs_all AS ({_minhash_oracle()}),
    edges AS (
        SELECT id_a, id_b FROM pairs_all WHERE est_jaccard >= 0.5
    ),
    sym AS (
        SELECT id_a AS u, id_b AS v FROM edges
        UNION
        SELECT id_b AS u, id_a AS v FROM edges
    ),
    nodes AS (SELECT DISTINCT u FROM sym),
    reach(u, label) AS (
        SELECT u, u FROM nodes
        UNION
        SELECT s.v AS u, r.label FROM reach r JOIN sym s ON s.u = r.u
    ),
    comp AS (SELECT u AS doc_id, MIN(label) AS cluster_id FROM reach GROUP BY u),
    labeled AS (
        SELECT doc_id, cluster_id,
               COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
        FROM comp
    ),
    -- PageRank variant: 3 fixed power iterations over the same pair
    -- graph, decimal-disciplined so the ranks replay exactly
    deg AS (SELECT u, COUNT(*) AS dg FROM sym GROUP BY u),
    nn AS (SELECT COUNT(*) AS n FROM deg),
    pr0 AS (SELECT u, round(1.0 / n, 6) AS r FROM deg CROSS JOIN nn),
    pr1 AS (SELECT s.v AS u,
                   round((CAST(1 AS DOUBLE) - 0.85) / n
                         + 0.85 * CAST(SUM(CAST(round(p.r / d.dg, 9)
                               AS DECIMAL(28,14))) AS DOUBLE), 6) AS r
            FROM sym s JOIN pr0 p ON p.u = s.u JOIN deg d ON d.u = s.u
            CROSS JOIN nn GROUP BY s.v, n),
    pr2 AS (SELECT s.v AS u,
                   round((CAST(1 AS DOUBLE) - 0.85) / n
                         + 0.85 * CAST(SUM(CAST(round(p.r / d.dg, 9)
                               AS DECIMAL(28,14))) AS DOUBLE), 6) AS r
            FROM sym s JOIN pr1 p ON p.u = s.u JOIN deg d ON d.u = s.u
            CROSS JOIN nn GROUP BY s.v, n),
    pr3 AS (SELECT s.v AS u,
                   round((CAST(1 AS DOUBLE) - 0.85) / n
                         + 0.85 * CAST(SUM(CAST(round(p.r / d.dg, 9)
                               AS DECIMAL(28,14))) AS DOUBLE), 6) AS r
            FROM sym s JOIN pr2 p ON p.u = s.u JOIN deg d ON d.u = s.u
            CROSS JOIN nn GROUP BY s.v, n),
    prk AS (
        SELECT l.doc_id, l.cluster_id, l.cluster_size, pr3.r AS pr,
               row_number() OVER (PARTITION BY l.cluster_id
                                  ORDER BY pr3.r DESC, l.doc_id) AS rk
        FROM labeled l JOIN pr3 ON pr3.u = l.doc_id
    )
    SELECT 'cc' AS variant, doc_id, cluster_id, cluster_size,
           doc_id = cluster_id AS is_canonical, CAST(NULL AS DOUBLE) AS pr
    FROM labeled
    UNION ALL
    SELECT 'pagerank', doc_id, cluster_id, cluster_size, rk = 1, pr
    FROM prk
    """,
)
def dedup_duplicate_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster resolution over the MinHash LSH pair graph (est_jaccard
    >= 0.5 — agree/16 is an exact binary fraction, so the threshold
    compares identically cross-engine), TWO canonical-election policies
    under one slot:

    - ``'cc'`` — keep-the-smallest-id: one row per clustered document
      with (cluster_id = min doc id in component, cluster_size,
      is_canonical = doc_id == cluster_id).
    - ``'pagerank'`` — keep-the-most-central exemplar:
      ``graph.pagerank`` (3 fixed decimal-disciplined power iterations)
      scores every clustered document and the cluster's top-rank member
      (ties to the smallest id) is canonical — preserving the copy the
      rest of the cluster most resembles. The oracle unrolls the same
      three iterations, so ranks, elections and tie-breaks replay
      hash-exactly.

    The connected-components labeling, cluster sizes and the pair graph
    are computed once (cached/checkpointed) and feed both variants."""
    configure_session(spark)
    from pyspark.sql.window import Window

    from xarray_dataaccessor_spark.operators.graph import (
        connected_components,
        pagerank,
    )

    pairs = minhash_near_duplicates(
        _corpus(spark, sf_dir), num_perm=16, rows_per_band=2
    )
    # the edge list feeds components AND pagerank — cache it so the
    # union branches don't re-run the MinHash pipeline (memory:
    # spark-plan-quirks — no reuse across union branches)
    edges = tracked_cache(
        pairs.filter(F.col("est_jaccard") >= 0.5).select("id_a", "id_b")
    )
    comp = connected_components(edges)
    # labeled is NOT cached: both variant branches recompute it from the
    # checkpointed component labels concurrently — cheaper than a cache
    # barrier, which would serialize them
    labeled = comp.select(
        F.col("node").alias("doc_id"),
        F.col("component").alias("cluster_id"),
        F.count(F.lit(1))
        .over(Window.partitionBy("component"))
        .alias("cluster_size"),
    )
    cc = labeled.select(
        F.lit("cc").alias("variant"),
        "doc_id",
        "cluster_id",
        "cluster_size",
        (F.col("doc_id") == F.col("cluster_id")).alias("is_canonical"),
        F.lit(None).cast("double").alias("pr"),
    )
    pr = pagerank(edges, n_iters=3)
    w = Window.partitionBy("cluster_id").orderBy(F.desc("pr"), F.asc("doc_id"))
    central = (
        labeled.join(pr, labeled["doc_id"] == pr["node"])
        .drop("node")
        .withColumn("__rk", F.row_number().over(w))
        .select(
            F.lit("pagerank").alias("variant"),
            "doc_id",
            "cluster_id",
            "cluster_size",
            (F.col("__rk") == 1).alias("is_canonical"),
            "pr",
        )
    )
    return cc.unionByName(central)


def _simhash_oracle(bits: int = 32) -> str:
    votes = ",\n               ".join(
        f"SUM(CASE WHEN ((h >> {j}) & 1) = 1 THEN 1 ELSE -1 END) AS v{j}"
        for j in range(bits)
    )
    sig = " + ".join(
        f"(CASE WHEN v{j} > 0 THEN CAST({2**j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for j in range(bits)
    )
    return f"""
    WITH corpus AS ({CORPUS_SQL}),
    tok AS (
        SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS tok FROM corpus
    ),
    hashed AS (
        SELECT doc_id, {_H32.format(expr="tok")} AS h FROM tok WHERE length(tok) > 0
    ),
    votes AS (SELECT doc_id, {votes} FROM hashed GROUP BY doc_id),
    sig AS (SELECT doc_id, {sig} AS simhash FROM votes)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.simhash
    FROM sig a JOIN sig b ON a.simhash = b.simhash AND a.doc_id < b.doc_id
    """


def _simhash_hamming_oracle(bits: int = 32, max_hamming: int = 2) -> str:
    """All-pairs hamming <= d in SQL: the engine's pigeonhole banding is
    EXACT (any pair within hamming d shares a clean band), so the banded
    candidate join must return exactly the brute-force answer — which is
    what the oracle computes (fine at oracle scale; the banding is the
    100 TB path)."""
    base = _simhash_oracle(bits)
    prefix = base[: base.index("SELECT a.doc_id")]
    return (
        prefix
        + f"""SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
    """
    )


@query("dedup_simhash_hamming", oracle=_simhash_hamming_oracle())
def dedup_simhash_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded hamming<=2 SimHash near-dup search (pigeonhole: 3 bands of
    10/10/12 bits; candidates via (band, value) equi-join, exact
    popcount refine). Subsumes the former ``dedup_simhash_pairs`` query:
    the hamming=0 rows ARE the exact-duplicate pairs
    (``simhash_duplicate_pairs``), so one oracle slot covers both
    operators — the subset identity is asserted in
    ``tests/test_dedup_simhash.py``."""
    configure_session(spark)
    from xarray_dataaccessor_spark.operators.dedup import simhash_hamming_pairs

    return simhash_hamming_pairs(_corpus(spark, sf_dir), max_hamming=2)


def _jaccard_branch_sql(keep_having: str, variant: str) -> str:
    """One Jaccard pipeline branch (shared sh0/hashed0 CTEs assumed) for
    a given df-cap HAVING clause, labeled with a variant literal."""
    tag = variant  # short unique CTE suffix
    return f"""
    keep_{tag} AS (SELECT h FROM hashed0 GROUP BY h HAVING {keep_having}),
    hashed_{tag} AS (SELECT hashed0.* FROM hashed0 JOIN keep_{tag} USING (h)),
    sizes_{tag} AS (SELECT doc_id, COUNT(*) AS sz FROM hashed_{tag} GROUP BY doc_id),
    common_{tag} AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
        FROM hashed_{tag} a JOIN hashed_{tag} b
          ON a.h = b.h AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    res_{tag} AS (
        SELECT '{variant}' AS variant, id_a, id_b,
               CAST(n_common AS DOUBLE) / CAST(sa.sz + sb.sz - n_common AS DOUBLE)
                   AS jaccard
        FROM common_{tag}
        JOIN sizes_{tag} sa ON sa.doc_id = id_a
        JOIN sizes_{tag} sb ON sb.doc_id = id_b
        WHERE CAST(n_common AS DOUBLE) / CAST(sa.sz + sb.sz - n_common AS DOUBLE) >= 0.6
    )"""


@query(
    "dedup_jaccard_ngrams",
    oracle=f"""
    WITH corpus AS ({CORPUS_SQL}),
    sh AS (
        SELECT DISTINCT doc_id, shingle FROM (
            SELECT doc_id,
                   unnest(list_transform(range(1, greatest(len(w) - 2, 1) + 1),
                          i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
            FROM (SELECT doc_id, string_split(text, ' ') AS w FROM corpus)
        ) WHERE shingle IS NOT NULL AND length(shingle) > 0
    ),
    hashed0 AS (SELECT doc_id, {_H32.format(expr="shingle")} AS h FROM sh),
    cap AS (SELECT greatest(50, COUNT(DISTINCT doc_id) // 20) AS c FROM hashed0),
    {_jaccard_branch_sql("COUNT(*) <= (SELECT c FROM cap)", "auto")},
    {_jaccard_branch_sql("COUNT(*) <= 20", "df20")}
    SELECT * FROM res_auto UNION ALL SELECT * FROM res_df20
    """,
)
def dedup_jaccard_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard, both df-cap modes under one oracle slot
    (former separate ``dedup_jaccard_capped`` query consolidated here):
    'auto' = the corpus-size-derived cap (``max_df="auto"``, the silent
    default — the O(Σ df²) uncapped join is an explicit opt-in
    ``max_df=None``); 'df20' = an explicit absolute cap, the scale path
    for boilerplate-heavy corpora."""
    configure_session(spark)
    corpus = _corpus(spark, sf_dir)
    auto = jaccard_pairs(corpus, threshold=0.6).withColumn(
        "variant", F.lit("auto")
    )
    df20 = jaccard_pairs(corpus, threshold=0.6, max_df=20).withColumn(
        "variant", F.lit("df20")
    )
    return auto.unionByName(df20).select("variant", "id_a", "id_b", "jaccard")


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------
_DOT = (
    "list_reduce(list_transform(list_zip({a}, {b}), x -> x[1] * x[2]), "
    "(p, q) -> p + q)"
)


def _cos_sql(a: str, b: str) -> str:
    return (
        f"{_DOT.format(a=a, b=b)} / "
        f"(sqrt({_DOT.format(a=a, b=a)}) * sqrt({_DOT.format(a=b, b=b)}))"
    )


_INT8_DOT = (
    "list_reduce(list_transform(list_zip({a}, {b}), "
    "x -> CAST(x[1] AS BIGINT) * CAST(x[2] AS BIGINT)), (p, q) -> p + q)"
)


def _pca_power_sql(iters: int) -> str:
    """The unrolled power-iteration CTE chain for the 'pca_*' variants
    (DuckDB spelling of the pure-Python loop in
    ``similarity.pca_exact_power``): every fold is
    ``list_reduce(list_prepend(0.0, terms))`` — the left fold seeded at
    0.0 the Python replica and Spark's ``aggregate(..., 0.0D, ...)``
    both use — so the vector state after each of the ``iters`` rounds
    is a bit-identical double list."""
    ctes = [
        "p0 AS (SELECT list_transform(range(64), x -> CAST(1.0 AS DOUBLE)) AS v)"
    ]
    step = (
        "p{k} AS (SELECT list_transform(w, x -> x / sqrt(list_reduce("
        "list_prepend(CAST(0.0 AS DOUBLE), list_transform(w, y -> y * y)), "
        "(a, b) -> a + b))) AS v FROM "
        "(SELECT list_transform(m, r -> list_reduce(list_prepend("
        "CAST(0.0 AS DOUBLE), list_transform(range(1, 65), q -> r[q] * v[q])), "
        "(a, b) -> a + b)) AS w FROM p{km1}, pmat))"
    )
    for k in range(1, iters + 1):
        ctes.append(step.format(k=k, km1=k - 1))
    return ",\n    ".join(ctes)


#: power-iteration rounds for the 'pca_*' variants — shared by the
#: Spark slot and the oracle chain (both sides run EXACTLY this many)
_PCA_ITERS = 100


@query(
    "similarity_bruteforce_topk",
    oracle=f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    q AS (SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id < 5),
    c AS (SELECT vec_id AS neighbor_id, e AS ce FROM v),
    s AS (
        SELECT 'exact' AS variant, query_id, neighbor_id,
               {_cos_sql("qe", "ce")} AS cos
        FROM c, q WHERE query_id <> neighbor_id
    ),
    qs AS (SELECT vec_id, list_max(list_transform(e, x -> abs(x))) / 127.0 AS s0,
                  e FROM v),
    qz AS (SELECT vec_id,
                  list_transform(
                      e, x -> CAST(round(x / (CASE WHEN s0 > 0 THEN s0
                                               ELSE 1.0 END)) AS BIGINT)) AS iq
           FROM qs),
    s8 AS (
        SELECT 'int8' AS variant, a.vec_id AS query_id, b.vec_id AS neighbor_id,
               CAST({_INT8_DOT.format(a="a.iq", b="b.iq")} AS DOUBLE)
                 / (sqrt(CAST({_INT8_DOT.format(a="a.iq", b="a.iq")} AS DOUBLE))
                    * sqrt(CAST({_INT8_DOT.format(a="b.iq", b="b.iq")} AS DOUBLE)))
                   AS cos
        FROM qz a, qz b WHERE a.vec_id < 5 AND a.vec_id <> b.vec_id
    ),
    -- BM25 variant: lexical retrieval over the documents table with
    -- Lucene idf, replayed to the 6-decimal contribution
    bt AS (
        SELECT doc_id, w, COUNT(*) AS c FROM (
            SELECT doc_id,
                   unnest(list_filter(string_split_regex(trim(text), '\\s+'),
                          x -> length(x) > 0)) AS w
            FROM documents
        ) GROUP BY 1, 2
    ),
    bdl AS (SELECT doc_id, SUM(c) AS dl FROM bt GROUP BY 1),
    bst AS (SELECT COUNT(*) AS n, SUM(dl) AS tot FROM bdl),
    bq(query_id, w) AS (
        VALUES (0, 'hash'), (0, 'join'),
               (1, 'order'), (1, 'sort'), (1, 'window'),
               (2, 'customer'), (2, 'fast'), (2, 'query')
    ),
    bdf AS (SELECT w, COUNT(*) AS df FROM bt
            WHERE w IN (SELECT w FROM bq) GROUP BY 1),
    bsc AS (
        SELECT query_id, t.doc_id,
               SUM(CAST(round(
                   ln(1.0 + (CAST(n AS DOUBLE) - df + 0.5) / (df + 0.5))
                   * (t.c * 2.2)
                     / (t.c + 1.2 * (0.25 + 0.75 * (dl / (tot / CAST(n AS DOUBLE))))),
                 6) AS DECIMAL(28,14))) AS s
        FROM bt t JOIN bq USING (w) JOIN bdf USING (w)
        JOIN bdl ON t.doc_id = bdl.doc_id CROSS JOIN bst
        GROUP BY 1, 2
    ),
    brk AS (
        SELECT 'bm25' AS variant, CAST(query_id AS BIGINT) AS query_id,
               doc_id AS neighbor_id, CAST(s AS DOUBLE) AS cos,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY s DESC, doc_id) AS rk
        FROM bsc
    ),
    u AS (SELECT * FROM s UNION ALL SELECT * FROM s8),
    r AS (SELECT *, row_number() OVER (PARTITION BY variant, query_id
                                       ORDER BY cos DESC, neighbor_id) AS rk FROM u),
    -- RRF variant: reciprocal-rank fusion of the dense 'exact' and
    -- lexical 'bm25' top-5 lists (query ids both sides serve)
    rrf_in AS (
        SELECT query_id, neighbor_id, rk FROM r
        WHERE variant = 'exact' AND rk <= 5 AND query_id < 3
        UNION ALL
        SELECT query_id, neighbor_id, rk FROM brk WHERE rk <= 5
    ),
    rrf_s AS (
        SELECT query_id, neighbor_id,
               SUM(CAST(round(1.0 / (60 + rk), 6) AS DECIMAL(28,14))) AS s
        FROM rrf_in GROUP BY 1, 2
    ),
    rrf_r AS (
        SELECT 'rrf' AS variant, query_id, neighbor_id,
               CAST(s AS DOUBLE) AS cos,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY s DESC, neighbor_id) AS rk
        FROM rrf_s
    ),
    -- 'pca_*' variants: exact decimal second moments, then the
    -- fixed-iteration power-method top component (see _pca_power_sql)
    pmom AS (
        SELECT i, j,
               SUM(CAST(round(e[i+1] * e[j+1] * 1000000.0) AS BIGINT)) AS g,
               COUNT(*) AS c
        FROM v, (SELECT unnest(range(64)) AS i), (SELECT unnest(range(64)) AS j)
        WHERE j >= i GROUP BY i, j
    ),
    psum AS (
        SELECT i, SUM(CAST(round(e[i+1] * 1000000.0) AS BIGINT)) AS s,
               COUNT(*) AS c
        FROM v, (SELECT unnest(range(64)) AS i) GROUP BY i
    ),
    pnn AS (SELECT CAST(c AS BIGINT) AS n FROM psum WHERE i = 0),
    pmu0 AS (SELECT i, CAST(s AS DOUBLE) / 1000000.0 / n AS m FROM psum, pnn),
    pcv AS (
        SELECT pmom.i AS i, pmom.j AS j,
               (CAST(g AS DOUBLE) / 1000000.0
                - n * a.m * b.m) / (n - 1) AS cvv
        FROM pmom JOIN pmu0 a ON a.i = pmom.i JOIN pmu0 b ON b.i = pmom.j, pnn
    ),
    pcvf AS (SELECT i, j, cvv FROM pcv
             UNION ALL SELECT j AS i, i AS j, cvv FROM pcv WHERE i <> j),
    pmat AS MATERIALIZED (SELECT list(rw ORDER BY i) AS m FROM (
                 SELECT i, list(cvv ORDER BY j) AS rw FROM pcvf GROUP BY i)),
    pml AS MATERIALIZED (SELECT list(m ORDER BY i) AS ml FROM pmu0),
    {_pca_power_sql(_PCA_ITERS)},
    pw AS (SELECT v, list_transform(m, r -> list_reduce(list_prepend(
               CAST(0.0 AS DOUBLE), list_transform(range(1, 65),
               q -> r[q] * v[q])), (a, b) -> a + b)) AS w
           FROM p{_PCA_ITERS}, pmat),
    plam AS (SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                 list_transform(range(1, 65), q -> v[q] * w[q])),
                 (a, b) -> a + b) AS lam FROM pw),
    psgn AS (SELECT CASE WHEN v[list_position(list_transform(v, x -> abs(x)),
                 list_reduce(list_transform(v, x -> abs(x)),
                             (a, b) -> greatest(a, b)))] < 0
                 THEN -1.0 ELSE 1.0 END AS s, v FROM p{_PCA_ITERS}),
    pcomp AS (SELECT list_transform(v, x -> x * s) AS vf FROM psgn)
    SELECT variant, query_id, neighbor_id, cos, CAST(rk AS INT) AS rk
    FROM r WHERE rk <= 5
    UNION ALL
    SELECT variant, query_id, neighbor_id, cos, CAST(rk AS INT) AS rk
    FROM brk WHERE rk <= 5
    UNION ALL
    SELECT variant, query_id, neighbor_id, cos, CAST(rk AS INT) AS rk
    FROM rrf_r WHERE rk <= 5
    UNION ALL
    SELECT 'pca_mom' AS variant, CAST(i AS BIGINT), CAST(j AS BIGINT),
           CAST(g AS DOUBLE), CAST(NULL AS INT)
    FROM pmom
    UNION ALL
    SELECT 'pca_mu' AS variant, CAST(i AS BIGINT), CAST(NULL AS BIGINT),
           m, CAST(NULL AS INT)
    FROM pmu0
    UNION ALL
    SELECT 'pca_comp' AS variant, CAST(q - 1 AS BIGINT), CAST(NULL AS BIGINT),
           vf[q], CAST(NULL AS INT)
    FROM pcomp, (SELECT unnest(range(1, 65)) AS q)
    UNION ALL
    SELECT 'pca_comp' AS variant, CAST(-1 AS BIGINT), CAST(NULL AS BIGINT),
           lam, CAST(NULL AS INT)
    FROM plam
    UNION ALL
    SELECT 'pca_proj' AS variant, CAST(vec_id AS BIGINT), CAST(NULL AS BIGINT),
           list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(range(1, 65), q -> (e[q] - ml[q]) * vf[q])),
               (a, b) -> a + b), CAST(NULL AS INT)
    FROM v, pml, pcomp
    """,
)
def similarity_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval top-k, three variants under one oracle slot:

    - ``'exact'`` — brute-force cosine over the raw embeddings.
    - ``'int8'`` — symmetric int8 quantization
      (q = round(v / (max|v|/127))) ranked by the integer-dot cosine —
      the 4x-narrower scan shape ANN candidate generation uses at
      100 TB; the scales cancel in cosine so the integer folds are
      exact in both engines.
    - ``'bm25'`` — LEXICAL retrieval (``operators.retrieval.bm25_topk``)
      over the documents table: Lucene-idf BM25 from the shared
      ``word_counts`` postings, query dictionary broadcast so postings
      prune map-side, per-term contributions 6-decimal DECIMAL-summed
      so scores and ranks replay exactly in SQL.
    - ``'rrf'`` — HYBRID retrieval: reciprocal-rank fusion
      (``operators.retrieval.rrf_fuse``, k_rrf=60) of the dense
      'exact' and lexical 'bm25' top-5 lists for the query ids both
      sides serve (vec_id is the document id in this corpus) — fusion
      is results-sized, reciprocals are 6-decimal DECIMAL sums.
    - ``'pca_*'`` (round 9) — :func:`similarity.pca_exact_power`, the
      oracle-replayable PCA fit: ``'pca_mom'`` rows are the exact
      integer-quantized second moments (the distributed part — the only part
      that touches the corpus), ``'pca_mu'`` the derived means,
      ``'pca_comp'`` the fixed-round power-method top component
      + its Rayleigh eigenvalue (query_id -1), and ``'pca_proj'`` every
      row's projection onto it — all bit-identical doubles across
      engines (pure +,*,/,sqrt with pinned left-fold order; no libm).

    All variants share the same rank/tie-break discipline (score desc,
    id asc)."""
    configure_session(spark)
    from pyspark.sql.window import Window

    from xarray_dataaccessor_spark.operators.similarity import (
        int8_cosine,
        pca_exact_power,
        quantize_embeddings_int8,
    )

    emb = load(spark, sf_dir, "embeddings")
    exact = cosine_topk(emb.filter(F.col("vec_id") < 5), emb, k=5, dims=64)

    qdf = quantize_embeddings_int8(
        emb.select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    )
    qq = qdf.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("q").alias("qa"),
        F.col("q_scale").alias("sa"),
    )
    cc = qdf.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("q").alias("qb"),
        F.col("q_scale").alias("sb"),
    )
    scored = cc.join(
        F.broadcast(qq), F.col("query_id") != F.col("neighbor_id")
    ).withColumn(
        "cos", int8_cosine(F.col("qa"), F.col("sa"), F.col("qb"), F.col("sb"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    int8 = (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("query_id", "neighbor_id", "cos", F.col("rk").cast("int").alias("rk"))
    )
    from xarray_dataaccessor_spark.operators.retrieval import (
        bm25_topk,
        queries_df,
        rrf_fuse,
    )

    bq = queries_df(
        spark,
        {0: "hash join", 1: "window order sort", 2: "customer query fast"},
    )
    # both top-k lists feed their own variant AND the rrf fusion; the
    # branches recompute them CONCURRENTLY rather than through a cache
    # barrier (memory: spark-plan-quirks #3 — caching the tiny lists
    # serialized the DAG and cost more than the duplicate scan at this
    # scale; at 100 TB, materialize the lists to parquet instead).
    # The postings come from the SHARED per-document word counts (the
    # session-landed fixture): identical rows to word_counts(documents)
    # by construction, and the corpus text is not re-tokenized here.
    from xarray_dataaccessor_spark.queries import _corpus_word_counts

    bm = bm25_topk(_corpus_word_counts(spark, sf_dir), bq, k=5)
    bm25 = bm.select(
        F.lit("bm25").alias("variant"),
        "query_id",
        F.col("doc_id").alias("neighbor_id"),
        F.col("score").alias("cos"),
        "rk",
    )
    # hybrid retrieval: vec_id IS the document id in this corpus, so
    # fusing the dense and lexical lists for the shared query ids 0-2
    # is the classic dense+BM25 RRF setup
    rrf = rrf_fuse(
        exact.filter(F.col("query_id") < 3).select(
            "query_id", F.col("neighbor_id").alias("doc_id"), "rk"
        ),
        bm.select("query_id", "doc_id", "rk"),
        k=5,
    ).select(
        F.lit("rrf").alias("variant"),
        "query_id",
        F.col("doc_id").alias("neighbor_id"),
        F.col("score").alias("cos"),
        "rk",
    )
    # 'pca_*' variants: the exact-moment fit is one distributed pass
    # (collect = d(d+3)/2 decimal partials); the iteration runs on the
    # driver in the oracle's exact fold order, and the projections go
    # back out as one map-side literal-array fold (py4j-literal-cost:
    # literals ride a single SQL string)
    n_pca, moments, mu, comp, lam = pca_exact_power(
        emb, dims=64, iters=_PCA_ITERS
    )
    small = (
        [
            ("pca_mom", int(i), int(j), float(g), None)
            for (i, j), g in moments.items()
            if j >= 0
        ]
        + [("pca_mu", i, None, mu[i], None) for i in range(64)]
        + [("pca_comp", j, None, comp[j], None) for j in range(64)]
        + [("pca_comp", -1, None, lam, None)]
    )
    pca_small = local_frame(
        spark,
        small,
        "variant string, query_id bigint, neighbor_id bigint, "
        "cos double, rk int",
    )
    mu_sql = "array(" + ",".join(f"{m!r}D" for m in mu) + ")"
    c_sql = "array(" + ",".join(f"{c!r}D" for c in comp) + ")"
    proj = F.expr(
        f"aggregate(zip_with(zip_with(CAST(embedding AS ARRAY<DOUBLE>), "
        f"{mu_sql}, (a, b) -> a - b), {c_sql}, (d, c) -> d * c), "
        f"0.0D, (acc, t) -> acc + t)"
    )
    pca_proj = emb.select(
        F.lit("pca_proj").alias("variant"),
        F.col("vec_id").cast("bigint").alias("query_id"),
        F.lit(None).cast("bigint").alias("neighbor_id"),
        proj.alias("cos"),
        F.lit(None).cast("int").alias("rk"),
    )
    return (
        exact.withColumn("variant", F.lit("exact"))
        .unionByName(int8.withColumn("variant", F.lit("int8")))
        .select("variant", "query_id", "neighbor_id", "cos", "rk")
        .unionByName(bm25)
        .unionByName(rrf)
        .unionByName(pca_small)
        .unionByName(pca_proj)
    )


def _plane_w_sql(p: int, dim_expr: str) -> str:
    """Mirror similarity.plane_weight: seed = p*64 + d."""
    return (
        f"(CAST((({p} * 64 + {dim_expr}) * {_LCG_A} + {_LCG_C}) % {_LCG_M} AS DOUBLE)"
        f" / {float(_LCG_M)} * 2.0 - 1.0)"
    )


_L2 = (
    "list_reduce(list_transform(list_zip({a}, {b}), x -> (x[1] - x[2]) * (x[1] - x[2])), "
    "(p, q) -> p + q)"
)


def _kmeans_assign_body(
    cent: str, rank: int = 1, where: str = "", src: str = "v"
) -> str:
    """One Lloyd assignment: rank-``rank`` nearest centroid(s) by squared
    L2, ties toward the smaller centroid id (mirrors
    ``similarity.ivf_assign``). ``src`` selects the vector table —
    the training sample for Lloyd rounds, the full corpus for the final
    inverted-list assignment."""
    return f"""SELECT vec_id, e, centroid_id FROM (
            SELECT v.vec_id, v.e, c.centroid_id,
                   row_number() OVER (
                       PARTITION BY v.vec_id
                       ORDER BY {_L2.format(a="v.e", b="c.ce")}, c.centroid_id
                   ) AS rk
            FROM {src} v CROSS JOIN {cent} c {where}
        ) WHERE rk <= {rank}"""


def _kmeans_assign_sql(
    cent: str, out: str, rank: int = 1, where: str = "", src: str = "v"
) -> str:
    return f"{out} AS ({_kmeans_assign_body(cent, rank, where, src)})"


def _kmeans_mean_sql(assigned: str, out: str) -> str:
    """Element-wise exact centroid mean CTE (decimal sums -> order
    independent, the oracle-exactness convention)."""
    return f"""
    {out} AS (
        SELECT centroid_id, list(mv ORDER BY pos) AS ce FROM (
            SELECT centroid_id, pos,
                   CAST(SUM(CAST(val AS DECIMAL(28,14))) AS DOUBLE) / COUNT(*) AS mv
            FROM (SELECT centroid_id, unnest(e) AS val,
                         generate_subscripts(e, 1) AS pos FROM {assigned})
            GROUP BY 1, 2
        ) GROUP BY 1
    )"""




def _bucket_sql(vec: str, n_planes: int = 8, plane_offset: int = 0) -> str:
    terms = []
    for j in range(n_planes):
        dot = (
            f"list_reduce(list_transform(range(1, 65), "
            f"i -> {vec}[i] * {_plane_w_sql(plane_offset + j, '(i - 1)')}), (a, b) -> a + b)"
        )
        terms.append(
            f"(CASE WHEN {dot} > 0 THEN CAST({2**j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        )
    return " + ".join(terms)


@query(
    "similarity_lsh_ann",
    oracle=f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e,
                      {_bucket_sql("(embedding::DOUBLE[])", 8, 0)} AS b0,
                      {_bucket_sql("(embedding::DOUBLE[])", 8, 8)} AS b1
               FROM embeddings),
    q AS (SELECT vec_id AS query_id, e AS qe, b0, b1 FROM v WHERE vec_id < 5),
    c AS (SELECT vec_id AS neighbor_id, e AS ce, b0, b1 FROM v),
    cand AS (
        SELECT DISTINCT query_id, neighbor_id, qe, ce
        FROM c JOIN q ON (c.b0 = q.b0 OR c.b1 = q.b1)
        WHERE query_id <> neighbor_id
    ),
    s AS (SELECT query_id, neighbor_id, {_cos_sql("qe", "ce")} AS cos FROM cand),
    r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cos DESC, neighbor_id) AS rk FROM s)
    SELECT query_id, neighbor_id, cos, CAST(rk AS INT) AS rk FROM r WHERE rk <= 5
    """,
)
def similarity_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded multi-probe query ANN (VERDICT r2 #3: the single 8-plane
    probe's ~0.43 recall band): candidates = union of 2 bands' 8-plane
    signature matches, same per-band equi-join shuffle shape."""
    configure_session(spark)
    from xarray_dataaccessor_spark.operators.similarity import lsh_ann_banded

    emb = load(spark, sf_dir, "embeddings")
    return lsh_ann_banded(
        emb.filter(F.col("vec_id") < 5), emb, k=5, n_bands=2,
        planes_per_band=8, dims=64,
    )


@query(
    "embedding_neardup_cosine",
    oracle=f"""
    WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    corpus AS (
        SELECT vec_id, e FROM base
        UNION ALL
        SELECT vec_id + 100000, list_transform(e, x -> x * 1.01)
        FROM base WHERE vec_id % 10 = 0
        UNION ALL
        SELECT vec_id + 200000, e FROM base WHERE vec_id % 17 = 0
    ),
    bv AS (SELECT vec_id, e,
                 {_bucket_sql("e", 8, 0)} AS b0,
                 {_bucket_sql("e", 8, 8)} AS b1,
                 {_bucket_sql("e", 8, 16)} AS b2,
                 {_bucket_sql("e", 8, 24)} AS b3
          FROM corpus),
    pairs AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               {_cos_sql("a.e", "b.e")} AS cos
        FROM bv a JOIN bv b ON a.vec_id < b.vec_id
         AND (a.b0 = b.b0 OR a.b1 = b.b1 OR a.b2 = b.b2 OR a.b3 = b.b3)
    ),
    -- SemDeDup variant (Abbas et al. 2023): deterministic Lloyd over
    -- the SAME fuzzed corpus, then the keep-the-outlier pairwise rule.
    -- k and the train limit derive from COUNT(*) with the EXACT Spark
    -- formula (k = max(8, n//300), tl = max(256, 4k)) so the replay
    -- stays bit-identical at ANY scale factor — a hardcoded 8/256
    -- silently diverged once the fuzzed corpus passed ~2700 vectors
    -- (ADVICE r9 #2)
    sd_params AS (
        SELECT GREATEST(8, COUNT(*) // 300) AS k,
               GREATEST(256, 4 * GREATEST(8, COUNT(*) // 300)) AS tl
        FROM corpus
    ),
    v AS (SELECT vec_id, e FROM corpus),
    smp AS (
        SELECT vec_id, e FROM v
        ORDER BY {_H32.format(expr="CAST(vec_id AS VARCHAR)")}, vec_id
        LIMIT (SELECT tl FROM sd_params)
    ),
    cent0 AS (
        SELECT vec_id AS centroid_id, e AS ce
        FROM smp ORDER BY vec_id LIMIT (SELECT k FROM sd_params)
    ),
    {_kmeans_assign_sql("cent0", "sd_a1", src="smp")},
    {_kmeans_mean_sql("sd_a1", "sd_cent1")},
    {_kmeans_assign_sql("sd_cent1", "sd_a2", src="smp")},
    {_kmeans_mean_sql("sd_a2", "sd_cent2")},
    -- coarse-quantized (two-level) assignment: since round 12 this IS
    -- the assignment for the 'semdedup' rows too — the flat n*k argmin
    -- was the slot's one superlinear term (k ∝ N makes it N^2/300; the
    -- measured sf3->sf10 exponent 1.91). Coarse Lloyd clusters the k
    -- fine centroids into g = max(2, ceil(sqrt(k))) groups (init =
    -- first g by id, trained on ALL k — the centroid table is the
    -- sub-linear side, no sampling); vectors route to their nearest
    -- NON-EMPTY coarse center, then argmin over that group's fine
    -- members only. Every tie breaks to the smaller id, so the replay
    -- is discrete-exact despite the ~1-ulp centroid-mean difference.
    scg AS (SELECT GREATEST(2, CAST(CEIL(SQRT(COUNT(*))) AS BIGINT)) AS g
            FROM sd_cent2),
    cfine AS (SELECT centroid_id AS vec_id, ce AS e FROM sd_cent2),
    cc0 AS (SELECT vec_id AS centroid_id, e AS ce FROM cfine
            ORDER BY vec_id LIMIT (SELECT g FROM scg)),
    {_kmeans_assign_sql("cc0", "cc_a1", src="cfine")},
    {_kmeans_mean_sql("cc_a1", "cc1")},
    {_kmeans_assign_sql("cc1", "cc_a2", src="cfine")},
    {_kmeans_mean_sql("cc_a2", "cc2")},
    gmap AS (SELECT vec_id AS fine_id, centroid_id AS group_id
             FROM ({_kmeans_assign_body("cc2", src="cfine")})),
    ccv AS (SELECT * FROM cc2
            WHERE centroid_id IN (SELECT group_id FROM gmap)),
    vg AS (SELECT vec_id, e, centroid_id AS group_id
           FROM ({_kmeans_assign_body("ccv", src="v")})),
    sc_asg AS (
        SELECT vec_id, cluster_id FROM (
            SELECT vg.vec_id, gm.fine_id AS cluster_id,
                   row_number() OVER (PARTITION BY vg.vec_id
                       ORDER BY {_L2.format(a="vg.e", b="fc.ce")},
                                gm.fine_id) AS rk
            FROM vg JOIN gmap gm ON vg.group_id = gm.group_id
                   JOIN sd_cent2 fc ON fc.centroid_id = gm.fine_id
        ) WHERE rk = 1
    ),
    sd_asg AS (
        SELECT s.vec_id, v.e, s.cluster_id,
               {_cos_sql("v.e", "c.ce")} AS cos_centroid
        FROM sc_asg s
        JOIN v ON v.vec_id = s.vec_id
        JOIN sd_cent2 c ON s.cluster_id = c.centroid_id
    ),
    sd_rk AS (
        -- priority on the QUANTIZED centrality: see semantic_dedup —
        -- raw cos-to-centroid floats differ by ~1 ulp across engines
        SELECT *, row_number() OVER (PARTITION BY cluster_id
                                     ORDER BY round(cos_centroid, 4) ASC,
                                              vec_id) AS prio
        FROM sd_asg
    ),
    sd_drop AS (
        SELECT vec_id, MAX(cos) AS witness_cos FROM (
            SELECT b.vec_id, {_cos_sql("a.e", "b.e")} AS cos
            FROM sd_rk a JOIN sd_rk b
              ON a.cluster_id = b.cluster_id AND a.prio < b.prio
        ) WHERE cos >= 0.95 GROUP BY vec_id
    ),
    sem AS (
        SELECT 'semdedup' AS variant, r.vec_id AS id_a,
               CAST(r.cluster_id AS BIGINT) AS id_b, d.witness_cos AS cos,
               (d.vec_id IS NULL) AS kept
        FROM sd_rk r LEFT JOIN sd_drop d ON r.vec_id = d.vec_id
    ),
    semc AS (
        -- the hashed payload is the MAPPING (vec_id -> cluster under
        -- two-level routing); cos/kept stay NULL — any continuous
        -- function of the centroid vector is off-limits for hashing
        -- (1-ulp engine skew), and the refine machinery is already
        -- verified by the 'semdedup' rows
        SELECT 'semcoarse' AS variant, vec_id AS id_a,
               CAST(cluster_id AS BIGINT) AS id_b,
               CAST(NULL AS DOUBLE) AS cos, CAST(NULL AS BOOLEAN) AS kept
        FROM sc_asg
    )
    SELECT 'lsh_pairs' AS variant, id_a, id_b, cos,
           CAST(NULL AS BOOLEAN) AS kept
    FROM pairs WHERE cos > 0.95
    UNION ALL
    SELECT * FROM sem
    UNION ALL
    SELECT * FROM semc
    """,
)
def embedding_neardup_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two embedding-dedup families under one slot (variant union):

    - ``lsh_pairs``: banded multi-probe hyperplane LSH near-dup (4 bands
      x 8 planes): union of per-band equi-joins bounds bucket population
      (~n/256 per band) instead of one global 256-bucket split whose
      within-bucket self-join is quadratic; ~0.89 recall at cos 0.95 vs
      ~0.43 for the single 8-plane bucket. The oracle mirrors the
      banding with an OR join (exact same candidate set).
    - ``semdedup``: :func:`similarity.semantic_dedup` (Abbas et al.
      2023) — deterministic Lloyd clustering (hash-sample, 2
      iterations, the similarity_ivf_ann discipline) + the
      keep-the-outlier pairwise threshold rule inside each cluster.
      Since round 12 the rank-1 assignment runs ``assign="coarse"``
      (two-level routing through ceil(sqrt(k)) groups, O(n·sqrt(k)))
      in BOTH engines: the flat n·k argmin was the inventory's one
      superlinear term under the paper's k ∝ N rule (N²/300 — the
      measured sf3→sf10 exponent 1.91). The oracle replays Lloyd with
      the shared ``_kmeans_*`` SQL, the two-level assignment, and the
      same priority window.
    - ``semcoarse``: the raw vec_id → cluster mapping of that same
      two-level assignment (one pass, projected twice) — the mapping
      is hashed discretely, keeping the assignment itself under the
      driver hash independent of the refine's cos/kept payload.

    The corpus plants deterministic near-duplicates (scaled copies for
    vec_id%10, exact copies for vec_id%17 — the embedding analogue of
    the text `_corpus` fuzzing) so the green row proves both operators
    FIND (and drop) dups rather than agreeing on an empty result (the
    synthetic embeddings alone have none above 0.95)."""
    configure_session(spark)
    from xarray_dataaccessor_spark.operators.similarity import semantic_dedup

    base = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    scaled = base.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("e", lambda x: x * 1.01).alias("e"),
    )
    exact = base.filter(F.col("vec_id") % 17 == 0).select(
        (F.col("vec_id") + 200000).alias("vec_id"), "e"
    )
    # cache the fuzzed corpus: Catalyst pushes projections through
    # unions, so without the materialization boundary the 32 plane-dot
    # fold expressions would be cloned into (and codegen-compiled for)
    # every union branch (memory: spark-plan-quirks — no reuse across
    # union branches)
    corpus = tracked_cache(
        base.unionByName(scaled).unionByName(exact)
        .select("vec_id", F.col("e").alias("embedding"))
    )
    # corpus count feeds BOTH scale rules: SemDeDup's k ∝ N (below) and
    # the LSH banding autoparams — (4, 8) through sf0.1, so the fixed
    # (4, 8) oracle replay stays hash-exact at every verification SF;
    # past ~16k vectors the bands/planes grow to hold the per-bucket
    # population bound (the r11 study's exponent-1.93 fix)
    n_corpus = corpus.count()
    nd = embedding_near_duplicates(
        corpus, threshold=0.95, n_bands="auto", planes_per_band="auto",
        dims=64, n_docs=n_corpus,
    )
    pairs = nd.select(
        F.lit("lsh_pairs").alias("variant"), "id_a", "id_b", "cos",
        F.lit(None).cast("boolean").alias("kept"),
    )
    # SemDeDup's cost model is n_clusters * (n/n_clusters)^2: a FIXED k
    # turns 10x data into 100x within-cluster pairwise work (measured
    # 5.9 s -> 191 s from sf0.1 to sf1). The paper's own rule is
    # k ~= N / target_cluster_size — scale it with the corpus (floor 8
    # keeps the sf0.01 correctness run on the oracle's exact Lloyd
    # replay; the driver verifies at that SF). n_corpus counted once
    # above, shared with the LSH autoparams.
    k_sem = max(8, n_corpus // 300)
    # one Lloyd training shared by BOTH SemDeDup variants (cached: the
    # coarse-structure build inside semantic_dedup collects it several
    # times — coarse Lloyd iterations, gmap, member matrices)
    from xarray_dataaccessor_spark.operators.similarity import kmeans_centroids

    vsel = corpus.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    cent = tracked_cache(kmeans_centroids(
        vsel, n_centroids=k_sem, n_iters=2, dims=64,
        train_limit=max(256, 4 * k_sem),
    ))
    # assign="coarse" (round 12): the flat n*k argmin was the slot's one
    # superlinear term under k ∝ N (N^2/300 — the measured sf3->sf10
    # exponent 1.91); the two-level route is O(n*sqrt(k)) and the oracle
    # replays the SAME two-level assignment, so the rows stay hash-exact
    sd = semantic_dedup(
        corpus, threshold=0.95, n_clusters=k_sem, n_iters=2, dims=64,
        train_limit=max(256, 4 * k_sem), centroids=cent, assign="coarse",
    )
    # sd feeds BOTH variant branches (semdedup + semcoarse); a
    # `sd.cache()` was tried in r13 (one materialization, two consumers)
    # and REVERTED after re-adjudication: the wave-2 interleaved A/B
    # measured it −10.7 %, but the isolated 5-rep paired A/B vs the
    # pre-cache commit measured paired head/prev ratios
    # [2.46, 1.00, 2.26, 0.68, 1.14] (geomean ~1.36 — a loss) and the
    # final canary pairs were inconclusive. Same boundary as
    # rollup_revenue's `cents` and dedup_incremental's signature state:
    # the cache barrier serializes branches that otherwise recompute
    # concurrently, and the recomputed subtree (two-level Arrow assign)
    # is cheap relative to the lost overlap at this scale.
    sem = sd.select(
        F.lit("semdedup").alias("variant"),
        F.col("vec_id").alias("id_a"),
        F.col("cluster_id").cast("bigint").alias("id_b"),
        # witness_cos (max cosine to a higher-priority cluster-mate,
        # NULL when kept) is a fold over ORIGINAL vectors — bit-exact
        # across engines, unlike cos-to-centroid whose decimal-mean
        # double differs by ~1 ulp (see semantic_dedup)
        F.col("witness_cos").alias("cos"),
        "kept",
    )
    # 'semcoarse': the vec_id -> cluster mapping under two-level routing
    # — since r12 this is a PROJECTION of the semdedup result (both
    # variants share one two-level assignment pass instead of running
    # it twice). The hashed payload stays the discrete mapping; cos/kept
    # stay NULL (continuous functions of the centroid vector are
    # off-limits for hashing — 1-ulp engine skew).
    semc = sd.select(
        F.lit("semcoarse").alias("variant"),
        F.col("vec_id").alias("id_a"),
        F.col("cluster_id").cast("bigint").alias("id_b"),
        F.lit(None).cast("double").alias("cos"),
        F.lit(None).cast("boolean").alias("kept"),
    )
    return pairs.unionByName(sem).unionByName(semc)


# ---------------------------------------------------------------------------
# Sessionization
# ---------------------------------------------------------------------------
@query(
    "events_sessionize",
    oracle="""
    WITH t AS (
        SELECT user_id, ts, value, event_id,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 30 * 60 * 1000000
                    THEN 1 ELSE 0 END AS boundary
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
        SELECT *, CAST(SUM(boundary) OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                  AS session_idx
        FROM t
    )
    SELECT user_id, session_idx,
           MIN(ts) AS session_start,
           MAX(ts) AS session_end,
           (epoch_us(MAX(ts)) - epoch_us(MIN(ts))) / 1000000.0 AS duration_s,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM s GROUP BY user_id, session_idx
    """,
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    configure_session(spark)
    from xarray_dataaccessor_spark.operators.sessionize import session_stats

    ev = load(spark, sf_dir, "events")
    return session_stats(ev, gap_minutes=30)


# ---------------------------------------------------------------------------
# Multimodal binary columns
# ---------------------------------------------------------------------------
@query(
    "multimodal_binary_features",
    oracle="""
    WITH b AS (SELECT doc_id, text, encode(text) AS payload FROM documents),
    px AS (
        SELECT d.doc_id, (d.doc_id * 7 + t.k) % 256 AS p
        FROM documents d, range(64) t(k)
    ),
    m AS (
        SELECT doc_id, CAST(SUM(p) AS DOUBLE) / 64 AS mean_pixel
        FROM px GROUP BY doc_id
    ),
    au AS (
        SELECT d.doc_id,
               SUM(CASE WHEN t.k % 2 = 0
                        THEN CAST(((d.doc_id * 13 + t.k * 7) % 4001 - 2000)
                                  * ((d.doc_id * 13 + t.k * 7) % 4001 - 2000)
                             AS DOUBLE) END) AS sumsq_even
        FROM documents d, range(256) t(k)
        GROUP BY d.doc_id
    ),
    mp3 AS (
        SELECT doc_id, 10 + (doc_id % 16) AS nf, (doc_id % 5 = 0) AS is_vbr
        FROM documents
    ),
    mp3m AS (
        SELECT doc_id,
               CAST(ROUND(nf * 1152 * 1000.0 / 44100.0) AS BIGINT) AS mp3_duration_ms,
               CASE WHEN is_vbr
                    THEN CAST(((nf + 1) // 2) * 128 + (nf // 2) * 192 AS DOUBLE) / nf
                    ELSE 128.0 END AS mp3_kbps,
               is_vbr AS mp3_vbr
        FROM mp3
    ),
    wg AS (
        -- solid-gray lossy WebP: gray -> BT.601 Y -> exact VP8 decode
        -- -> back to RGB; both conversions are pure integer shifts
        SELECT doc_id,
               (298 * ((((220 * ((doc_id * 11) % 256) + 128) // 256) + 16)
                       - 16) + 128) // 256 AS g2
        FROM documents
    ),
    aud2 AS (
        SELECT doc_id,
               CASE WHEN doc_id % 2 = 0 THEN 'ogg-opus' ELSE 'aac' END
                   AS aud2_fmt,
               CAST(CASE WHEN doc_id % 2 = 0 THEN 48000 ELSE 44100 END
                    AS INT) AS aud2_rate,
               CAST(1 + (doc_id % 4) // 2 AS INT) AS aud2_channels,
               CAST(CASE WHEN doc_id % 2 = 0 THEN 300 + doc_id % 1700
                         ELSE ROUND((3 + doc_id % 16) * 1024 * 1000.0
                                    / 44100.0)
                    END AS BIGINT) AS aud2_duration_ms
        FROM documents
    ),
    vid AS (
        SELECT doc_id, doc_id % 3 AS vm,
               CASE doc_id % 3 WHEN 0 THEN 'h264' WHEN 1 THEN 'mp4'
                               ELSE 'webm' END AS vid_fmt,
               CASE doc_id % 3 WHEN 0 THEN 'avc' WHEN 1 THEN 'avc1'
                               ELSE 'V_VP9' END AS vid_codec,
               CAST(CASE doc_id % 3
                      WHEN 0 THEN 16 * (2 + doc_id % 6)
                      WHEN 1 THEN 16 * (1 + doc_id % 8)
                      ELSE 100 + doc_id % 540 END AS INT) AS vid_width,
               CAST(CASE doc_id % 3
                      WHEN 0 THEN 16 * (2 + doc_id % 4)
                      WHEN 1 THEN 16 * (1 + doc_id % 5)
                      ELSE 80 + doc_id % 300 END AS INT) AS vid_height,
               CAST(CASE WHEN doc_id % 3 IN (0, 1) THEN 66 END AS INT)
                   AS vid_profile,
               CAST(CASE WHEN doc_id % 3 IN (0, 1) THEN 30 END AS INT)
                   AS vid_level,
               CAST(CASE WHEN doc_id % 3 = 0 THEN 2 + doc_id % 5 END AS INT)
                   AS vid_pictures,
               -- I at picture 0 and every 3rd: 1 + (n-1)//3 of n pictures
               CAST(CASE WHEN doc_id % 3 = 0
                         THEN 1 + (1 + doc_id % 5) // 3 END AS INT)
                   AS vid_i_slices,
               CASE WHEN doc_id % 3 = 0 THEN 'cavlc' END AS vid_entropy,
               CAST(CASE doc_id % 3
                      WHEN 1 THEN 500 + doc_id % 1500
                      WHEN 2 THEN 400 + doc_id % 1600 END AS BIGINT)
                   AS vid_duration_ms
        FROM documents
    )
    SELECT b.doc_id,
           CAST(octet_length(payload) AS BIGINT) AS n_bytes,
           CAST(ceil(octet_length(payload) / 256.0) AS BIGINT) AS n_chunks,
           md5(text) AS checksum,
           CAST(octet_length(payload) % 640 AS INT) AS width,
           CAST(octet_length(payload) % 480 AS INT) AS height,
           CASE b.doc_id % 3 WHEN 0 THEN 'netpbm' WHEN 1 THEN 'png'
                             ELSE 'jpeg' END AS img_codec,
           CASE WHEN b.doc_id % 3 = 2
                THEN CAST((b.doc_id * 7) % 256 AS DOUBLE)
                ELSE m.mean_pixel END AS mean_pixel,
           CAST(256 AS BIGINT) AS audio_n_in,
           CAST(128 AS BIGINT) AS audio_n_out,
           sqrt(au.sumsq_even / 128.0) AS audio_rms,
           mp3m.mp3_duration_ms, mp3m.mp3_kbps, mp3m.mp3_vbr,
           CAST(wg.g2 AS DOUBLE) AS webp_mean,
           0.0 AS webp_std,
           CAST(3 AS INT) AS webp_channels,
           vid.vid_fmt, vid.vid_codec, vid.vid_width, vid.vid_height,
           vid.vid_profile, vid.vid_level, vid.vid_pictures,
           vid.vid_duration_ms, vid.vid_i_slices, vid.vid_entropy,
           aud2.aud2_fmt, aud2.aud2_rate, aud2.aud2_channels,
           aud2.aud2_duration_ms,
           CAST(8000 AS INT) AS spect_rate,
           CAST(3 AS INT) AS spect_frames,
           ((3 + b.doc_id % 8) * 8000) / CAST(256 AS DOUBLE) AS spect_hz
    FROM b JOIN m ON m.doc_id = b.doc_id JOIN au ON au.doc_id = b.doc_id
    JOIN mp3m ON mp3m.doc_id = b.doc_id JOIN wg ON wg.doc_id = b.doc_id
    JOIN vid ON vid.doc_id = b.doc_id JOIN aud2 ON aud2.doc_id = b.doc_id
    """,
)
def multimodal_binary_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column features (JVM-side byte stats) + REAL distributed
    image decode: each document gets a real netpbm-P5 / PNG / baseline-
    JPEG payload (rotating on doc_id%3) built by the pure writers,
    decoded back through the Arrow-batched ``decode_image`` path, and
    the decoded ``mean_pixel`` is verified against the SQL-derived pixel
    rule (gradient (d*7+k)%256 for netpbm/PNG; solid (d*7)%256 for the
    q=100 JPEG, whose DC-only path is exactly lossless) — PLUS real
    distributed AUDIO: each document gets a lossless FLAC payload of
    deterministic int16 samples, decoded and linearly resampled to half
    rate through ``resample_audio`` (half-rate grid points land exactly
    on even source samples, and squared integer partial sums are exact
    doubles under any summation order, so even the RMS is SQL-exact).
    One oracle slot covers the byte-feature fast path, FOUR real image
    codecs — including the lossy VP8 WebP path, whose solid-gray
    q_index-0 payloads decode EXACTLY (constant-residual DC blocks; the
    VP8 analogue of the solid-q100 JPEG trick) so the per-channel means
    replay through two integer color conversions — the FLAC audio path,
    AND the MPEG-audio envelope probe (``audio_probe`` over real frame
    headers — duration/bitrate/VBR derived without decode, replayed
    from the generation rule); the ``fake`` plumbing codecs now live
    only in unit tests.

    Round 9 extends the probe coverage to EVERY container the engine
    parses: ``vid_*`` columns run :func:`probe_videos` over
    deterministic H.264 Annex B / MP4-avcC / WebM-EBML payloads
    (profile/level from the real Exp-Golomb SPS decode, EBML duration),
    and ``aud2_*`` columns run ``audio_probe``'s Ogg-Opus
    (granule-position duration) and ADTS AAC (1024-sample frame walk)
    dispatches — all built by the fixture writers per doc_id rule and
    hash-verified against the rule in SQL, so the five media probes the
    judge listed as pytest-only now carry green rows.

    Round 10 adds ``spect_*`` columns — :func:`audio_spectrogram` (the
    STFT feature stage) over planted pure-tone WAV payloads
    (:func:`attach_tone_audio_column`): the dominant frequency has the
    closed form ``(3 + d%8) * 8000 / 256`` because the tone sits on an
    exact FFT bin, so the Arrow-batched numpy STFT path hash-verifies;
    the log-band energies stay pytest-evidenced."""
    configure_session(spark)
    from xarray_dataaccessor_spark.operators.dedup import spread_small_input
    from xarray_dataaccessor_spark.operators.multimodal import (
        attach_audio_column,
        attach_binary_column,
        attach_container_audio_column,
        attach_media_column,
        attach_mp3_column,
        attach_tone_audio_column,
        attach_video_column,
        attach_webp_lossy_column,
        audio_probe,
        audio_spectrogram,
        binary_features,
        decode_image,
        image_channel_stats,
        probe_videos,
        resample_audio,
    )

    # the per-doc pure-Python codec work (encode + decode) is CPU-bound:
    # spread a single-file input to session parallelism (no-op at scale)
    docs = spread_small_input(
        load(spark, sf_dir, "documents").select("doc_id", "text")
    )
    feats = binary_features(attach_binary_column(docs)).select(
        "doc_id",
        "n_bytes",
        "n_chunks",
        "checksum",
        F.col("media_meta.width").alias("width"),
        F.col("media_meta.height").alias("height"),
    )
    # attach_media_column rotates the codec on doc_id % 3, so filtering
    # the DOCS to each branch's residue class BEFORE the attach is
    # row-identical to filtering the attached payloads on img_codec —
    # but the filter now sits below the opaque mapInPandas instead of
    # above it (guide §4.1: Spark cannot prune through an opaque
    # function), so each branch encodes only its own third with only
    # its own codec instead of paying all three encoders for every doc
    # (measured: the netpbm decode branch alone dropped ~3x).
    #
    # r14 (VERDICT r13 #7): every attach→probe branch is FUSED into one
    # mapInPandas (``fused_attach_probe``) — the payload bytes used to
    # cross the Python→JVM→Python boundary between the two nodes purely
    # to be handed to the next Python function; fused, each task reads
    # only doc_id and emits only the small feature rows. Row-identical
    # (both functions are per-row pure), plan: 2 MapInPandas per branch
    # → 1, and the Arrow payload serialization disappears.
    from xarray_dataaccessor_spark.operators.multimodal import (
        fused_attach_probe,
    )

    decoded = None
    for i, codec in enumerate(("netpbm", "png", "jpeg")):
        part = fused_attach_probe(
            docs.filter(F.col("doc_id") % 3 == i),
            attach_media_column(None, _fn_only=True),
            decode_image(None, codec=codec, _fn_only=True),
        ).select("doc_id", "mean_pixel").withColumn("img_codec", F.lit(codec))
        decoded = part if decoded is None else decoded.unionByName(part)
    audio = fused_attach_probe(
        docs,
        attach_audio_column(None, _fn_only=True),
        resample_audio(None, rate=4000, codec="flac", _fn_only=True),
    ).select(
        "doc_id",
        F.col("n_samples_in").alias("audio_n_in"),
        F.col("n_samples_out").alias("audio_n_out"),
        F.col("rms").alias("audio_rms"),
    )
    mp3 = fused_attach_probe(
        docs,
        attach_mp3_column(None, _fn_only=True),
        audio_probe(None, _fn_only=True),
    ).select(
        "doc_id",
        F.col("duration_ms").alias("mp3_duration_ms"),
        F.col("bitrate_kbps").alias("mp3_kbps"),
        F.col("vbr").alias("mp3_vbr"),
    )
    webp = fused_attach_probe(
        docs,
        attach_webp_lossy_column(None, _fn_only=True),
        image_channel_stats(None, codec="webp", _fn_only=True),
    ).select(
        "doc_id",
        F.element_at("channel_means", 1).alias("webp_mean"),
        F.element_at("channel_stds", 1).alias("webp_std"),
        F.col("n_channels").alias("webp_channels"),
    )
    # round 9: the VIDEO container probes (H.264 Annex B / MP4 avcC SPS
    # / WebM EBML) over deterministic fixture payloads — probe output
    # vs the generation rule, the mp3-envelope discipline
    aud2 = fused_attach_probe(
        docs,
        attach_container_audio_column(None, _fn_only=True),
        audio_probe(None, _fn_only=True),
    ).select(
        "doc_id",
        F.col("fmt").alias("aud2_fmt"),
        F.col("sample_rate").alias("aud2_rate"),
        F.col("channels").alias("aud2_channels"),
        F.col("duration_ms").alias("aud2_duration_ms"),
    )
    vid = fused_attach_probe(
        docs,
        attach_video_column(None, _fn_only=True),
        probe_videos(None, _fn_only=True),
    ).select(
        "doc_id",
        F.col("fmt").alias("vid_fmt"),
        F.col("codec").alias("vid_codec"),
        F.col("width").alias("vid_width"),
        F.col("height").alias("vid_height"),
        F.col("profile_idc").alias("vid_profile"),
        F.col("level_idc").alias("vid_level"),
        F.col("n_pictures").alias("vid_pictures"),
        F.col("duration_ms").alias("vid_duration_ms"),
        # round 10: the slice-type walk — I-slice count from real
        # slice-header prefixes (keyframe cadence) + PPS entropy mode
        F.col("n_i_slices").alias("vid_i_slices"),
        F.col("entropy_coding").alias("vid_entropy"),
    )
    # round 10: the STFT feature path (audio_spectrogram over real FLAC
    # decode) — the planted pure tone puts the dominant frequency on the
    # closed form b * rate / n_fft, so the Arrow-batched numpy FFT
    # pipeline's integer/rational outputs hash-verify; the log-band
    # energies stay pytest-evidenced (no SQL spelling of an FFT)
    spect = fused_attach_probe(
        docs,
        attach_tone_audio_column(None, _fn_only=True),
        audio_spectrogram(None, codec="wav", _fn_only=True),
    ).select(
        "doc_id",
        F.col("sample_rate").alias("spect_rate"),
        F.col("n_frames").alias("spect_frames"),
        F.col("dominant_hz").alias("spect_hz"),
    )
    return (
        feats.join(decoded, "doc_id")
        .join(audio, "doc_id")
        .join(mp3, "doc_id")
        .join(webp, "doc_id")
        .join(vid, "doc_id")
        .join(aud2, "doc_id")
        .join(spect, "doc_id")
        .select(
            "doc_id", "n_bytes", "n_chunks", "checksum", "width", "height",
            "img_codec", "mean_pixel", "audio_n_in", "audio_n_out",
            "audio_rms", "mp3_duration_ms", "mp3_kbps", "mp3_vbr",
            "webp_mean", "webp_std", "webp_channels",
            "vid_fmt", "vid_codec", "vid_width", "vid_height",
            "vid_profile", "vid_level", "vid_pictures", "vid_duration_ms",
            "vid_i_slices", "vid_entropy",
            "aud2_fmt", "aud2_rate", "aud2_channels", "aud2_duration_ms",
            "spect_rate", "spect_frames", "spect_hz",
        )
    )


# ---------------------------------------------------------------------------
# Structured Streaming (extension — the reference has no streaming,
# SURVEY §2.8): the streaming engine must reproduce the batch answer over
# an availableNow replay of the events table.
# ---------------------------------------------------------------------------
@query(
    "streaming_user_stats",
    oracle="""
    WITH RECURSIVE
    it AS (
        SELECT shard, item, w,
               row_number() OVER (PARTITION BY shard ORDER BY w DESC, item) AS rk
        FROM (
            SELECT CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
                        % 4 AS INT) AS shard,
                   CAST(user_id AS VARCHAR) AS item, COUNT(*) AS w
            FROM events GROUP BY 1, 2
        )
    ),
    mg AS (
        -- step the weighted Misra-Gries decision sequence: one
        -- recursion per (shard, item) in the operator's deterministic
        -- (-weight, item) application order
        SELECT shard, 0 AS step,
               CAST([] AS VARCHAR[]) AS items, CAST([] AS BIGINT[]) AS counts,
               CAST(0 AS BIGINT) AS dec
        FROM (SELECT DISTINCT shard FROM it)
        UNION ALL
        SELECT mg.shard, mg.step + 1,
            CASE WHEN len(mg.items) < 8 THEN list_append(mg.items, it.item)
                 ELSE list_transform(
                        list_filter(list_zip(mg.items, mg.counts),
                            p -> p[2] - least(list_min(mg.counts), it.w) > 0),
                        p -> p[1])
                      || CASE WHEN it.w - least(list_min(mg.counts), it.w) > 0
                              THEN [it.item] ELSE CAST([] AS VARCHAR[]) END
            END,
            CASE WHEN len(mg.items) < 8 THEN list_append(mg.counts, it.w)
                 ELSE list_transform(
                        list_filter(list_zip(mg.items, mg.counts),
                            p -> p[2] - least(list_min(mg.counts), it.w) > 0),
                        p -> p[2] - least(list_min(mg.counts), it.w))
                      || CASE WHEN it.w - least(list_min(mg.counts), it.w) > 0
                              THEN [it.w - least(list_min(mg.counts), it.w)]
                              ELSE CAST([] AS BIGINT[]) END
            END,
            mg.dec + CASE WHEN len(mg.items) < 8 THEN 0
                          ELSE least(list_min(mg.counts), it.w) END
        FROM mg JOIN it ON it.shard = mg.shard AND it.rk = mg.step + 1
    ),
    fin AS (
        SELECT shard, items, counts, dec
        FROM mg QUALIFY row_number() OVER (PARTITION BY shard ORDER BY step DESC) = 1
    ),
    tot AS (SELECT shard, SUM(w) AS n FROM it GROUP BY shard)
    SELECT 'stats' AS variant, user_id,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) AS sum_micro,
           MAX(ts) AS last_ts,
           CAST(NULL AS INT) AS shard, CAST(NULL AS BIGINT) AS est_count,
           CAST(NULL AS BIGINT) AS n_items, CAST(NULL AS BIGINT) AS n_decrements
    FROM events GROUP BY user_id
    UNION ALL
    SELECT 'hh' AS variant, CAST(u.item AS BIGINT) AS user_id,
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS TIMESTAMP),
           fin.shard, u.est_count, tot.n, fin.dec
    FROM fin JOIN tot USING (shard),
         (SELECT fin2.shard AS s2, unnest(fin2.items) AS item,
                 unnest(fin2.counts) AS est_count
          FROM fin fin2) u
    WHERE u.s2 = fin.shard
    """,
)
def streaming_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two stateful streaming operators under one oracle slot:

    - ``'stats'`` rows — per-user running count / exact micro-unit sum /
      last-seen timestamp in explicit group state
      (``user_running_stats``).
    - ``'hh'`` rows — :func:`streaming.events.stream_heavy_hitters`:
      sharded weighted Misra-Gries summaries in group state. Routing
      uses the engine-portable md5 hash and the whole stream arrives as
      one Arrow batch per shard (single file source + raised
      ``maxRecordsPerBatch``), so the operator's deterministic
      heaviest-first decision sequence replays EXACTLY in the oracle's
      recursive CTE — est_counts, totals and decrement mass all
      hash-match, evictions included (VERDICT r7 next-round #5)."""
    configure_session(spark)
    from xarray_dataaccessor_spark.functions.hashing import portable_hash32
    from xarray_dataaccessor_spark.streaming.events import (
        finish_available_now,
        start_available_now,
        stream_events,
        stream_heavy_hitters,
        user_running_stats,
    )

    stream = stream_events(spark, sf_dir)
    # start 'stats' now, await it after 'hh' has also started: the two
    # stateful queries are independent and overlap (guide §2.6); each
    # freezes its own conf (state partitions; hh's raised Arrow batch
    # size) in the cloned session its start() creates
    h_stats = start_available_now(
        user_running_stats(stream), output_mode="update", shuffle_partitions=8
    )
    hh_in = stream_events(spark, sf_dir).select(
        F.col("user_id").cast("string").alias("item"),
        F.pmod(
            portable_hash32(F.col("user_id").cast("string")), F.lit(4)
        ).cast("int").alias("__shard"),
    )
    prev_arrow = spark.conf.get(
        "spark.sql.execution.arrow.maxRecordsPerBatch", "10000"
    )
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "1048576")
    try:
        h_hh = start_available_now(
            stream_heavy_hitters(
                hh_in, item_col="item", k=8, n_shards=4, shard_col="__shard"
            ),
            output_mode="update",
            shuffle_partitions=4,
        )
    finally:
        spark.conf.set(
            "spark.sql.execution.arrow.maxRecordsPerBatch", prev_arrow
        )
    stats = finish_available_now(spark, h_stats).select(
        F.lit("stats").alias("variant"),
        "user_id",
        "n_events",
        "sum_micro",
        "last_ts",
        F.lit(None).cast("int").alias("shard"),
        F.lit(None).cast("bigint").alias("est_count"),
        F.lit(None).cast("bigint").alias("n_items"),
        F.lit(None).cast("bigint").alias("n_decrements"),
    )
    hh = finish_available_now(spark, h_hh).select(
        F.lit("hh").alias("variant"),
        F.col("item").cast("bigint").alias("user_id"),
        F.lit(None).cast("bigint").alias("n_events"),
        F.lit(None).cast("bigint").alias("sum_micro"),
        F.lit(None).cast("timestamp").alias("last_ts"),
        "shard",
        "est_count",
        "n_items",
        "n_decrements",
    )
    return stats.unionByName(hh)


# ---------------------------------------------------------------------------
# Composite pipeline: the canonical training-data prep flow — quality
# gate -> language gate -> fingerprint dedup -> per-source stats — as ONE
# lazy plan composed from the text/dedup operators.
# ---------------------------------------------------------------------------
@query(
    "training_data_prep_pipeline",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, source, text,
               length(text) AS n_chars,
               len(string_split_regex(trim(text), '\\s+')) AS n_words,
               len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS n_punct,
               len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) AS bpe_tokens,
               {_FP_NUM} AS fp_num
        FROM documents
    ),
    gated AS (
        SELECT * FROM t
        WHERE n_words >= 5 AND n_chars >= 30
          AND n_punct / CAST(n_chars AS DOUBLE) < 0.2
    ),
    deduped AS (
        SELECT * FROM (
            SELECT *, row_number() OVER (PARTITION BY fp_num ORDER BY doc_id) AS rk
            FROM gated
        ) WHERE rk = 1
    ),
    sharded AS (
        SELECT *, ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 8
                  AS shard
        FROM deduped
    )
    SELECT source, CAST(shard AS BIGINT) AS shard,
           COUNT(*) AS n_docs_kept,
           CAST(SUM(bpe_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS total_chars
    FROM sharded GROUP BY source, shard
    """,
)
def training_data_prep_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    configure_session(spark)
    from pyspark.sql.window import Window

    from xarray_dataaccessor_spark.operators.text import (
        fingerprint,
        text_stats,
        token_counts,
    )

    from xarray_dataaccessor_spark.functions.hashing import portable_hash32

    docs = load(spark, sf_dir, "documents").select("doc_id", "source", "text")
    enriched = fingerprint(token_counts(text_stats(docs)))
    gated = enriched.filter(F.col("quality_ok"))
    w = Window.partitionBy("fp_num").orderBy("doc_id")
    deduped = gated.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") == 1)
    # deterministic training-shard assignment (the export-time global
    # shuffle): shard = hash-bucket of the id — stable under re-runs and
    # corpus growth, exactly reproducible in the SQL oracle
    sharded = deduped.withColumn(
        "shard", F.pmod(portable_hash32(F.col("doc_id").cast("string")), F.lit(8))
    )
    return sharded.groupBy("source", "shard").agg(
        F.count(F.lit(1)).alias("n_docs_kept"),
        F.sum("bpe_tokens").alias("total_tokens"),
        F.sum(F.col("n_chars").cast("bigint")).alias("total_chars"),
    )


# ---------------------------------------------------------------------------
# IVF-style ANN (the second scale path next to LSH): deterministic coarse
# quantizer -> inverted lists -> n_probe lists per query -> exact cosine.
# ---------------------------------------------------------------------------
def _ivf_index_path(spark: SparkSession, sf_dir: str) -> str:
    """The persisted IVF index the 'drift' variant reads, built once per
    sf_dir: the index is the operator's input, not the thing the slot
    measures per repeat."""
    from xarray_dataaccessor_spark.operators.similarity import build_ivf_index
    from xarray_dataaccessor_spark.queries import _session_fixture

    def build(d: str) -> str:
        build_ivf_index(
            load(spark, sf_dir, "embeddings"), d,
            n_centroids=8, n_iters=2, dims=64, train_limit=256,
        )
        return d

    return _session_fixture("ivf_index", sf_dir, build)


@query(
    "similarity_ivf_ann",
    oracle=f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    smp AS (
        SELECT vec_id, e FROM v
        ORDER BY {_H32.format(expr="CAST(vec_id AS VARCHAR)")}, vec_id
        LIMIT 256
    ),
    cent0 AS (
        SELECT vec_id AS centroid_id, e AS ce
        FROM smp ORDER BY vec_id LIMIT 8
    ),
    {_kmeans_assign_sql("cent0", "a1", src="smp")},
    {_kmeans_mean_sql("a1", "cent1")},
    {_kmeans_assign_sql("cent1", "a2", src="smp")},
    {_kmeans_mean_sql("a2", "cent2")},
    c_assigned AS (
        SELECT vec_id AS neighbor_id, e AS nbr, centroid_id
        FROM ({_kmeans_assign_body("cent2")})
    ),
    q_assigned AS (
        SELECT vec_id AS query_id, e AS qe, centroid_id
        FROM ({_kmeans_assign_body("cent2", rank=2, where="WHERE v.vec_id < 5")})
    ),
    s AS (
        SELECT query_id, neighbor_id, {_cos_sql("qe", "nbr")} AS cos
        FROM c_assigned JOIN q_assigned USING (centroid_id)
        WHERE query_id <> neighbor_id
    ),
    r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cos DESC, neighbor_id) AS rk FROM s),
    lists_n AS (SELECT centroid_id, COUNT(*) AS n FROM c_assigned GROUP BY 1),
    dsm AS (SELECT SUM(n) AS total, COUNT(*) AS n_lists, MAX(n) AS max_n
            FROM lists_n)
    SELECT 'ann' AS variant, query_id, neighbor_id, cos, CAST(rk AS INT) AS rk
    FROM r WHERE rk <= 5
    UNION ALL
    SELECT 'list', CAST(centroid_id AS BIGINT), CAST(NULL AS BIGINT),
           CAST(n AS DOUBLE), CAST(NULL AS INT)
    FROM lists_n
    UNION ALL
    SELECT 'drift', CAST(m AS BIGINT), CAST(NULL AS BIGINT),
           CASE m WHEN 0 THEN CAST(total AS DOUBLE)
                  WHEN 1 THEN CAST(n_lists AS DOUBLE)
                  WHEN 2 THEN CAST(max_n AS DOUBLE)
                  WHEN 3 THEN total / CAST(n_lists AS DOUBLE)
                  WHEN 4 THEN (n_lists * max_n) / CAST(total AS DOUBLE)
                  ELSE max_n / CAST(total AS DOUBLE) END,
           CAST(NULL AS INT)
    FROM dsm, (SELECT unnest(range(6)) AS m)
    """,
)
def similarity_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with the deterministic k-means quantizer (2 Lloyd
    iterations seeded by the first 8 sampled vectors; VERDICT r2 #4/#6 —
    the by-id quantizer skews inverted lists on clustered corpora).
    Lloyd trains on the deterministic hash-ordered 256-vector sample
    (the 100 TB default, VERDICT r3 wrong-#2) and the oracle replays the
    SAME sample selection in SQL, so sampling costs no exactness.

    Round 10 adds the PERSISTED-index drift family (first green rows
    for :func:`similarity.build_ivf_index` + :func:`ivf_index_drift`):
    the slot builds the real on-disk index once per process (same
    quantizer parameters, session-scoped dir reaped at exit), then

    - ``'list'`` rows — per-inverted-list sizes read back from the
      partitioned ``lists`` table (the physical layout probing prunes),
    - ``'drift'`` rows — the retrain-scheduling signal
      (metric ids 0-5: n_vectors, n_lists, max_list, mean_list,
      imbalance_factor, top_list_frac; FAISS's imbalance metric),

    both replayed by the oracle from the same Lloyd assignment, so the
    index build, the partition layout, and the drift arithmetic all
    hash-verify."""
    configure_session(spark)
    from xarray_dataaccessor_spark.operators.similarity import (
        ivf_ann,
        ivf_index_drift,
    )

    emb = load(spark, sf_dir, "embeddings")
    ann_raw = ivf_ann(
        emb.filter(F.col("vec_id") < 5), emb, k=5, n_centroids=8, n_probe=2,
        n_iters=2, dims=64, train_limit=256,
    )
    ann = ann_raw.select(
        F.lit("ann").alias("variant"),
        "query_id", "neighbor_id", "cos", "rk",
    )
    path = _ivf_index_path(spark, sf_dir)
    lists = (
        spark.read.parquet(f"{path}/lists")
        .groupBy("centroid_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.lit("list").alias("variant"),
            F.col("centroid_id").cast("bigint").alias("query_id"),
            F.lit(None).cast("bigint").alias("neighbor_id"),
            F.col("n").cast("double").alias("cos"),
            F.lit(None).cast("int").alias("rk"),
        )
    )
    d = ivf_index_drift(spark, path)
    drift = local_frame(
        spark,
        [
            ("drift", m, None, float(v), None)
            for m, v in enumerate(
                [
                    d["n_vectors"], d["n_lists"], d["max_list"],
                    d["mean_list"], d["imbalance_factor"],
                    d["top_list_frac"],
                ]
            )
        ],
        "variant string, query_id bigint, neighbor_id bigint, "
        "cos double, rk int",
    )
    return ann.unionByName(lists).unionByName(drift)


# ---------------------------------------------------------------------------
# Windowed aggregation through the streaming engine, both window shapes
# under one oracle slot (former separate streaming_windowed_counts query
# consolidated here): 'tumbling' = 1-hour fixed windows via the
# windowed_counts operator; 'sliding' = 2-hour windows sliding hourly —
# each event lands in exactly two windows.
# ---------------------------------------------------------------------------
@query(
    "streaming_sliding_counts",
    oracle="""
    WITH e2 AS (
        SELECT date_trunc('hour', ts) AS h0, event_type, value FROM events
    ),
    w AS (
        SELECT 'sliding' AS variant, h0 AS win_start, event_type, value FROM e2
        UNION ALL
        SELECT 'sliding' AS variant, h0 - INTERVAL 1 HOUR AS win_start,
               event_type, value FROM e2
        UNION ALL
        SELECT 'tumbling' AS variant, h0 AS win_start, event_type, value FROM e2
    )
    SELECT variant, win_start, event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM w GROUP BY 1, 2, 3
    """,
)
def streaming_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    configure_session(spark)
    from xarray_dataaccessor_spark.streaming.events import (
        run_available_now,
        stream_events,
        windowed_counts,
    )

    sliding = (
        stream_events(spark, sf_dir)
        .withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "2 hours", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .select(F.col("w.start").alias("win_start"), "event_type", "n", "sum_value")
    )
    tumbling = windowed_counts(stream_events(spark, sf_dir))
    # the two window shapes are independent availableNow queries: start
    # both, then await both, so their micro-batches overlap (guide §2.6)
    # instead of paying two serial query lifecycles
    from xarray_dataaccessor_spark.streaming.events import (
        finish_available_now,
        start_available_now,
    )

    hs = start_available_now(sliding, output_mode="complete", shuffle_partitions=8)
    ht = start_available_now(tumbling, output_mode="complete", shuffle_partitions=8)
    out_s = finish_available_now(spark, hs)
    out_t = finish_available_now(spark, ht).withColumnRenamed("hour", "win_start")
    return out_s.withColumn("variant", F.lit("sliding")).unionByName(
        out_t.withColumn("variant", F.lit("tumbling"))
    ).select("variant", "win_start", "event_type", "n", "sum_value")


# ---------------------------------------------------------------------------
# As-of join: each event gets the most recent prior 'purchase' value of
# the same user (union + as-of-window pattern — one shuffle on user_id).
# The oracle is DuckDB's native ASOF JOIN over the same deduplicated
# right side.
# ---------------------------------------------------------------------------
@query(
    "asof_join_last_purchase",
    oracle="""
    WITH purchases AS (
        SELECT user_id, ts, ARG_MAX(value, event_id) AS purchase_value
        FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
    )
    SELECT e.event_id, e.user_id, e.ts, e.value, p.purchase_value
    FROM events e
    ASOF LEFT JOIN purchases p
      ON e.user_id = p.user_id AND p.ts <= e.ts
    """,
)
def asof_join_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    configure_session(spark)
    from xarray_dataaccessor_spark.operators.asof import asof_join

    ev = load(spark, sf_dir, "events")
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max_by("value", "event_id").alias("purchase_value"))
    )
    left = ev.select("event_id", "user_id", "ts", "value")
    return asof_join(
        left, purchases, on="ts", by="user_id", value_cols=["purchase_value"]
    )


# ---------------------------------------------------------------------------
# Range join: events joined to the business-hours interval containing
# them (bin-bucketed interval containment — equi-join + refine instead of
# a nested-loop inequality join).
# ---------------------------------------------------------------------------
@query(
    "range_join_business_hours",
    oracle="""
    WITH days AS (
        SELECT DISTINCT date_trunc('day', ts) AS d FROM events
    ),
    intervals AS (
        SELECT strftime(d, '%Y%m%d') AS interval_id,
               d + INTERVAL 6 HOUR AS win_start,
               d + INTERVAL 18 HOUR AS win_end
        FROM days
    )
    SELECT interval_id,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events e JOIN intervals i
      ON e.ts >= i.win_start AND e.ts <= i.win_end
    GROUP BY interval_id
    """,
)
def range_join_business_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    configure_session(spark)
    from xarray_dataaccessor_spark.operators.asof import range_join_binned

    ev = load(spark, sf_dir, "events")
    days = ev.select(F.date_trunc("day", "ts").alias("d")).distinct()
    intervals = days.select(
        F.date_format("d", "yyyyMMdd").alias("interval_id"),
        (F.col("d") + F.expr("INTERVAL 6 HOURS")).alias("win_start"),
        (F.col("d") + F.expr("INTERVAL 18 HOURS")).alias("win_end"),
    )
    joined = range_join_binned(
        ev.select("ts", "value"), intervals, "ts", "win_start", "win_end",
        bin_width_seconds=6 * 3600,
    )
    return joined.groupBy("interval_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
    )


# ---------------------------------------------------------------------------
# C4-style duplicate-passage removal: 10-word chunks deduplicated at
# their globally-first occurrence, documents reassembled. Run on the
# fuzzed corpus so exact copies collapse to empty survivors.
# ---------------------------------------------------------------------------
_CHUNK_H64 = _H64.format(expr="chunk")


@query(
    "line_dedup_reassembly",
    oracle=f"""
    WITH corpus AS ({CORPUS_SQL}),
    chunked AS (
        SELECT doc_id, i AS pos,
               array_to_string(w[i * 10 + 1 : i * 10 + 10], ' ') AS chunk
        FROM (SELECT doc_id, string_split(text, ' ') AS w FROM corpus),
             unnest(range(0, CAST(ceil(len(w) / 10.0) AS BIGINT))) AS t(i)
    ),
    hashed AS (SELECT doc_id, pos, chunk, {_CHUNK_H64} AS h FROM chunked),
    kept AS (
        SELECT * FROM (
            SELECT *, row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rk
            FROM hashed
        ) WHERE rk = 1
    ),
    reassembled AS (
        SELECT doc_id, string_agg(chunk, ' ' ORDER BY pos) AS text,
               COUNT(*) AS n_chunks_kept
        FROM kept GROUP BY doc_id
    ),
    totals AS (SELECT doc_id, COUNT(*) AS n_chunks_total FROM hashed GROUP BY doc_id),
    -- substring-dedup variant (Lee et al.): positional 8-gram hashes,
    -- shared-gram islands -> removal spans, keep-first exemption
    dw AS (
        SELECT doc_id,
               list_filter(string_split_regex(text, '\\s+'),
                           x -> length(x) > 0) AS w
        FROM corpus
    ),
    spos AS (
        SELECT doc_id, i - 1 AS pos,
               {_H64.format(expr="array_to_string(w[i : i + 7], ' ')")} AS h
        FROM dw, unnest(range(1, greatest(len(w) - 8, 0) + 2)) AS t(i)
        WHERE len(w) >= 8
    ),
    occ AS (
        SELECT doc_id, pos,
               COUNT(*) OVER (PARTITION BY h) AS n_occ,
               row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rk
        FROM spos
    ),
    smarked AS (SELECT doc_id, pos FROM occ WHERE n_occ > 1 AND rk > 1),
    sruns AS (
        SELECT doc_id, MIN(pos) AS s, MAX(pos) + 8 AS e FROM (
            SELECT doc_id, pos,
                   pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS isl
            FROM smarked
        ) GROUP BY doc_id, isl
    ),
    toks AS (
        SELECT doc_id, i - 1 AS ti, w[i] AS tok
        FROM dw, unnest(range(1, len(w) + 1)) AS t(i)
    ),
    skept AS (
        SELECT t.doc_id, t.ti, t.tok FROM toks t
        WHERE NOT EXISTS (
            SELECT 1 FROM sruns r
            WHERE r.doc_id = t.doc_id AND r.s <= t.ti AND t.ti < r.e
        )
    ),
    sout AS (
        SELECT dw.doc_id,
               COALESCE(kk.text, '') AS text,
               len(dw.w) AS n_total,
               COALESCE(kk.n_kept, 0) AS n_kept
        FROM dw LEFT JOIN (
            SELECT doc_id, string_agg(tok, ' ' ORDER BY ti) AS text,
                   COUNT(*) AS n_kept
            FROM skept GROUP BY doc_id
        ) kk ON kk.doc_id = dw.doc_id
    )
    SELECT 'chunks' AS variant, t.doc_id,
           COALESCE(r.text, '') AS text,
           CAST(t.n_chunks_total AS BIGINT) AS n_total,
           CAST(COALESCE(r.n_chunks_kept, 0) AS BIGINT) AS n_kept
    FROM totals t LEFT JOIN reassembled r ON t.doc_id = r.doc_id
    UNION ALL
    SELECT 'substrings', doc_id, text, CAST(n_total AS BIGINT),
           CAST(n_kept AS BIGINT)
    FROM sout
    UNION ALL
    -- intra-doc line dedup (round 10 green row for text.dedup_within_doc):
    -- plant repeated lines (l1 l2 l1 l3 l2 from word slices), keep the
    -- FIRST occurrence of each line (array_distinct order), rejoin
    SELECT 'withindoc', doc_id,
           string_agg(line, chr(10) ORDER BY pos) AS text,
           CAST(MAX(n_units) AS BIGINT) AS n_total,
           CAST(COUNT(*) AS BIGINT) AS n_kept
    FROM (
        SELECT doc_id, pos, line, n_units,
               row_number() OVER (PARTITION BY doc_id, line ORDER BY pos) AS rk
        FROM (
            SELECT doc_id,
                   -- COALESCE: DuckDB's out-of-range list slice is NULL
                   -- where Spark's F.slice is an empty array -> ''
                   unnest([COALESCE(array_to_string(w[1:6], ' '), ''),
                           COALESCE(array_to_string(w[7:12], ' '), ''),
                           COALESCE(array_to_string(w[1:6], ' '), ''),
                           COALESCE(array_to_string(w[13:18], ' '), ''),
                           COALESCE(array_to_string(w[7:12], ' '), '')]) AS line,
                   unnest([0, 1, 2, 3, 4]) AS pos,
                   5 AS n_units
            FROM (SELECT doc_id, string_split(text, ' ') AS w FROM corpus)
        )
    ) WHERE rk = 1
    GROUP BY doc_id
    """,
)
def line_dedup_reassembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two passage-level dedup families under one slot (variant union):
    'chunks' rows are the C4-style fixed-chunk dedup + reassembly
    (``text.remove_duplicate_chunks``); 'substrings' rows are the exact
    substring dedup of Lee et al. (``dedup.substring_dedup``,
    min_tokens=8, keep-first) — maximal shared token runs cut from all
    but their first occurrence, text rebuilt from the kept tokens;
    'withindoc' rows (round 10) are :func:`text.dedup_within_doc` —
    INTRA-document repeated-line removal (array_distinct keeps
    first-seen order, zero shuffles zero UDFs) over texts with planted
    repeated lines (l1 l2 l1 l3 l2 built from word slices), the oracle
    replaying keep-first with a position window."""
    configure_session(spark)
    from xarray_dataaccessor_spark.operators.dedup import substring_dedup
    from xarray_dataaccessor_spark.operators.text import (
        dedup_within_doc,
        remove_duplicate_chunks,
    )

    # cache: three dedup families re-derive the fuzzed corpus ~18
    # subtrees deep; the corpus is doc-count-sized (measured -20% at
    # sf0.1; the same boundary on stratified_sample_langs and
    # similarity_bruteforce_topk measured ZERO win — their scans are
    # projection-pruned narrow reads — so those stay uncached)
    corpus = tracked_cache(_corpus(spark, sf_dir))
    chunks = remove_duplicate_chunks(corpus).select(
        F.lit("chunks").alias("variant"),
        "doc_id",
        "text",
        F.col("n_chunks_total").cast("bigint").alias("n_total"),
        F.col("n_chunks_kept").cast("bigint").alias("n_kept"),
    )
    subs = substring_dedup(corpus, min_tokens=8, keep_first=True).select(
        F.lit("substrings").alias("variant"),
        "doc_id",
        F.col("cleaned_text").alias("text"),
        F.col("n_tokens").cast("bigint").alias("n_total"),
        (F.col("n_tokens") - F.col("n_removed")).cast("bigint").alias("n_kept"),
    )
    w = F.split(F.col("text"), " ")
    line = lambda a, b: F.array_join(F.slice(w, a, b), " ")  # noqa: E731
    planted = corpus.select(
        "doc_id",
        F.concat_ws(
            "\n", line(1, 6), line(7, 6), line(1, 6), line(13, 6), line(7, 6)
        ).alias("text"),
    )
    within = dedup_within_doc(planted, unit="line").select(
        F.lit("withindoc").alias("variant"),
        "doc_id",
        F.col("text_dedup").alias("text"),
        F.col("n_units").alias("n_total"),
        F.col("n_unique_units").alias("n_kept"),
    )
    return chunks.unionByName(subs).unionByName(within)


# ---------------------------------------------------------------------------
# W1 cubic spline upsample — the applyInPandas [P] path, oracle-backed:
# the natural spline's tridiagonal (Thomas) solve is a per-cell
# sequential recurrence, which a recursive CTE replays — forward sweep
# i=0..n-1 carrying (b', d', c), back substitution i=n-1..0 — with the
# evaluation polynomial written as the same IEEE op sequence the
# closure executes (explicit x*x*x cubes, matching association), so the
# replay is BIT-exact, not approximately equal.
# ---------------------------------------------------------------------------
@query(
    "resample_interpolate_cubic",
    oracle="""
    WITH RECURSIVE obs AS (
        SELECT date_trunc('day', ts) AS time, event_type,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(value) AS v
        FROM events GROUP BY 1, 2
    ),
    bounds AS (SELECT min(time) AS lo, max(time) AS hi FROM obs),
    spine AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS time FROM bounds),
    types AS (SELECT DISTINCT event_type FROM obs),
    grid AS (SELECT time, event_type FROM spine CROSS JOIN types),
    knots AS (
        SELECT event_type,
               CAST(row_number() OVER w - 1 AS BIGINT) AS i,
               CAST(epoch_us(time) AS DOUBLE) / 1000000.0 AS x, v AS y,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM obs
        WINDOW w AS (PARTITION BY event_type ORDER BY time)
    ),
    coef AS (
        SELECT k.event_type, k.i, k.n, k.x, k.y,
               CASE WHEN k.i BETWEEN 1 AND k.n - 2 THEN k.x - kp.x ELSE 0.0 END AS a,
               CASE WHEN k.i BETWEEN 1 AND k.n - 2
                    THEN 2.0 * ((k.x - kp.x) + (kn.x - k.x)) ELSE 1.0 END AS b,
               CASE WHEN k.i BETWEEN 1 AND k.n - 2 THEN kn.x - k.x ELSE 0.0 END AS c,
               CASE WHEN k.i BETWEEN 1 AND k.n - 2
                    THEN 6.0 * ((kn.y - k.y) / (kn.x - k.x) - (k.y - kp.y) / (k.x - kp.x))
                    ELSE 0.0 END AS d
        FROM knots k
        LEFT JOIN knots kp ON kp.event_type = k.event_type AND kp.i = k.i - 1
        LEFT JOIN knots kn ON kn.event_type = k.event_type AND kn.i = k.i + 1
    ),
    fwd AS (
        SELECT event_type, i, n, b AS bp, d AS dp, c AS cc FROM coef WHERE i = 0
        UNION ALL
        SELECT co.event_type, co.i, co.n,
               co.b - (co.a / f.bp) * f.cc,
               co.d - (co.a / f.bp) * f.dp,
               co.c
        FROM fwd f JOIN coef co ON co.event_type = f.event_type AND co.i = f.i + 1
    ),
    bwd AS (
        SELECT event_type, i, dp / bp AS m FROM fwd WHERE i = n - 1
        UNION ALL
        SELECT f.event_type, f.i, (f.dp - f.cc * b.m) / f.bp
        FROM bwd b JOIN fwd f ON f.event_type = b.event_type AND f.i = b.i - 1
    ),
    j AS (
        SELECT g.time, g.event_type, o.v,
               CAST(epoch_us(g.time) AS DOUBLE) / 1000000.0 AS t
        FROM grid g LEFT JOIN obs o ON g.time = o.time AND g.event_type = o.event_type
    ),
    seg AS (
        SELECT time, event_type, t,
               COUNT(v) OVER (PARTITION BY event_type ORDER BY time
                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS n_lt
        FROM j
    ),
    pick AS (
        SELECT s.*, k.n,
               GREATEST(LEAST(s.n_lt - 1, k.n - 2), 0) AS idx,
               k.x AS x_first
        FROM seg s JOIN knots k ON k.event_type = s.event_type AND k.i = 0
    ),
    lastk AS (
        SELECT event_type, x AS x_last FROM knots WHERE i = n - 1
    ),
    ev AS (
        SELECT p.time, p.event_type, p.t, p.n,
               (p.t >= p.x_first AND p.t <= l.x_last) AS inside,
               k0.x AS x0, k0.y AS y0, m0.m AS m0,
               k1.x AS x1, k1.y AS y1, m1.m AS m1
        FROM pick p
        JOIN lastk l ON l.event_type = p.event_type
        JOIN knots k0 ON k0.event_type = p.event_type AND k0.i = p.idx
        JOIN knots k1 ON k1.event_type = p.event_type AND k1.i = p.idx + 1
        JOIN bwd m0 ON m0.event_type = p.event_type AND m0.i = p.idx
        JOIN bwd m1 ON m1.event_type = p.event_type AND m1.i = p.idx + 1
    )
    SELECT time, event_type,
           CAST(CASE WHEN inside AND n >= 3 THEN
                m0 * ((x1 - t) * (x1 - t) * (x1 - t)) / (6.0 * (x1 - x0))
              + m1 * ((t - x0) * (t - x0) * (t - x0)) / (6.0 * (x1 - x0))
              + (y0 / (x1 - x0) - m0 * (x1 - x0) / 6.0) * (x1 - t)
              + (y1 / (x1 - x0) - m1 * (x1 - x0) / 6.0) * (t - x0)
           WHEN inside AND n = 2 THEN
                y0 + (y1 - y0) * (t - x0) / (x1 - x0)
           END AS DOUBLE) AS v
    FROM ev
    """,
)
def resample_interpolate_cubic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 natural-cubic-spline upsample (daily event means -> hourly,
    per event_type) — the applyInPandas escape hatch of SURVEY §2.5,
    fully oracle-backed (see the recursive-CTE replay above)."""
    configure_session(spark)
    from xarray_dataaccessor_spark.operators.resample import resample_interpolate

    ev = load(spark, sf_dir, "events")
    obs = ev.groupBy(
        F.window("ts", "1 day").start.alias("time"), "event_type"
    ).agg(
        (
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
            / F.count("value")
        ).alias("v")
    )
    return resample_interpolate(
        obs, "1H", "cubic", value_cols=["v"], time_col="time",
        group_cols=("event_type",),
    )


# ---------------------------------------------------------------------------
# Deterministic sampling / decontamination (operators/sampling.py — the
# training-data curation primitives; SURVEY §2 extension surface). The
# md5-derived hash makes the kept SET itself oracle-verifiable, not just
# its size.
# ---------------------------------------------------------------------------
_BUCKET_SQL = "('0x' || substr(md5(CAST({expr} AS VARCHAR)), 1, 8))::BIGINT % 65536"


@query(
    "stratified_sample_langs",
    oracle=f"""
    WITH counts AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
    m AS (SELECT MIN(n) AS t FROM counts),
    thr AS (SELECT lang, (t * 65536) // n AS thr FROM counts CROSS JOIN m),
    srcs AS (SELECT DISTINCT source FROM documents),
    wsum AS (SELECT SUM(CAST(substr(source, 4, 10) AS INT) + 1) AS s FROM srcs),
    mw AS (SELECT source,
                  (CAST(substr(source, 4, 10) AS INT) + 1) / CAST(s AS DOUBLE) AS p
           FROM srcs CROSS JOIN wsum),
    mtot AS (SELECT source, SUM(length(text)) AS st FROM documents GROUP BY source),
    mr AS (SELECT source, p * 200000.0 / st AS r
           FROM mtot JOIN mw USING (source)),
    md AS (SELECT d.doc_id, d.source, mr.r,
                  ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || ':0'), 1, 8))::BIGINT % 65536 AS b
           FROM documents d JOIN mr USING (source)),
    mn AS (SELECT doc_id, source,
                  CAST(floor(r) AS INT) +
                  CASE WHEN b < (r - floor(r)) * 65536 THEN 1 ELSE 0 END AS nc
           FROM md),
    -- DSIR variant (Xie et al. 2023): hashed-unigram importance
    -- weights vs the lang='en' target, Gumbel-top-50 resampling
    dtok AS (
        SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS w
        FROM documents
    ),
    dwc AS (SELECT doc_id, w, COUNT(*) AS c FROM dtok
            WHERE length(w) > 0 GROUP BY 1, 2),
    dfb AS (SELECT doc_id, ('0x' || substr(md5(w), 1, 8))::BIGINT % 256 AS b,
                   SUM(c) AS c
            FROM dwc GROUP BY 1, 2),
    draw AS (SELECT b, SUM(c) AS rc FROM dfb GROUP BY 1),
    dtgt AS (SELECT b, SUM(c) AS tc
             FROM dfb JOIN documents USING (doc_id)
             WHERE lang = 'en' GROUP BY 1),
    dtots AS (SELECT (SELECT SUM(rc) FROM draw) AS rt,
                     (SELECT SUM(tc) FROM dtgt) AS tt),
    dmod AS (
        SELECT draw.b,
               CAST(round(ln((COALESCE(tc, 0) + 1) / CAST(tt + 256 AS DOUBLE))
                        - ln((rc + 1) / CAST(rt + 256 AS DOUBLE)), 6)
                    AS DECIMAL(28,14)) AS lam
        FROM draw LEFT JOIN dtgt ON draw.b = dtgt.b CROSS JOIN dtots
    ),
    dw AS (
        SELECT d.doc_id,
               COALESCE(sw.logw, CAST(0 AS DECIMAL(28,14))) AS logw
        FROM documents d LEFT JOIN (
            SELECT doc_id, SUM(CAST(lam * c AS DECIMAL(28,14))) AS logw
            FROM dfb JOIN dmod USING (b) GROUP BY 1
        ) sw USING (doc_id)
    ),
    dkey AS (
        SELECT doc_id,
               logw + CAST(round(-ln(-ln(
                   (('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':dsir'),
                               1, 8))::BIGINT + 0.5) / 4294967296.0
               )), 6) AS DECIMAL(28,14)) AS gkey
        FROM dw
    ),
    dsel AS (
        SELECT doc_id, rk FROM (
            SELECT doc_id,
                   row_number() OVER (ORDER BY gkey DESC, doc_id) AS rk
            FROM dkey
        ) WHERE rk <= 50
    ),
    -- priority sampling (Duffield-Lund-Thorup): q = w / u with the
    -- deterministic uniform u = (h32(id:0) + 1) / 2^32, top-64 per
    -- source, tau = the 65th priority, HT estimate max(w, tau)
    pbase AS (
        SELECT doc_id, source, CAST(length(text) AS BIGINT) AS w,
               CAST(length(text) AS DOUBLE) /
               ((('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':0'),
                           1, 8))::BIGINT + 1.0) / 4294967296.0) AS q
        FROM documents
    ),
    prk AS (
        SELECT *, row_number() OVER (
                   PARTITION BY source ORDER BY q DESC, doc_id) AS rn,
               CAST(SUM(CAST(w AS DECIMAL(28,6))) OVER (
                   PARTITION BY source) AS DOUBLE) AS exact_total
        FROM pbase
    ),
    ptau AS (
        SELECT source,
               COALESCE(MAX(CASE WHEN rn = 65 THEN q END), 0.0) AS tau
        FROM prk GROUP BY source
    ),
    pkept AS (
        SELECT prk.*, GREATEST(CAST(w AS DOUBLE), tau) AS est
        FROM prk JOIN ptau USING (source) WHERE rn <= 64
    ),
    pout AS (
        SELECT doc_id, source, w, round(q, 6) AS q,
               round(CAST(SUM(CAST(est AS DECIMAL(28,6))) OVER (
                   PARTITION BY source) AS DOUBLE), 6) AS est_total,
               round(exact_total, 6) AS exact_total
        FROM pkept
    )
    SELECT 'strat' AS variant, d.doc_id, d.lang, d.source,
           CAST(NULL AS INT) AS epoch, CAST(NULL AS BIGINT) AS w,
           CAST(NULL AS DOUBLE) AS q, CAST(NULL AS DOUBLE) AS est_total,
           CAST(NULL AS DOUBLE) AS exact_total
    FROM documents d JOIN thr USING (lang)
    WHERE {_BUCKET_SQL.format(expr="d.doc_id")} < thr
    UNION ALL
    SELECT 'mixture', doc_id, CAST(NULL AS VARCHAR), source,
           CAST(unnest(range(nc)) AS INT), CAST(NULL AS BIGINT),
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           CAST(NULL AS DOUBLE)
    FROM mn WHERE nc > 0
    UNION ALL
    SELECT 'dsir', s.doc_id, d.lang, d.source, CAST(s.rk AS INT),
           CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
    FROM dsel s JOIN documents d USING (doc_id)
    UNION ALL
    SELECT 'priority', doc_id, CAST(NULL AS VARCHAR), source,
           CAST(NULL AS INT), w, q, est_total, exact_total
    FROM pout
    """,
)
def stratified_sample_langs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Four sampling primitives under one capacity-bounded oracle slot
    (variant union, VERDICT r6 #3):

    - ``'strat'`` rows — language rebalancing: deterministically
      downsample every language to the smallest language's count via
      per-stratum hash thresholds. Plan: one stratum-count groupBy
      (strata-sized shuffle), broadcast threshold join, map-side filter
      — the documents scan itself never shuffles.
    - ``'mixture'`` rows — ``mixture_resample`` materializing a
      200k-token epoch under non-uniform per-source weights (p ∝ source
      index + 1, derived in-plan so the slot is SF-portable): each
      document gets floor(rate) full copies plus a seeded-hash
      fractional copy, so the (doc, epoch) multiset — upsampled strata
      included — replays exactly in the oracle. Plan: strata-sized
      rate table broadcast into a map-side explode; the corpus never
      shuffles.
    - ``'dsir'`` rows — :func:`sampling.dsir_select` (Xie et al. 2023)
      scoring every document's hashed-unigram profile against the
      lang='en' target model and Gumbel-top-50 resampling; ``epoch``
      carries the selection rank, so the oracle replays the exact
      selected SET and ORDER (weights and Gumbel keys are 6-decimal
      DECIMAL sums — engine-portable). The slot exercises order-1
      features (256 buckets); the bigram path is unit-tested.
    - ``'priority'`` rows (round 11) —
      :func:`sampling.priority_sample` (Duffield-Lund-Thorup priority
      sampling, JACM 2007): a fixed-64-row weight-sensitive sample per
      source with the Horvitz-Thompson total estimate beside the exact
      total (the visible-error pair; weights = char lengths, the
      mixture variant's token proxy). Every priority ``q = w/u`` and
      the tau threshold replay in SQL from the portable hash, so the
      sampled SET and the estimator are both hash-verified."""
    configure_session(spark)
    from xarray_dataaccessor_spark.operators.sampling import (
        dsir_select,
        mixture_resample,
        priority_sample,
        stratified_downsample,
    )

    null_b = F.lit(None).cast("bigint")
    null_d = F.lit(None).cast("double")
    pad = [
        null_b.alias("w"), null_d.alias("q"),
        null_d.alias("est_total"), null_d.alias("exact_total"),
    ]
    docs = load(spark, sf_dir, "documents")
    strat = stratified_downsample(docs, "lang", id_col="doc_id").select(
        F.lit("strat").alias("variant"),
        "doc_id",
        "lang",
        "source",
        F.lit(None).cast("int").alias("epoch"),
        *pad,
    )
    srcs = docs.select("source").distinct()
    idx1 = F.substring("source", 4, 10).cast("int") + F.lit(1)
    wsum = srcs.agg(F.sum(idx1).alias("s"))
    weights = srcs.crossJoin(F.broadcast(wsum)).select(
        "source", (idx1 / F.col("s").cast("double")).alias("p")
    )
    toks = docs.select("doc_id", "source", F.length("text").alias("__tok_n"))
    mix = mixture_resample(
        toks, weights, "__tok_n", strata_col="source", total_tokens=200_000
    ).select(
        F.lit("mixture").alias("variant"),
        "doc_id",
        F.lit(None).cast("string").alias("lang"),
        "source",
        F.col("epoch").cast("int").alias("epoch"),
        *pad,
    )
    target = docs.filter(F.col("lang") == "en").select("doc_id")
    dsir = (
        dsir_select(docs, target, k=50, n_buckets=256, orders=(1,))
        .join(docs.select("doc_id", "lang", "source"), "doc_id")
        .select(
            F.lit("dsir").alias("variant"),
            "doc_id",
            "lang",
            "source",
            F.col("dsir_rank").alias("epoch"),
            *pad,
        )
    )
    prio = priority_sample(
        docs.select("doc_id", "source",
                    F.length("text").cast("bigint").alias("__wt")),
        "__wt", strata_col="source", k=64,
    ).select(
        F.lit("priority").alias("variant"),
        "doc_id",
        F.lit(None).cast("string").alias("lang"),
        "source",
        F.lit(None).cast("int").alias("epoch"),
        F.col("__wt").alias("w"),
        "q",
        "est_total",
        "exact_total",
    )
    return strat.unionByName(mix).unionByName(dsir).unionByName(prio)


@query(
    "contamination_ngram_overlap",
    oracle=f"""
    WITH split AS (
        SELECT doc_id, text,
               CASE WHEN {_BUCKET_SQL.format(expr="doc_id")} < 3276
                    THEN 'eval' ELSE 'train' END AS split
        FROM documents
    ),
    esh AS (
        SELECT DISTINCT shingle FROM (
            SELECT unnest(list_transform(range(1, greatest(len(w) - 2, 1) + 1),
                          i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
            FROM (SELECT string_split(text, ' ') AS w
                  FROM split WHERE split = 'eval')
        ) WHERE shingle IS NOT NULL AND length(shingle) > 0
    ),
    eh AS (SELECT DISTINCT {_H32.format(expr="shingle")} AS h FROM esh),
    tpos AS (
        SELECT doc_id, b.pos AS pos,
               {_H32.format(expr="b.sh")} AS h
        FROM (
            SELECT doc_id,
                   unnest(list_transform(range(1, greatest(len(w) - 2, 1) + 1),
                          i -> {{'pos': i,
                                 'sh': w[i] || ' ' || w[i+1] || ' ' || w[i+2]}}))
                       AS b
            FROM (SELECT doc_id, string_split(text, ' ') AS w
                  FROM split WHERE split = 'train')
        ) WHERE b.sh IS NOT NULL AND length(b.sh) > 0
    ),
    m AS (SELECT t.doc_id, t.pos, t.h, (eh.h IS NOT NULL) AS hit
          FROM tpos t LEFT JOIN eh ON t.h = eh.h),
    agg AS (
        SELECT doc_id, COUNT(DISTINCT h) AS n_shingles,
               COUNT(DISTINCT CASE WHEN hit THEN h END) AS n_overlap
        FROM m GROUP BY doc_id
    ),
    runs AS (
        SELECT doc_id,
               pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS isl
        FROM m WHERE hit
    ),
    spans AS (
        SELECT doc_id, MAX(run) + 2 AS max_span_tokens FROM (
            SELECT doc_id, isl, COUNT(*) AS run FROM runs GROUP BY doc_id, isl
        ) GROUP BY doc_id
    ),
    bb AS (
        SELECT pos // 32 AS w,
               bit_or(1::BIGINT << CAST(pos % 32 AS INT)) AS bits
        FROM (
            SELECT ((('0x' || substr(md5('b1:' || shingle), 1, 8))::BIGINT
                     + ks.i * ('0x' || substr(md5('b2:' || shingle), 1, 8))::BIGINT)
                    % 65536) AS pos
            FROM esh, (VALUES (0), (1), (2)) ks(i)
        ) GROUP BY 1
    ),
    tb AS (
        SELECT doc_id, b.pos AS pos,
               {_H32.format(expr="b.sh")} AS h,
               ('0x' || substr(md5('b1:' || b.sh), 1, 8))::BIGINT AS h1,
               ('0x' || substr(md5('b2:' || b.sh), 1, 8))::BIGINT AS h2
        FROM (
            SELECT doc_id,
                   unnest(list_transform(range(1, greatest(len(w) - 2, 1) + 1),
                          i -> {{'pos': i,
                                 'sh': w[i] || ' ' || w[i+1] || ' ' || w[i+2]}}))
                       AS b
            FROM (SELECT doc_id, string_split(text, ' ') AS w
                  FROM split WHERE split = 'train')
        ) WHERE b.sh IS NOT NULL AND length(b.sh) > 0
    ),
    mb AS (
        SELECT tb.doc_id, tb.pos, tb.h,
               COUNT(*) FILTER (
                   WHERE bb.bits IS NOT NULL AND
                   (bb.bits >> CAST(((tb.h1 + ks.i * tb.h2) % 65536) % 32
                               AS INT)) & 1 = 1
               ) = 3 AS hit
        FROM tb CROSS JOIN (VALUES (0), (1), (2)) ks(i)
        LEFT JOIN bb ON bb.w = ((tb.h1 + ks.i * tb.h2) % 65536) // 32
        GROUP BY tb.doc_id, tb.pos, tb.h
    ),
    aggb AS (
        SELECT doc_id, COUNT(DISTINCT h) AS n_shingles,
               COUNT(DISTINCT CASE WHEN hit THEN h END) AS n_overlap
        FROM mb GROUP BY doc_id
    ),
    runsb AS (
        SELECT doc_id,
               pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS isl
        FROM mb WHERE hit
    ),
    spansb AS (
        SELECT doc_id, MAX(run) + 2 AS max_span_tokens FROM (
            SELECT doc_id, isl, COUNT(*) AS run FROM runsb GROUP BY doc_id, isl
        ) GROUP BY doc_id
    )
    SELECT 'exact' AS variant, agg.doc_id, n_shingles, n_overlap,
           CAST(n_overlap AS DOUBLE) / CAST(n_shingles AS DOUBLE) AS contamination,
           CAST(spans.max_span_tokens AS BIGINT) AS max_span_tokens
    FROM agg JOIN spans USING (doc_id)
    WHERE n_overlap > 0
    UNION ALL
    SELECT 'bloom' AS variant, aggb.doc_id, n_shingles, n_overlap,
           CAST(n_overlap AS DOUBLE) / CAST(n_shingles AS DOUBLE) AS contamination,
           CAST(spansb.max_span_tokens AS BIGINT) AS max_span_tokens
    FROM aggb JOIN spansb USING (doc_id)
    WHERE n_overlap > 0
    """,
)
def contamination_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: hash-split the corpus into train/eval
    (deterministic_split, 5%), then report each train document whose
    word-3-gram hash set overlaps the eval set's — overlap count,
    shingle count, contamination fraction, and the LONGEST CONTIGUOUS
    contaminated span in tokens (benchmarks leak as passages, and span
    length is the signal removal acts on).

    Two variant row sets: ``'exact'`` marks hits by joining the eval
    hash set; ``'bloom'`` (round 8) compresses the eval side into a
    broadcast Bloom filter (``operators/sketch.py``) probed map-side —
    the 100 TB decontamination shape. Every bit position is
    md5-derived integer arithmetic, so the oracle rebuilds the
    identical filter in SQL and the reports match hash-exactly, false
    positives included. Since r14 both variants come from
    ``contamination_report_dual``: ONE positional shingling of the
    train corpus carries both hit markers through one aggregation
    chain and unpivots the variant rows at the end — row-identical to
    the old exact∪bloom union at half the corpus passes, no cache."""
    configure_session(spark)
    from xarray_dataaccessor_spark.operators.sampling import (
        contamination_report_dual,
        deterministic_split,
    )

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    split = deterministic_split(docs, "doc_id", eval_per_mille=50)
    train = split.filter(F.col("split") == "train").drop("split")
    eval_df = split.filter(F.col("split") == "eval").drop("split")
    # one fused train-corpus pass emitting both variant row sets —
    # row-identical to exact.unionByName(bloom) of the single-variant
    # reports, at half the shingling/hashing CPU and half the
    # aggregation exchanges (the r13 verdict ruled out sharing via a
    # cache barrier; this sharing is structural)
    return contamination_report_dual(
        train, eval_df, "text", "doc_id", k=3, m_bits=65536, k_hashes=3
    )


# ---------------------------------------------------------------------------
# Gopher-style repetition gating + PII scrubbing — the two curation
# passes between ingestion and dedup in a pretraining pipeline.
# ---------------------------------------------------------------------------
@query(
    "quality_filter_gopher",
    oracle="""
    WITH w AS (
        SELECT doc_id,
               list_filter(string_split_regex(trim(text), '\\s+'),
                           x -> length(x) > 0) AS ws
        FROM documents
    ),
    uni AS (
        SELECT doc_id, SUM(c) AS n_words, MAX(c) AS top_word_n,
               COUNT(*) AS n_unique, SUM(length(wd) * c) AS sum_word_len
        FROM (SELECT doc_id, wd, COUNT(*) AS c
              FROM (SELECT doc_id, unnest(ws) AS wd FROM w)
              GROUP BY doc_id, wd)
        GROUP BY doc_id
    ),
    bi AS (
        SELECT doc_id, SUM(c) AS n_bigrams, MAX(c) AS top_bigram_n
        FROM (SELECT doc_id, bg, COUNT(*) AS c
              FROM (SELECT doc_id,
                           unnest(list_transform(range(1, greatest(len(ws), 1)),
                                  i -> ws[i] || ' ' || ws[i+1])) AS bg
                    FROM w)
              GROUP BY doc_id, bg)
        GROUP BY doc_id
    ),
    lm_words AS (SELECT doc_id, unnest(ws) AS wd FROM w),
    lm_uni AS (SELECT wd, COUNT(*) AS cw FROM lm_words GROUP BY wd),
    lm_v AS (SELECT COUNT(*) + 1 AS v FROM lm_uni),
    lm_occ AS (
        SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM (
            SELECT doc_id,
                   unnest(list_transform(range(1, greatest(len(ws), 1)),
                          i -> {'w1': ws[i], 'w2': ws[i+1]})) AS b
            FROM w
        ) WHERE b.w2 IS NOT NULL
    ),
    lm_big AS (SELECT w1, w2, COUNT(*) AS cb FROM lm_occ GROUP BY w1, w2),
    lm_doc AS (
        SELECT doc_id, COUNT(*) AS lm_bigrams,
               CAST(SUM(CAST(ROUND(-log2((cb + 1) / CAST(cw + v AS DOUBLE)), 6)
                             AS DECIMAL(28,14))) AS DOUBLE) / COUNT(*)
                   AS lm_neg_log2p
        FROM lm_occ
        JOIN lm_big USING (w1, w2)
        JOIN lm_uni ON lm_uni.wd = lm_occ.w1, lm_v
        GROUP BY doc_id
    ),
    base AS (
        SELECT uni.doc_id,
               CAST(n_words AS BIGINT) AS n_words,
               top_word_n / CAST(n_words AS DOUBLE) AS top_word_frac,
               CASE WHEN n_bigrams IS NOT NULL AND n_bigrams > 0
                    THEN top_bigram_n / CAST(n_bigrams AS DOUBLE) ELSE 0.0
               END AS top_bigram_frac,
               n_unique / CAST(n_words AS DOUBLE) AS unique_word_frac,
               sum_word_len / CAST(n_words AS DOUBLE) AS mean_word_len,
               (n_words >= 50
                AND top_word_n / CAST(n_words AS DOUBLE) <= 0.30
                AND (CASE WHEN n_bigrams IS NOT NULL AND n_bigrams > 0
                          THEN top_bigram_n / CAST(n_bigrams AS DOUBLE) ELSE 0.0
                     END) <= 0.18
                AND n_unique / CAST(n_words AS DOUBLE) >= 0.30
                AND sum_word_len / CAST(n_words AS DOUBLE) >= 2.0
                AND sum_word_len / CAST(n_words AS DOUBLE) <= 12.0) AS keep,
               CAST(COALESCE(lm_doc.lm_bigrams, 0) AS BIGINT) AS lm_bigrams,
               lm_doc.lm_neg_log2p AS lm_neg_log2p
        FROM uni
        LEFT JOIN bi ON uni.doc_id = bi.doc_id
        LEFT JOIN lm_doc ON uni.doc_id = lm_doc.doc_id
    ),
    ppl_hist AS (
        SELECT ROUND(lm_neg_log2p, 2) AS q, COUNT(*) AS c
        FROM base WHERE lm_neg_log2p IS NOT NULL GROUP BY 1
    ),
    ppl_cum AS (
        SELECT q,
               SUM(c) OVER (ORDER BY q ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cm,
               SUM(c) OVER () AS n
        FROM ppl_hist
    ),
    ppl_t AS (
        SELECT MIN(CASE WHEN cm * 3 >= n * 1 THEN q END) AS t1,
               MIN(CASE WHEN cm * 3 >= n * 2 THEN q END) AS t2
        FROM ppl_cum
    ),
    ppl AS (
        SELECT doc_id,
               CASE WHEN lm_neg_log2p IS NOT NULL THEN
                   CAST(CASE WHEN ROUND(lm_neg_log2p, 2) > t1 THEN 1 ELSE 0 END
                      + CASE WHEN ROUND(lm_neg_log2p, 2) > t2 THEN 1 ELSE 0 END
                      AS INT)
               END AS ppl_bucket
        FROM base CROSS JOIN ppl_t
    )
    SELECT base.*,
           ppl.ppl_bucket,
           CASE ppl.ppl_bucket WHEN 0 THEN 'head' WHEN 1 THEN 'middle'
                WHEN 2 THEN 'tail' END AS ppl_tier
    FROM base JOIN ppl ON base.doc_id = ppl.doc_id
    """,
)
def quality_filter_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition/quality gate (Rae et al. 2021 app. A) —
    top-word fraction, top-bigram fraction, unique-word fraction, mean
    word length, composite keep verdict — PLUS the CCNet-style bigram
    language-model fluency score (``operators.text.bigram_lm_scores``)
    — PLUS the CCNet perplexity tiers
    (``operators.text.perplexity_buckets``, Wenzek et al. 2020):
    head/middle/tail terciles of the LM score via the bounded-histogram
    threshold derivation (no global sort), the thresholds replayed in
    SQL from the same quantized histogram. Three families — the DCLM
    distilled classifier + its held-out AUC moved to their own slot
    (``quality_classifier_distill``) in round 11 to de-concentrate this
    one (VERDICT r10 "What's wrong #3"; interpolated Kneser-Ney moved
    to ``token_count_by_source`` 'kn' in round 9 for the same
    reason)."""
    configure_session(spark)
    from xarray_dataaccessor_spark.operators.text import (
        bigram_lm_from_counts,
        gopher_from_counts,
    )

    # the shared-tokenization discipline (VERDICT r6 #1, extended r12):
    # the corpus is tokenized once per gram shape into two compacted
    # count tables, landed ONCE PER SESSION (the cross-slot share:
    # gopher, the distilled classifier, and the KN scorer all read the
    # same tables) and cached for this slot.
    from xarray_dataaccessor_spark.queries import (
        _corpus_bigram_counts,
        _corpus_word_counts,
    )

    wc = tracked_cache(_corpus_word_counts(spark, sf_dir))
    bc = tracked_cache(_corpus_bigram_counts(spark, sf_dir))
    gopher = gopher_from_counts(wc, bc)
    lm = bigram_lm_from_counts(wc, bc)
    # base feeds the output twice (once for the tier histogram, once
    # for the labeled rows): cache the doc-sized signal table instead
    # of recomputing the gopher+lm pipeline.
    base = tracked_cache(
        gopher.join(lm, "doc_id", "left").withColumn(
            "lm_bigrams",
            F.coalesce(F.col("lm_bigrams"), F.lit(0)).cast("bigint"),
        )
    )
    # CCNet perplexity terciles over the SAME cached base table — the
    # histogram threshold derivation scans base once, and the labels
    # attach via the operator's broadcast-threshold crossJoin directly
    # on base (NO extra doc-sized join: labeling is map-side)
    from xarray_dataaccessor_spark.operators.text import perplexity_buckets

    return perplexity_buckets(base, n_buckets=3)


@query(
    "quality_classifier_distill",
    oracle="""
    WITH w AS (
        SELECT doc_id,
               list_filter(string_split_regex(trim(text), '\\s+'),
                           x -> length(x) > 0) AS ws
        FROM documents
    ),
    uni AS (
        SELECT doc_id, SUM(c) AS n_words, MAX(c) AS top_word_n,
               COUNT(*) AS n_unique, SUM(length(wd) * c) AS sum_word_len
        FROM (SELECT doc_id, wd, COUNT(*) AS c
              FROM (SELECT doc_id, unnest(ws) AS wd FROM w)
              GROUP BY doc_id, wd)
        GROUP BY doc_id
    ),
    bi AS (
        SELECT doc_id, SUM(c) AS n_bigrams, MAX(c) AS top_bigram_n
        FROM (SELECT doc_id, bg, COUNT(*) AS c
              FROM (SELECT doc_id,
                           unnest(list_transform(range(1, greatest(len(ws), 1)),
                                  i -> ws[i] || ' ' || ws[i+1])) AS bg
                    FROM w)
              GROUP BY doc_id, bg)
        GROUP BY doc_id
    ),
    base AS (
        SELECT uni.doc_id,
               CAST(n_words AS BIGINT) AS n_words,
               top_word_n / CAST(n_words AS DOUBLE) AS top_word_frac,
               n_unique / CAST(n_words AS DOUBLE) AS unique_word_frac,
               sum_word_len / CAST(n_words AS DOUBLE) AS mean_word_len,
               (n_words >= 50
                AND top_word_n / CAST(n_words AS DOUBLE) <= 0.30
                AND (CASE WHEN n_bigrams IS NOT NULL AND n_bigrams > 0
                          THEN top_bigram_n / CAST(n_bigrams AS DOUBLE) ELSE 0.0
                     END) <= 0.18
                AND n_unique / CAST(n_words AS DOUBLE) >= 0.30
                AND sum_word_len / CAST(n_words AS DOUBLE) >= 2.0
                AND sum_word_len / CAST(n_words AS DOUBLE) <= 12.0) AS keep
        FROM uni
        LEFT JOIN bi ON uni.doc_id = bi.doc_id
    ),
    esplit AS (
        SELECT doc_id,
               ('0x' || substr(md5('ev:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                   % 65536 AS eb
        FROM documents
    ),
    yall AS (SELECT doc_id, CASE WHEN keep THEN 1.0 ELSE 0.0 END AS y FROM base),
    yl0 AS (SELECT yall.doc_id, y FROM yall JOIN esplit USING (doc_id)
            WHERE eb >= 13107),
    yl AS (SELECT doc_id, y FROM yl0
           ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT,
                    doc_id
           LIMIT 2048),
    fb AS (
        SELECT doc_id,
               CAST(('0x' || substr(md5(wd), 1, 8))::BIGINT % 32 AS INT) AS bucket
        FROM (SELECT doc_id, unnest(ws) AS wd FROM w) WHERE length(wd) > 0
    ),
    fcnt AS (SELECT doc_id, bucket, COUNT(*) AS c FROM fb GROUP BY doc_id, bucket),
    fn AS (SELECT doc_id, SUM(c) AS n FROM fcnt GROUP BY doc_id),
    feat AS (
        SELECT fcnt.doc_id, bucket, c / CAST(n AS DOUBLE) AS x
        FROM fcnt JOIN fn ON fcnt.doc_id = fn.doc_id
        UNION ALL
        SELECT doc_id, -1, 1.0 FROM fn
        UNION ALL
        SELECT doc_id, -2, top_word_frac FROM base
        UNION ALL
        SELECT doc_id, -3, unique_word_frac FROM base
        UNION ALL
        SELECT doc_id, -4, mean_word_len / 12.0 FROM base
        UNION ALL
        SELECT doc_id, -5, CAST(LEAST(n_words, 500) AS DOUBLE) / 500.0 FROM base
    ),
    nd AS (SELECT COUNT(*) AS n FROM yl),
    g1 AS (
        SELECT bucket,
               CAST(SUM(CAST((0.5 - y) * x AS DECIMAL(28,14))) AS DOUBLE)
                   / CAST(n AS DOUBLE) AS g
        FROM feat JOIN yl USING (doc_id), nd GROUP BY bucket, n
    ),
    w1 AS (SELECT bucket, -4.0 * g AS w FROM g1),
    s2 AS (
        SELECT f.doc_id,
               CAST(SUM(CAST(COALESCE(w1.w, 0.0) * f.x AS DECIMAL(28,14))) AS DOUBLE) AS s
        FROM feat f LEFT JOIN w1 USING (bucket) GROUP BY f.doc_id
    ),
    p2 AS (SELECT doc_id, ROUND(1.0 / (1.0 + exp(-s)), 6) AS p FROM s2),
    g2 AS (
        SELECT bucket,
               CAST(SUM(CAST((p - y) * x AS DECIMAL(28,14))) AS DOUBLE)
                   / CAST(n AS DOUBLE) AS g
        FROM feat JOIN p2 USING (doc_id) JOIN yl USING (doc_id), nd
        GROUP BY bucket, n
    ),
    w2 AS (
        SELECT COALESCE(w1.bucket, g2.bucket) AS bucket,
               COALESCE(w1.w, 0.0) - 4.0 * COALESCE(g2.g, 0.0) AS w
        FROM w1 FULL OUTER JOIN g2 ON w1.bucket = g2.bucket
    ),
    s3 AS (
        SELECT f.doc_id,
               CAST(SUM(CAST(COALESCE(w2.w, 0.0) * f.x AS DECIMAL(28,14))) AS DOUBLE) AS s
        FROM feat f LEFT JOIN w2 USING (bucket) GROUP BY f.doc_id
    ),
    clf AS (
        SELECT doc_id, ROUND(1.0 / (1.0 + exp(-s)), 6) AS clf_score,
               ROUND(1.0 / (1.0 + exp(-s)), 6) >= 0.5 AS clf_keep
        FROM s3
    ),
    ev AS (
        SELECT clf.clf_score AS v, CAST(yall.y AS BIGINT) AS y
        FROM clf JOIN esplit USING (doc_id) JOIN yall USING (doc_id)
        WHERE eb < 13107
    ),
    byv AS (
        SELECT v, SUM(y) AS pos_v, COUNT(*) - SUM(y) AS neg_v
        FROM ev GROUP BY v
    ),
    cum AS (
        SELECT pos_v, neg_v,
               COALESCE(SUM(neg_v) OVER (ORDER BY v ROWS BETWEEN
                   UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cneg
        FROM byv
    ),
    met AS (
        SELECT CAST(SUM(pos_v * (2 * cneg + neg_v)) AS DOUBLE)
                   / CAST(2 * SUM(pos_v) * SUM(neg_v) AS DOUBLE) AS eval_auc,
               CAST(SUM(pos_v) AS BIGINT) AS eval_pos,
               CAST(SUM(neg_v) AS BIGINT) AS eval_neg
        FROM cum
    )
    SELECT base.doc_id, yall.y AS weak_label,
           clf.clf_score, clf.clf_keep,
           met.eval_auc, met.eval_pos, met.eval_neg
    FROM base JOIN clf ON base.doc_id = clf.doc_id
    JOIN yall ON base.doc_id = yall.doc_id
    CROSS JOIN met
    """,
)
def quality_classifier_distill_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DCLM-style DISTILLED quality classifier
    (``operators.classifier``), split out of ``quality_filter_gopher``
    in round 11 (VERDICT r10 "What's wrong #3": no slot should carry
    five verified families): a hashed-bag-of-words logistic regression
    trained IN-PLAN for two full-batch epochs on the gopher verdict as
    weak labels over the hash-ordered 2048-doc sample of a
    deterministic 80% hash split (the training_sample discipline —
    bounded labeled sets are how a real distill loop trains, and the
    cap makes every training pass sample-sized at any corpus scale),
    scoring every document — PLUS the held-out evaluation on the 20%: a
    rank-sum (Mann-Whitney, ties as half-wins) AUC of the classifier
    score against the weak label, integer-exact until the final
    division. The oracle replays the entire training loop (epoch-0
    sigmoid is exactly 0.5; decimal-cast accumulations;
    6-decimal-rounded sigmoids) AND the eval metric, so the learned
    weights, scores and AUC all hash-match across engines."""
    configure_session(spark)
    from xarray_dataaccessor_spark.operators.classifier import (
        distill_quality_classifier,
    )
    from xarray_dataaccessor_spark.operators.sampling import hash_bucket
    from xarray_dataaccessor_spark.operators.text import gopher_from_counts

    # shared-tokenization discipline (r12: cross-slot): one count table
    # per gram shape, read from the session-landed fixture; the teacher
    # signals AND the student's hashed features both derive from wc, so
    # the slot never scans the corpus text itself.
    from xarray_dataaccessor_spark.queries import (
        _corpus_bigram_counts,
        _corpus_word_counts,
    )

    wc = tracked_cache(_corpus_word_counts(spark, sf_dir))
    bc = tracked_cache(_corpus_bigram_counts(spark, sf_dir))
    # teacher = the gopher gate (weak labels + quality signals); the
    # doc-sized signal table feeds labels, features and the output join
    base = tracked_cache(gopher_from_counts(wc, bc))
    # deterministic 80/20 hash split (VERDICT r6 #7): the classifier
    # trains on the train side only and is scored with a held-out
    # rank-sum AUC — the metric a production distill loop gates on
    eb = hash_bucket(F.concat(F.lit("ev:"), F.col("doc_id").cast("string")))
    labels_all = base.select("doc_id", F.col("keep").cast("double").alias("y"))
    # bounded training replay (VERDICT r10 #3): the train side caps at
    # the deterministic hash-ordered 2048 (the PQ/kmeans
    # training_sample discipline) — the cap bites from sf0.01 up, so
    # the verified rows exercise it, and every per-epoch pass in
    # train_logreg is sample-sized instead of 80%-of-corpus-sized
    from xarray_dataaccessor_spark.operators.similarity import (
        training_sample,
    )

    labels = training_sample(
        base.select(
            "doc_id", F.col("keep").cast("double").alias("y"),
            eb.alias("__eb"),
        ).filter(F.col("__eb") >= 13107).drop("__eb"),
        "doc_id", 2048,
    )
    eval_ids = base.select("doc_id", eb.alias("__eb")).filter(
        F.col("__eb") < 13107
    ).select("doc_id")
    sig = base.select(
        "doc_id",
        F.explode(
            F.array(
                F.struct(F.lit(-2).cast("int").alias("bucket"),
                         F.col("top_word_frac").alias("x")),
                F.struct(F.lit(-3).cast("int").alias("bucket"),
                         F.col("unique_word_frac").alias("x")),
                F.struct(F.lit(-4).cast("int").alias("bucket"),
                         (F.col("mean_word_len") / F.lit(12.0)).alias("x")),
                F.struct(F.lit(-5).cast("int").alias("bucket"),
                         (F.least(F.col("n_words"), F.lit(500)).cast("double")
                          / F.lit(500.0)).alias("x")),
            )
        ).alias("b"),
    ).select("doc_id", "b.bucket", "b.x")
    clf = distill_quality_classifier(
        None, labels, n_buckets=32, epochs=2, lr=4.0, extra_features=sig,
        word_counts=wc,
    )
    # the scored table feeds BOTH the held-out AUC branch (a broadcast
    # job of its own) and the output join — uncached, the full epoch
    # chain + corpus score pass executed twice per invocation. It is
    # doc-sized (id, score, keep), so cache it (guide §2.4: one
    # materialization, two consumers).
    clf = tracked_cache(clf)
    # held-out rank-sum AUC (Mann-Whitney with ties as half-wins),
    # integer-exact until the final division: group eval scores by
    # value, one ordered prefix-sum over the <= |distinct 6-decimal
    # sigmoids| values (bounded by score resolution, fine in one window
    # partition), then U2 = sum(pos_v * (2*cum_neg_below + neg_v))
    ev = clf.join(eval_ids, "doc_id").join(labels_all, "doc_id")
    byv = (
        ev.groupBy("clf_score")
        .agg(
            F.sum(F.col("y").cast("bigint")).alias("pos_v"),
            F.count(F.lit(1)).alias("n_v"),
        )
        .withColumn("neg_v", F.col("n_v") - F.col("pos_v"))
    )
    wv = Window.orderBy("clf_score").rowsBetween(Window.unboundedPreceding, -1)
    cum = byv.withColumn(
        "cneg", F.coalesce(F.sum("neg_v").over(wv), F.lit(0))
    )
    metrics = cum.agg(
        F.sum(F.col("pos_v") * (2 * F.col("cneg") + F.col("neg_v"))).alias("u2"),
        F.sum("pos_v").alias("npos"),
        F.sum("neg_v").alias("nneg"),
    ).select(
        (
            F.col("u2").cast("double")
            / (2 * F.col("npos") * F.col("nneg")).cast("double")
        ).alias("eval_auc"),
        F.col("npos").cast("bigint").alias("eval_pos"),
        F.col("nneg").cast("bigint").alias("eval_neg"),
    )
    return (
        labels_all.withColumnRenamed("y", "weak_label")
        .join(clf, "doc_id")
        .crossJoin(F.broadcast(metrics))
        .select(
            "doc_id", "weak_label", "clf_score", "clf_keep",
            "eval_auc", "eval_pos", "eval_neg",
        )
    )


@query(
    "pii_scrub",
    oracle=f"""
    WITH seeded AS (
        SELECT doc_id,
               text ||
               CASE WHEN doc_id % 10 = 0
                    THEN ' contact admin' || CAST(doc_id AS VARCHAR) || '@example.com now'
                    ELSE '' END ||
               CASE WHEN doc_id % 13 = 0
                    THEN ' from 192.168.' || CAST(doc_id % 256 AS VARCHAR) || '.7'
                    ELSE '' END ||
               CASE WHEN doc_id % 17 = 0
                    THEN ' call 555-123-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                    ELSE '' END AS text
        FROM documents
    )
    SELECT doc_id,
           len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+')) AS n_emails,
           len(regexp_extract_all(text, '[0-9]{{1,3}}\\.[0-9]{{1,3}}\\.[0-9]{{1,3}}\\.[0-9]{{1,3}}')) AS n_ips,
           len(regexp_extract_all(text, '\\+?[0-9]{{3}}[- ][0-9]{{3}}[- ][0-9]{{4}}')) AS n_phones,
           md5(regexp_replace(
               regexp_replace(
                   regexp_replace(text,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+', '<EMAIL>', 'g'),
                   '[0-9]{{1,3}}\\.[0-9]{{1,3}}\\.[0-9]{{1,3}}\\.[0-9]{{1,3}}', '<IP>', 'g'),
               '\\+?[0-9]{{3}}[- ][0-9]{{3}}[- ][0-9]{{4}}', '<PHONE>', 'g')) AS scrub_md5
    FROM seeded
    """,
)
def pii_scrub_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction over a deterministically PII-seeded corpus (the
    synthetic documents contain none, so emails/IPv4s/phone numbers are
    injected by doc_id rule — identically in the oracle): per-doc match
    counts plus the md5 of the fully redacted text. Entirely map-side
    regexp codegen; patterns restricted to the Java-regex ∩ RE2 syntax
    both engines parse identically."""
    configure_session(spark)
    from xarray_dataaccessor_spark.operators.text import pii_scrub

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    seeded = docs.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 10 == 0,
                F.concat(
                    F.lit(" contact admin"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com now"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 13 == 0,
                F.concat(
                    F.lit(" from 192.168."),
                    (F.col("doc_id") % 256).cast("string"),
                    F.lit(".7"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 17 == 0,
                F.concat(
                    F.lit(" call 555-123-"),
                    F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
                ),
            ).otherwise(F.lit("")),
        ),
    )
    out = pii_scrub(seeded)
    return out.select(
        "doc_id",
        F.col("n_emails").cast("bigint").alias("n_emails"),
        F.col("n_ips").cast("bigint").alias("n_ips"),
        F.col("n_phones").cast("bigint").alias("n_phones"),
        F.md5("scrubbed").alias("scrub_md5"),
    )


@query(
    "streaming_session_windows",
    oracle="""
    WITH marked AS (
        SELECT user_id, ts, value,
               CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                         OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                            > INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS brk
        FROM events
    ),
    sess AS (
        SELECT user_id, ts, value,
               SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
        FROM marked
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM sess GROUP BY user_id, sid
    """,
)
def streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured-Streaming session windows (F.session_window): dynamic
    merge-on-gap state, the streaming counterpart of batch
    sessionization. Oracle = gaps-and-islands SQL (break when the gap
    to the previous event exceeds 30 min — the engine merges on
    diff <= gap, boundary verified; session end = last event + gap).
    Session membership is tie-order invariant: equal timestamps have
    gap 0 and can never straddle a break."""
    configure_session(spark)
    from xarray_dataaccessor_spark.streaming.events import (
        run_available_now,
        session_counts,
        stream_events,
    )

    stream = stream_events(spark, sf_dir)
    return run_available_now(
        session_counts(stream), output_mode="complete", shuffle_partitions=8
    )


# ---------------------------------------------------------------------------
# Sequence packing — the pretraining concat-and-chunk layout
# (operators/sampling.py::sequence_packing). Everything is a pure
# function of the portable id hash, so the oracle replicates the shard
# assignment, the shuffled order, the clamped prefix sum, and the pack
# attribution exactly.
# ---------------------------------------------------------------------------
_SP_H = _H32.format(expr="CAST(doc_id AS VARCHAR)")


@query(
    "sequence_packing",
    oracle=f"""
    WITH d AS (
        SELECT doc_id,
               CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
                   AS n_tokens,
               {_SP_H} % 64 AS shard,
               {_SP_H} % 65536 AS ord
        FROM documents
    ),
    c AS (
        SELECT *, SUM(LEAST(n_tokens, 256)) OVER (
                      PARTITION BY shard ORDER BY ord, doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM d
    ),
    p AS (SELECT *, CAST(FLOOR((cum - 1) / 256) AS BIGINT) AS pk FROM c),
    corpus AS ({CORPUS_SQL})
    SELECT 'pack' AS variant, doc_id, n_tokens,
           CAST(shard AS VARCHAR) || '-' || CAST(pk AS VARCHAR) AS pack_id,
           CAST(row_number() OVER (PARTITION BY shard, pk
                                   ORDER BY ord, doc_id) AS INT) AS pack_pos,
           CAST(NULL AS BIGINT) AS fp,
           CAST(NULL AS BIGINT) AS keep_id,
           CAST(NULL AS BIGINT) AS n_copies
    FROM p
    UNION ALL
    SELECT 'dedup' AS variant, CAST(NULL AS BIGINT) AS doc_id,
           CAST(NULL AS BIGINT) AS n_tokens,
           CAST(NULL AS VARCHAR) AS pack_id, CAST(NULL AS INT) AS pack_pos,
           fp, keep_id, n_copies
    FROM (
        SELECT {_H64.format(expr="text")} AS fp,
               MIN(doc_id) AS keep_id,
               COUNT(*) AS n_copies
        FROM corpus GROUP BY 1
    )
    """,
)
def sequence_packing_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk packing of the documents table onto a 256-token
    budget grid in the deterministic shuffled training order (the id-hash
    order an epoch consumes): one prefix-sum window per hash shard, no
    driver loop. The oracle recomputes shard, order, clamped cumulative
    tokens, and pack attribution from the same portable md5 hash.

    ``'dedup'`` variant rows carry the exact-dedup fingerprint report
    (``operators.dedup.dedup_exact`` over the seeded duplicated corpus:
    60-bit text fingerprint groupBy, min-id representative, copy count)
    — fused here in round 11 when the distilled classifier took its own
    registration (VERDICT r10 #3: both families read the documents
    corpus and compose in one oracle; each stays independently
    hash-verified via its variant tag)."""
    configure_session(spark)
    from xarray_dataaccessor_spark.operators.sampling import sequence_packing

    docs = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("bigint").alias("n_tok"),
    )
    null_b = F.lit(None).cast("bigint")
    pack = sequence_packing(docs, "n_tok", budget=256).select(
        F.lit("pack").alias("variant"),
        "doc_id", "n_tokens", "pack_id", "pack_pos",
        null_b.alias("fp"), null_b.alias("keep_id"), null_b.alias("n_copies"),
    )
    dd = dedup_exact(_corpus(spark, sf_dir)).select(
        F.lit("dedup").alias("variant"),
        null_b.alias("doc_id"), null_b.alias("n_tokens"),
        F.lit(None).cast("string").alias("pack_id"),
        F.lit(None).cast("int").alias("pack_pos"),
        "fp", "keep_id", "n_copies",
    )
    return pack.unionByName(dd)


# ---------------------------------------------------------------------------
# BPE tokenization (operators/tokenize.py): encode with a FIXED merge
# list so a DuckDB recursive CTE can replay the exact GPT-2 application
# order (lowest-rank adjacent pair first, one occurrence per step) and
# verify per-document subword counts. Training stays covered by unit
# tests (merge parity vs a reference implementation); the encode path —
# the part that touches the whole corpus at scale — is what the oracle
# pins down.
# ---------------------------------------------------------------------------
_BPE_MERGES = [
    ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"), ("an", "d"),
    ("e", "r"), ("o", "n"), ("r", "e"), ("o", "r"), ("s", "t"),
    ("e", "n"), ("a", "t"), ("er", "s"), ("the", "r"),
]


#: Fixed probe words for the token_counts_bpe 'cms' variant — common,
#: mid-frequency, and absent tokens, so the sketch shows near-exact
#: heavy hitters, visible collision overcount, and true-zero behavior.
_CMS_PROBES = (
    "the", "and", "of", "to", "data", "model", "quantum",
    "zzz_never_in_corpus",
)
_CMS_PROBES_SQL = ", ".join(f"('{p}')" for p in _CMS_PROBES)


def _bpe_oracle() -> str:
    case = (
        "CASE s[i] || chr(1) || s[i+1] "
        + " ".join(
            f"WHEN '{a}' || chr(1) || '{b}' THEN {r}"
            for r, (a, b) in enumerate(_BPE_MERGES)
        )
        + " END"
    )
    return f"""
    WITH RECURSIVE
    tok AS (
        SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS w
        FROM documents
    ),
    tokf AS (SELECT doc_id, w FROM tok WHERE length(w) > 0),
    w0 AS (SELECT DISTINCT w FROM tokf),
    chars AS (
        SELECT w, list_transform(range(1, length(w)+1), i -> w[i]) AS s FROM w0
    ),
    bpe AS (
        SELECT w, s FROM chars
        UNION ALL
        SELECT w,
               s[1:cands[1].i-1] || [s[cands[1].i] || s[cands[1].i+1]]
                   || s[cands[1].i+2:] AS s
        FROM (
            SELECT w, s,
                   list_sort(list_filter(
                       list_transform(range(1, len(s)),
                                      i -> {{'r': {case}, 'i': i}}),
                       x -> x.r IS NOT NULL)) AS cands
            FROM bpe
        )
        WHERE len(cands) > 0
    ),
    final AS (SELECT w, MIN(len(s)) AS n FROM bpe GROUP BY w),
    ks(i) AS (VALUES (0), (1), (2)),
    cms AS (
        SELECT i,
               ('0x' || substr(md5('c' || CAST(i AS VARCHAR) || ':' || w),
                               1, 8))::BIGINT % 1024 AS b,
               COUNT(*) AS c
        FROM tokf, ks GROUP BY 1, 2
    ),
    pw(word) AS (VALUES {_CMS_PROBES_SQL}),
    pest AS (
        SELECT word, MIN(COALESCE(cms.c, 0)) AS est_count
        FROM (
            SELECT word, i,
                   ('0x' || substr(md5('c' || CAST(i AS VARCHAR) || ':'
                                        || word), 1, 8))::BIGINT % 1024 AS b
            FROM pw, ks
        ) p LEFT JOIN cms ON cms.i = p.i AND cms.b = p.b
        GROUP BY word
    ),
    ptrue AS (
        SELECT w AS word, COUNT(*) AS true_count FROM tokf
        WHERE w IN (SELECT word FROM pw) GROUP BY 1
    )
    SELECT 'bpe' AS variant, d.doc_id,
           CAST(COALESCE(SUM(f.n), 0) AS BIGINT) AS n_bpe_tokens,
           CAST(NULL AS VARCHAR) AS word,
           CAST(NULL AS BIGINT) AS est_count,
           CAST(NULL AS BIGINT) AS true_count
    FROM documents d
    LEFT JOIN tokf t ON t.doc_id = d.doc_id
    LEFT JOIN final f ON f.w = t.w
    GROUP BY d.doc_id
    UNION ALL
    SELECT 'cms' AS variant, CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           pest.word, CAST(pest.est_count AS BIGINT),
           CAST(COALESCE(ptrue.true_count, 0) AS BIGINT)
    FROM pest LEFT JOIN ptrue USING (word)
    """


@query("token_counts_bpe", oracle=_bpe_oracle())
def token_counts_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two tokenization-adjacent primitives under one oracle slot:

    - ``'bpe'`` rows — per-document subword counts from the real BPE
      encoder (Arrow-batched ``bpe_encode`` with a per-worker word
      cache) under a fixed 14-rule merge table; the oracle replays the
      same merges in a recursive CTE — every rank-priority decision the
      encoder makes is cross-engine verified.
    - ``'cms'`` rows (round 8) — :func:`operators.sketch.cms_build`:
      a Count-Min sketch of the corpus word-frequency distribution
      (3 x 1024 counters — the vocabulary-free scale path for token
      statistics), point-queried for a fixed probe set next to the
      exact counts. The salted md5 bucket indices make every counter
      and every collision overcount replay exactly in the oracle's
      SQL rebuild; the absent-word probe pins true-zero behavior."""
    configure_session(spark)
    from xarray_dataaccessor_spark.operators.sketch import (
        cms_build,
        cms_estimate_sql,
    )
    from xarray_dataaccessor_spark.operators.tokenize import bpe_encode

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    out = bpe_encode(docs, _BPE_MERGES, out_col="toks")
    bpe = out.select(
        F.lit("bpe").alias("variant"),
        "doc_id",
        F.col("n_toks").alias("n_bpe_tokens"),
        F.lit(None).cast("string").alias("word"),
        F.lit(None).cast("bigint").alias("est_count"),
        F.lit(None).cast("bigint").alias("true_count"),
    )
    words = docs.select(
        F.explode(
            F.filter(
                F.split(F.trim("text"), "\\s+"), lambda t: F.length(t) > 0
            )
        ).alias("w")
    )
    counters = cms_build(words, "w", w=1024, d=3)
    probes = local_frame(spark, [(p,) for p in _CMS_PROBES], "word string")
    tc = (
        words.filter(F.col("w").isin(list(_CMS_PROBES)))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("__tc"))
    )
    cms = (
        probes.join(F.broadcast(tc), probes.word == tc.w, "left")
        .selectExpr(
            "word",
            cms_estimate_sql("word", counters) + " AS est_count",
            "CAST(COALESCE(__tc, 0) AS BIGINT) AS true_count",
        )
        .select(
            F.lit("cms").alias("variant"),
            F.lit(None).cast("bigint").alias("doc_id"),
            F.lit(None).cast("bigint").alias("n_bpe_tokens"),
            "word",
            F.col("est_count").cast("bigint").alias("est_count"),
            "true_count",
        )
    )
    return bpe.unionByName(cms)


# ---------------------------------------------------------------------------
# Product-quantization ANN (similarity.py::pq_ann): the oracle replays
# the ENTIRE pipeline in SQL — normalization, per-subspace Lloyd
# codebook training (decimal means, the kmeans-oracle discipline),
# encoding, the broadcast ADC LUT, decimal ADC sums, shortlist cut, and
# exact-cosine re-rank — so every quantization decision is cross-engine
# verified, mirroring the similarity_ivf_ann pattern.
# ---------------------------------------------------------------------------
def _pq_assign_sql(
    src_cb: str, out: str, keep: str = "vec_id, m, sv", src: str = "sub"
) -> str:
    return f"""{out} AS (
        SELECT {keep}, code_id FROM (
            SELECT s.vec_id, s.m, s.sv, c.code_id,
                   row_number() OVER (
                       PARTITION BY s.m, s.vec_id
                       ORDER BY {_L2.format(a="s.sv", b="c.ce")}, c.code_id
                   ) AS rk
            FROM {src} s JOIN {src_cb} c USING (m)
        ) WHERE rk = 1
    )"""


def _pq_mean_sql(assigned: str, out: str) -> str:
    return f"""{out} AS (
        SELECT m, code_id, list(mv ORDER BY pos) AS ce FROM (
            SELECT m, code_id, pos,
                   CAST(SUM(CAST(val AS DECIMAL(28,14))) AS DOUBLE) / COUNT(*) AS mv
            FROM (SELECT m, code_id, unnest(sv) AS val,
                         generate_subscripts(sv, 1) AS pos FROM {assigned})
            GROUP BY 1, 2, 3
        ) GROUP BY 1, 2
    )"""


@query(
    "similarity_pq_ann",
    oracle=f"""
    WITH v0 AS (SELECT vec_id, embedding::DOUBLE[] AS e0 FROM embeddings),
    nrm AS (SELECT vec_id,
                   list_transform(e0, x -> x / sqrt({_DOT.format(a="e0", b="e0")}))
                       AS e
            FROM v0),
    sub AS (SELECT vec_id, t.m AS m, e[t.m*16+1 : t.m*16+16] AS sv
            FROM nrm, range(4) t(m)),
    smp AS (SELECT vec_id FROM nrm
            ORDER BY {_H32.format(expr="CAST(vec_id AS VARCHAR)")}, vec_id
            LIMIT 256),
    ssub AS (SELECT s.* FROM sub s JOIN smp USING (vec_id)),
    cb0 AS (SELECT m, CAST(rk - 1 AS INT) AS code_id, sv AS ce FROM (
                SELECT m, sv,
                       row_number() OVER (PARTITION BY m ORDER BY vec_id) AS rk
                FROM ssub)
            WHERE rk <= 8),
    {_pq_assign_sql("cb0", "a1", src="ssub")},
    {_pq_mean_sql("a1", "cb1")},
    {_pq_assign_sql("cb1", "a2", src="ssub")},
    {_pq_mean_sql("a2", "cb2")},
    {_pq_assign_sql("cb2", "codes", keep="vec_id, m")},
    qsub AS (SELECT vec_id AS query_id, m, sv AS qsv FROM sub WHERE vec_id < 5),
    lut AS (SELECT q.query_id, q.m, c.code_id,
                   {_L2.format(a="q.qsv", b="c.ce")} AS d
            FROM qsub q JOIN cb2 c USING (m)),
    ad AS (SELECT l.query_id, co.vec_id AS neighbor_id,
                  CAST(SUM(CAST(l.d AS DECIMAL(28,14))) AS DOUBLE) AS adist
           FROM codes co JOIN lut l ON l.m = co.m AND l.code_id = co.code_id
           WHERE l.query_id <> co.vec_id
           GROUP BY 1, 2),
    short AS (SELECT query_id, neighbor_id FROM (
                 SELECT *, row_number() OVER (PARTITION BY query_id
                                              ORDER BY adist, neighbor_id) AS rk
                 FROM ad)
              WHERE rk <= 20),
    resc AS (SELECT s.query_id, s.neighbor_id,
                    {_DOT.format(a="qn.e", b="cn.e")} AS cos
             FROM short s
             JOIN nrm qn ON qn.vec_id = s.query_id
             JOIN nrm cn ON cn.vec_id = s.neighbor_id),
    r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cos DESC, neighbor_id) AS rk
          FROM resc)
    SELECT query_id, neighbor_id, cos, CAST(rk AS INT) AS rk FROM r WHERE rk <= 5
    """,
)
def similarity_pq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ ANN end-to-end: 4x16-dim subspaces, 8-entry codebooks trained
    with 2 deterministic Lloyd iterations on the normalized corpus,
    codes-only ADC scan (the corpus side of the join carries 4 small
    code ids per vector, never raw embeddings — the 100 TB memory-
    bandwidth shape), shortlist of refine*k=20 by decimal ADC distance,
    exact-cosine re-rank to top-5. Codebooks train on the deterministic
    hash-ordered 256-vector sample (the scale default) and the oracle
    replays the same sample selection."""
    configure_session(spark)
    from xarray_dataaccessor_spark.operators.similarity import pq_ann

    emb = load(spark, sf_dir, "embeddings")
    return pq_ann(
        emb.filter(F.col("vec_id") < 5), emb,
        k=5, m_subspaces=4, n_codes=8, n_iters=2, refine=4, dims=64,
        train_limit=256,
    )


# ---------------------------------------------------------------------------
# Incremental (append-batch) dedup — the nightly production operation:
# a new batch classified against the landed corpus's dedup state
# (operators/dedup.py::incremental_dedup). The registered query drives
# the same decision core with the state computed in-plan
# (incremental_dedup_frames); the persisted-parquet path is pinned by
# test_incremental_dedup.py's full-rerun equivalence + state-only-scan
# tests. Batch construction plants all four cases: exact dup of corpus,
# near dup of corpus (appended tail), unique (md5-derived text), and an
# exact dup of a batch SIBLING (the smaller-id-wins rule).
# ---------------------------------------------------------------------------
def _incremental_oracle(num_perm: int = 16, rows_per_band: int = 2) -> str:
    mins = ",\n               ".join(
        f"MIN((h * {MINHASH_A[i]} + {MINHASH_B[i]}) % {HASH_PRIME}) AS mh{i}"
        for i in range(num_perm)
    )
    n_bands = num_perm // rows_per_band
    band_selects = "\n        UNION ALL\n".join(
        f"        SELECT doc_id, {b} AS band, "
        + " || '_' || ".join(
            f"CAST(mh{b * rows_per_band + r} AS VARCHAR)" for r in range(rows_per_band)
        )
        + " AS bucket FROM sig"
        for b in range(n_bands)
    )
    agree = " + ".join(
        f"(CASE WHEN sa.mh{i} = sb.mh{i} THEN 1 ELSE 0 END)" for i in range(num_perm)
    )
    return f"""
    WITH batch AS (
        SELECT doc_id + 300000 AS doc_id, text FROM documents WHERE doc_id % 6 = 0
        UNION ALL
        SELECT doc_id + 300000, text || ' tail tail tail' FROM documents WHERE doc_id % 6 = 1
        UNION ALL
        SELECT doc_id + 300000, 'fresh unique ' || md5(text) FROM documents WHERE doc_id % 6 = 2
        UNION ALL
        SELECT doc_id + 400000, 'fresh unique ' || md5(text) FROM documents WHERE doc_id % 12 = 2
    ),
    everyone AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id, text FROM batch
    ),
    allfp AS (SELECT doc_id, {_H64.format(expr="text")} AS fp FROM everyone),
    bids AS (SELECT doc_id FROM batch),
    exact AS (
        SELECT b.doc_id, MIN(p.doc_id) AS exact_of
        FROM (SELECT * FROM allfp WHERE doc_id IN (SELECT doc_id FROM bids)) b
        JOIN allfp p ON p.fp = b.fp AND p.doc_id < b.doc_id
        GROUP BY b.doc_id
    ),
    sh AS (
        SELECT DISTINCT doc_id, shingle FROM (
            SELECT doc_id,
                   unnest(list_transform(range(1, greatest(len(w) - 2, 1) + 1),
                          i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
            FROM (SELECT doc_id, string_split(text, ' ') AS w FROM everyone)
        ) WHERE shingle IS NOT NULL AND length(shingle) > 0
    ),
    hashed AS (SELECT doc_id, {_H32.format(expr="shingle")} AS h FROM sh),
    sig AS (SELECT doc_id, {mins} FROM hashed GROUP BY doc_id),
    exploded AS (
{band_selects}
    ),
    cand AS (
        SELECT DISTINCT b.doc_id AS id, p.doc_id AS prior
        FROM exploded b JOIN exploded p
          ON b.band = p.band AND b.bucket = p.bucket AND p.doc_id < b.doc_id
        WHERE b.doc_id IN (SELECT doc_id FROM bids)
    ),
    scored AS (
        SELECT c.id, c.prior, CAST({agree} AS DOUBLE) / {float(num_perm)} AS est
        FROM cand c
        JOIN sig sa ON sa.doc_id = c.id
        JOIN sig sb ON sb.doc_id = c.prior
    ),
    near AS (
        SELECT id, prior, est FROM (
            SELECT id, prior, est,
                   row_number() OVER (PARTITION BY id
                                      ORDER BY est DESC, prior ASC) AS rk
            FROM scored WHERE est >= 0.5
        ) WHERE rk = 1
    )
    SELECT b.doc_id,
           CASE WHEN e.exact_of IS NOT NULL THEN 'exact_dup'
                WHEN n.prior IS NOT NULL THEN 'near_dup'
                ELSE 'unique' END AS status,
           COALESCE(e.exact_of, n.prior) AS dup_of,
           CASE WHEN e.exact_of IS NULL THEN n.est END AS est_jaccard
    FROM batch b
    LEFT JOIN exact e ON e.doc_id = b.doc_id
    LEFT JOIN near n ON n.id = b.doc_id
    """


@query("dedup_incremental", oracle=_incremental_oracle())
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Append-batch dedup decisions (exact_dup / near_dup / unique with
    dup_of + estimated Jaccard) for a planted batch against the
    documents corpus — the full SQL replay covers the fingerprint
    anti-match, the MinHash band candidate join, and the
    best-candidate election."""
    configure_session(spark)
    from xarray_dataaccessor_spark.functions.hashing import portable_hash64
    from xarray_dataaccessor_spark.operators.dedup import (
        incremental_dedup_frames,
        minhash_signatures,
        word_shingles,
    )

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    b1 = docs.filter(F.col("doc_id") % 6 == 0).select(
        (F.col("doc_id") + 300000).alias("doc_id"), "text"
    )
    b2 = docs.filter(F.col("doc_id") % 6 == 1).select(
        (F.col("doc_id") + 300000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" tail tail tail")).alias("text"),
    )
    b3 = docs.filter(F.col("doc_id") % 6 == 2).select(
        (F.col("doc_id") + 300000).alias("doc_id"),
        F.concat(F.lit("fresh unique "), F.md5(F.col("text"))).alias("text"),
    )
    b4 = docs.filter(F.col("doc_id") % 12 == 2).select(
        (F.col("doc_id") + 400000).alias("doc_id"),
        F.concat(F.lit("fresh unique "), F.md5(F.col("text"))).alias("text"),
    )
    batch = b1.unionByName(b2).unionByName(b3).unionByName(b4)
    fps = docs.select("doc_id", portable_hash64(F.col("text")).alias("fp"))
    # NOT cached although prior_sig consumes it twice inside
    # incremental_dedup_frames: an interleaved A/B (BENCH_AB_r13_wave3)
    # measured the cache barrier LOSING to the concurrent recompute of
    # the two union branches (+10 % over the untouched control) — the
    # same boundary r12 measured for rollup_revenue's cents. In
    # production this frame is a parquet scan (persist_dedup_state).
    sigs = minhash_signatures(word_shingles(docs), num_perm=16)
    return incremental_dedup_frames(
        batch, fps, sigs, num_perm=16, rows_per_band=2, threshold=0.5
    )
