"""Lexical retrieval: distributed BM25 over an inverted-index shape.

Extension surface (SURVEY §7.8) — the reference has no text/retrieval
path at all; this complements the dense-vector ANN stack
(``operators/similarity.py``) with the lexical ranking a training-data
pipeline needs for retrieval-based decontamination, targeted corpus
mining, and hard-negative selection.

Scale design (100 TB corpus, query sets of 10²-10⁶):

- The postings table IS :func:`text.word_counts` — one corpus scan, one
  (doc, term)-keyed aggregation, exactly the table the quality stack
  already shares. Nothing here re-tokenizes.
- The query-term dictionary broadcasts; postings are pruned to query
  terms MAP-SIDE before anything shuffles, so every downstream stage is
  sized by ``matching postings``, not by the corpus.
- Per-term document frequencies aggregate over the pruned postings
  (terms-sized shuffle); corpus-wide N / avgdl come from the doc-length
  table as one broadcast 1-row aggregate.
- Scoring is pure whole-stage-codegen arithmetic; per-(query, doc)
  accumulation shuffles on the (query, doc) key only. Top-k uses a
  per-query window over the scored candidates (queries are the
  partition key, so parallelism = number of queries × AQE splits).

Engine-portable exactness ([[oracle-exactness]]): every per-term
contribution is an IEEE-double expression both Spark and DuckDB
evaluate bit-identically (int/int and int/double divisions only,
binary-exact literals where possible), rounded to 6 decimals and summed
as DECIMAL(28,14) — so scores, ranks, and tie-breaks replay exactly in
SQL, the same discipline as the bigram-LM and DSIR operators.
"""

from __future__ import annotations

import hashlib
import json
import os
from typing import Mapping, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from xarray_dataaccessor_spark.session import local_frame

# Lucene-style BM25 constants (k1, b). 1.2 / 0.75 / 0.25 spelled the
# same way in the SQL oracle so both engines parse identical doubles.
BM25_K1 = 1.2
BM25_B = 0.75


def _bm25_contrib(
    n: Column, avgdl: Column, k1: float, b: float
) -> Column:
    """The 6-decimal-rounded per-(query, doc, term) BM25 contribution
    over columns ``df`` (term document frequency), ``c`` (term
    frequency) and ``dl`` (document length). Shared by the in-plan and
    persisted-index paths so their score expressions are structurally
    identical — the parity guarantee is the code, not a test accident.
    ``n``/``avgdl`` are caller-supplied (aggregate columns in-plan,
    meta.json literals against a persisted index: same doubles either
    way)."""
    idf = F.log(1.0 + (n - F.col("df") + 0.5) / (F.col("df") + 0.5))
    tfn = (F.col("c") * (k1 + 1.0)) / (
        F.col("c") + k1 * ((1.0 - b) + b * (F.col("dl") / avgdl))
    )
    return F.round(idf * tfn, 6).cast("decimal(28,14)")


def _term_bucket(w: str, n_buckets: int) -> int:
    """Python twin of ``portable_hash32(w) % n_buckets`` (md5-derived,
    engine- and driver-portable) — lets the prober compute which index
    partitions a query touches without any Spark job."""
    return int(hashlib.md5(w.encode("utf-8")).hexdigest()[:8], 16) % n_buckets


def doc_lengths(wc: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Per-document token counts ``(id, dl)`` from the shared
    :func:`text.word_counts` postings — the doc-norm half of a BM25
    index. One id-keyed aggregation; persist it next to the postings
    when building a reusable index."""
    return wc.groupBy(id_col).agg(F.sum("c").alias("dl"))


def queries_df(
    spark: SparkSession, queries: Mapping[int, str] | Sequence[str]
) -> DataFrame:
    """Build the broadcastable ``(query_id, w)`` term table from query
    strings (whitespace-split, duplicate terms dropped — standard bag
    retrieval uses query-term presence, not query-side tf)."""
    if not isinstance(queries, Mapping):
        queries = dict(enumerate(queries))
    rows = sorted(
        {(int(qid), w) for qid, q in queries.items() for w in q.split() if w}
    )
    return local_frame(spark, rows, "query_id bigint, w string")


def bm25_scores(
    wc: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "doc_id",
    k1: float = BM25_K1,
    b: float = BM25_B,
    dl: DataFrame | None = None,
) -> DataFrame:
    """Score every document containing at least one query term:
    ``(query_id, id, score)`` with Lucene BM25
    ``idf = ln(1 + (N - df + 0.5) / (df + 0.5))`` and the usual
    ``tf·(k1+1) / (tf + k1·(1 - b + b·dl/avgdl))`` saturation.

    ``wc`` is the ``(id, w, c)`` postings table (:func:`text.word_counts`);
    ``queries`` the ``(query_id, w)`` term table. Plan: broadcast the
    query dictionary, prune postings map-side, df over the pruned
    postings, one broadcast 1-row (N, avgdl) aggregate, then a
    (query, doc)-keyed decimal sum. The corpus-sized tables touched are
    the postings scan and the doc-length join — both unavoidable parts
    of any BM25 evaluation — and everything after the prune is sized by
    the match set."""
    dl = doc_lengths(wc, id_col) if dl is None else dl
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("tot_dl")
    )
    qterms = queries.select("w").distinct()
    pruned = wc.join(F.broadcast(qterms), "w")
    dft = pruned.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    contrib = _bm25_contrib(
        n=F.col("n_docs").cast("double"),
        avgdl=F.col("tot_dl") / F.col("n_docs").cast("double"),
        k1=k1,
        b=b,
    )
    return (
        pruned.join(F.broadcast(dft), "w")
        .join(F.broadcast(queries), "w")
        .join(dl, id_col)
        .crossJoin(F.broadcast(stats))
        .groupBy("query_id", id_col)
        .agg(F.sum(contrib).alias("score"))
    )


def bm25_topk(
    wc: DataFrame,
    queries: DataFrame,
    k: int = 5,
    *,
    id_col: str = "doc_id",
    k1: float = BM25_K1,
    b: float = BM25_B,
    dl: DataFrame | None = None,
) -> DataFrame:
    """Top-``k`` BM25 hits per query: ``(query_id, id, score, rk)``,
    rank ties broken by ascending document id — the same rank/tie-break
    discipline as the dense-retrieval slots, stable across engines
    because the score is an exact DECIMAL before the final double
    cast."""
    scored = bm25_scores(wc, queries, id_col=id_col, k1=k1, b=b, dl=dl)
    return _topk(scored, k, id_col)


def _topk(scored: DataFrame, k: int, id_col: str) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc(id_col)
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(
            "query_id",
            id_col,
            F.col("score").cast("double").alias("score"),
            F.col("rk").cast("int").alias("rk"),
        )
    )


def rrf_fuse(
    *ranked: DataFrame,
    k_rrf: int = 60,
    k: int | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009) of any number of
    ranked lists ``(query_id, id, rk)`` — the standard hybrid-retrieval
    combiner for dense + lexical lists: ``score(d) = sum over lists of
    1 / (k_rrf + rank_list(d))``, documents absent from a list simply
    contribute nothing. With ``k`` set, returns the fused top-k
    ``(query_id, id, score, rk)`` under the shared rank discipline;
    otherwise the full fused score table.

    Exactness: each reciprocal is one int/int-derived double division,
    rounded to 6 decimals and DECIMAL-summed — fused scores, ranks and
    tie-breaks replay exactly in SQL. Scale: the inputs are already
    top-k lists (queries x k rows), so everything here is
    results-sized; the expensive part is the upstream retrieval, not
    the fusion."""
    u = ranked[0].select("query_id", id_col, "rk")
    for r in ranked[1:]:
        u = u.unionByName(r.select("query_id", id_col, "rk"))
    term = F.round(
        F.lit(1.0) / (F.lit(k_rrf) + F.col("rk")), 6
    ).cast("decimal(28,14)")
    scored = u.groupBy("query_id", id_col).agg(F.sum(term).alias("score"))
    return scored if k is None else _topk(scored, k, id_col)


# ---------------------------------------------------------------------------
# Persisted BM25 index (the 100 TB serving layout)
# ---------------------------------------------------------------------------
def build_bm25_index(
    wc: DataFrame,
    path: str,
    n_buckets: int = 64,
    id_col: str = "doc_id",
) -> None:
    """Materialize a BM25 index under ``path`` from the
    :func:`text.word_counts` postings — the same persisted-index
    discipline as ``similarity.build_ivf_index``:

    - ``postings``  (w, id, c, dl) partitioned by ``tb`` — the term's
      hash bucket (``portable_hash32(w) % n_buckets``). ``dl`` is
      denormalized into the posting row, so query-time scoring never
      joins a corpus-sized doc-length table.
    - ``terms``     (w, df) partitioned by ``tb`` — vocabulary-sized
      document-frequency DELTAS (query aggregates ``sum(df)`` over the
      pruned rows), kept separate from the postings precisely so an
      incremental append refreshes document frequencies by appending
      its own deltas, never rewriting anything.
    - ``meta.json`` n_docs / tot_dl / n_buckets + the on-disk schemas,
      so the prober plans with zero Spark jobs (no footer inference).

    At query time the term buckets a query touches are computed
    driver-side (:func:`_term_bucket`), so the postings scan prunes to
    |query-term buckets| / n_buckets of the index — the inverted-index
    analogue of the IVF probed-list pruning."""
    n_docs, tot_dl = _write_index_tables(wc, path, n_buckets, id_col, "overwrite")
    _write_meta(wc, path, n_buckets, id_col, n_docs, tot_dl)


def append_to_bm25_index(
    wc_batch: DataFrame, path: str, id_col: str | None = None
) -> None:
    """Append a batch's postings to a persisted BM25 index (the nightly
    production shape, mirroring ``similarity.append_to_ivf_index``):
    new posting/term-delta files land in their hash-bucket partitions
    (existing files are never rewritten), corpus stats in meta.json are
    bumped by the batch's counts, and document frequencies stay exact
    because the terms table is delta-summed at query time. The caller
    guarantees batch document ids are new — the same contract as
    ``dedup.incremental_dedup`` (dedup first, then index)."""
    meta_path = os.path.join(path, "meta.json")
    if not os.path.exists(meta_path):
        raise ValueError(f"{meta_path} missing — not a build_bm25_index layout")
    with open(meta_path) as fh:
        meta = json.load(fh)
    if id_col is None:
        id_col = meta.get("id_col", "doc_id")
    n_docs, tot_dl = _write_index_tables(
        wc_batch, path, int(meta["n_buckets"]), id_col, "append"
    )
    meta["n_docs"] = int(meta["n_docs"]) + n_docs
    meta["tot_dl"] = int(meta["tot_dl"]) + tot_dl
    with open(meta_path, "w") as fh:
        json.dump(meta, fh)


def _write_index_tables(
    wc: DataFrame, path: str, n_buckets: int, id_col: str, mode: str
) -> tuple[int, int]:
    dl = doc_lengths(wc, id_col)
    tb = F.pmod(_hash32(F.col("w")), F.lit(n_buckets)).cast("int")
    post = wc.join(dl, id_col).select(
        "w",
        F.col(id_col),
        F.col("c").cast("bigint").alias("c"),
        F.col("dl").cast("bigint").alias("dl"),
        tb.alias("tb"),
    )
    post.write.mode(mode).partitionBy("tb").parquet(f"{path}/postings")
    terms = wc.groupBy("w").agg(F.count(F.lit(1)).alias("df")).select(
        "w", F.col("df").cast("bigint").alias("df"), tb.alias("tb")
    )
    terms.write.mode(mode).partitionBy("tb").parquet(f"{path}/terms")
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("tot_dl")
    ).collect()[0]
    return int(stats["n_docs"]), int(stats["tot_dl"])


def _write_meta(
    wc: DataFrame,
    path: str,
    n_buckets: int,
    id_col: str,
    n_docs: int,
    tot_dl: int,
) -> None:
    part = T.StructField("tb", T.IntegerType())
    id_field = [f for f in wc.schema.fields if f.name == id_col][0]
    post_schema = T.StructType(
        [
            T.StructField("w", T.StringType()),
            id_field,
            T.StructField("c", T.LongType()),
            T.StructField("dl", T.LongType()),
            part,
        ]
    )
    term_schema = T.StructType(
        [T.StructField("w", T.StringType()), T.StructField("df", T.LongType()), part]
    )
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "meta.json"), "w") as fh:
        json.dump(
            {
                "n_docs": n_docs,
                "tot_dl": tot_dl,
                "n_buckets": n_buckets,
                "id_col": id_col,
                "schemas": {
                    "postings": post_schema.json(),
                    "terms": term_schema.json(),
                },
            },
            fh,
        )


def _hash32(col: Column) -> Column:
    from xarray_dataaccessor_spark.functions.hashing import portable_hash32

    return portable_hash32(col)


def query_bm25_index(
    spark: SparkSession,
    path: str,
    queries: Mapping[int, str] | Sequence[str],
    k: int = 5,
    *,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Top-``k`` BM25 against a persisted index
    (:func:`build_bm25_index`): ``(query_id, id, score, rk)``,
    bit-identical to :func:`bm25_topk` over the same postings (shared
    :func:`_bm25_contrib` expression; corpus stats come from meta.json
    as the same doubles the in-plan aggregate would produce).

    Plan shape: zero Spark jobs before the action — buckets and stats
    resolve driver-side from meta.json, the postings/terms scans carry
    recorded schemas (no footer inference) plus static partition
    filters ``tb IN (query buckets)``, the terms table broadcasts, and
    the only shuffle is the results-sized (query, doc) aggregation."""
    meta_path = os.path.join(path, "meta.json")
    if not os.path.exists(meta_path):
        raise ValueError(
            f"{meta_path} missing — not a build_bm25_index layout"
        )
    with open(meta_path) as fh:
        meta = json.load(fh)
    n_buckets = int(meta["n_buckets"])
    id_col = meta.get("id_col", "doc_id")
    if not isinstance(queries, Mapping):
        queries = dict(enumerate(queries))
    qdf = queries_df(spark, queries)
    terms = sorted({w for q in queries.values() for w in q.split() if w})
    buckets = sorted({_term_bucket(w, n_buckets) for w in terms})

    def read_table(name: str) -> DataFrame:
        schema = T.StructType.fromJson(json.loads(meta["schemas"][name]))
        return (
            spark.read.schema(schema)
            .parquet(f"{path}/{name}")
            .filter(F.col("tb").isin(buckets))
            .filter(F.col("w").isin(terms))
            .drop("tb")
        )

    post = read_table("postings")
    # df deltas sum at query time (pruned to query buckets + terms, so
    # the aggregation input is tiny) — this is what makes appends pure
    # file adds
    dft = read_table("terms").groupBy("w").agg(F.sum("df").alias("df"))
    avgdl = meta["tot_dl"] / meta["n_docs"]
    contrib = _bm25_contrib(
        n=F.lit(float(meta["n_docs"])), avgdl=F.lit(avgdl), k1=k1, b=b
    )
    scored = (
        post.join(F.broadcast(dft), "w")
        .join(F.broadcast(qdf), "w")
        .groupBy("query_id", id_col)
        .agg(F.sum(contrib).alias("score"))
    )
    return _topk(scored, k, id_col)
