"""Deterministic sampling / splitting for training-data pipelines.

Large-corpus curation primitives the reference (an xarray-based geo
engine) never had but a 100 TB documents pipeline uses constantly:

- ``deterministic_split``: hash-range train/eval assignment — stable
  under re-runs, re-partitioning, and incremental appends (a row's
  split never depends on what other rows exist).
- ``stratified_downsample``: per-stratum hash-threshold sampling to a
  common target (domain/language rebalancing before training).
- ``contamination_report``: eval-set n-gram containment per train doc
  plus the longest CONTIGUOUS contaminated passage, exact and
  Bloom-probed, from one corpus pass — the standard decontamination
  checks before benchmark evaluation (``ngram_contamination`` and
  ``contamination_spans`` are the two halves as standalone references).
- ``sequence_packing``: concat-and-chunk pretraining layout on a token
  budget grid, per-shard prefix sums.
- ``shuffle_rows`` / ``shard_shuffled``: deterministic epoch shuffles
  (xxhash fast path; md5-keyed ``portable=True`` for engine-replayable
  permutations) and sharded export layouts.

All of the verifiable ones are built on the md5-derived portable hash (see
``functions/hashing.py``), so a DuckDB oracle reproduces the exact kept
set: sampling DECISIONS, not just sample rates, are verifiable
cross-engine. Scale shapes: splits/sampling are pure map-side column
expressions (no shuffle); the stratum-count join broadcasts a
strata-sized table; contamination is one equi-join on shingle hash.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from xarray_dataaccessor_spark.functions.hashing import portable_hash32

#: bucket space for hash thresholds — 2^16 keeps every threshold
#: computation in exact small-integer arithmetic on both engines
BUCKETS = 65536


def hash_bucket(col: Column) -> Column:
    """Stable bucket in [0, 65536) from the md5-derived portable hash of
    the column rendered as a string. DuckDB twin:
    ``('0x'||substr(md5(CAST(x AS VARCHAR)),1,8))::BIGINT % 65536``."""
    return F.pmod(portable_hash32(F.col(col) if isinstance(col, str) else col), F.lit(BUCKETS))


def deterministic_split(
    df: DataFrame,
    id_col: str = "doc_id",
    eval_per_mille: int = 50,
    split_col: str = "split",
) -> DataFrame:
    """Add a ``split`` column: ``'eval'`` for rows whose id-hash bucket
    falls below ``eval_per_mille``/1000 of the bucket space, ``'train'``
    otherwise. Pure map-side expression — no shuffle, no state; the
    assignment of a document never changes as the corpus grows."""
    thr = (eval_per_mille * BUCKETS) // 1000
    b = hash_bucket(F.col(id_col).cast("string"))
    return df.withColumn(
        split_col, F.when(b < F.lit(thr), F.lit("eval")).otherwise(F.lit("train"))
    )


def stratified_downsample(
    df: DataFrame,
    strata_col: str,
    id_col: str = "doc_id",
    target: int | str = "min",
) -> DataFrame:
    """Deterministically downsample every stratum toward ``target`` rows
    (``"min"`` = the smallest stratum's count — language/domain
    rebalancing). A row is kept iff its id-hash bucket clears the
    stratum's integer threshold ``(target * 65536) div n_stratum`` —
    exact integer arithmetic, so the kept SET (not just its size) is
    reproducible cross-engine; kept counts are binomial around the
    target, the standard behavior of hash sampling.

    Plan shape: one groupBy over the strata column (map-side partial
    agg; the shuffled table has one row per stratum), the threshold
    table broadcast back, and a map-side filter. The fact table itself
    never shuffles — at 100 TB this is a scan + broadcast-join + filter.
    """
    counts = df.groupBy(strata_col).agg(F.count(F.lit(1)).alias("__n"))
    # integer `div` keeps the threshold arithmetic exact (and identical
    # to the DuckDB oracle's `//`) — float division could round
    # differently at large stratum counts
    if target == "min":
        tgt = counts.agg(F.min("__n").alias("__t"))
        thr = counts.join(F.broadcast(tgt)).select(
            strata_col, F.expr(f"(__t * {BUCKETS}) div __n").alias("__thr")
        )
    else:
        thr = counts.select(
            strata_col,
            F.expr(f"({int(target)} * {BUCKETS}) div __n").alias("__thr"),
        )
    b = hash_bucket(F.col(id_col).cast("string"))
    return (
        df.join(F.broadcast(thr), strata_col)
        .filter(b < F.col("__thr"))
        .drop("__thr")
    )


def ngram_contamination(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
) -> DataFrame:
    """Per-train-document eval-set contamination: the fraction of the
    doc's distinct word ``k``-shingles that also appear anywhere in the
    eval set. Returns ``(id, n_shingles, n_overlap, contamination)`` for
    documents with any overlap — the actionable decontamination set.

    Plan shape: shingle each side ONCE (map-side explode + per-doc
    distinct), distinct eval shingle hashes, then a single LEFT join on
    the 32-bit hash feeding a single per-doc aggregation — shingle
    count and overlap count come out of the same pass (a separate
    sizes aggregation would shingle the train side twice). The eval
    side is deduped and small by construction (held-out benchmarks);
    AQE broadcasts it when it fits — no collect, no all-pairs."""
    from xarray_dataaccessor_spark.operators.dedup import word_shingles

    t_sh = word_shingles(train, text_col, id_col, k).select(
        F.col(id_col), portable_hash32(F.col("shingle")).alias("h")
    )
    e_sh = (
        word_shingles(eval_df, text_col, id_col, k)
        .select(portable_hash32(F.col("shingle")).alias("h"))
        .distinct()
        .withColumn("__m", F.lit(1))
    )
    return (
        t_sh.join(e_sh, "h", "left")  # e_sh is distinct on h: no fan-out
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.coalesce(F.col("__m"), F.lit(0))).alias("n_overlap"),
        )
        .filter(F.col("n_overlap") > 0)
        .select(
            id_col,
            "n_shingles",
            "n_overlap",
            (F.col("n_overlap").cast("double") / F.col("n_shingles").cast("double")
             ).alias("contamination"),
        )
    )


def sequence_packing(
    df: DataFrame,
    token_col: str,
    budget: int,
    id_col: str = "doc_id",
    order_col: str | None = None,
) -> DataFrame:
    """Concat-and-chunk sequence packing, the standard pretraining
    layout: documents are laid head-to-tail in a deterministic order
    (``order_col``, default the id-hash — the shuffled order training
    consumes), the token stream is cut on the ``budget`` grid, and each
    document is attributed to the pack in which it ENDS (documents
    longer than the budget are clamped for boundary purposes, so an
    oversized document closes its pack rather than spilling forward).

    Returns ``(id, n_tokens, pack_id, pack_pos)``. One cumulative-sum
    window per shard: the corpus is hash-bucketed into independent
    shards (the export layout training jobs read anyway) and the prefix
    sum runs inside each shard's window — no driver loop, no UDF, and
    every decision is a pure function of (order, tokens), so the packing
    is reproducible across runs and engines.

    Scale shape: one shuffle on the shard key; each shard's window sort
    is bounded by corpus/shards. At 100 TB you size shards so a shard's
    (id, n_tokens) pairs — not the text — fit a task's sort budget.
    """
    order = F.col(order_col) if order_col else hash_bucket(F.col(id_col).cast("string"))
    from pyspark.sql.window import Window

    shard = F.pmod(portable_hash32(F.col(id_col).cast("string")), F.lit(64))
    base = df.select(
        F.col(id_col),
        F.col(token_col).alias("n_tokens"),
        shard.alias("__shard"),
        order.alias("__ord"),
    )
    w = Window.partitionBy("__shard").orderBy("__ord", id_col)
    t = F.least(F.col("n_tokens"), F.lit(budget))
    cum = F.sum(t).over(w.rowsBetween(Window.unboundedPreceding, 0))
    # budget-grid cut over the clamped cumulative stream: the pack is
    # the grid cell containing the document's last token
    pack_in_shard = F.floor((cum - F.lit(1)) / F.lit(budget))
    packed = base.withColumn("__cum", cum).withColumn("__pk", pack_in_shard)
    wp = Window.partitionBy("__shard", "__pk").orderBy("__ord", id_col)
    return packed.select(
        F.col(id_col),
        F.col("n_tokens"),
        F.concat_ws("-", F.col("__shard"), F.col("__pk")).alias("pack_id"),
        F.row_number().over(wp).alias("pack_pos"),
    )


def _shuffle_key(id_col: str, seed: int, portable: bool):
    if portable:
        # md5-derived: replayable in any engine (DuckDB:
        # ('0x'||substr(md5(id||':'||seed),1,15))::BIGINT)
        from xarray_dataaccessor_spark.functions.hashing import portable_hash64

        return portable_hash64(
            F.concat_ws(":", F.col(id_col).cast("string"), F.lit(str(seed)))
        )
    return F.xxhash64(F.col(id_col), F.lit(seed))


def shuffle_rows(
    df: DataFrame, seed: int = 0, id_col: str = "doc_id", portable: bool = False
) -> DataFrame:
    """Deterministic global shuffle for training order: total-order the
    rows by ``hash(id, seed)`` (ties broken by the id itself, so the
    permutation is total even under hash collisions). Changing ``seed``
    gives an independent permutation; the same seed reproduces the same
    order on any cluster/partitioning — the property per-partition
    ``rand()`` shuffles lose the moment the input splits differently.

    ``portable=False`` (default) keys on ``xxhash64`` — the fast JVM
    path. ``portable=True`` keys on the md5-derived portable hash so the
    exact permutation is replayable in any other engine (the oracle /
    cross-engine-reproducibility mode; ~2x the hash cost).

    One range-partitioned sort (Spark samples the hash space, so output
    partitions are balanced regardless of id distribution). At 100 TB
    this is the standard epoch-shuffle pass; write the result sharded
    once per epoch seed rather than re-sorting per consumer."""
    return df.orderBy(_shuffle_key(id_col, seed, portable), F.col(id_col))


def shard_shuffled(
    df: DataFrame, n_shards: int, seed: int = 0, id_col: str = "doc_id"
) -> DataFrame:
    """Epoch-sharded shuffle: assign each row a deterministic shard
    (hash-mod over a seed-keyed hash — balanced and reproducible) and
    order within shards by an independent hash, ready for
    ``.write.partitionBy('shard')``. Consumers stream shard files in
    name order and get a reproducible global permutation without any
    consumer-side sort."""
    h = F.xxhash64(F.col(id_col), F.lit(seed))
    out = df.withColumn("shard", F.pmod(h, F.lit(n_shards)).cast("int"))
    return out.repartition(n_shards, "shard").sortWithinPartitions(
        "shard", F.xxhash64(F.col(id_col), F.lit(seed + 1)), F.col(id_col)
    )


def _longest_run(pos_col: Column) -> Column:
    """Longest run of consecutive values in a sorted position array,
    folded in one codegen array pass (no window, no explode)."""
    zero = F.lit(0).cast("long")
    return F.aggregate(
        pos_col,
        F.struct(
            F.lit(-2).cast("long").alias("prev"),
            zero.alias("cur"),
            zero.alias("best"),
        ),
        lambda acc, x: F.struct(
            x.cast("long").alias("prev"),
            F.when(x == acc.prev + 1, acc.cur + 1).otherwise(F.lit(1)).cast("long").alias("cur"),
            F.greatest(
                acc.best,
                F.when(x == acc.prev + 1, acc.cur + 1).otherwise(F.lit(1)).cast("long"),
            ).alias("best"),
        ),
        lambda acc: acc.best,
    )


def contamination_report(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    m_bits: int = 65536,
    k_hashes: int = 3,
) -> DataFrame:
    """Decontamination report: per train document with any eval
    overlap, ``(variant, id, n_shingles, n_overlap, contamination,
    max_span_tokens)`` for two hit predicates, from ONE positional
    shingling of the train corpus.

    - ``'exact'`` marks a shingle when its hash is in the eval set
      (an equi-join against the deduped eval hash set);
    - ``'bloom'`` marks it when it probes positive in an ``m_bits``
      Bloom filter of the eval shingles (``operators/sketch.py``),
      inlined as literal words and probed MAP-SIDE — the 100 TB shape,
      where the eval side never joins the corpus. False positives (rate
      ``(1 - e^(-k n / m))^k``) can only OVERSTATE contamination — safe
      for a removal gate — and every bit position is md5-derived integer
      arithmetic, so the rows replay exactly in SQL
      (``bloom_build_sql`` + ``bloom_contains_sql``).

    The counts are DISTINCT shingle hashes (the hash-set semantics
    decontamination at scale uses) and ``max_span_tokens`` is the
    longest run of consecutive positions whose k-grams all hit, in
    tokens (run + k - 1) — benchmarks leak as passages, and span length
    is the signal removal acts on.

    Plan shape — one linear pipeline, no cache, no windows, no Expand:
    positional shingles (map-side posexplode, duplicates and positions
    kept) carrying BOTH hit markers -> two-level aggregation: level 1 on
    ``(doc, hash)`` compacts to distinct shingles (map-side combine)
    while collecting each variant's matched positions; level 2 on the
    doc key counts distincts as plain ``count``s and folds each span
    with :func:`_longest_run`; the two variant rows unpivot out of the
    per-doc row at the end. The eval side is shingled once and feeds
    both the distinct hash set and the Bloom build. The CPU-bound
    shingling is spread to session parallelism when the input arrives
    as a single small file (``spread_small_input`` — a no-op on
    production block-split inputs)."""
    from xarray_dataaccessor_spark.operators.dedup import (
        _word_kgrams,
        spread_small_input,
        word_shingles,
    )
    from xarray_dataaccessor_spark.operators.sketch import (
        bloom_build,
        bloom_contains_sql,
        bloom_keys,
    )

    eval_sh = word_shingles(eval_df, text_col, id_col, k).select(
        F.col("shingle")
    ).distinct()
    words = bloom_build(eval_sh, "shingle", m_bits=m_bits, k=k_hashes)
    eval_h = (
        eval_sh.select(portable_hash32(F.col("shingle")).alias("h"))
        .distinct()
        .withColumn("__m", F.lit(1))
    )
    train = spread_small_input(train)
    shingles = _word_kgrams(F.split(F.col(text_col), " "), k)
    h1, h2 = bloom_keys(F.col("shingle"))
    pos_sh = (
        train.select(F.col(id_col), F.posexplode(shingles).alias("pos", "shingle"))
        .filter(F.length("shingle") > 0)
        .select(
            id_col, "pos",
            portable_hash32(F.col("shingle")).alias("h"),
            h1.alias("__h1"),
            h2.alias("__h2"),
        )
    )
    probed = pos_sh.select(
        id_col, "pos", "h",
        F.expr(bloom_contains_sql("__h1", "__h2", words, k=k_hashes))
        .cast("int")
        .alias("__hit_b"),
    )
    marked = probed.join(eval_h, "h", "left").select(
        id_col, "pos", "h",
        F.coalesce(F.col("__m"), F.lit(0)).alias("__hit_e"),
        "__hit_b",
    )
    per_shingle = marked.groupBy(id_col, "h").agg(
        F.max("__hit_e").alias("__hit_e"),
        F.max("__hit_b").alias("__hit_b"),
        F.collect_list(
            F.when(F.col("__hit_e") == 1, F.col("pos"))
        ).alias("__pe"),
        F.collect_list(
            F.when(F.col("__hit_b") == 1, F.col("pos"))
        ).alias("__pb"),
    )
    per_doc = per_shingle.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.sum("__hit_e").alias("__ne"),
        F.sum("__hit_b").alias("__nb"),
        F.sort_array(F.flatten(F.collect_list("__pe"))).alias("__pose"),
        F.sort_array(F.flatten(F.collect_list("__pb"))).alias("__posb"),
    )
    unpivoted = per_doc.select(
        F.col(id_col),
        "n_shingles",
        F.explode(
            F.array(
                F.struct(
                    F.lit("exact").alias("variant"),
                    F.col("__ne").alias("n_overlap"),
                    F.col("__pose").alias("__pos"),
                ),
                F.struct(
                    F.lit("bloom").alias("variant"),
                    F.col("__nb").alias("n_overlap"),
                    F.col("__posb").alias("__pos"),
                ),
            )
        ).alias("__v"),
    ).select(
        F.col("__v.variant").alias("variant"),
        F.col(id_col),
        "n_shingles",
        F.col("__v.n_overlap").alias("n_overlap"),
        F.col("__v.__pos").alias("__pos"),
    )
    return unpivoted.filter(F.col("n_overlap") > 0).select(
        "variant",
        id_col,
        "n_shingles",
        "n_overlap",
        (
            F.col("n_overlap").cast("double")
            / F.col("n_shingles").cast("double")
        ).alias("contamination"),
        (_longest_run(F.col("__pos")) + F.lit(k - 1))
        .cast("bigint")
        .alias("max_span_tokens"),
    )


def contamination_spans(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
) -> DataFrame:
    """Longest CONTIGUOUS contaminated span per train document: the
    maximum run of consecutive shingle positions whose k-grams all
    appear in the eval set, reported in tokens (run + k - 1).

    Benchmarks leak as contiguous passages, not scattered n-grams — a
    doc with 3% scattered overlap is noise, a doc containing a 40-token
    verbatim eval passage is contamination; this is the signal
    decontamination actually acts on (the Lee et al. substring-dedup
    insight applied to train/eval overlap).

    Plan shape: positional shingles (map-side posexplode — duplicates
    and positions KEPT, unlike the distinct-shingle overlap pass), one
    equi-join against the deduped eval hash set, then gaps-and-islands
    per document (island = pos - row_number, one window keyed on the
    doc) and a max. Shuffles on the hash join + the doc key only."""
    from xarray_dataaccessor_spark.operators.dedup import _word_kgrams, word_shingles
    from pyspark.sql.window import Window

    shingles = _word_kgrams(F.split(F.col(text_col), " "), k)
    pos_sh = (
        train.select(F.col(id_col), F.posexplode(shingles).alias("pos", "shingle"))
        .filter(F.length("shingle") > 0)
        .select(id_col, "pos", portable_hash32(F.col("shingle")).alias("h"))
    )
    eval_h = (
        word_shingles(eval_df, text_col, id_col, k)
        .select(portable_hash32(F.col("shingle")).alias("h"))
        .distinct()
    )
    matched = pos_sh.join(eval_h, "h").select(id_col, "pos")
    w = Window.partitionBy(id_col).orderBy("pos")
    runs = (
        matched.withColumn("__isl", F.col("pos") - F.row_number().over(w))
        .groupBy(id_col, "__isl")
        .agg(F.count(F.lit(1)).alias("__run"))
        .groupBy(id_col)
        .agg((F.max("__run") + F.lit(k - 1)).alias("max_span_tokens"))
    )
    return runs


def mixture_resample(
    df: DataFrame,
    weights: DataFrame,
    token_col: str,
    strata_col: str = "source",
    id_col: str = "doc_id",
    total_tokens: int | None = None,
    seed: int = 0,
) -> DataFrame:
    """MATERIALIZE a training mixture: given per-stratum target weights
    (e.g. ``token_count_by_source``'s temperature-scaled ``p``), emit a
    corpus whose per-stratum token mass matches ``total_tokens * p`` in
    expectation — the step between computing mixture weights and
    actually writing the epoch. Strata may be UP-sampled (documents
    replicated with an ``epoch`` counter, the standard small-domain
    repetition) or down-sampled (hash-threshold kept set).

    ``weights``: ``(strata, p)`` rows summing to ~1. For each stratum,
    rate r = total_target_tokens * p / stratum_tokens; every document
    gets ``floor(r)`` full copies plus one more iff its seeded hash
    bucket < frac(r) * 65536 — so the DECISION per (doc, copy) is a
    pure function of (id, seed), reproducible across runs, engines and
    partitionings, and the expected token mass is exact. Output adds
    ``epoch`` (0-based copy index).

    Scale shape: one broadcast join of a strata-sized rate table + a
    map-side ``explode(sequence(0, n_copies-1))`` — no shuffle of the
    corpus at all; at 100 TB this is a pure scan-and-write pass."""
    totals = df.groupBy(strata_col).agg(
        F.sum(F.col(token_col)).alias("__tok")
    )
    # In-plan validation (no extra job), symmetric in both directions
    # (ADVICE r6): a stratum observed in the corpus but absent from
    # ``weights``, a stratum present in ``weights`` with no corpus rows
    # (target mass silently undeliverable otherwise), or a zero-token
    # stratum all fail loudly at execution.
    p_checked = (
        F.when(
            F.col("p").isNull(),
            F.raise_error(
                F.concat(
                    F.lit("mixture_resample: stratum absent from weights: "),
                    F.col(strata_col).cast("string"),
                )
            ),
        )
        .when(
            F.col("__tok") <= 0,
            F.raise_error(
                F.concat(
                    F.lit("mixture_resample: stratum has zero token mass: "),
                    F.col(strata_col).cast("string"),
                )
            ),
        )
        .otherwise(F.col("p"))
    )
    # The weights→corpus direction can't ride the same join expression:
    # Catalyst's EliminateOuterJoin + inferred isnotnull(__r) constraints
    # rewrite a full-outer rates join back to left-outer and silently
    # drop weights-only rows before the raise can evaluate. A structural
    # anti-join branch UNIONed into the strata-sized rates table cannot
    # be optimized away — its raise fires when the broadcast
    # materializes. The raise is wrapped in coalesce(…, 0.0) to make the
    # column non-nullable: otherwise the downstream inner join's
    # inferred isnotnull(__r) constraint is pushed below the anti-join
    # onto the weights side and fires the raise on EVERY stratum
    # (observed); non-nullable folds that filter to true instead.
    violations = weights.join(totals, strata_col, "left_anti").select(
        F.col(strata_col),
        F.coalesce(
            F.raise_error(
                F.concat(
                    F.lit(
                        "mixture_resample: weight stratum absent from corpus: "
                    ),
                    F.col(strata_col).cast("string"),
                )
            ).cast("double"),
            F.lit(0.0),
        ).alias("__r"),
    )
    tgt_total = total_tokens
    if tgt_total is None:
        # default: preserve the overall corpus size
        tgt_total_df = df.agg(F.sum(F.col(token_col)).alias("__t"))
        rates = (
            totals.join(F.broadcast(weights), strata_col, "left")
            .join(F.broadcast(tgt_total_df))
            .select(
                strata_col,
                (p_checked * F.col("__t") / F.col("__tok")).alias("__r"),
            )
        )
    else:
        rates = totals.join(F.broadcast(weights), strata_col, "left").select(
            strata_col,
            (p_checked * F.lit(float(tgt_total)) / F.col("__tok")).alias("__r"),
        )
    rates = rates.unionByName(violations)
    b = hash_bucket(
        F.concat_ws(":", F.col(id_col).cast("string"), F.lit(str(seed)))
    )
    full = F.floor(F.col("__r")).cast("int")
    frac_keep = (
        b < ((F.col("__r") - F.floor(F.col("__r"))) * F.lit(BUCKETS))
    ).cast("int")
    n_copies = full + frac_keep
    return (
        df.join(F.broadcast(rates), strata_col)
        .withColumn("__n", n_copies)
        .filter(F.col("__n") > 0)
        .withColumn("epoch", F.explode(F.sequence(F.lit(0), F.col("__n") - 1)))
        .drop("__r", "__n")
    )


def dsir_importance_weights(
    docs: DataFrame,
    target_ids: DataFrame,
    n_buckets: int = 1024,
    orders: tuple = (1, 2),
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling", arXiv:2302.03169):
    score every raw document by how target-like its hashed n-gram
    profile is,

        log w(d) = sum_b c_b(d) * (ln p_target(b) - ln p_raw(b)),

    where ``b`` ranges over ``n_buckets`` hashed n-gram buckets
    (``orders`` selects unigrams/bigrams; the paper uses both), and the
    two bucket distributions are add-one-smoothed bag-of-hashed-ngrams
    models fitted on the target subset vs the whole corpus.

    ``target_ids`` is a one-column (``id_col``) DataFrame naming the
    target-domain exemplars (in production: a quality corpus like
    Wikipedia mapped into the same id space; in the oracle slot: a
    deterministic predicate over the corpus itself).

    Returns ``(id_col, dsir_logw DECIMAL(28,14))`` — one row per input
    document (docs with no features weigh 0). The per-bucket log-ratio
    is ROUNDED to 6 decimals before the order-independent DECIMAL
    accumulation ([[oracle-exactness]]: ``ln`` differs in the last ulp
    across engines; counts, the bigint-ratio division, and the decimal
    sum are exact), so the weight — and every selection decision made
    from it — replays bit-exactly in a SQL oracle.

    Scale shape: one corpus tokenization (two with bigrams), each
    shuffled once on (id, bucket); the two model tables are
    ``n_buckets`` rows — broadcast; the weight is one per-document
    aggregation. No driver participation.
    """
    from xarray_dataaccessor_spark.operators.text import (
        bigram_counts,
        word_counts,
    )

    feats = None
    if 1 in orders:
        wc = word_counts(docs, text_col, id_col)
        feats = wc.select(
            F.col(id_col),
            F.pmod(portable_hash32(F.col("w")), F.lit(n_buckets)).alias("b"),
            "c",
        )
    if 2 in orders:
        bc = bigram_counts(docs, text_col, id_col)
        bg = bc.select(
            F.col(id_col),
            F.pmod(
                portable_hash32(F.concat_ws(" ", "w1", "w2")),
                F.lit(n_buckets),
            ).alias("b"),
            "c",
        )
        feats = bg if feats is None else feats.unionByName(bg)
    if feats is None:
        raise ValueError(f"orders must include 1 and/or 2, got {orders!r}")
    fb = feats.groupBy(id_col, "b").agg(F.sum("c").alias("c"))
    raw = fb.groupBy("b").agg(F.sum("c").alias("rc"))
    tgt = (
        fb.join(target_ids.select(id_col).distinct(), id_col)
        .groupBy("b")
        .agg(F.sum("c").alias("tc"))
    )
    totals = (
        raw.agg(F.sum("rc").alias("rt"))
        .crossJoin(tgt.agg(F.sum("tc").alias("tt")))
    )
    model = (
        raw.join(tgt, "b", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "b",
            F.round(
                F.log(
                    (F.coalesce(F.col("tc"), F.lit(0)) + 1).cast("double")
                    / (F.coalesce(F.col("tt"), F.lit(0)) + n_buckets).cast("double")
                )
                - F.log(
                    (F.col("rc") + 1).cast("double")
                    / (F.col("rt") + n_buckets).cast("double")
                ),
                6,
            )
            .cast("decimal(28,14)")
            .alias("lam"),
        )
    )
    per_doc = (
        fb.join(F.broadcast(model), "b")
        .groupBy(id_col)
        .agg(
            F.sum((F.col("lam") * F.col("c")).cast("decimal(28,14)")).alias(
                "dsir_logw"
            )
        )
    )
    return (
        docs.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce(
                F.col("dsir_logw"), F.lit(0).cast("decimal(28,14)")
            ).alias("dsir_logw"),
        )
    )


def dsir_select(
    docs: DataFrame,
    target_ids: DataFrame,
    k: int,
    n_buckets: int = 1024,
    orders: tuple = (1, 2),
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: str = "dsir",
) -> DataFrame:
    """DSIR selection: Gumbel-top-k importance resampling over
    :func:`dsir_importance_weights` — sampling WITHOUT replacement from
    the softmax of the importance weights reduces to ranking documents
    by ``log w(d) + Gumbel(0,1)`` and keeping the top ``k`` (Vieira
    2014; the paper's resampling step). The Gumbel noise derives from
    the portable hash (``u = (h + 0.5) / 2^32`` is dyadic, hence
    bit-exact cross-engine; ``-ln(-ln u)`` is rounded to 6 decimals like
    every transcendental in the oracle convention), so the SELECTED SET
    and its order replay exactly in SQL.

    Returns ``(id_col, dsir_logw, dsir_key, dsir_rank)`` for the ``k``
    selected documents, ``dsir_rank`` 1-based by descending key.

    Scale: the weight plan plus one map-side key column and a
    DISTRIBUTED top-k — ``orderBy().limit(k)`` plans as
    TakeOrderedAndProject (per-partition partial top-k, driver merge of
    k-row heads), never a single-partition global sort; ranks are then
    assigned by a window over the k survivors only.
    """
    from pyspark.sql.window import Window

    w = dsir_importance_weights(
        docs, target_ids, n_buckets, orders, text_col, id_col
    )
    u = (
        portable_hash32(F.concat_ws(":", F.col(id_col).cast("string"), F.lit(seed)))
        .cast("double")
        + F.lit(0.5)
    ) / F.lit(float(2**32))
    g = F.round(-F.log(-F.log(u)), 6).cast("decimal(28,14)")
    keyed = w.withColumn("dsir_key", (F.col("dsir_logw") + g).cast("decimal(28,14)"))
    top = keyed.orderBy(F.desc("dsir_key"), F.asc(id_col)).limit(k)
    win = Window.orderBy(F.desc("dsir_key"), F.asc(id_col))
    return top.withColumn("dsir_rank", F.row_number().over(win).cast("int"))


def priority_sample(
    df: DataFrame,
    weight_col: str,
    id_col: str = "doc_id",
    strata_col: str | None = None,
    k: int = 64,
    seed: int = 0,
) -> DataFrame:
    """Priority sampling (Duffield, Lund, Thorup, "Priority sampling
    for estimation of arbitrary subset sums", JACM 2007): a k-row
    weight-sensitive sample per stratum whose Horvitz-Thompson
    estimator reconstructs the stratum's total weight — the standard
    way to keep a FIXED-SIZE sample of a weighted corpus (documents
    weighted by token count, domains by crawl mass) that still answers
    "how many tokens does this slice hold" without a full scan.

    Mechanics, all engine-exact arithmetic:

    - ``u = (h32(id:seed) + 1) / 2^32`` — a deterministic uniform in
      (0, 1] from the portable md5 hash (no RNG state, reproducible
      across runs/engines/partitionings);
    - priority ``q = w / u``; the sample is the top-k rows by
      ``(q DESC, id ASC)`` per stratum;
    - threshold ``tau`` = the (k+1)-th priority (0 when the stratum has
      <= k rows — the sample is then the whole stratum and estimates
      are EXACT);
    - each sampled row estimates its weight as ``max(w, tau)``; the sum
      of those terms (folded through DECIMAL(28,6), so shuffle order
      cannot perturb the double) is the unbiased estimate of the
      stratum total — off-sample rows contribute through ``tau``.

    Returns the ≤ k sampled rows per stratum:
    ``(strata?, id_col, weight_col, q, tau, est_w, est_total,
    exact_total)`` with ``q``/``tau``/``est_w`` rounded to 6 decimals
    and ``est_total`` / ``exact_total`` (the visible-error pair)
    decimal-summed doubles.

    Scale shape: one narrow shuffle of ``(strata, id, w, q)`` 4-tuples
    for the per-stratum rank — the corpus text never moves; at 100 TB
    the q-threshold prefilter trick from :func:`~.sketch.bottomk_sample`
    applies unchanged (rows with ``q`` below any conservative guess of
    ``tau`` can be map-side dropped without changing the sample)."""
    if k < 1:
        raise ValueError(f"k must be >= 1: {k}")
    from pyspark.sql.window import Window

    keys = [strata_col] if strata_col else []
    u = (
        portable_hash32(
            F.concat_ws(":", F.col(id_col).cast("string"), F.lit(seed))
        ).cast("double")
        + F.lit(1.0)
    ) / F.lit(float(2**32))
    base = df.select(
        *keys, F.col(id_col), F.col(weight_col).alias("__w")
    ).withColumn("__q", F.col("__w").cast("double") / u)
    w_rank = Window.partitionBy(*keys).orderBy(F.desc("__q"), F.asc(id_col))
    w_all = (
        Window.partitionBy(*keys)
        .orderBy(F.desc("__q"), F.asc(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    ranked = base.withColumn("__rn", F.row_number().over(w_rank)).withColumn(
        "__tau",
        F.coalesce(
            F.max(F.when(F.col("__rn") == k + 1, F.col("__q"))).over(w_all),
            F.lit(0.0),
        ),
    ).withColumn(
        "__exact",
        F.sum(F.col("__w").cast("decimal(28,6)")).over(w_all).cast("double"),
    )
    est = F.greatest(F.col("__w").cast("double"), F.col("__tau"))
    kept = ranked.filter(F.col("__rn") <= k).withColumn("__est", est)
    w_kept = (
        Window.partitionBy(*keys)
        .orderBy(F.asc(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return kept.select(
        *keys,
        id_col,
        F.col("__w").alias(weight_col),
        F.round("__q", 6).alias("q"),
        F.round("__tau", 6).alias("tau"),
        F.round("__est", 6).alias("est_w"),
        F.round(
            F.sum(F.col("__est").cast("decimal(28,6)")).over(w_kept)
            .cast("double"),
            6,
        ).alias("est_total"),
        F.round(F.col("__exact"), 6).alias("exact_total"),
    )
