"""Deduplication operators for training-data pipelines (SURVEY §7.8):
exact, MinHash(+LSH banding), SimHash, and exact n-gram Jaccard.

Design for 100 TB:

- Exact dedup is a hash-groupBy on a fingerprint of the text (never on
  the raw text — the shuffle key must be small).
- MinHash signatures are computed in ONE aggregation (k min-exprs over
  the exploded shingle set — no k-way cross join), then LSH banding
  turns the O(n^2) pair search into an equi-join on (band, band-hash):
  only documents sharing a band bucket are compared.
- SimHash is a per-document bit-vote aggregate; near-dup candidates are
  an equi-join on the signature (or banded substrings for hamming > 0).
- All hashing is md5-derived (functions/hashing.py) so results are
  verifiable against a DuckDB oracle and stable across engines/runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from xarray_dataaccessor_spark.functions.hashing import (
    HASH_PRIME,
    portable_hash32,
    portable_hash64,
)
from xarray_dataaccessor_spark.operators.cachectl import tracked_cache

# deterministic (a, b) parameters for the universal-hash permutations;
# a < 2**20 keeps (a*h + b) % p inside int64 for 32-bit h (hashing.py).
MINHASH_A = [709 + 31 * i for i in range(64)]
MINHASH_B = [12553 + 97 * i for i in range(64)]


def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: group by a 60-bit text fingerprint, keep the smallest
    id as representative, count duplicates. The groupBy key is the
    fingerprint, not the document body."""
    fp = portable_hash64(F.col(text_col)).alias("fp")
    return (
        df.select(fp, F.col(id_col))
        .groupBy("fp")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def spread_small_input(df: DataFrame) -> DataFrame:
    """Tiny inputs (a single parquet file -> one partition) would
    serialize the whole shingle/token pipeline through one task;
    repartition them to the session's parallelism. At production scale
    the input already carries >= parallelism partitions and this is a
    no-op — no shuffle is ever added to a big scan.

    The partition estimate comes from file-scan metadata (``inputFiles``
    + local file sizes vs ``spark.sql.files.maxPartitionBytes``), never
    from ``df.rdd`` — converting the plan to an RDD forces a full
    analysis/translation pass per call, needless overhead on a 100 TB
    plan. Remote-store inputs (s3/hdfs/...) are assumed
    production-scale: the reader already splits them by block, so the
    spread is skipped without touching the object store."""
    import math
    import os
    import re
    from urllib.parse import urlparse

    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    files = df.inputFiles()
    if not files:
        # non-file source (local relation in tests, memory sink, ...):
        # tiny by construction — spread it
        return df.repartition(target)
    max_pb_raw = spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    m = re.match(r"(\d+)\s*([kmgt]?)b?$", str(max_pb_raw).strip().lower())
    if m:
        mult = {"": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
        max_pb = int(m.group(1)) * mult[m.group(2)]
    else:
        max_pb = 134217728
    est_parts = 0
    for uri in files:
        parsed = urlparse(uri)
        if parsed.scheme not in ("", "file"):
            return df  # remote store: assume block-split production input
        try:
            size = os.path.getsize(parsed.path or uri)
        except OSError:
            return df
        est_parts += max(1, math.ceil(size / max_pb))
    if est_parts < max(2, target // 2):
        return df.repartition(target)
    return df


def word_shingles(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 3
) -> DataFrame:
    """Distinct word k-shingles per document: (id, shingle)."""
    df = spread_small_input(df)
    words = F.split(F.col(text_col), " ")
    idx = F.sequence(F.lit(0), F.greatest(F.size(words) - k, F.lit(0)))
    # F.get is 0-based and null-safe: a doc shorter than k words yields a
    # partial shingle instead of an ANSI out-of-bounds error
    shingle = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.get(words, (i + j).cast("int")) for j in range(k)]
        ),
    )
    # distinct-per-document == distinct over (id, shingle): every shingle
    # of a document lives in ONE array in ONE row, so array_distinct
    # before the explode is exact and entirely map-side — the global
    # .distinct() it replaces shuffled every (id, ~30-char-string) pair
    # across the cluster just to dedup within-row duplicates. At 100 TB
    # this removes the widest shuffle of the whole dedup family.
    return (
        df.select(F.col(id_col), F.explode(F.array_distinct(shingle)).alias("shingle"))
        .filter(F.length("shingle") > 0)
    )


def minhash_band_structs(
    text_col: str = "text",
    k: int = 3,
    num_perm: int = 16,
    rows_per_band: int = 2,
):
    """The whole shingle -> minhash -> band-bucket pipeline as ONE
    map-side column expression: an array of ``(band, bucket)`` structs,
    or NULL for a document with no shingles.

    Bit-identical to the batch path (``word_shingles`` ->
    ``minhash_signatures`` -> ``lsh_candidate_pairs`` band keys): same
    shingle rule, same portable md5 hash, same ``(a*h+b) % p``
    permutations, same ``_``-joined bucket string. Exists for operators
    that cannot shuffle per shingle — the STREAMING near-dup keys its
    state store on these buckets, and a stream cannot run the batch
    groupBy(doc) signature aggregation per micro-batch."""
    from xarray_dataaccessor_spark.functions.hashing import portable_hash32

    n_bands = num_perm // rows_per_band
    words = F.split(F.col(text_col), " ")
    idx = F.sequence(F.lit(0), F.greatest(F.size(words) - k, F.lit(0)))
    shingle = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.get(words, (i + j).cast("int")) for j in range(k)]
        ),
    )
    sh = F.filter(F.array_distinct(shingle), lambda s: F.length(s) > 0)
    h = F.transform(sh, lambda s: portable_hash32(s))
    mhs = [
        F.array_min(
            F.transform(
                h,
                lambda x: (x * F.lit(MINHASH_A[i]) + F.lit(MINHASH_B[i]))
                % F.lit(HASH_PRIME),
            )
        )
        for i in range(num_perm)
    ]
    bands = [
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws(
                "_", *[mhs[b * rows_per_band + r] for r in range(rows_per_band)]
            ).alias("bucket"),
        )
        for b in range(n_bands)
    ]
    return F.when(F.size(sh) > 0, F.array(*bands))


def minhash_signatures(
    shingle_df: DataFrame, num_perm: int = 16, id_col: str = "doc_id"
) -> DataFrame:
    """MinHash signature per document as ``num_perm`` columns ``mh0..``,
    computed in a single aggregation over the shingle hashes."""
    h = portable_hash32(F.col("shingle"))
    hashed = shingle_df.select(id_col, h.alias("h"))
    aggs = [
        F.min((F.col("h") * F.lit(MINHASH_A[i]) + F.lit(MINHASH_B[i])) % F.lit(HASH_PRIME)).alias(f"mh{i}")
        for i in range(num_perm)
    ]
    return hashed.groupBy(id_col).agg(*aggs)


def _first_band_pairs(
    sig_df: DataFrame,
    num_perm: int,
    rows_per_band: int,
    id_col: str,
    max_bucket: int | None = None,
) -> DataFrame:
    """The LSH band self-join with each candidate pair emitted ONCE:
    from the lowest band whose bucket both documents share. Every
    exploded row carries its document's signature array and bucket
    array through the join, so the rule is a map-side filter on the
    joined row (no cross-band distinct) and the signatures need no
    re-join. Under ``max_bucket`` a dropped bucket is nulled in its
    documents' bucket arrays, so it never counts as a pair's first
    shared band. Columns: ``id_a < id_b``, ``sig_a``, ``sig_b``.

    The bucket array always holds ``n_bands`` entries; ``posexplode_outer``
    keeps Catalyst from inferring a ``size(bk) > 0`` filter that would
    build every bucket string twice."""
    n_bands = num_perm // rows_per_band
    mh = [F.col(f"mh{i}") for i in range(num_perm)]
    buckets = F.array(*[
        F.concat_ws("_", *mh[b * rows_per_band:(b + 1) * rows_per_band])
        for b in range(n_bands)
    ])
    rows = sig_df.select(
        F.col(id_col).alias("id"), F.array(*mh).alias("sig"), buckets.alias("bk")
    ).select("id", "sig", "bk", F.posexplode_outer("bk").alias("band", "bucket"))
    if max_bucket is not None:
        from pyspark.sql.window import Window

        kept = F.count(F.lit(1)).over(Window.partitionBy("band", "bucket")) <= max_bucket
        masked = F.array_sort(F.collect_list(
            F.struct("band", F.when(F.col("__kept"), F.col("bucket")).alias("b"))
        ).over(Window.partitionBy("id")))
        rows = (
            rows.withColumn("__kept", kept)
            .withColumn("bk", F.transform(masked, lambda s: s["b"]))
            .filter(F.col("__kept"))
            .drop("__kept")
        )
    a, b = rows.alias("a"), rows.alias("b")
    first_shared = F.array_position(
        F.zip_with(F.col("a.bk"), F.col("b.bk"), lambda x, y: x == y), True
    ) - 1
    return (
        a.join(b, on=["band", "bucket"])
        .filter((F.col("a.id") < F.col("b.id")) & (first_shared == F.col("band")))
        .select(
            F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
            F.col("a.sig").alias("sig_a"), F.col("b.sig").alias("sig_b"),
        )
    )


def lsh_candidate_pairs(
    sig_df: DataFrame,
    num_perm: int = 16,
    rows_per_band: int = 2,
    id_col: str = "doc_id",
    max_bucket: int | None = None,
) -> DataFrame:
    """LSH banding: signature split into bands of ``rows_per_band``
    minhashes; documents sharing any band bucket become candidate pairs.
    The join key is (band_idx, band_value-string) — an equi-join Catalyst
    shuffles on, never an O(n^2) comparison. Each pair is emitted once,
    from its lowest shared band, so no distinct shuffle follows the join.

    ``max_bucket`` is the hot-bucket guard for corpus scale: a band
    bucket with m members contributes m^2/2 candidate pairs, so one
    degenerate bucket (boilerplate text collapsing many documents onto
    one signature band) can dominate the whole job. Buckets larger than
    the cap are DROPPED from candidate generation (the same df-cap
    discipline as ``jaccard_pairs``; the members almost certainly
    collide in other, more selective bands), and a dropped bucket never
    counts as a pair's lowest shared band. Implemented as window counts
    over the bucket and document partitions — no extra aggregation
    join."""
    return _first_band_pairs(
        sig_df, num_perm, rows_per_band, id_col, max_bucket
    ).select("id_a", "id_b")


def minhash_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 16,
    rows_per_band: int = 2,
    k: int = 3,
) -> DataFrame:
    """End-to-end MinHash+LSH near-dup detection: candidate pairs with
    the estimated Jaccard = fraction of agreeing minhashes, computed on
    the joined row from the signature arrays the band join carries."""
    sh = word_shingles(df, text_col, id_col, k)
    # both sides of the band self-join read the signature table — persist
    # it instead of recomputing the shingle pipeline twice
    sig = tracked_cache(minhash_signatures(sh, num_perm, id_col))
    agree = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda x, y: F.when(x == y, 1).otherwise(0)),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    return _first_band_pairs(sig, num_perm, rows_per_band, id_col).select(
        "id_a",
        "id_b",
        (agree.cast("double") / F.lit(float(num_perm))).alias("est_jaccard"),
    )


# Ceiling on the candidate-pair join size before the guard trips.
# 1e8 pairs is ~minutes of local compute; at cluster scale the routed
# MinHash-LSH path is measured 59x cheaper at the sf3 knee (SCALE.md)
# and keeps exponent 0.86 where exact Jaccard goes 2.65.
PAIR_GUARD_DEFAULT = 100_000_000

#: Exact-candidate-count threshold above which the prefix-filter path
#: replaces the full inverted-index self-join (and below which the full
#: join is measurably cheaper — the prefix's extra rank window +
#: verification joins cost more than the quadratic term they prune on
#: small corpora; interleaved A/B r14 wave 1: +43 % at sf0.1's ~1e5
#: candidates). ~2e7 join rows is where the quadratic stage starts to
#: dominate those two linear passes on any plausible hardware.
PREFIX_MIN_CANDIDATES = 20_000_000


def _candidate_pair_count(occ: DataFrame, *keys: str) -> int:
    """EXACT candidate-pair count of the equi-self-join on ``keys``:
    sum over buckets of n(n-1)/2. One cheap two-level aggregate over a
    table the pairing plan builds anyway (and, for Jaccard, one that is
    already cached) — integer arithmetic only, so the guard decision is
    deterministic across runs and engines."""
    row = (
        occ.groupBy(*[F.col(c) for c in keys])
        .agg(F.count(F.lit(1)).alias("__n"))
        .agg(F.sum(F.expr("__n * (__n - 1L) div 2")).alias("__pairs"))
        .collect()[0]
    )
    return int(row["__pairs"] or 0)


class CandidatePairExplosion(ValueError):
    """The exact pairing path would build a candidate join larger than
    the configured ceiling. Carries the measured count so callers can
    log/re-route; the message names the in-repo scale path."""

    def __init__(self, what: str, n_pairs: int, ceiling: int, hint: str):
        self.n_pairs = n_pairs
        self.ceiling = ceiling
        super().__init__(
            f"{what} would build {n_pairs:,} candidate pairs "
            f"(> max_candidate_pairs={ceiling:,}); this path is the "
            f"AUDIT path and scales as the sum of squared bucket sizes "
            f"(measured exponent 2.65 past sf1 — SCALE.md). {hint} "
            f"Pass max_candidate_pairs=None to force the exact path."
        )


def jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.6,
    max_df: int | str | None = "auto",
    max_candidate_pairs: int | None = PAIR_GUARD_DEFAULT,
    auto_route: bool = False,
) -> DataFrame:
    """Exact n-gram Jaccard similarity via the inverted-index join:
    doc-shingle pairs self-joined on the shingle hash, intersection
    counted per pair, |A|,|B| joined back. Only documents sharing at
    least one shingle are ever paired.

    ``max_df`` drops shingles appearing in more than that many documents
    before the pair join — the standard scale mitigation: a shingle with
    document frequency d contributes d^2 join rows, and high-df shingles
    (stopword runs) carry no dedup signal. Note |A|,|B| are then counted
    over the *kept* shingles, so the score is Jaccard over the filtered
    shingle space.

    The DEFAULT is ``max_df="auto"``: a corpus-size-derived cap of
    ``greatest(50, n_docs div 20)`` (5% document frequency, floor 50),
    computed in-plan so no driver job runs. The uncapped O(Σ df²) path
    is an explicit opt-in (``max_df=None``) — on a 100 TB corpus a
    single boilerplate shingle shared by 1M documents would otherwise
    contribute 10^12 join rows by default.

    The capped path drops high-df shingles with a heavy-hitter
    anti-join (see :func:`_jaccard_pairs_capped`): only the
    distinct-shingle count table ever shuffles, and with the auto cap
    the heavy-hitter set is corpus-size-independent in size (AQE turns
    the anti-join into a broadcast at runtime when it fits). After the
    filter the plan is exactly the uncapped inverted-index join over a
    smaller table.

    **Scale routing guard** (round 11 — the measured N² knee now has
    runtime enforcement, not just documentation): before building the
    pair join, the EXACT candidate count Σ df·(df−1)/2 is computed from
    the per-shingle df table the plan already aggregates (one cheap agg
    over the cached shingle table). Above ``max_candidate_pairs``
    (default 1e8) the call raises :class:`CandidatePairExplosion`
    naming :func:`minhash_near_duplicates` — or, with
    ``auto_route=True``, warns and returns the MinHash-LSH pairs
    (column ``jaccard`` then holds the LSH *estimate*) so pipelines
    degrade to the scale path instead of dying. ``None`` disables the
    guard (and its one small driver job) for trusted audit runs."""
    sh = word_shingles(df, text_col, id_col, k).select(
        F.col(id_col), portable_hash32(F.col("shingle")).alias("h")
    )
    # cache BEFORE the capped/uncapped branch: the shingle table is
    # plan-keyed, so the capped and uncapped variants (and repeated
    # calls in one session) share one materialization — reused by
    # sizes + both sides of the inverted-index join (and by the guard's
    # pair-count agg, which therefore warms it)
    sh = tracked_cache(sh)
    occ = _kept_shingles(sh, id_col, max_df) if max_df is not None else sh
    if max_candidate_pairs is not None:
        n_pairs = _candidate_pair_count(occ, "h")
        if n_pairs > max_candidate_pairs:
            sh.unpersist()  # the exact path's tables won't be consumed
            if occ is not sh:
                occ.unpersist()
            if auto_route:
                import warnings

                warnings.warn(
                    f"jaccard_pairs: {n_pairs:,} candidate pairs exceeds "
                    f"max_candidate_pairs={max_candidate_pairs:,}; "
                    "auto-routing to MinHash-LSH (column 'jaccard' is the "
                    "LSH estimate, not exact)",
                    RuntimeWarning,
                    stacklevel=2,
                )
                return (
                    minhash_near_duplicates(df, text_col, id_col, k=k)
                    .filter(F.col("est_jaccard") >= threshold)
                    .select(
                        "id_a", "id_b", F.col("est_jaccard").alias("jaccard")
                    )
                )
            raise CandidatePairExplosion(
                "jaccard_pairs", n_pairs, max_candidate_pairs,
                "Use minhash_near_duplicates (banded LSH, never all-pairs) "
                "or pass auto_route=True.",
            )
    # Prefix-filter routing (r14, VERDICT r13 #8): the prefix path cuts
    # the quadratic candidate join ~(1-t)^2 (~6x at t=0.6) but costs
    # two extra linear passes (the per-doc rank window + the candidate
    # verification joins). Measured at sf0.1 the overhead LOSES (+43 %
    # interleaved A/B vs ±30 % controls, BENCH_AB_r14_wave1.json), so
    # the route is gated on the EXACT candidate count the explosion
    # guard already computed: below PREFIX_MIN_CANDIDATES the quadratic
    # term is cheaper than the extra passes; above it the pruning
    # dominates (that is also the regime the 1e8 guard polices).
    use_prefix = (
        max_candidate_pairs is not None
        and n_pairs >= PREFIX_MIN_CANDIDATES
    )
    if use_prefix:
        # prefix safety gate: the prefix lemma is proved for SETS of
        # shingle hashes per document. word_shingles dedupes shingle
        # STRINGS per doc, so a duplicate (id, h) row requires an
        # intra-document 32-bit hash collision (~1e-5 per doc) — the
        # correctness gate is absolute, so one cheap aggregate over the
        # already-cached table checks and falls back to the full join
        # in the freak case instead of risking a missed pair.
        max_mult = (
            occ.groupBy(F.col(id_col), F.col("h"))
            .agg(F.count(F.lit(1)).alias("__m"))
            .agg(F.max("__m").alias("__mx"))
            .collect()[0]["__mx"]
        )
        use_prefix = (max_mult or 0) <= 1
    return _pairs_from_occurrences(occ, id_col, threshold, use_prefix=use_prefix)


def _pairs_from_occurrences(occ, id_col, threshold, use_prefix=False):
    """The inverted-index pair join over a (id, shingle-hash) table:
    intersection counted per pair via the equi-self-join on the hash,
    |A|,|B| joined back, Jaccard filtered at ``threshold``.

    ``use_prefix`` (r14, VERDICT r13 #8 — guide §3/§8) prunes the
    quadratic candidate join with the standard prefix filter (Chaudhuri
    et al., SSJoin): under ANY global total order on shingle hashes, a
    pair with Jaccard >= t shares at least ceil(t*|S|) shingles with
    each member, so each document's first ``|S| - ceil(t*|S|) + 1``
    shingles (ascending hash) suffice for CANDIDATE generation — at
    t=0.6 the exploded join input drops to ~40% per side (~16% of the
    join rows). Candidates are then verified with the TRUE intersection
    count over the full shingle sets, so the emitted pair set (and the
    Jaccard values) are exactly the full join's. Requires (id, h) to be
    duplicate-free (the lemma is for sets) — the caller checks and
    passes ``use_prefix=False`` otherwise. The epsilon in the prefix
    bound guards the float ``ceil`` from rounding UP past the exact
    integer (a too-long prefix only over-covers; a too-short one could
    miss a pair)."""
    sizes = occ.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    if use_prefix:
        from pyspark.sql.window import Window

        wid = Window.partitionBy(id_col).orderBy("h")
        plen = (
            F.col("__sz")
            - F.ceil(F.lit(float(threshold)) * F.col("__sz") - F.lit(1e-9))
            + 1
        )
        ranked = occ.select(
            F.col(id_col),
            F.col("h"),
            F.row_number().over(wid).alias("__rn"),
            F.count(F.lit(1)).over(Window.partitionBy(id_col)).alias("__sz"),
        )
        pref = ranked.filter(F.col("__rn") <= plen).select(id_col, "h")
        pa, pb = pref.alias("a"), pref.alias("b")
        cand = (
            pa.join(pb, on="h")
            .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            .select(
                F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
            )
            .distinct()
        )
        oa = occ.select(F.col(id_col).alias("id_a"), "h")
        ob = occ.select(F.col(id_col).alias("id_b"), "h")
        common = (
            cand.join(oa, "id_a")
            .join(ob, ["id_b", "h"])
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("n_common"))
        )
    else:
        a = occ.alias("a")
        b = occ.alias("b")
        common = (
            a.join(b, on="h")
            .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            .groupBy(
                F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
            )
            .agg(F.count(F.lit(1)).alias("n_common"))
        )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"))
    jac = F.col("n_common").cast("double") / (
        F.col("sz_a") + F.col("sz_b") - F.col("n_common")
    ).cast("double")
    return (
        common.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def _kept_shingles(sh, id_col, max_df):
    """df-capped shingle table via a heavy-hitter broadcast ANTI-join:
    aggregate per-shingle counts (map-side partial agg, so only the
    distinct-shingle table shuffles — far smaller than the occurrence
    table), keep the shingles whose document frequency EXCEEDS the cap,
    and anti-join them away from the shingle table. With the AUTO cap
    the heavy-hitter set is provably tiny: at most total_occurrences /
    cap rows — <= 20 x avg-shingles-per-doc, a corpus-size-INDEPENDENT
    bound. An explicit small ``max_df`` on a huge corpus grows the set
    as total_occurrences/max_df, which is why the join carries no
    broadcast HINT: AQE promotes it to a broadcast at runtime only when
    the built side actually fits.

    This beats the r2 window-count formulation (``count() over
    (partition by h)``), which shuffled AND sorted the entire
    occurrence table just to attach a count that the very next filter
    consumed; here the big table is never shuffled before pairing.

    ``max_df="auto"`` resolves the cap IN-PLAN as
    ``greatest(50, n_docs div 20)`` — the 1-row corpus-size aggregate is
    broadcast-joined inside the heavy-hitter subquery, so the cap costs
    one cheap agg over the cached shingle table and zero driver
    round-trips (integer arithmetic only: bit-identical across
    engines)."""
    counts = sh.groupBy("h").agg(F.count(F.lit(1)).alias("__df"))
    if max_df == "auto":
        n_docs = sh.agg(F.count_distinct(F.col(id_col)).alias("__n"))
        hot = (
            counts.join(F.broadcast(n_docs))
            .filter(F.col("__df") > F.greatest(F.lit(50), F.expr("__n div 20")))
            .select("h")
        )
    else:
        hot = counts.filter(F.col("__df") > max_df).select("h")
    # no forced broadcast: with max_df="auto" the hot set is provably
    # tiny, but an explicit small cap on a huge corpus grows it as
    # total_occurrences/max_df — let AQE convert the anti-join to a
    # broadcast at runtime when (and only when) the built side is small
    return tracked_cache(sh.join(hot, "h", "left_anti"))


def simhash(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 32
) -> DataFrame:
    """SimHash signature per document: each token's 32-bit hash votes
    +1/-1 on every bit position; the sign of the vote sum sets the bit.
    One explode + one groupBy with ``bits`` conditional-sum aggregates."""
    df = spread_small_input(df)
    tokens = df.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), "\\s+")).alias("tok")
    ).filter(F.length("tok") > 0)
    hashed = tokens.select(id_col, portable_hash32(F.col("tok")).alias("h"))
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v{j}")
        for j in range(bits)
    ]
    voted = hashed.groupBy(id_col).agg(*votes)
    sig = None
    for j in range(bits):
        bit = F.when(F.col(f"v{j}") > 0, F.lit(2**j).cast("bigint")).otherwise(F.lit(0).cast("bigint"))
        sig = bit if sig is None else (sig + bit)
    return voted.select(F.col(id_col), sig.alias("simhash"))


def simhash_duplicate_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
    max_candidate_pairs: int | None = PAIR_GUARD_DEFAULT,
) -> DataFrame:
    """Hamming-0 near-dup pairs: equi-join on the simhash value (see
    :func:`simhash_hamming_pairs` for the banded hamming <= d search).

    Guarded like :func:`jaccard_pairs`: the fingerprint space is
    bounded (2^bits), so past ~2^(bits/2) docs the bucket join is N² by
    the birthday bound regardless of corpus content (measured exponent
    1.58 past sf1 — SCALE.md). When the guard is on, the signature
    table is a tracked cache (``cachectl``) so the guard's count and
    the pair join share one materialization."""
    sig = simhash(df, text_col, id_col, bits)
    if max_candidate_pairs is not None:
        sig = tracked_cache(sig)
        n_pairs = _candidate_pair_count(sig, "simhash")
        if n_pairs > max_candidate_pairs:
            sig.unpersist()
            raise CandidatePairExplosion(
                "simhash_duplicate_pairs", n_pairs, max_candidate_pairs,
                "Use minhash_near_duplicates, or raise bits (the "
                f"{bits}-bit fingerprint space saturates by the "
                "birthday bound).",
            )
    # without the guard: no cache — the self-join's two sides are
    # identical subplans, so Spark's ReuseExchange materializes the
    # shuffle once already
    a = sig.select(F.col(id_col).alias("id_a"), F.col("simhash"))
    b = sig.select(F.col(id_col).alias("id_b"), F.col("simhash"))
    return (
        a.join(b, "simhash")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "simhash")
    )


def simhash_hamming_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
    max_hamming: int = 2,
    max_candidate_pairs: int | None = PAIR_GUARD_DEFAULT,
) -> DataFrame:
    """Near-dup pairs at hamming distance <= d via pigeonhole banding:
    the signature's bit positions split into d+1 contiguous bands, and
    any pair within hamming d must agree EXACTLY on at least one band
    (d flipped bits can dirty at most d bands). Candidates are therefore
    the union of per-band equi-joins — a shuffle on (band, band_value),
    never an all-pairs comparison — refined by an exact
    ``bit_count(xor) <= d`` check.

    The reference has no >0-hamming path; this generalizes
    :func:`simhash_duplicate_pairs` with the same banding machinery as
    MinHash LSH (``lsh_candidate_pairs``). At 100 TB the per-band bucket
    population is |corpus| / 2^band_width in expectation (band_width >=
    bits/(d+1), e.g. 10 bits -> ~1/1024 of the corpus per bucket) — so
    the candidate join grows as N²/2^band_width: bounded bands make this
    the AUDIT path past ~sf1 (measured exponent 1.58, SCALE.md).
    ``max_candidate_pairs`` enforces that routing at runtime: the exact
    bucket-pair count Σ n·(n−1)/2 over (band, val) buckets is computed
    from the cached signature table before the join is built, and
    exceeding the ceiling raises :class:`CandidatePairExplosion` naming
    the scale alternatives. ``None`` disables the guard and its one
    small driver job."""
    if max_hamming < 0 or max_hamming >= bits:
        raise ValueError(f"max_hamming must be in [0, {bits}), got {max_hamming}")
    k = max_hamming + 1
    w = bits // k
    sig = simhash(df, text_col, id_col, bits)
    guarded = max_candidate_pairs is not None
    if guarded:
        # cache the n-row signature table so the guard's bucket count
        # and the band join share one materialization
        sig = tracked_cache(sig)
    bands = []
    for j in range(k):
        off = j * w
        width = (bits - off) if j == k - 1 else w
        mask = (1 << width) - 1
        bands.append(
            F.struct(
                F.lit(j).alias("band"),
                F.shiftright(F.col("simhash"), off)
                .bitwiseAND(F.lit(mask))
                .cast("bigint")
                .alias("val"),
            )
        )
    exploded = sig.select(
        F.col(id_col), F.col("simhash"), F.explode(F.array(*bands)).alias("b")
    ).select(id_col, "simhash", F.col("b.band").alias("band"), F.col("b.val").alias("val"))
    if guarded:
        n_pairs = _candidate_pair_count(exploded, "band", "val")
        if n_pairs > max_candidate_pairs:
            sig.unpersist()
            raise CandidatePairExplosion(
                "simhash_hamming_pairs", n_pairs, max_candidate_pairs,
                "Use minhash_near_duplicates (banded LSH over an "
                "unbounded shingle space), raise bits, or lower "
                "max_hamming (wider bands -> smaller buckets).",
            )
    a = exploded.select(
        F.col(id_col).alias("id_a"), F.col("simhash").alias("sig_a"), "band", "val"
    )
    b = exploded.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("sig_b"), "band", "val"
    )
    cand = (
        a.join(b, ["band", "val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sig_a", "sig_b")
        .distinct()
    )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).cast("int")
    return (
        cand.select("id_a", "id_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


def _band_keys(
    sig_df: DataFrame, num_perm: int, rows_per_band: int, id_col: str
) -> DataFrame:
    """Explode a signature table to its LSH band keys:
    ``(id, band, bucket)`` — the persisted-state twin of the banding
    inside :func:`lsh_candidate_pairs` (same ``_``-joined buckets)."""
    n_bands = num_perm // rows_per_band
    bands = [
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws(
                "_",
                *[F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)],
            ).alias("bucket"),
        )
        for b in range(n_bands)
    ]
    return sig_df.select(F.col(id_col), F.explode(F.array(*bands)).alias("bb")).select(
        id_col, F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )


def _sig_agreement(num_perm: int) -> Column:
    agree = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        for i in range(num_perm)
    )
    return agree.cast("double") / F.lit(float(num_perm))


def build_dedup_state(
    corpus: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 16,
    k: int = 3,
) -> None:
    """Persist the dedup state a production corpus maintains so that a
    daily append batch dedups against it WITHOUT recomputing the old
    side: ``<path>/fingerprints`` (id, 60-bit exact fingerprint) and
    ``<path>/signatures`` (id, mh0..mh{num_perm-1} MinHash signature).
    Both are id-keyed small-per-row tables — at 100 TB they are the
    only state the nightly dedup job reads, a few per-doc longs vs the
    corpus text."""
    fp = portable_hash64(F.col(text_col)).alias("fp")
    corpus.select(F.col(id_col), fp).write.mode("overwrite").parquet(
        f"{path}/fingerprints"
    )
    sh = word_shingles(corpus, text_col, id_col, k)
    minhash_signatures(sh, num_perm, id_col).write.mode("overwrite").parquet(
        f"{path}/signatures"
    )


def incremental_dedup(
    spark,
    new_batch: DataFrame,
    state_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 16,
    rows_per_band: int = 2,
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Append-batch dedup against a landed corpus — the operation a
    production pipeline runs daily: classify each NEW document as
    ``exact_dup`` (fingerprint already present in the corpus state or
    on a smaller-id batch sibling), ``near_dup`` (shares an LSH band
    bucket with a corpus/smaller-id-batch document and the signature
    agreement estimates Jaccard >= ``threshold``), else ``unique`` —
    WITHOUT touching the old corpus text (only its persisted
    fingerprints + signatures, :func:`build_dedup_state`).

    Returns ``(id, status, dup_of, est_jaccard)`` — ``dup_of`` is the
    smallest matching id for exact dups, the best (highest-agreement,
    then smallest-id) candidate for near dups; landed corpus documents
    always win over batch documents (they cannot be un-landed).

    Equivalence contract (pinned by test): the decisions equal a full
    rerun of exact + MinHash dedup over corpus+batch restricted to the
    new ids, because the batch band keys joined against (persisted ∪
    batch) band keys produce exactly the full run's candidate pairs
    that involve a new id.

    Scale shape: the new batch is shingled/hashed once; every join is
    an equi-join on fp or (band, bucket) in which the BATCH side is
    small (a day's append vs the corpus) — AQE broadcasts it, so the
    corpus-state scan never shuffles. Nothing old is recomputed."""
    fps = spark.read.parquet(f"{state_path}/fingerprints")
    sigs = spark.read.parquet(f"{state_path}/signatures")
    return incremental_dedup_frames(
        new_batch, fps, sigs, text_col=text_col, id_col=id_col,
        num_perm=num_perm, rows_per_band=rows_per_band, k=k,
        threshold=threshold,
    )


def incremental_dedup_frames(
    new_batch: DataFrame,
    fps: DataFrame,
    sigs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 16,
    rows_per_band: int = 2,
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """DataFrame-state core of :func:`incremental_dedup` — the decision
    pipeline with the corpus state passed as (fingerprints, signatures)
    frames, however they were produced (persisted parquet in
    production; computed in-plan for oracle verification)."""
    missing = [c for c in (f"mh{i}" for i in range(num_perm))
               if c not in sigs.columns]
    if missing:
        raise ValueError(
            f"signature state lacks columns {missing[:3]}...: it was built "
            f"with fewer permutations than num_perm={num_perm} — rebuild "
            "the state or pass the num_perm it was built with"
        )
    new = spread_small_input(new_batch).select(F.col(id_col), F.col(text_col))

    nfp = tracked_cache(new.select(id_col, portable_hash64(F.col(text_col)).alias("fp")))
    prior_fp = fps.select(F.col(id_col).alias("__prior"), "fp").unionByName(
        nfp.select(F.col(id_col).alias("__prior"), "fp")
    )
    # a batch doc is prior only when its id is smaller; corpus docs are
    # prior regardless — mark batch rows to tell the two cases apart
    batch_ids = nfp.select(F.col(id_col).alias("__prior"))
    exact = (
        nfp.join(prior_fp, "fp")
        .join(
            batch_ids.withColumn("__is_batch", F.lit(1)), "__prior", "left"
        )
        .filter(
            (F.col("__is_batch").isNull()) | (F.col("__prior") < F.col(id_col))
        )
        .groupBy(id_col)
        .agg(F.min("__prior").alias("__exact_of"))
    )

    nsig = tracked_cache(minhash_signatures(
        word_shingles(new, text_col, id_col, k), num_perm, id_col
    ))
    prior_sig = sigs.unionByName(nsig)
    nb = _band_keys(nsig, num_perm, rows_per_band, id_col)
    pb = _band_keys(prior_sig, num_perm, rows_per_band, id_col).select(
        F.col(id_col).alias("__prior"), "band", "bucket"
    )
    cand = (
        nb.join(pb, ["band", "bucket"])
        .join(batch_ids.withColumn("__is_batch", F.lit(1)), "__prior", "left")
        .filter(
            (F.col("__is_batch").isNull()) | (F.col("__prior") < F.col(id_col))
        )
        .select(id_col, "__prior")
        .distinct()
    )
    a = nsig.select(
        F.col(id_col), *[F.col(f"mh{i}").alias(f"a{i}") for i in range(num_perm)]
    )
    b = prior_sig.select(
        F.col(id_col).alias("__prior"),
        *[F.col(f"mh{i}").alias(f"b{i}") for i in range(num_perm)],
    )
    near = (
        cand.join(a, id_col)
        .join(b, "__prior")
        .withColumn("__est", _sig_agreement(num_perm))
        .filter(F.col("__est") >= threshold)
        .groupBy(id_col)
        .agg(
            F.max(
                F.struct(
                    F.col("__est").alias("est"),
                    (-F.col("__prior")).alias("neg_id"),
                )
            ).alias("__b")
        )
        .select(
            id_col,
            F.col("__b.est").alias("__near_est"),
            (-F.col("__b.neg_id")).alias("__near_of"),
        )
    )
    return (
        new.select(id_col)
        .join(exact, id_col, "left")
        .join(near, id_col, "left")
        .select(
            id_col,
            F.when(F.col("__exact_of").isNotNull(), F.lit("exact_dup"))
            .when(F.col("__near_of").isNotNull(), F.lit("near_dup"))
            .otherwise(F.lit("unique"))
            .alias("status"),
            F.coalesce(F.col("__exact_of"), F.col("__near_of")).alias("dup_of"),
            F.when(
                F.col("__exact_of").isNull(), F.col("__near_est")
            ).alias("est_jaccard"),
        )
    )


def substring_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 20,
    keep_first: bool = True,
) -> DataFrame:
    """Exact SUBSTRING deduplication (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): find token runs of
    at least ``min_tokens`` that appear verbatim in MORE THAN ONE
    document and cut them from every occurrence except (optionally)
    the first. Whole-document dedup misses the boilerplate case — the
    same license header / nav bar / quoted passage pasted into millions
    of otherwise-distinct pages — which is exactly what inflates
    memorization.

    Algorithm, suffix-array-free (the shingle machinery already here):
    positional ``min_tokens``-gram hashes per document (map-side
    posexplode); a gram is *shared* when it occurs in >1 distinct
    document (or >1 time in one document); per document, the shared
    positions collapse into maximal runs via gaps-and-islands, and a
    run of R consecutive shared grams marks tokens
    ``[pos, pos+R+min_tokens-1)`` for removal — the union of its grams.
    With ``keep_first`` the globally smallest (id, pos) occurrence of
    each gram is exempted, so one canonical copy of every passage
    survives (the paper's policy).

    Returns ``(id, text, n_tokens, n_removed, cleaned_text)`` — the
    reconstruction keeps unmarked tokens in order (pure array ops, no
    UDF). Scale shape: one corpus shingling, one aggregation keyed on
    the gram hash (map-side combinable), one doc-key window for the
    islands; the heavy join is hash -> (count, first-occurrence) — a
    compacted table, never document x document."""
    from pyspark.sql.window import Window

    k = min_tokens
    src = spread_small_input(df.select(F.col(id_col), F.col(text_col)))
    # ONE token array for both gram positions and reconstruction:
    # whitespace-filtered, so indexes line up exactly
    words = F.filter(F.split(F.col(text_col), "\\s+"), lambda w: F.length(w) > 0)
    base = src.select(
        id_col, text_col, words.alias("__w"), F.size(words).alias("n_tokens")
    )
    idx = F.sequence(F.lit(0), F.greatest(F.size(F.col("__w")) - k, F.lit(0)))
    grams = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.get(F.col("__w"), (i + j).cast("int")) for j in range(k)]
        ),
    )
    pos_g = (
        base.filter(F.col("n_tokens") >= k)
        .select(F.col(id_col), F.posexplode(grams).alias("pos", "g"))
        .filter(F.length("g") > 0)
        .select(id_col, "pos", portable_hash64(F.col("g")).alias("h"))
    )
    stats = pos_g.groupBy("h").agg(
        F.count(F.lit(1)).alias("__n"),
        F.min(F.struct(F.col(id_col).alias("i"), F.col("pos").alias("p"))).alias("__first"),
    )
    marked = (
        pos_g.join(stats.filter(F.col("__n") > 1), "h")
        .filter(
            ~(
                F.lit(keep_first)
                & (F.col("__first.i") == F.col(id_col))
                & (F.col("__first.p") == F.col("pos"))
            )
        )
        .select(id_col, "pos")
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    runs = (
        marked.withColumn("__isl", F.col("pos") - F.row_number().over(w))
        .groupBy(id_col, "__isl")
        .agg(F.min("pos").alias("s"), (F.max("pos") + F.lit(k)).alias("e"))
        .groupBy(id_col)
        .agg(F.collect_list(F.struct("s", "e")).alias("__spans"))
    )
    # cleaned text: keep token t unless some span has s <= t < e
    spans = F.coalesce(F.col("__spans"), F.array())
    keep_tok = lambda t: ~F.exists(  # noqa: E731
        spans, lambda sp: (sp["s"] <= t) & (t < sp["e"])
    )
    kept = F.filter(
        F.transform(
            F.col("__w"), lambda w, i: F.struct(w.alias("w"), i.alias("i"))
        ),
        lambda s: keep_tok(s["i"]),
    )
    # n_removed derives from the kept set (NOT a span-length sum, which
    # would double-count when nearby runs produce overlapping spans)
    out = base.join(runs, id_col, "left").select(
        id_col,
        text_col,
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        (F.col("n_tokens") - F.size(kept)).cast("bigint").alias("n_removed"),
        F.array_join(
            F.transform(kept, lambda s: s["w"]), " "
        ).alias("cleaned_text"),
    )
    return out
