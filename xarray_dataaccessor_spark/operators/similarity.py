"""Similarity search over embedding columns (SURVEY §7.8 extension):
brute-force cosine top-k as the correctness baseline, plus the three
standard ANN scale paths — banded hyperplane LSH, IVF (deterministic
k-means quantizer, sampled training, persisted inverted-list index with
partition-pruned probes), and product quantization (codes-only ADC scan
with exact re-rank) — alongside embedding near-dup detection and int8
embedding compression.

Scale design:

- The query set is dimension-sized -> broadcast; the corpus is the fact
  side and is never collected. Top-k is a per-query window rank, which
  AQE executes after the (broadcast) join — no global sort.
- Dot products use ``zip_with`` + ``aggregate`` (a sequential fold):
  deterministic and bit-identical to DuckDB's ``list_reduce`` fold,
  which keeps the oracle comparison exact. With the embedding width
  known (``dims=``) the LSH plane weights become literal arrays instead
  of per-row generated ones.
- LSH: n deterministic hyperplanes (integer LCG weights, no RNG state),
  sign-bit bucket per vector; candidates = bucket equi-join. Recall/cost
  trades with n_planes exactly like BucketedRandomProjectionLSH.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from xarray_dataaccessor_spark.operators.cachectl import (
    tracked_cache,
    tracked_local_checkpoint as _ckpt,
)

# deterministic hyperplane weights: w(plane, dim) in [-1, 1), integer LCG
# so Spark and any SQL oracle regenerate identical doubles
_LCG_A = 1103515245
_LCG_C = 12345
_LCG_M = 2_000_003


def plane_weight(plane: Column, dim: Column) -> Column:
    # bigint arithmetic: seed*A reaches ~6e11, past int32 (ANSI overflow)
    seed = plane.cast("bigint") * F.lit(64) + dim.cast("bigint")
    return ((seed * F.lit(_LCG_A) + F.lit(_LCG_C)) % F.lit(_LCG_M)).cast(
        "double"
    ) / F.lit(float(_LCG_M)) * F.lit(2.0) - F.lit(1.0)


def dot(a: Column, b: Column, dims: int | None = None) -> Column:
    """Deterministic sequential-fold dot product of two double arrays.

    ``dims`` is accepted for signature symmetry with the LSH operators
    (fixed-width embeddings); the fold itself stays a higher-order
    expression — measured faster end-to-end than the flat per-element
    expansion, whose ~dims*3 expression nodes per call site blow up
    Catalyst analysis/optimization time on the multi-band plans."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def norm(a: Column, dims: int | None = None) -> Column:
    return F.sqrt(dot(a, a, dims))


def cosine(a: Column, b: Column, dims: int | None = None) -> Column:
    return dot(a, b, dims) / (norm(a, dims) * norm(b, dims))


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int | None = None,
) -> DataFrame:
    """Brute-force cosine top-k: broadcast(queries) x corpus, rank per
    query by (cosine desc, id) — the exact baseline every ANN variant is
    measured against."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).cast("array<double>").alias("qe")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).cast("array<double>").alias("ce")
    )
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos", cosine(F.col("qe"), F.col("ce"), dims))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "cos", F.col("rk").cast("int").alias("rk"))
    )


def plane_weight_py(plane: int, dim: int) -> float:
    """Driver-side twin of :func:`plane_weight` — identical integer LCG
    then identical IEEE division, so literal-array planes produce
    bit-identical buckets to the per-row expression (and to the SQL
    oracle, which regenerates the same LCG)."""
    seed = plane * 64 + dim
    return ((seed * _LCG_A + _LCG_C) % _LCG_M) / float(_LCG_M) * 2.0 - 1.0


def _dbl_sql(v: float) -> str:
    """Shortest round-trip SQL double literal: Python ``repr`` emits the
    shortest decimal string that parses back to the same IEEE double, and
    Java's ``Double.parseDouble`` (Spark's literal parser) uses the same
    round-to-nearest — so the JVM sees bit-identical weights."""
    return f"{v!r}D"


def _plane_dot_sql(vec_sql: str, plane: int, dims: int) -> str:
    """SQL text for the sequential-fold dot of ``vec_sql`` with the
    deterministic plane — identical arithmetic to :func:`plane_dot`, but
    one driver-side string instead of ``dims`` py4j ``lit`` calls."""
    arr = ",".join(_dbl_sql(plane_weight_py(plane, d)) for d in range(dims))
    return (
        f"aggregate(zip_with({vec_sql}, array({arr}), (x, w) -> x * w), "
        f"0.0D, (acc, v) -> acc + v)"
    )


def plane_dot(vec: Column | str, plane: int, dims: int | None = None) -> Column:
    """Dot product of ``vec`` with deterministic hyperplane ``plane``
    (sequential fold — stays JVM-side, bit-reproducible). With ``dims``
    known and ``vec`` given as a column NAME (fixed-width embedding
    columns — the normal case) the whole fold is built as ONE ``F.expr``
    string: the literal plane array otherwise costs ``dims`` py4j
    round-trips per plane, which dominates wall time for multi-band
    plans (measured ~2.7 s of driver-side build for a 2x8-plane query).
    Otherwise each row regenerates the weights with higher-order
    expressions, which costs ~3x in interpreted per-element work."""
    if dims is not None and isinstance(vec, str):
        return F.expr(_plane_dot_sql(vec, plane, dims))
    if isinstance(vec, str):
        vec = F.col(vec)
    if dims is not None:
        weights = F.array(*[F.lit(plane_weight_py(plane, d)) for d in range(dims)])
    else:
        weights = F.transform(
            F.sequence(F.lit(0), F.size(vec) - 1),
            lambda i: plane_weight(F.lit(plane), i),
        )
    return F.aggregate(
        F.zip_with(vec, weights, lambda x, w: x * w),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def lsh_bucket(
    vec: Column | str,
    n_planes: int = 8,
    plane_offset: int = 0,
    dims: int | None = None,
) -> Column:
    """Sign-bit bucket id from n deterministic hyperplanes
    (``plane_offset`` selects which planes, so bands draw disjoint
    plane sets). With ``dims`` known and ``vec`` a column name, the
    whole bucket (n_planes folds + sign bits) is ONE ``F.expr`` —
    a single py4j call instead of ~``n_planes * dims``."""
    if dims is not None and isinstance(vec, str):
        terms = " + ".join(
            f"(CASE WHEN {_plane_dot_sql(vec, plane_offset + j, dims)} > 0.0D "
            f"THEN {2 ** j}L ELSE 0L END)"
            for j in range(n_planes)
        )
        return F.expr(f"CAST({terms} AS BIGINT)")
    if isinstance(vec, str):
        vec = F.col(vec)
    bucket = F.lit(0).cast("bigint")
    for j in range(n_planes):
        d = plane_dot(vec, plane_offset + j, dims=dims)
        bucket = bucket + F.when(d > 0, F.lit(2**j).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
    return bucket


def lsh_ann(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int | None = None,
) -> DataFrame:
    """Approximate top-k: candidates share the query's hyperplane bucket
    (equi-join on bucket), then exact cosine rank within the bucket.
    At scale the bucket join replaces the all-pairs product with
    |corpus| / 2^n_planes candidates per query on average. Pass ``dims``
    for fixed-width embeddings so the planes become literal arrays."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qe"),
    ).withColumn("bucket", lsh_bucket("qe", n_planes, dims=dims))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("ce"),
    ).withColumn("bucket", lsh_bucket("ce", n_planes, dims=dims))
    scored = (
        c.join(F.broadcast(q), on="bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos", cosine(F.col("qe"), F.col("ce"), dims))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "bucket", "cos", F.col("rk").cast("int").alias("rk"))
    )


def lsh_ann_banded(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_bands: int = 2,
    planes_per_band: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int | None = None,
) -> DataFrame:
    """Banded multi-probe query ANN — :func:`lsh_ann` with the same
    banding machinery as :func:`embedding_near_duplicates`: candidates
    are corpus vectors sharing ANY band's full signature with the query
    (union of per-band equi-joins, deduped), then exact cosine rank.

    Recall/cost: a single r-plane probe reaches only
    P(all r planes agree) = p^r of the true neighbors (~0.43 at cos
    0.95); b bands of r planes reach 1-(1-p^r)^b at b x the candidate
    budget — and at EQUAL budget (b bands of r+log2(b) planes) banding
    still wins because the probes are independent. The per-band join is
    the same shuffle shape, so the 100 TB plan is unchanged."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qe"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("ce"),
    )

    def bands(df, vcol):
        structs = [
            F.struct(
                F.lit(b).alias("band"),
                lsh_bucket(
                    vcol, planes_per_band, plane_offset=b * planes_per_band,
                    dims=dims,
                ).alias("val"),
            )
            for b in range(n_bands)
        ]
        return df.select("*", F.explode(F.array(*structs)).alias("b")).select(
            *df.columns, F.col("b.band").alias("band"), F.col("b.val").alias("val")
        )

    cand = (
        bands(c, "ce")
        .join(F.broadcast(bands(q, "qe")), on=["band", "val"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", "qe", "ce")
        .distinct()
    )
    scored = cand.withColumn("cos", cosine(F.col("qe"), F.col("ce"), dims))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "cos", F.col("rk").cast("int").alias("rk"))
    )


def lsh_autoparams(
    n: int,
    threshold: float = 0.95,
    target_bucket: int = 64,
    min_planes: int = 8,
    target_recall: float = 0.85,
) -> tuple[int, int]:
    """(n_bands, planes_per_band) that hold BOTH the per-bucket
    population bound and the pair recall as the corpus grows — the
    parameterization rule the r11 full-inventory study demanded: with
    FIXED (4, 8) the per-band self-join is O(n^2 / 256), which measured
    exponent 1.93 from sf1 to sf3 (42 -> 347 s; the one superlinear slot
    left in the inventory).

    Planes: smallest r with expected bucket population n / 2^r <=
    ``target_bucket`` (floor ``min_planes``). Bands: smallest b with
    banded recall 1 - (1 - q^r)^b >= ``target_recall`` at the threshold
    angle (q = 1 - acos(threshold)/pi, the hyperplane agreement
    probability). Each extra plane halves bucket population (cost
    ~n^2/2^r per band) but thins per-band recall q^r, so b grows ~1.4x
    per plane — the net candidate count still drops ~1.4x per plane.
    At the defaults this returns exactly (4, 8) for n <= ~16k, so
    existing fixed-parameter callers (and the oracle slot, verified at
    sf0.01/sf0.1) see bit-identical plans; at 66k vectors (the sf3
    knee) it returns (6, 11): 5.3x fewer candidates, recall 0.85."""
    import math

    q = 1.0 - math.acos(min(max(threshold, -1.0), 1.0)) / math.pi
    p = min_planes
    if n > target_bucket:
        p = max(min_planes, math.ceil(math.log2(n / target_bucket)))
    qb = q ** p
    if qb >= 1.0:
        return 1, p
    b = max(1, math.ceil(math.log(1.0 - target_recall) / math.log(1.0 - qb)))
    return b, p


#: Columns per numpy block of the grouped near-dup kernel: a bucket run
#: of m vectors is scored as m x PAIR_BLOCK_COLS cosine blocks, so the
#: scratch stays O(m * PAIR_BLOCK_COLS) on degenerate buckets.
PAIR_BLOCK_COLS = 1024


def _first_band_pairs_kernel(id_col: str, thr: float, block: int):
    """The ``mapInPandas`` body of the grouped near-dup refine. Input
    rows are ``(id, e, vals, band, val)`` sorted by (band, val, id)
    within the partition; each contiguous (band, val) run is one LSH
    bucket. Emits ``(id_a, id_b, cos)`` with ``cos > thr`` for the pairs
    whose lowest shared band is the run's band."""

    def kernel(batches):
        import numpy as np
        import pandas as pd

        def run_pairs(ids, e, nrm, vals, band, out):
            m = len(ids)
            for j0 in range(1, m, block):
                j1 = min(j0 + block, m)
                # the SQL cosine fold's exact op order, as d matrix steps;
                # rows >= j1 can never be the smaller id of a pair here
                acc = np.zeros((j1, j1 - j0))
                for t in range(e.shape[1]):
                    acc = acc + e[:j1, t, None] * e[None, j0:j1, t]
                cos = acc / (nrm[:j1, None] * nrm[None, j0:j1])
                keep = (cos > thr) & (
                    np.arange(j1)[:, None] < np.arange(j0, j1)[None, :]
                )
                ri, ci = np.nonzero(keep)
                # another run owns a pair that shares an earlier band
                own = ~(vals[ri, :band] == vals[ci + j0, :band]).any(axis=1)
                ri, ci = ri[own], ci[own]
                out.append((ids[ri], ids[ci + j0], cos[ri, ci]))

        def runs(cols, out, final):
            """Score every complete run of ``cols``; return the open last
            run (it may continue in the next batch) unless ``final``."""
            ids, e, nrm, vals, band, val = cols
            cut = np.flatnonzero((band[1:] != band[:-1]) | (val[1:] != val[:-1])) + 1
            starts = np.concatenate(([0], cut))
            ends = np.concatenate((cut, [len(ids)]))
            last = len(starts) if final else len(starts) - 1
            for s, t in zip(starts[:last], ends[:last]):
                if t - s > 1:
                    run_pairs(ids[s:t], e[s:t], nrm[s:t], vals[s:t], int(band[s]), out)
            if final:
                return None
            return tuple(c[starts[-1]:] for c in cols)

        def frame(out):
            return pd.DataFrame({
                "id_a": np.concatenate([a for a, _, _ in out]),
                "id_b": np.concatenate([b for _, b, _ in out]),
                "cos": np.concatenate([c for _, _, c in out]),
            })

        carry = None
        for pdf in batches:
            if pdf.empty:
                continue
            e = np.stack(pdf["e"].to_numpy()).astype(np.float64, copy=False)
            # per-row norm folds, once per batch
            nrm2 = np.zeros(len(e))
            for t in range(e.shape[1]):
                nrm2 = nrm2 + e[:, t] * e[:, t]
            cols = (
                pdf[id_col].to_numpy(), e, np.sqrt(nrm2),
                np.stack(pdf["vals"].to_numpy()),
                pdf["band"].to_numpy(), pdf["val"].to_numpy(),
            )
            if carry is not None:
                cols = tuple(np.concatenate((c, x)) for c, x in zip(carry, cols))
            out = []
            carry = runs(cols, out, final=False)
            if out:
                yield frame(out)
        if carry is not None:
            out = []
            runs(carry, out, final=True)
            if out:
                yield frame(out)

    return kernel


def embedding_near_duplicates(
    df: DataFrame,
    threshold: float = 0.95,
    n_bands: int | str = 4,
    planes_per_band: int | str = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int | None = None,
    n_docs: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup pairs above ``threshold`` via BANDED
    multi-probe hyperplane LSH (the same banding machinery as MinHash
    LSH, ``dedup.py::lsh_candidate_pairs``): ``n_bands`` bands of
    ``planes_per_band`` sign bits each, candidates = pairs sharing at
    least one band's full signature (each pair once), then an
    exact-cosine refine.

    Scale math (vs the old single 8-plane bucket, which was the all-pairs
    problem with a 1/256 constant): per-band bucket population is
    ~n/2^r, so candidate pairs are O(b * n^2 / 2^r) with b=n_bands,
    r=planes_per_band — and the union over bands buys recall instead of
    costing it: P(pair at angle theta shares a band) = 1-(1-p^r)^b with
    p = 1 - theta/pi (~0.90 at cos 0.95), i.e. ~0.89 for b=4, r=8 vs
    ~0.43 for the single 8-plane bucket. Raise r to shrink buckets,
    raise b to recover recall.

    FIXED (b, r) makes the per-band self-join O(n^2 / 2^r) — quadratic
    with a constant, the r11 study's one remaining superlinear slot
    (exponent 1.93 past sf1). Pass ``n_bands="auto"`` /
    ``planes_per_band="auto"`` to derive both from the corpus size via
    :func:`lsh_autoparams` (supply ``n_docs`` if the caller already
    counted — otherwise one count() action fires here).

    Refine: one ``(band, bucket)``-keyed shuffle of the n*b (id, vector)
    rows, sorted within each partition by (band, bucket, id), then ONE
    ``mapInPandas`` kernel per partition walks the contiguous bucket runs
    (a run that crosses an Arrow batch boundary is carried into the next
    batch). The kernel builds the vector matrix once per batch and
    computes each run's pairs as numpy steps replaying the SQL cosine
    fold's exact op order, in blocks of :data:`PAIR_BLOCK_COLS` columns,
    so every cosine is bit-identical to the candidate-pair join the SQL
    oracle replays. Every row carries its full bucket array, and a pair
    is emitted only from the LOWEST band both vectors share — the
    duplicate-free partitioning of "Distributed Similarity Joins over
    Top-K Rankings" (EDBT 2020) — so each pair leaves the kernel exactly
    once and no cross-band dedup shuffle follows. Shuffling candidate
    pairs with both vectors attached and folding each pair's cosine in
    interpreted SQL instead measured 4.5x slower at the sf3 knee (72 s
    vs 16 s)."""
    from xarray_dataaccessor_spark.operators.dedup import spread_small_input

    v = spread_small_input(
        df.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("e"))
    )
    if n_bands == "auto" or planes_per_band == "auto":
        n = n_docs if n_docs is not None else v.count()
        n_bands, planes_per_band = lsh_autoparams(n, threshold)
    # the vector's bucket in every band, band = array position
    vals = F.array(*[
        lsh_bucket(
            "e", planes_per_band, plane_offset=bidx * planes_per_band,
            dims=dims,
        )
        for bidx in range(n_bands)
    ])
    # posexplode_OUTER: the array always holds n_bands buckets, and the
    # inner form makes Catalyst infer a size(vals) > 0 filter that
    # evaluates every plane dot a second time below the shuffle
    rows = (
        v.withColumn("vals", vals)
        .select(id_col, "e", "vals", F.posexplode_outer("vals").alias("band", "val"))
        .repartition("band", "val")
        .sortWithinPartitions("band", "val", id_col)
    )
    id_type = v.schema[id_col].dataType
    pair_schema = T.StructType([
        T.StructField("id_a", id_type), T.StructField("id_b", id_type),
        T.StructField("cos", T.DoubleType()),
    ])
    return rows.mapInPandas(
        _first_band_pairs_kernel(id_col, float(threshold), PAIR_BLOCK_COLS),
        pair_schema,
    )


def l2sq(a: Column, b: Column, dims: int | None = None) -> Column:
    """Deterministic squared L2 distance (sequential fold)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def ivf_assign(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "e",
    centroid_id: str = "centroid_id",
    centroid_vec: str = "ce",
    rank: int = 1,
    dims: int | None = None,
) -> DataFrame:
    """Assign each vector to its ``rank`` nearest centroid(s) by squared
    L2 (ties break on centroid id). The centroid table is dimension-sized
    and broadcast; this is the coarse quantizer of an IVF index."""
    scored = vectors.join(F.broadcast(centroids)).withColumn(
        "__d", l2sq(F.col(vec_col), F.col(centroid_vec), dims)
    )
    if rank == 1:
        # argmin as an aggregation, not a window: min over a
        # (distance, centroid_id, payload) struct is lexicographic, so
        # the tie-break (smaller centroid id) is identical to the window
        # ordering below — but partial aggregation combines map-side,
        # where the window would shuffle and sort all |centroids| scored
        # rows per vector
        best = scored.groupBy(id_col).agg(
            F.min(F.struct("__d", centroid_id, vec_col)).alias("__b")
        )
        return best.select(
            id_col,
            F.col(f"__b.{vec_col}").alias(vec_col),
            F.col(f"__b.{centroid_id}").alias(centroid_id),
            F.lit(1).cast("int").alias("probe_rank"),
        )
    w = Window.partitionBy(id_col).orderBy(F.asc("__d"), F.asc(centroid_id))
    return (
        scored.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= rank)
        .select(id_col, vec_col, centroid_id, F.col("__rk").cast("int").alias("probe_rank"))
    )


def _make_l2sq_dist_tiled():
    # defined NESTED so cloudpickle ships it BY VALUE inside the Arrow
    # assignment closures (a module-qualname function pickles by
    # reference, which breaks library callers whose executors can't
    # import this package — memory: spark-plan-quirks / verify recipe)
    def _l2sq_dist_tiled(E, cm, tile: int = 128):
        """Squared-L2 distance matrix ``dist[i, j]`` replaying the SQL
        ``l2sq`` fold's exact dimension order per element — each (i, j)
        accumulates ``(E[i,t] - cm[j,t])^2`` over ``t`` in order from
        0.0, so every distance is bit-identical to the interpreted fold.

        Tiled over centroid COLUMNS: the flat n x k accumulation
        streams the whole dist matrix through memory once per dimension
        (64 passes x n*k doubles — the memory-traffic term that took
        the SemDeDup assignment quadratic-with-bad-constant at sf10); a
        128-column tile keeps the accumulator cache-resident, same op
        order, ~5x less traffic."""
        import numpy as np

        m, d = E.shape
        kk = cm.shape[0]
        dist = np.empty((m, kk))
        for j0 in range(0, kk, tile):
            j1 = min(j0 + tile, kk)
            acc = np.zeros((m, j1 - j0))
            C = cm[j0:j1]
            for t in range(d):
                diff = E[:, t, None] - C[None, :, t]
                acc += diff * diff
            dist[:, j0:j1] = acc
        return dist

    return _l2sq_dist_tiled


_l2sq_dist_tiled = _make_l2sq_dist_tiled()


def _id_sorted(table: DataFrame) -> tuple:
    """Collect a dimension-sized ``(centroid_id, ce)`` table as
    ``(ids, matrix)`` in ascending id order, so argmin-first over the
    matrix breaks distance ties to the smaller id."""
    import numpy as np

    rows = sorted(table.collect(), key=lambda r: r["centroid_id"])
    return (
        np.asarray([r["centroid_id"] for r in rows]),
        np.asarray([list(map(float, r["ce"])) for r in rows], dtype=np.float64),
    )


def _rank1_assign(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "e",
    groups: tuple[DataFrame, DataFrame] | None = None,
    with_cos: bool = False,
) -> DataFrame:
    """The Arrow rank-1 assignment kernel behind Lloyd, the coarse group
    map, :func:`coarse_rank1_assign` and :func:`semantic_dedup`: collect
    the dimension-sized ``(centroid_id, ce)`` table once and assign in
    one ``mapInPandas`` pass — no per-(vector, centroid) interpreted l2sq
    folds. Output ``(id_col, vec_col, centroid_id)``, plus
    ``cos_centroid`` when ``with_cos``.

    ``groups`` is a ``(coarse, gmap)`` pair from
    :func:`coarse_structure`: each vector is first routed to its nearest
    coarse center, then argmin runs over that group's fine members only.
    Without it every centroid sits in a single group and there is no
    routing step.

    Bit-exact discipline: distances replay the SQL ``l2sq`` fold's
    dimension order (:func:`_l2sq_dist_tiled`) and the cosine replays the
    SQL ``cosine`` fold's per-dimension accumulations; both levels take
    the first minimum over id-sorted matrices, the smaller-id tie-break
    of :func:`ivf_assign`'s min-struct. Assignment is a DISCRETE
    decision, immune to the ~1-ulp centroid-mean difference across
    engines, so the SQL-oracle replay picks identical centroids."""
    import numpy as np

    ids, mat = _id_sorted(centroids)
    if groups is None:
        route = None
        members = [(ids, mat)]
    else:
        coarse, gmap = groups
        g_ids, route = _id_sorted(coarse)
        group_of = {r["centroid_id"]: r["group_id"] for r in gmap.collect()}
        of = np.asarray([group_of[c] for c in ids.tolist()])
        members = [(ids[of == g], mat[of == g]) for g in g_ids.tolist()]
    norms = []
    for _, m_mat in members:
        # accumulated per dimension from 0.0: the SQL norm fold's order
        cn2 = np.zeros(m_mat.shape[0])
        for t in range(m_mat.shape[1]):
            cn2 = cn2 + m_mat[:, t] * m_mat[:, t]
        norms.append(np.sqrt(cn2))
    fields = [
        vectors.schema[id_col],
        T.StructField(vec_col, T.ArrayType(T.DoubleType()), True),
        T.StructField("centroid_id", centroids.schema["centroid_id"].dataType),
    ]
    if with_cos:
        fields.append(T.StructField("cos_centroid", T.DoubleType()))

    def _assign(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            E = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
            if route is None:
                parts = [(slice(None), 0)]
            else:
                gi = _l2sq_dist_tiled(E, route).argmin(axis=1)
                parts = [(gi == g, g) for g in np.unique(gi)]
            cid = np.empty(len(E), dtype=ids.dtype)
            cos = np.empty(len(E))
            for rows, g in parts:
                m_ids, m_mat = members[g]
                sub = E[rows]
                idx = _l2sq_dist_tiled(sub, m_mat).argmin(axis=1)
                cid[rows] = m_ids[idx]
                if with_cos:
                    sel = m_mat[idx]
                    dotv = np.zeros(sub.shape[0])
                    en2 = np.zeros(sub.shape[0])
                    for t in range(sub.shape[1]):
                        dotv = dotv + sub[:, t] * sel[:, t]
                        en2 = en2 + sub[:, t] * sub[:, t]
                    cos[rows] = dotv / (np.sqrt(en2) * norms[g][idx])
            data = {id_col: pdf[id_col], vec_col: pdf[vec_col], "centroid_id": cid}
            if with_cos:
                data["cos_centroid"] = cos
            yield pd.DataFrame(data)

    return vectors.select(id_col, vec_col).mapInPandas(
        _assign, T.StructType(fields)
    )


def training_sample(
    vectors: DataFrame, id_col: str, train_limit: int
) -> DataFrame:
    """Deterministic bounded training sample: the ``train_limit`` rows
    with the smallest ``(portable_hash32(id), id)`` key. A hash-ordered
    top-K is partition-layout independent (the same rows win on any
    cluster), engine-portable (the oracle replays it in SQL), and runs
    as a map-side partial top-K — no full shuffle of the corpus."""
    from xarray_dataaccessor_spark.functions.hashing import portable_hash32

    return vectors.orderBy(
        portable_hash32(F.col(id_col).cast("string")), F.col(id_col)
    ).limit(train_limit)


def kmeans_centroids(
    vectors: DataFrame,
    n_centroids: int = 8,
    n_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "e",
    dims: int | None = None,
    train_limit: int | None = 4096,
) -> DataFrame:
    """Deterministic Lloyd iterations: init = first ``n_centroids``
    vectors by id (reproducible seed), then per iteration (a) rank-1
    assignment (:func:`_rank1_assign`) and (b) element-wise exact
    centroid means (per-(centroid, dim) DECIMAL-sum mean). Decimal sums
    make the means independent of aggregation order, so the centroids —
    and everything downstream — are bit-reproducible across runs and
    engines (the SQL-oracle convention, memory: oracle-exactness).

    ``train_limit`` (the DEFAULT path) bounds Lloyd to a deterministic
    hash-ordered sample (:func:`training_sample`): at 100 TB the two
    shuffles per iteration touch a few thousand rows instead of the
    corpus — Lloyd on the full corpus buys nothing past a representative
    sample. Pass ``train_limit=None`` to train on every vector (the
    exact-replication mode the SQL oracles use at test scale).

    A centroid that captures no vectors drops out of the next iteration
    (standard Lloyd degeneracy; deterministic here).

    Each iteration collects the centroid table (k rows — dimension-sized
    by contract) and assigns in one Arrow pass whose argmin is
    bit-identical to the broadcast-join ``ivf_assign`` loop the SQL
    oracles replay. That join evaluates train_limit x k INTERPRETED l2sq
    folds per iteration, and with rules like SemDeDup's k ∝ N *and*
    train_limit ∝ k the term is quadratic in the corpus (the sf10
    study's Lloyd profile: 45 s of the neardup slot). The price: training
    fires one job per iteration at build time (the collect)."""
    train = vectors
    if train_limit is not None:
        # cache: the sample feeds init + one assignment per iteration,
        # and it is train_limit rows — trivially cacheable
        train = tracked_cache(training_sample(vectors, id_col, train_limit))
    cent = train.orderBy(id_col).limit(n_centroids).select(
        F.col(id_col).alias("centroid_id"), F.col(vec_col).alias("ce")
    )
    for _ in range(n_iters):
        assigned = _rank1_assign(train, cent, id_col=id_col, vec_col=vec_col)
        cent = _centroid_means(assigned, ["centroid_id"], vec_col, dims)
    return cent


def _centroid_means(
    assigned: DataFrame, group_cols: list, vec_col: str, dims: int | None
) -> DataFrame:
    """Element-wise exact centroid means. With ``dims`` known: one
    aggregation with ``dims`` per-dimension DECIMAL-sum expressions —
    partial aggregation combines map-side, so the shuffle carries
    (groups x dims) decimals, NOT the posexploded (rows x dims) stream
    the fallback pays. Identical numbers either way (same decimal sums,
    same counts)."""
    if dims is not None:
        # ONE F.expr for all dims: per-element Column construction costs
        # ~6 py4j round-trips per dimension per iteration, which lands as
        # driver-side plan-build wall time (memory: py4j-literal-cost)
        sums = ", ".join(
            f"CAST(sum(CAST(element_at({vec_col}, {i + 1}) AS DECIMAL(28,14)))"
            f" AS DOUBLE) / count(1)"
            for i in range(dims)
        )
        return assigned.groupBy(*group_cols).agg(
            F.expr(f"array({sums})").alias("ce")
        )
    dim_means = (
        assigned.select(*group_cols, F.posexplode(F.col(vec_col)))
        .groupBy(*group_cols, "pos")
        .agg(
            (
                F.sum(F.col("col").cast("decimal(28,14)")).cast("double")
                / F.count(F.lit(1))
            ).alias("mv")
        )
    )
    return dim_means.groupBy(*group_cols).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "mv"))),
            lambda s: s["mv"],
        ).alias("ce")
    )


def coarse_structure(
    centroids: DataFrame,
    n_groups: int | None = None,
    n_iters: int = 2,
    dims: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Two-level quantizer structure over a fine-centroid table: cluster
    the ``k`` fine centroids into ``n_groups`` (default
    ``max(2, ceil(sqrt(k)))``) coarse groups with the same deterministic
    Lloyd (:func:`kmeans_centroids`, init = first ``g`` by id, trained on
    ALL ``k`` centroids — the centroid table is the sub-linear table
    here, no sampling), then map each fine centroid to its nearest
    coarse center (rank-1, ties to the smaller coarse id).

    Returns ``(coarse, gmap)``:

    - ``coarse``: ``(centroid_id, ce)`` — only the NON-EMPTY coarse
      centers (a Lloyd group that captures no fine centroid carries no
      candidates, so vectors must never route to it);
    - ``gmap``: ``(centroid_id, group_id)`` — fine centroid → coarse
      group.

    This is the scale fix for rank-1 assignment under rules like
    SemDeDup's ``k ∝ N``: the flat quantizer is ``n·k`` distance folds
    (quadratic in the corpus — the measured sf10 exponent-1.91 term,
    SCALE.md round 11); routing through ``~sqrt(k)`` coarse groups costs
    ``n·(g + k/g) ≈ 2·n·sqrt(k)`` — ``O(N^1.5)`` total — at the price of
    occasionally assigning a boundary vector to its second-nearest fine
    centroid (the standard IVF probes=1 trade; SemDeDup's own 100M-doc
    runs cluster with exactly this kind of approximate quantizer)."""
    import math

    k = centroids.count()
    g = n_groups if n_groups is not None else max(2, math.ceil(math.sqrt(k)))
    cfine = centroids.select(
        F.col("centroid_id").alias("vec_id"), F.col("ce").alias("e")
    )
    coarse = kmeans_centroids(
        cfine, n_centroids=g, n_iters=n_iters, id_col="vec_id",
        vec_col="e", dims=dims, train_limit=None,
    )
    gmap = _rank1_assign(cfine, coarse).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("centroid_id").alias("group_id"),
    )
    nonempty = coarse.join(
        gmap.select(F.col("group_id").alias("centroid_id")).distinct(),
        "centroid_id", "left_semi",
    )
    return nonempty, gmap


def coarse_rank1_assign(
    vectors: DataFrame,
    centroids: DataFrame,
    coarse: DataFrame,
    gmap: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "e",
    dims: int | None = None,
    with_cos: bool = False,
) -> DataFrame:
    """Two-level rank-1 assignment: route each vector to its nearest
    coarse center (over the non-empty groups of :func:`coarse_structure`),
    then argmin over that group's fine members only. Output
    ``(id_col, vec_col, centroid_id)`` (+ ``cos_centroid`` when
    ``with_cos``). Every distance replays the SQL ``l2sq`` fold and both
    levels break ties to the smaller id (:func:`_rank1_assign`), so the
    SQL-oracle replay picks identical centroids. ``dims`` is accepted
    for signature symmetry with the other quantizer operators."""
    return _rank1_assign(
        vectors, centroids, id_col=id_col, vec_col=vec_col,
        groups=(coarse, gmap), with_cos=with_cos,
    )


def pq_codebooks(
    vectors: DataFrame,
    m_subspaces: int = 4,
    n_codes: int = 16,
    n_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "e",
    dims: int | None = None,
    train_limit: int | None = 4096,
) -> DataFrame:
    """Product-quantization codebooks: split each ``dims``-wide vector
    into ``m_subspaces`` contiguous sub-vectors and train an independent
    ``n_codes``-entry k-means codebook per subspace (Jégou et al.,
    "Product Quantization for Nearest Neighbor Search", TPAMI 2011).

    All subspaces train TOGETHER in one grouped Lloyd loop: sub-vectors
    are exploded to ``(id, m, sv)`` rows and every step is grouped by
    ``m`` — per iteration one broadcast-join assignment and one
    per-(m, code, dim) DECIMAL-mean regroup, exactly the
    :func:`kmeans_centroids` discipline, so codebooks are
    bit-reproducible. Init = first ``n_codes`` sub-vectors by id per
    subspace. Returns ``(m, code_id, ce)`` with ``code_id`` in
    ``[0, n_codes)``.

    Scale: codebooks are (m * n_codes) rows — broadcast-sized, and
    ``train_limit`` (the default) bounds Lloyd to a deterministic
    hash-ordered sample (:func:`training_sample`) like any real PQ
    build; ``train_limit=None`` trains on every vector (the oracle's
    exact-replication mode)."""
    if dims is None or dims % m_subspaces != 0:
        raise ValueError(
            f"dims ({dims}) must be known and divisible by m_subspaces "
            f"({m_subspaces})"
        )
    if train_limit is not None:
        vectors = tracked_cache(training_sample(vectors, id_col, train_limit))
    sub = dims // m_subspaces
    subv = vectors.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(m).alias("m"),
                        F.slice(F.col(vec_col), m * sub + 1, sub).alias("sv"),
                    )
                    for m in range(m_subspaces)
                ]
            )
        ).alias("b"),
    ).select(id_col, F.col("b.m").alias("m"), F.col("b.sv").alias("sv"))

    w_init = Window.partitionBy("m").orderBy(id_col)
    cent = (
        subv.withColumn("__rk", F.row_number().over(w_init))
        .filter(F.col("__rk") <= n_codes)
        .select(
            "m", (F.col("__rk") - 1).cast("int").alias("code_id"), F.col("sv").alias("ce")
        )
    )
    for _ in range(n_iters):
        # argmin as a min-struct aggregation (the ivf_assign discipline):
        # partial aggregation combines map-side where a window would
        # shuffle and sort all |codes| scored rows per (m, vector)
        assigned = (
            subv.join(F.broadcast(cent), "m")
            .withColumn("__d", l2sq(F.col("sv"), F.col("ce"), sub))
            .groupBy("m", id_col)
            .agg(F.min(F.struct("__d", "code_id", "sv")).alias("__b"))
            .select(
                "m",
                F.col("__b.code_id").alias("code_id"),
                F.col("__b.sv").alias("sv"),
            )
        )
        cent = _centroid_means(assigned, ["m", "code_id"], "sv", sub)
    return cent


def pq_encode(
    vectors: DataFrame,
    codebooks: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "e",
    dims: int | None = None,
    *,
    m_subspaces: int,
) -> DataFrame:
    """Encode each vector as ``m_subspaces`` one-byte-ish code ids: the
    nearest codebook entry per subspace. Output is EXPLODED —
    ``(id, m, code_id)`` — which is the join-ready inverted form of the
    code array (the ADC scan consumes it directly; ``m_subspaces * 8``
    bytes per vector in long form, vs ``dims * 8`` for the raw
    embedding). ``m_subspaces`` must match the codebook's ``m`` count —
    the caller always knows it (it parameterized ``pq_codebooks``), and
    requiring it keeps this a pure plan builder: no Spark job fires
    before the encode plan exists."""
    if dims is None or dims % m_subspaces != 0:
        raise ValueError("dims must be known and divisible by the codebook's m")
    sub = dims // m_subspaces
    subv = vectors.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(m).alias("m"),
                        F.slice(F.col(vec_col), m * sub + 1, sub).alias("sv"),
                    )
                    for m in range(m_subspaces)
                ]
            )
        ).alias("b"),
    ).select(id_col, F.col("b.m").alias("m"), F.col("b.sv").alias("sv"))
    # min-struct argmin: map-side combinable, no per-(m, vector) window
    # sort shuffle (same tie-break — smaller code_id — as the ordered
    # window it replaces)
    return (
        subv.join(F.broadcast(codebooks), "m")
        .withColumn("__d", l2sq(F.col("sv"), F.col("ce"), sub))
        .groupBy("m", id_col)
        .agg(F.min(F.struct("__d", "code_id")).alias("__b"))
        .select(id_col, "m", F.col("__b.code_id").alias("code_id"))
    )


def _normalize_arrow(
    df: DataFrame, id_name: str, vec_name: str, dims: int
) -> DataFrame:
    """Arrow-exact unit normalization: replays
    ``F.transform(v, x -> x / sqrt(aggregate(zip_with(v, v, *), 0.0, +)))``
    as dimension-ordered numpy column accumulations — the same IEEE add
    order as the SQL left fold, so every output double is bit-identical
    to the interpreted-transform path (pinned by
    test_pq_ann_grouped_equals_join_exactly). Why it exists: Catalyst
    evaluates the aggregate INSIDE the transform lambda once PER
    ELEMENT (no CSE across higher-order lambdas, and higher-order
    functions never enter codegen), so the SQL normalization is
    O(dims^2) interpreted ops per row — the r11 sf3 profile's top term
    for the PQ slot."""
    import numpy as np

    schema = T.StructType([
        df.schema[id_name],
        T.StructField(vec_name, T.ArrayType(T.DoubleType()), True),
    ])

    def _norm(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            E = np.asarray(pdf[vec_name].tolist(), dtype=np.float64)
            n2 = np.zeros(len(pdf))
            for t in range(E.shape[1]):
                n2 = n2 + E[:, t] * E[:, t]
            out = E / np.sqrt(n2)[:, None]
            yield pd.DataFrame({id_name: pdf[id_name], vec_name: list(out)})

    return df.mapInPandas(_norm, schema)


def _pq_encode_arrow(
    vectors: DataFrame,
    codebooks: DataFrame,
    id_col: str,
    vec_col: str,
    dims: int,
    m_subspaces: int,
) -> DataFrame:
    """Arrow-exact :func:`pq_encode`: collect the (m * n_codes)-row
    codebook once (broadcast-sized by construction) and assign codes in
    one ``mapInPandas`` pass — n corpus rows in, n * m code rows out,
    with NO per-(row, code) interpreted l2sq folds. Distances replay the
    SQL fold's dimension order ((x-y)^2 accumulated in order), and the
    struct-min tie-break (smaller code_id on equal distance) becomes
    argmin-first over the code_id-sorted matrix — bit-identical codes,
    pinned by the grouped-equals-join test."""
    import numpy as np

    sub = dims // m_subspaces
    rows = codebooks.collect()
    mats: list[tuple[np.ndarray, np.ndarray]] = []
    for m in range(m_subspaces):
        rs = sorted(
            (r for r in rows if r["m"] == m), key=lambda r: r["code_id"]
        )
        mats.append((
            np.asarray([list(map(float, r["ce"])) for r in rs]),
            np.asarray([r["code_id"] for r in rs], dtype=np.int32),
        ))
    schema = T.StructType([
        vectors.schema[id_col],
        T.StructField("m", T.IntegerType(), False),
        T.StructField("code_id", T.IntegerType(), True),
    ])

    def _enc(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            E = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
            n = len(pdf)
            ids, ms, codes = [], [], []
            for m, (cm, cid) in enumerate(mats):
                S = E[:, m * sub:(m + 1) * sub]
                dist = np.zeros((n, cm.shape[0]))
                for t in range(sub):
                    diff = S[:, t, None] - cm[None, :, t]
                    dist = dist + diff * diff
                idx = dist.argmin(axis=1)  # first min = smallest code_id
                ids.append(pdf[id_col])
                ms.append(np.full(n, m, dtype=np.int32))
                codes.append(cid[idx])
            yield pd.DataFrame({
                id_col: pd.concat(ids, ignore_index=True),
                "m": np.concatenate(ms),
                "code_id": np.concatenate(codes),
            })

    return vectors.mapInPandas(_enc, schema)


def pq_ann(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    m_subspaces: int = 8,
    n_codes: int = 16,
    n_iters: int = 3,
    refine: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int | None = None,
    train_limit: int | None = 4096,
) -> DataFrame:
    """Product-quantization ANN with asymmetric distance computation and
    exact re-rank — the third ANN strategy beside :func:`lsh_ann_banded`
    (hash buckets) and :func:`ivf_ann` (inverted lists).

    Vectors are unit-normalized first, so squared-L2 ordering equals
    cosine ordering (|a-b|^2 = 2 - 2cos on the unit sphere) and the final
    output is comparable to :func:`cosine_topk`. Pipeline:

    1. train codebooks on the normalized corpus (:func:`pq_codebooks`);
    2. encode the corpus to ``(id, m, code_id)`` rows (:func:`pq_encode`)
       — the PQ "index": m short codes per vector instead of the raw
       embedding;
    3. ADC: per query, the distance from its sub-vector to every codebook
       entry forms a broadcast-sized LUT (m * n_codes rows per query);
       the scan is codes ⋈ LUT on ``(m, code_id)`` + a sum per
       (query, vector) — the corpus side touches only CODES, never raw
       embeddings (the memory-bandwidth win that makes PQ the 100 TB
       scan shape);
    4. top ``refine * k`` by approximate distance, then exact-cosine
       re-rank of that short list (raw embeddings join back for
       candidates only) to the final ``k``.

    Tuning: recall is bought with ``m_subspaces`` (narrower subspaces →
    less quantization distortion; 16x4-dim reaches 0.96 recall@5 on the
    random bench corpus where 4x16-dim sits near 0.5), then ``refine``
    depth, then ``n_codes``/``n_iters``. Random unit vectors are the
    distance-concentration worst case — clustered real embeddings do
    better at equal cost.

    The two corpus-sized stages, normalization and code assignment, run
    as Arrow-batched numpy passes that replay the SQL folds' exact op
    order (:func:`_normalize_arrow` / :func:`_pq_encode_arrow`), so the
    result is bit-identical to the pure-DataFrame pipeline the oracle
    replays in SQL. The r11 sf3 profile showed the interpreted
    transform-normalization (O(dims^2) per row, no CSE inside
    higher-order lambdas) and the per-(row, code) interpreted l2sq folds
    dominating the slot. Codebook TRAINING stays in DataFrame ops
    (decimal means on the ``train_limit`` sample — bounded, and the
    cross-engine-verified core)."""
    qn = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qe"),
    ).withColumn("qe", F.transform("qe", lambda x: x / norm(F.col("qe"), dims)))
    cn0 = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("ce"),
    )
    cn = _normalize_arrow(cn0, "neighbor_id", "ce", dims)

    books = tracked_cache(pq_codebooks(
        cn,
        m_subspaces=m_subspaces,
        n_codes=n_codes,
        n_iters=n_iters,
        id_col="neighbor_id",
        vec_col="ce",
        dims=dims,
        train_limit=train_limit,
    ))
    codes = _pq_encode_arrow(
        cn, books, id_col="neighbor_id", vec_col="ce", dims=dims,
        m_subspaces=m_subspaces,
    )

    sub = dims // m_subspaces
    q_sub = qn.select(
        "query_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(m).alias("m"),
                        F.slice(F.col("qe"), m * sub + 1, sub).alias("qsv"),
                    )
                    for m in range(m_subspaces)
                ]
            )
        ).alias("b"),
    ).select("query_id", F.col("b.m").alias("m"), F.col("b.qsv").alias("qsv"))
    lut = q_sub.join(F.broadcast(books), "m").select(
        "query_id", "m", "code_id", l2sq(F.col("qsv"), F.col("ce"), sub).alias("d")
    )
    adist = (
        codes.join(F.broadcast(lut), ["m", "code_id"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .groupBy("query_id", "neighbor_id")
        # DECIMAL sum: m per-subspace distances add in nondeterministic
        # shuffle order — decimal makes the ADC score (and therefore the
        # shortlist cut) reproducible across runs and engines
        .agg(F.sum(F.col("d").cast("decimal(28,14)")).cast("double").alias("adist"))
    )
    w_a = Window.partitionBy("query_id").orderBy(F.asc("adist"), F.asc("neighbor_id"))
    # the shortlist feeds TWO consumers below (the candidate-id semi-join
    # and the re-rank join) — lazy-checkpoint it so the whole ADC
    # pipeline (normalize + encode + LUT join + decimal aggregate +
    # window) materializes once; it is refine*k rows per query.
    short = (
        adist.withColumn("__rk", F.row_number().over(w_a))
        .filter(F.col("__rk") <= refine * k)
        .select("query_id", "neighbor_id")
    ).transform(_ckpt)
    # the exact re-rank touches only the shortlist — normalize JUST the
    # candidate vectors instead of re-running the corpus-wide
    # normalization pass a third time (training sample + encode already
    # pay it). Per-row normalization is deterministic, so restricting
    # the row set is bit-identical; at 100 TB the re-rank side shrinks
    # from a corpus scan to refine*k rows per query (guide §8: heavy
    # bytes move once the shortlist is known).
    cand_ids = short.select("neighbor_id").distinct()
    cand_n = _normalize_arrow(
        cn0.join(cand_ids, "neighbor_id"), "neighbor_id", "ce", dims
    )
    rescored = (
        short.join(cand_n, "neighbor_id")
        .join(F.broadcast(qn), "query_id")
        .withColumn("cos", dot(F.col("qe"), F.col("ce"), dims))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        rescored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "cos", F.col("rk").cast("int").alias("rk"))
    )


def ivf_ann(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_centroids: int = 8,
    n_probe: int = 2,
    n_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int | None = None,
    train_limit: int | None = 4096,
) -> DataFrame:
    """IVF-style approximate nearest neighbors: a deterministic k-means
    coarse quantizer (:func:`kmeans_centroids` — Lloyd iterations seeded
    with the first ``n_centroids`` vectors by id) partitions the corpus
    into inverted lists; each query probes its ``n_probe`` nearest lists
    and ranks candidates by exact cosine. On clustered corpora the
    k-means lists are balanced where the old first-N-by-id quantizer
    skewed (VERDICT r2 #4/#6).

    Scale path: the corpus is shuffled ONCE on centroid_id (in a real
    deployment: partitioned/bucketed by it at ingest), each query touches
    n_probe/n_centroids of the data, and the centroid table is broadcast.
    """
    vecs = corpus.select(
        id_col, F.col(vec_col).cast("array<double>").alias("e")
    )
    cent = tracked_cache(kmeans_centroids(
        vecs, n_centroids, n_iters, id_col=id_col, dims=dims,
        train_limit=train_limit,
    ))
    c_assigned = ivf_assign(
        vecs,
        cent,
        rank=1,
        dims=dims,
    ).select(
        F.col(id_col).alias("neighbor_id"), F.col("e").alias("nbr"), "centroid_id"
    )
    q_assigned = ivf_assign(
        queries.select(id_col, F.col(vec_col).cast("array<double>").alias("e")),
        cent,
        rank=n_probe,
        dims=dims,
    ).select(F.col(id_col).alias("query_id"), F.col("e").alias("qe"), "centroid_id")
    scored = (
        c_assigned.join(F.broadcast(q_assigned), on="centroid_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos", cosine(F.col("qe"), F.col("nbr"), dims))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "cos", F.col("rk").cast("int").alias("rk"))
    )


def quantize_embeddings_int8(
    df: DataFrame,
    vec_col: str = "embedding",
    out_col: str = "q",
) -> DataFrame:
    """Symmetric per-vector int8 quantization: ``q[i] = round(v[i]/s)``
    with ``s = max|v| / 127`` stored beside the codes. 4x smaller than
    float32 (8x vs the double arrays Spark surfaces) — at 100 TB the
    embedding column is usually the widest thing in the table, and ANN
    candidate generation only needs ~2 significant digits; re-rank joins
    the raw vectors back for the short list (same discipline as
    :func:`pq_ann`). Pure built-ins, stays in codegen."""
    v = F.col(vec_col).cast("array<double>")
    scale = F.array_max(F.transform(v, lambda x: F.abs(x))) / F.lit(127.0)
    safe = F.when(scale > 0, scale).otherwise(F.lit(1.0))
    q = F.transform(v, lambda x: F.round(x / safe).cast("tinyint"))
    return df.withColumns({out_col: q, f"{out_col}_scale": safe})


def int8_cosine(
    qa: Column,
    sa: Column,
    qb: Column,
    sb: Column,
) -> Column:
    """Cosine from int8 codes + scales: integer dot products folded in
    bigint (exact — 64 * 127^2 is far inside int64), scaled back at the
    end. ``cos = (sa*sb*dot_q) / (sa*sqrt(qq_a) * sb*sqrt(qq_b))`` —
    the scales cancel in cosine but are kept for the general dot case."""
    dq = F.aggregate(
        F.zip_with(qa, qb, lambda x, y: x.cast("bigint") * y.cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    na = F.aggregate(
        F.zip_with(qa, qa, lambda x, y: x.cast("bigint") * y.cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    nb = F.aggregate(
        F.zip_with(qb, qb, lambda x, y: x.cast("bigint") * y.cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    return dq.cast("double") / (
        F.sqrt(na.cast("double")) * F.sqrt(nb.cast("double"))
    )


def build_ivf_index(
    corpus: DataFrame,
    path: str,
    n_centroids: int = 64,
    n_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int | None = None,
    train_limit: int | None = 4096,
) -> None:
    """Persist an IVF index: the deployment shape of :func:`ivf_ann`,
    which trains and probes in one plan (right for tests and one-off
    queries, wasteful when the same corpus serves many query batches).

    Writes ``<path>/centroids`` (the broadcast-sized quantizer) and
    ``<path>/lists`` — the corpus PARTITIONED BY ``centroid_id``, i.e.
    the inverted lists as physical parquet partitions. Probing then
    reads only the probed lists: the query join on ``centroid_id``
    triggers Spark's dynamic partition pruning, so a 100 TB corpus
    serves a query batch by scanning n_probe/n_centroids of its files.
    """
    vecs = corpus.select(
        id_col, F.col(vec_col).cast("array<double>").alias("e")
    )
    cent = tracked_cache(kmeans_centroids(
        vecs, n_centroids, n_iters, id_col=id_col, dims=dims,
        train_limit=train_limit,
    ))
    cent.write.mode("overwrite").parquet(f"{path}/centroids")
    assigned = ivf_assign(vecs, F.broadcast(cent), id_col=id_col, rank=1, dims=dims)
    assigned.select(id_col, "e", "centroid_id").write.mode(
        "overwrite"
    ).partitionBy("centroid_id").parquet(f"{path}/lists")
    # both consumers are completed write actions — release the build's
    # cached quantizer (its train sample goes at the next release)
    cent.unpersist()


def query_ivf_index(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int | None = None,
) -> DataFrame:
    """Probe a persisted IVF index (:func:`build_ivf_index`): assign each
    query to its ``n_probe`` nearest centroids (broadcast quantizer),
    join the inverted-list table on ``centroid_id`` — dynamic partition
    pruning keeps unprobed lists unread — and rank candidates by exact
    cosine. Same output contract as :func:`ivf_ann`:
    ``(query_id, neighbor_id, cos, rk)``."""
    cent = spark.read.parquet(f"{path}/centroids")
    q_assigned = ivf_assign(
        queries.select(id_col, F.col(vec_col).cast("array<double>").alias("e")),
        F.broadcast(cent),
        id_col=id_col,
        rank=n_probe,
        dims=dims,
    ).select(F.col(id_col).alias("query_id"), F.col("e").alias("qe"), "centroid_id")
    lists = spark.read.parquet(f"{path}/lists").select(
        F.col(id_col).alias("neighbor_id"), F.col("e").alias("nbr"), "centroid_id"
    )
    scored = (
        lists.join(F.broadcast(q_assigned), "centroid_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos", cosine(F.col("qe"), F.col("nbr"), dims))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "cos", F.col("rk").cast("int").alias("rk"))
    )


def build_ivfpq_index(
    corpus: DataFrame,
    path: str,
    n_centroids: int = 64,
    m_subspaces: int = 8,
    n_codes: int = 16,
    n_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int | None = None,
    train_limit: int | None = 4096,
    by_residual: bool = False,
) -> None:
    """Persist an IVF-PQ index — the composed 100 TB ANN serving layout:
    the coarse quantizer prunes WHICH FILES are read (inverted lists as
    parquet partitions, probed via dynamic partition pruning) and PQ
    codes shrink WHAT is read (m short codes per vector instead of the
    raw embedding on the scan path). FAISS calls this IVFADC; here both
    halves are the already-tested pieces (:func:`build_ivf_index`'s
    layout + :func:`pq_ann`'s codebooks/ADC) composed at rest.

    ``by_residual=False`` trains global codebooks on the unit-normalized
    vectors, so codes are exactly :func:`pq_ann`'s and full-probe
    results are bit-identical to it. ``by_residual=True`` is the FAISS
    default flavor: codebooks are trained on (vector - its centroid)
    RESIDUALS, which concentrate near zero, so the same code budget
    quantizes finer; the query side then builds one ADC lookup table
    per (query, probed centroid).

    Layout under ``path``:

    - ``centroids``  (centroid_id, ce) — broadcast-sized quantizer
    - ``codebooks``  (m, code_id, ce) — PQ codebooks (global or
      residual per ``by_residual``)
    - ``lists``      (vec_id, m, code_id) partitioned by centroid_id —
      the codes-only ADC scan table
    - ``vectors``    (vec_id, e) partitioned by centroid_id — raw
      normalized embeddings, read only for the short-list re-rank (the
      candidate rows carry their centroid_id, so this scan prunes to
      the probed partitions too)
    - ``meta.json``  the build parameters the prober needs
    """
    import json
    import os

    if dims is None or dims % m_subspaces != 0:
        raise ValueError("dims must be known and divisible by m_subspaces")
    cn = corpus.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("e"),
    ).withColumn("e", F.transform("e", lambda x: x / norm(F.col("e"), dims)))
    cent = tracked_cache(kmeans_centroids(
        cn, n_centroids, n_iters, id_col="vec_id", vec_col="e", dims=dims,
        train_limit=train_limit,
    ))
    cent.write.mode("overwrite").parquet(f"{path}/centroids")
    assigned = ivf_assign(cn, F.broadcast(cent), id_col="vec_id", rank=1,
                          dims=dims).select("vec_id", "e", "centroid_id")
    assigned = tracked_cache(assigned)  # one assignment feeds training + writes
    if by_residual:
        enc_input = assigned.join(
            F.broadcast(cent), "centroid_id"
        ).select(
            "vec_id",
            "centroid_id",
            F.zip_with(F.col("e"), F.col("ce"), lambda a, b: a - b).alias("e"),
        )
    else:
        enc_input = assigned
    books = tracked_cache(pq_codebooks(
        enc_input, m_subspaces=m_subspaces, n_codes=n_codes, n_iters=n_iters,
        id_col="vec_id", vec_col="e", dims=dims, train_limit=train_limit,
    ))
    books.write.mode("overwrite").parquet(f"{path}/codebooks")
    assigned.select("vec_id", "e", "centroid_id").write.mode(
        "overwrite"
    ).partitionBy("centroid_id").parquet(f"{path}/vectors")
    codes = pq_encode(
        enc_input, books, id_col="vec_id", vec_col="e", dims=dims,
        m_subspaces=m_subspaces,
    ).join(assigned.select("vec_id", "centroid_id"), "vec_id")
    codes.write.mode("overwrite").partitionBy("centroid_id").parquet(
        f"{path}/lists"
    )
    # all consumers are completed write actions — release the build's
    # cached frames (their train samples go at the next release)
    assigned.unpersist()
    cent.unpersist()
    books.unpersist()
    os.makedirs(path, exist_ok=True)
    # Record the on-disk schemas so the prober can plan with ZERO Spark
    # jobs (no parquet footer-inference reads at plan-build time).
    part = T.StructField("centroid_id", T.IntegerType())
    schemas = {
        "centroids": cent.schema.json(),
        "codebooks": books.schema.json(),
        "lists": T.StructType(
            [f for f in codes.schema.fields if f.name != "centroid_id"]
            + [part]
        ).json(),
        "vectors": T.StructType(
            [
                f
                for f in assigned.select("vec_id", "e").schema.fields
            ]
            + [part]
        ).json(),
    }
    with open(os.path.join(path, "meta.json"), "w") as fh:
        json.dump({"by_residual": by_residual, "m_subspaces": m_subspaces,
                   "n_centroids": n_centroids, "n_codes": n_codes,
                   "dims": dims, "schemas": schemas}, fh)


def _open_ivfpq_index(spark, path: str, m_subspaces: int | None):
    """Open a persisted IVF-PQ index (:func:`build_ivfpq_index`) without
    firing a Spark job. Returns ``(meta, m_subspaces, read_table)``:
    ``meta`` is the parsed ``meta.json`` (``{}`` when absent),
    ``m_subspaces`` the caller's value or the recorded one, and
    ``read_table(name)`` reads one of the index tables under its
    recorded schema, so no footer-inference job fires either."""
    import json
    import os

    meta_path = os.path.join(path, "meta.json")
    meta = {}
    if os.path.exists(meta_path):
        with open(meta_path) as fh:
            meta = json.load(fh)
    if m_subspaces is None and "m_subspaces" in meta:
        m_subspaces = int(meta["m_subspaces"])
    if m_subspaces is None:
        # build_ivfpq_index always writes meta.json; a missing value here
        # means the path is not a composed index — fail fast BEFORE any
        # table read (a schema-less read would fire footer-inference
        # jobs just to discover the path is wrong).
        raise ValueError(
            f"{meta_path} missing or lacks m_subspaces; pass m_subspaces= "
            "explicitly for indexes built outside build_ivfpq_index"
        )
    schemas = meta.get("schemas", {})

    def read_table(name: str) -> DataFrame:
        reader = spark.read
        if name in schemas:
            reader = reader.schema(T.StructType.fromJson(json.loads(schemas[name])))
        return reader.parquet(f"{path}/{name}")

    return meta, m_subspaces, read_table


def query_ivfpq_index(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 2,
    refine: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int | None = None,
    m_subspaces: int | None = None,
) -> DataFrame:
    """Probe a persisted IVF-PQ index (:func:`build_ivfpq_index`):
    coarse-assign each query to ``n_probe`` lists (broadcast quantizer),
    ADC-scan ONLY those lists' codes (dynamic partition pruning keeps
    unprobed partitions unread; the scan touches codes, never raw
    embeddings), take the ``refine * k`` shortest by approximate
    distance, then exact-cosine re-rank the short list against the
    (equally partition-pruned) raw vectors. Output contract matches
    :func:`pq_ann` / :func:`ivf_ann`: ``(query_id, neighbor_id, cos,
    rk)``; for a non-residual index with ``n_probe = n_centroids`` the
    result is bit-identical to :func:`pq_ann` on the same training
    parameters. Residual indexes (``by_residual=True`` at build) build
    one ADC lookup table per (query, probed centroid) from the
    centered query ``q - c``; the LUT stays broadcast-sized
    (queries x n_probe x m x n_codes)."""
    meta, m_subspaces, read_table = _open_ivfpq_index(spark, path, m_subspaces)
    by_residual = bool(meta.get("by_residual", False))
    if dims is None or dims % m_subspaces != 0:
        raise ValueError("dims must be known and divisible by m_subspaces")

    cent = read_table("centroids")
    books = read_table("codebooks")
    sub = dims // m_subspaces
    qn = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qe"),
    ).withColumn("qe", F.transform("qe", lambda x: x / norm(F.col("qe"), dims)))
    q_probe = ivf_assign(
        qn, F.broadcast(cent), id_col="query_id", vec_col="qe",
        rank=n_probe, dims=dims,
    ).select("query_id", "qe", "centroid_id")

    def subspaces(vec_col_name: str):
        return F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(m).alias("m"),
                        F.slice(F.col(vec_col_name), m * sub + 1, sub).alias("qsv"),
                    )
                    for m in range(m_subspaces)
                ]
            )
        )

    lists = read_table("lists")
    if by_residual:
        # centered query per probed centroid -> LUT keyed by centroid too
        q_res = q_probe.join(F.broadcast(cent), "centroid_id").select(
            "query_id",
            "centroid_id",
            F.zip_with(F.col("qe"), F.col("ce"), lambda a, b: a - b).alias("qr"),
        )
        q_sub = q_res.select(
            "query_id", "centroid_id", subspaces("qr").alias("b")
        ).select(
            "query_id", "centroid_id",
            F.col("b.m").alias("m"), F.col("b.qsv").alias("qsv"),
        )
        lut = q_sub.join(F.broadcast(books), "m").select(
            "query_id", "centroid_id", "m", "code_id",
            l2sq(F.col("qsv"), F.col("ce"), sub).alias("d"),
        )
        adist = (
            lists.join(
                F.broadcast(q_probe.select("query_id", "centroid_id")),
                "centroid_id",
            )
            .filter(F.col("query_id") != F.col("vec_id"))
            .join(F.broadcast(lut), ["query_id", "centroid_id", "m", "code_id"])
            .groupBy("query_id", F.col("vec_id").alias("neighbor_id"),
                     "centroid_id")
            .agg(F.sum(F.col("d").cast("decimal(28,14)")).cast("double").alias("adist"))
        )
    else:
        q_sub = qn.select("query_id", subspaces("qe").alias("b")).select(
            "query_id", F.col("b.m").alias("m"), F.col("b.qsv").alias("qsv")
        )
        lut = q_sub.join(F.broadcast(books), "m").select(
            "query_id", "m", "code_id",
            l2sq(F.col("qsv"), F.col("ce"), sub).alias("d"),
        )
        # probed codes: the centroid_id equi-join against the broadcast
        # probe table is what DPP turns into a partition filter on `lists`
        adist = (
            lists.join(
                F.broadcast(q_probe.select("query_id", "centroid_id")),
                "centroid_id",
            )
            .filter(F.col("query_id") != F.col("vec_id"))
            .join(F.broadcast(lut), ["query_id", "m", "code_id"])
            .groupBy("query_id", F.col("vec_id").alias("neighbor_id"),
                     "centroid_id")
            # DECIMAL sum: reproducible ADC scores across shuffle orders
            .agg(F.sum(F.col("d").cast("decimal(28,14)")).cast("double").alias("adist"))
        )
    w_a = Window.partitionBy("query_id").orderBy(F.asc("adist"), F.asc("neighbor_id"))
    short = (
        adist.withColumn("__rk", F.row_number().over(w_a))
        .filter(F.col("__rk") <= refine * k)
        .select("query_id", "neighbor_id", "centroid_id")
    )
    vectors = read_table("vectors")
    rescored = (
        short.join(
            vectors.select(F.col("vec_id").alias("neighbor_id"), "e", "centroid_id"),
            ["neighbor_id", "centroid_id"],
        )
        .join(F.broadcast(qn), "query_id")
        .withColumn("cos", dot(F.col("qe"), F.col("e"), dims))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        rescored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "cos", F.col("rk").cast("int").alias("rk"))
    )


def append_to_ivf_index(
    spark,
    path: str,
    new_vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int | None = None,
) -> None:
    """Incrementally maintain a persisted IVF index
    (:func:`build_ivf_index`): assign the new batch to the FROZEN
    centroids (broadcast quantizer, one map-side pass over the batch)
    and APPEND the rows to their inverted-list partitions. Parquet
    dynamic-partition append only writes files into the partitions the
    batch actually touches — existing list files are never read or
    rewritten, so the nightly ingest cost is O(batch), not O(index).

    Freezing the quantizer keeps every existing vector's list stable
    (no re-assignment, no rewrite); the price is drift — if the data
    distribution moves, lists skew and probe recall decays. Monitor
    with :func:`ivf_index_drift` and retrain (full
    :func:`build_ivf_index`) when the imbalance factor crosses ~2-3x.
    """
    cent = spark.read.parquet(f"{path}/centroids")
    vecs = new_vectors.select(
        id_col, F.col(vec_col).cast("array<double>").alias("e")
    )
    assigned = ivf_assign(
        vecs, F.broadcast(cent), id_col=id_col, rank=1, dims=dims
    )
    assigned.select(id_col, "e", "centroid_id").write.mode(
        "append"
    ).partitionBy("centroid_id").parquet(f"{path}/lists")


def append_to_ivfpq_index(
    spark,
    path: str,
    new_vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incrementally maintain a persisted IVF-PQ index
    (:func:`build_ivfpq_index`): normalize the batch, coarse-assign to
    the FROZEN centroids, PQ-encode with the FROZEN codebooks (residual
    or global per the index's recorded flavor), and append both the
    codes (``lists``) and the raw normalized vectors (``vectors``) to
    their touched partitions only. All build parameters come from the
    index's ``meta.json`` — the caller supplies just the batch.

    With centroids AND codebooks frozen, the appended rows' codes are
    exactly what a full rebuild under the same (frozen) model would
    produce, so probe results after append match a frozen-model rebuild
    bit-for-bit (parity-tested). Drift monitoring:
    :func:`ivf_index_drift` on the same path."""
    meta, m_subspaces, read_table = _open_ivfpq_index(spark, path, None)
    dims = int(meta["dims"])
    by_residual = bool(meta.get("by_residual", False))

    cent = read_table("centroids")
    books = read_table("codebooks")
    cn = new_vectors.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("e"),
    ).withColumn("e", F.transform("e", lambda x: x / norm(F.col("e"), dims)))
    assigned = ivf_assign(
        cn, F.broadcast(cent), id_col="vec_id", rank=1, dims=dims
    ).select("vec_id", "e", "centroid_id")
    # batch-sized cache: one assignment feeds the vectors write AND the
    # encode join (the batch is small relative to the index by
    # definition of incremental maintenance)
    assigned = tracked_cache(assigned)
    if by_residual:
        enc_input = assigned.join(F.broadcast(cent), "centroid_id").select(
            "vec_id",
            "centroid_id",
            F.zip_with(F.col("e"), F.col("ce"), lambda a, b: a - b).alias("e"),
        )
    else:
        enc_input = assigned
    assigned.select("vec_id", "e", "centroid_id").write.mode(
        "append"
    ).partitionBy("centroid_id").parquet(f"{path}/vectors")
    codes = pq_encode(
        enc_input, books, id_col="vec_id", vec_col="e", dims=dims,
        m_subspaces=m_subspaces,
    ).join(assigned.select("vec_id", "centroid_id"), "vec_id")
    codes.write.mode("append").partitionBy("centroid_id").parquet(
        f"{path}/lists"
    )
    assigned.unpersist()


def ivf_index_drift(spark, path: str, id_col: str = "vec_id") -> dict:
    """List-skew drift signal for retrain scheduling over a persisted
    IVF or IVF-PQ index: per-list row counts reduced to

    - ``n_vectors`` / ``n_lists`` — index size and populated lists
    - ``imbalance_factor`` — ``n_lists * max_list / n_vectors`` (1.0 =
      perfectly balanced; FAISS's own imbalance metric). Appends under
      frozen centroids only ever push this up as the distribution
      drifts; a value of ~2-3x means the hottest probe scans 2-3x its
      fair share and the quantizer should be retrained.
    - ``top_list_frac`` — fraction of all vectors in the largest list
    - ``mean_list`` / ``max_list`` — raw sizes

    Cost: the scan projects only the id column of the ``lists`` table,
    so no vector/code columns are materialized; the per-list counts are
    centroid-sized (the one collect is dimension-sized by the repo's
    standing rule)."""
    lists = spark.read.parquet(f"{path}/lists")
    if "m" in lists.columns:
        # IVF-PQ lists are exploded per subspace (vec_id, m, code_id):
        # count each vector once via its m=0 row instead of m_subspaces
        # times (and instead of a heavier count-distinct shuffle)
        lists = lists.filter(F.col("m") == 0)
    per = (
        lists.select(id_col, "centroid_id")
        .groupBy("centroid_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    sizes = sorted((int(r["n"]) for r in per), reverse=True)
    total = sum(sizes)
    n_lists = len(sizes)
    return {
        "n_vectors": total,
        "n_lists": n_lists,
        "max_list": sizes[0] if sizes else 0,
        "mean_list": (total / n_lists) if n_lists else 0.0,
        "imbalance_factor": (n_lists * sizes[0] / total) if total else 0.0,
        "top_list_frac": (sizes[0] / total) if total else 0.0,
    }


def semantic_dedup(
    vectors: DataFrame,
    threshold: float = 0.95,
    n_clusters: int = 8,
    n_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int | None = None,
    train_limit: int | None = 4096,
    assign: str = "exact",
    n_groups: int | None = None,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    at web-scale through semantic deduplication", arXiv:2303.09540):
    partition the embedding space with the deterministic Lloyd quantizer
    (:func:`kmeans_centroids`), then inside each cluster drop every
    vector that is within ``threshold`` cosine of a higher-priority
    cluster-mate. Priority follows the paper's keep-the-outlier rule:
    cosine-to-centroid ASCENDING (the member farthest from the cluster
    center survives its duplicate group), ties toward the smaller id.
    One pass — a vector is dropped when ANY earlier-priority mate is
    within ``threshold``, whether or not that mate is itself kept (the
    paper's pairwise-threshold matrix, not transitive chaining).

    Returns ``(id_col, cluster_id, cos_centroid, kept, witness_cos)`` —
    one row per input vector, ``kept`` boolean, ``witness_cos`` the
    strongest duplicate evidence (max cosine to a higher-priority
    cluster-mate; NULL for kept rows).

    Scale: the rank-1 assignment is one map-side Arrow pass against the
    collected centroid table (:func:`_rank1_assign`), and the only
    corpus-sized shuffle is the per-cluster window/refine, keyed on
    ``cluster_id``. The within-cluster refine is quadratic in cluster
    population, so
    ``n_clusters`` must scale with the corpus (the paper uses ~11k
    clusters for 100M+ docs; at 100 TB pick n_clusters ~= N /
    desired_cluster_size and the per-cluster work stays bounded).
    Lloyd itself trains on the ``train_limit`` hash-ordered sample —
    two shuffles over a few thousand rows regardless of corpus size.

    The quadratic refine runs as one Arrow-batched numpy pass per
    cluster (``applyInPandas``) whose accumulations replay the SQL
    aggregate's exact left-fold order, so every witness cosine is
    bit-identical to the within-cluster self-join the oracle replays in
    SQL. The cluster-keyed shuffle carries n rows of (vector, prio), not
    candidate-pair rows of DUPLICATED vectors (the r11 sf1 profile: the
    pair join shuffled ~3.6 GB at 23k vectors and dominated the slot at
    30 s).

    ``assign`` selects the rank-1 quantizer: ``"exact"`` scores every
    (vector, centroid) pair — ``n·k`` distance folds, quadratic in the
    corpus under the SemDeDup rule ``k ∝ N`` (the measured sf10
    exponent-1.91 term) — while ``"coarse"`` routes through a
    :func:`coarse_structure` two-level quantizer (``n_groups`` groups,
    default ``ceil(sqrt(k))``) for ``O(n·sqrt(k))`` total work; a
    boundary vector may land on its second-nearest fine centroid (the
    IVF probes=1 trade — the paper's own web-scale runs cluster
    approximately). Both paths are deterministic and SQL-replayable.
    ``centroids`` lets a caller share a pre-trained centroid table
    across variants (skips Lloyd; caller owns its cache lifecycle)."""
    import numpy as np

    if assign not in ("exact", "coarse"):
        raise ValueError(f"assign must be 'exact' or 'coarse': {assign!r}")
    v = vectors.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("e")
    )
    owns_cent = centroids is None
    if owns_cent:
        cent = kmeans_centroids(
            v, n_centroids=n_clusters, n_iters=n_iters, id_col=id_col,
            vec_col="e", dims=dims, train_limit=train_limit,
        )
    else:
        cent = centroids
    if assign == "coarse":
        # the structure build collects cent several times (coarse Lloyd
        # iterations + gmap + member matrices), so pin it when we own it;
        # nothing in the returned plan references cent afterwards — every
        # matrix lives in the mapInPandas closure
        cent_pin = tracked_cache(cent) if owns_cent else cent
        groups = coarse_structure(cent_pin, n_groups=n_groups, dims=dims)
        assigned = _rank1_assign(
            v, cent_pin, id_col=id_col, groups=groups, with_cos=True
        )
        if owns_cent:
            cent_pin.unpersist()
    else:
        assigned = _rank1_assign(v, cent, id_col=id_col, with_cos=True)
    # priority orders on the QUANTIZED centrality (4 decimals): cosine
    # is scale-invariant, so a vector and its scalar multiple have
    # mathematically equal cos_centroid but ~1-ulp float difference —
    # and the centroid itself differs by ~1 ulp across engines (decimal
    # cast double-rounding), so a raw-float order would flip exactly on
    # the near-duplicate pairs this operator exists to resolve. At 1e-4
    # granularity equal-centrality members tie and fall to the id
    # tie-break, identically in every engine.
    w = Window.partitionBy("cluster_id").orderBy(
        F.asc(F.round(F.col("cos_centroid"), 4)), F.asc(id_col)
    )
    rk = assigned.withColumnRenamed("centroid_id", "cluster_id").withColumn(
        "prio", F.row_number().over(w)
    )
    # witness_cos (the strongest duplicate evidence) is a fold over
    # ORIGINAL vectors, so it is bit-identical across engines;
    # cos_centroid is NOT emitted to callers that need oracle-exact
    # output — the decimal-mean centroid's double differs by ~1 ulp
    # between engines (double->decimal cast rounding), which is fine for
    # every DISCRETE decision (assignment, priority order) but not for a
    # hashed float column.
    schema = T.StructType([
        *rk.select(id_col, "cluster_id", "cos_centroid").schema.fields,
        T.StructField("kept", T.BooleanType()),
        T.StructField("witness_cos", T.DoubleType()),
    ])
    thr = float(threshold)
    idc = id_col

    def _witness(pdf):
        import pandas as pd

        pdf = pdf.sort_values("prio", kind="mergesort").reset_index(
            drop=True)
        m = len(pdf)
        wit = np.full(m, np.nan)
        if m > 1:
            E = np.asarray(pdf["e"].tolist(), dtype=np.float64)
            d = E.shape[1]
            # sequential left-fold norms/dots, replaying the SQL
            # aggregate's exact IEEE op order per pair: each
            # element's accumulation is acc + x*y in dimension
            # order, so every cosine is bit-identical to the SQL
            # self-join's. The fold runs as d matrix ops over column
            # blocks (not per-pair python loops — measured 16x
            # slower at 300-member clusters) with block width
            # capped so scratch stays ~O(m * 512) doubles even on
            # a pathologically skewed cluster.
            nrm2 = np.zeros(m)
            for k in range(d):
                nrm2 = nrm2 + E[:, k] * E[:, k]
            nrm = np.sqrt(nrm2)
            bs = 512
            for j0 in range(1, m, bs):
                j1 = min(j0 + bs, m)
                acc = np.zeros((m, j1 - j0))
                for k in range(d):
                    acc = acc + E[:, k, None] * E[None, j0:j1, k]
                cos = acc / (nrm[:, None] * nrm[None, j0:j1])
                # strict upper triangle: witness candidates are
                # higher-priority rows i < column j only
                rows = np.arange(m)[:, None]
                cols = np.arange(j0, j1)[None, :]
                ok = (cos >= thr) & (rows < cols)
                hit = ok.any(axis=0)
                if hit.any():
                    masked = np.where(ok, cos, -np.inf)
                    wit[j0:j1][hit] = masked.max(axis=0)[hit]
        keep = np.isnan(wit)
        return pd.DataFrame({
            idc: pdf[idc],
            "cluster_id": pdf["cluster_id"],
            "cos_centroid": pdf["cos_centroid"],
            "kept": keep,
            # object column: None (not NaN) for kept rows -> SQL NULL
            "witness_cos": [
                None if keep[i] else float(wit[i]) for i in range(m)
            ],
        })

    return rk.groupBy("cluster_id").applyInPandas(_witness, schema)


# ---------------------------------------------------------------------------
# PCA over embedding columns (compaction / whitening for curation)
# ---------------------------------------------------------------------------
def pca_model(
    df,
    n_components: int = 8,
    dims: int | None = None,
    vec_col: str = "embedding",
):
    """Fit PCA over an embedding column: returns ``(mean, components,
    explained_var)`` as plain Python lists (components row-wise,
    eigenvalue-descending, each sign-normalized so its
    largest-magnitude coordinate is positive — determinism across
    eigensolver sign flips).

    Distribution shape (the `tokenize.py` discipline — heavy reduction
    in the cluster, dimension-sized math on the driver): one
    ``mapInPandas`` pass emits a PARTIAL (sum, gram, count) per
    PARTITION — the generator accumulates across its Arrow batches in
    float64 and yields exactly one row of dims + dims² floats — and the
    driver sums the n_partitions partials and runs the dims x dims
    eigendecomposition (64² = a 4 KB matrix; the same vocabulary-sized
    driver work as BPE merge learning). The corpus is scanned once,
    nothing corpus-sized ever reaches the driver: the collect is
    n_partitions x (dims + dims²) doubles regardless of batch count. Batch-content float accumulation makes the low bits
    layout-dependent (inherent to any parallel float PCA) — parity
    with a single-node numpy PCA is ~1e-9 relative."""
    import numpy as np

    if dims is None:
        raise ValueError("dims must be known for pca_model")
    schema = "s array<double>, g array<double>, n bigint"

    def partial(batches):
        import numpy as _np

        d = None
        s = g = None
        n = 0
        for pdf in batches:
            x = _np.asarray(
                [list(v) for v in pdf[vec_col]], dtype=_np.float64
            )
            if x.size == 0:
                continue
            if s is None:
                d = x.shape[1]
                s = _np.zeros(d)
                g = _np.zeros((d, d))
            s += x.sum(axis=0)
            g += x.T @ x
            n += x.shape[0]
        if n:
            import pandas as _pd

            yield _pd.DataFrame(
                {"s": [s.tolist()], "g": [g.ravel().tolist()], "n": [n]}
            )

    parts = df.select(
        F.col(vec_col).cast("array<double>").alias(vec_col)
    ).mapInPandas(partial, schema).collect()
    if not parts:
        raise ValueError("pca_model: empty input")
    s = np.zeros(dims)
    g = np.zeros((dims, dims))
    n = 0
    for r in sorted(parts, key=lambda r: (r["n"], r["s"][0])):
        s += np.asarray(r["s"])
        g += np.asarray(r["g"]).reshape(dims, dims)
        n += r["n"]
    mu = s / n
    cov = (g - n * np.outer(mu, mu)) / max(n - 1, 1)
    vals, vecs = np.linalg.eigh(cov)
    order = np.argsort(vals)[::-1][:n_components]
    comps = []
    for idx in order:
        v = vecs[:, idx]
        j = int(np.abs(v).argmax())
        comps.append((v if v[j] >= 0 else -v).tolist())
    return mu.tolist(), comps, [float(vals[i]) for i in order]


def pca_project(
    df,
    model,
    vec_col: str = "embedding",
    out_col: str = "pca",
    whiten: bool = False,
) -> DataFrame:
    """Project embeddings onto a fitted :func:`pca_model`:
    ``out[k] = dot(x - mean, component_k)`` (optionally divided by
    sqrt(eigenvalue) for whitening) — pure whole-stage-codegen folds,
    one per component, with the mean/components inlined as single SQL
    literal arrays (memory: py4j-literal-cost). Map-side only; composes
    with the cosine/ANN stack for reduced-dimension candidate
    generation."""
    mu, comps, vals = model
    dims = len(mu)
    mu_sql = "array(" + ",".join(f"{m!r}D" for m in mu) + ")"
    outs = []
    for k, comp in enumerate(comps):
        c_sql = "array(" + ",".join(f"{c!r}D" for c in comp) + ")"
        scale = f" / {float(vals[k]) ** 0.5!r}D" if whiten else ""
        outs.append(
            f"aggregate(zip_with(zip_with({vec_col}, {mu_sql}, "
            f"(a, b) -> a - b), {c_sql}, (d, c) -> d * c), "
            f"0.0D, (acc, t) -> acc + t){scale}"
        )
    return df.withColumn(
        out_col,
        F.expr("array(" + ",".join(outs) + ")"),
    )


def pca_exact_power(
    df: DataFrame,
    dims: int,
    vec_col: str = "embedding",
    iters: int = 40,
):
    """Oracle-replayable PCA fit: exact decimal second moments + a
    deterministic fixed-iteration power-method top component.

    :func:`pca_model` is the throughput fit (per-partition float64
    partials — the low bits are layout-dependent, numpy parity ~1e-9).
    This variant trades a constant factor for EXACT cross-engine
    determinism, the property a verification oracle needs:

    - **moments**: every pairwise product ``x_i * x_j`` (upper
      triangle) and every coordinate is quantized to millionths
      (``round(x * 1e6)`` — the same deterministic double-rounding in
      both engines) and accumulated as BIGINT — exact and
      aggregation-order independent, so the distributed part (the only
      part that touches the corpus) replays bit-for-bit in SQL, and the
      integer sums aggregate ~3x faster than decimals. Overflow
      headroom: |products| <= 1e6, so long sums hold ~9e12 rows per
      (i, j) group — ~20x past a 100 TB embedding corpus; switch the
      accumulator to DECIMAL beyond that. One map-side explode of
      d(d+3)/2 terms per row, one d²/2-group aggregation with map-side
      partial combine: at 100 TB the shuffle is ``n_partitions x
      d(d+3)/2`` integer partials, nothing corpus-sized.
    - **eigensolve**: covariance assembles from the exact moments with
      a pinned expression order, then ``iters`` rounds of power
      iteration run in pure driver Python with left-to-right folds
      seeded at 0.0 — the exact fold shape a SQL ``list_reduce(
      list_prepend(0.0, ...))`` replays, so the component vector, its
      Rayleigh eigenvalue and every per-row projection are
      bit-identical doubles across engines (only +,*,/,sqrt — all
      IEEE-deterministic; no libm transcendentals anywhere).

    Returns ``(n, moments, mu, comp, lam)``: ``moments`` maps
    ``(i, j)`` (j = -1 for coordinate sums) to exact integer
    millionth-sums;
    ``mu`` / ``comp`` are Python float lists, ``comp`` sign-normalized
    so its largest-|coordinate| (first index on ties) is positive."""
    import math

    terms = (
        f"concat("
        f"flatten(transform(sequence(0, {dims - 1}), i -> "
        f"transform(sequence(i, {dims - 1}), j -> named_struct("
        f"'i', i, 'j', j, "
        f"'p', CAST(round(__e[i] * __e[j] * 1000000.0) AS BIGINT))))), "
        f"transform(sequence(0, {dims - 1}), i -> named_struct("
        f"'i', i, 'j', -1, "
        f"'p', CAST(round(__e[i] * 1000000.0) AS BIGINT))))"
    )
    # the d(d+3)/2-per-row explode multiplies work ~2000x, so spread the
    # input rows across the executors BEFORE it — a single-row-group
    # parquet source otherwise serializes the whole decimal aggregation
    # into one task (observed 6.7 s -> 0.6 s at sf0.1 on local[32])
    par = df.sparkSession.sparkContext.defaultParallelism
    rows = (
        df.select(F.col(vec_col).cast("array<double>").alias("__e"))
        .repartition(par)
        .select(F.explode(F.expr(terms)).alias("t"))
        .select("t.i", "t.j", "t.p")
        .groupBy("i", "j")
        .agg(F.sum("p").alias("g"), F.count(F.lit(1)).alias("c"))
        .collect()
    )
    if not rows:
        raise ValueError("pca_exact_power: empty input")
    moments = {(r["i"], r["j"]): r["g"] for r in rows}
    n = int(rows[0]["c"])

    def fold(ts):
        acc = 0.0
        for t in ts:
            acc = acc + t
        return acc

    def matvec(m, vec):
        # left-to-right fold per row — the exact order the oracle's
        # list_reduce(list_prepend(0.0, ...)) replays
        out = []
        for row in m:
            acc = 0.0
            for a, b in zip(row, vec):
                acc = acc + a * b
            out.append(acc)
        return out

    mu = [float(moments[(i, -1)]) / 1000000.0 / n for i in range(dims)]
    cov = [[0.0] * dims for _ in range(dims)]
    for i in range(dims):
        for j in range(i, dims):
            v = (float(moments[(i, j)]) / 1000000.0
                 - n * mu[i] * mu[j]) / (n - 1)
            cov[i][j] = v
            cov[j][i] = v
    v = [1.0] * dims
    for _ in range(iters):
        w = matvec(cov, v)
        acc = 0.0
        for x in w:
            acc = acc + x * x
        nrm = math.sqrt(acc)
        v = [x / nrm for x in w]
    w = matvec(cov, v)
    lam = fold([v[k] * w[k] for k in range(dims)])
    absv = [abs(x) for x in v]
    mx = absv[0]
    for t in absv[1:]:
        mx = t if t > mx else mx
    s = -1.0 if v[absv.index(mx)] < 0 else 1.0
    comp = [x * s for x in v]
    return n, moments, mu, comp, lam
