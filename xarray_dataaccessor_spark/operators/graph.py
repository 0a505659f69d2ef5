"""Connected components over duplicate-pair graphs — the last step of a
real dedup pipeline (SURVEY §7.8 extension): near-dup detectors emit
PAIRS (minhash/simhash/jaccard/embedding ops in ``dedup.py`` /
``similarity.py``); resolving which documents to KEEP requires grouping
the pairs into duplicate clusters and electing one canonical document
per cluster.

Algorithm: alternating large-star / small-star contraction (Kiveris et
al., "Connected Components in MapReduce and Beyond", SoCC 2014 — the
standard MapReduce-era formulation), expressed as pure DataFrame ops:

- ``large_star``: every node connects its strictly-larger neighbors to
  the minimum of its neighborhood (including itself).
- ``small_star``: every node connects its smaller-or-equal neighbors to
  the minimum of its neighborhood.

Each round is two groupBy-join passes (two shuffles, keyed on node id);
the edge set converges to a star forest in O(log^2 n) rounds — at 100 TB
this beats min-label propagation, whose round count is the graph
DIAMETER (adversarial duplicate chains make that O(n)). Lineage is
truncated every round with ``localCheckpoint`` (a real cluster job would
use a reliable checkpoint dir); convergence is detected by an
(edge-count, xxhash64-sum) signature — two tiny actions per round, never
a driver-side edge collect.

Determinism: the fixpoint labels each node with the MINIMUM id in its
component — unique regardless of partitioning, iteration order, or
engine, so results compare bit-exactly against a recursive-CTE SQL
oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from xarray_dataaccessor_spark.operators.cachectl import (
    tracked_local_checkpoint as _ckpt,
)


def _symmetrize(edges: DataFrame, src: str, dst: str) -> DataFrame:
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).filter(
        F.col("u") != F.col("v")
    )
    return e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))


def large_star(edges: DataFrame) -> DataFrame:
    """One large-star round over a symmetric edge set ``(u, v)``: emit
    ``(v, min(N(u) + {u}))`` for every neighbor ``v > u``."""
    nbr_min = edges.groupBy("u").agg(F.min("v").alias("__mn"))
    return (
        edges.join(nbr_min, "u")
        .filter(F.col("v") > F.col("u"))
        .select(
            F.col("v").alias("u"),
            F.least(F.col("u"), F.col("__mn")).alias("v"),
        )
        .distinct()
    )


def small_star(edges: DataFrame) -> DataFrame:
    """One small-star round: orient each edge toward the larger endpoint,
    then connect every smaller neighbor (and the center) to the minimum
    neighbor."""
    directed = edges.filter(F.col("v") < F.col("u"))
    nbr_min = directed.groupBy("u").agg(F.min("v").alias("__mn"))
    moved = (
        directed.join(nbr_min, "u")
        .filter(F.col("v") != F.col("__mn"))
        .select(F.col("v").alias("u"), F.col("__mn").alias("v"))
    )
    center = nbr_min.select("u", F.col("__mn").alias("v"))
    return moved.union(center).distinct()


def _endgame_cc(edges: DataFrame) -> DataFrame:
    """Finish a SMALL edge set with a single-partition union-find.

    Iterative star contraction shrinks the edge set geometrically, so on
    any input the fixpoint is reached through an endgame of tiny rounds
    whose cost is pure job/shuffle overhead — on a 1000-executor cluster
    just as much as on local[32]. Once the measured edge count is below
    ``SMALL_EDGE_THRESHOLD`` the remaining work fits one task: repartition
    to a single partition and run path-compressed union-find there
    (executor-side — never a driver collect). Emits ``(node, component)``
    with component = min id, identical to the star-round fixpoint.
    """

    def part(batches):
        import pandas as pd

        parent: dict = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:
                parent[x], x = root, parent[x]
            return root

        for pdf in batches:
            for u, v in zip(pdf["u"], pdf["v"]):
                if u not in parent:
                    parent[u] = u
                if v not in parent:
                    parent[v] = v
                ru, rv = find(u), find(v)
                if ru != rv:
                    # union by min: the smaller id becomes the root, so
                    # the final root IS the component minimum
                    if rv < ru:
                        ru, rv = rv, ru
                    parent[rv] = ru
        if parent:
            nodes = list(parent)
            yield pd.DataFrame(
                {"node": nodes, "component": [find(n) for n in nodes]}
            )

    # schema follows the edge column type so string / arbitrary orderable
    # ids work the same as through the pure star-round path
    dt = edges.schema["u"].dataType.simpleString()
    return edges.repartition(1).mapInPandas(part, f"node {dt}, component {dt}")


#: Below this many (deduplicated, symmetric) edges the union-find endgame
#: replaces star rounds. 1<<21 edges is ~32 MB of longs — trivially within
#: one task's memory, far above the contracted edge sets real dedup graphs
#: produce after a round or two.
SMALL_EDGE_THRESHOLD = 1 << 21


def _signature(edges: DataFrame) -> tuple[int, int]:
    row = edges.agg(
        F.count(F.lit(1)).alias("n"),
        # bit_xor: order-independent and overflow-free under ANSI mode
        # (a SUM of xxhash64 values overflows long)
        F.coalesce(F.bit_xor(F.xxhash64("u", "v")), F.lit(0)).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iters: int = 25,
    small_edge_threshold: int | None = SMALL_EDGE_THRESHOLD,
) -> DataFrame:
    """Label every node of the (undirected) pair graph with the MINIMUM
    node id in its connected component.

    Returns ``(node, component)`` with one row per distinct node that
    appears in ``edges`` (roots label themselves). ``max_iters`` bounds
    the alternating-star rounds (O(log^2 n) needed; 25 covers any
    realistic graph) — hitting the bound raises rather than returning a
    partially-contracted labeling.

    Hybrid endgame: each round's signature already measures the edge
    count; once it is at or below ``small_edge_threshold`` the remaining
    contraction runs as a single-task union-find (:func:`_endgame_cc`)
    instead of paying whole-cluster job overhead for tiny rounds. When
    the endgame fires before any star round, its input is the full
    symmetric edge set, which names every node, so its labels are the
    whole answer and no node set or roots anti-join is built. Pass
    ``small_edge_threshold=None`` to force pure star rounds.
    """
    sym = _symmetrize(edges, src, dst)
    # lazy checkpoint: the signature aggregate materializes it in the
    # same job (eager=True would spend a separate job per round)
    e = sym.distinct().transform(_ckpt)
    prev_sig = _signature(e)
    # derive the node set from the CHECKPOINTED edges — reading it off
    # `sym` would re-run the whole upstream pair pipeline a second time
    nodes = e.select("u").distinct()
    if prev_sig[0] == 0:
        return nodes.select(
            F.col("u").alias("node"), F.col("u").alias("component")
        )
    for rounds in range(max_iters):
        if (
            small_edge_threshold is not None
            and prev_sig[0] <= small_edge_threshold
        ):
            # lazy-checkpoint the endgame labels: callers fan out further
            # (sizes window, join per variant) and each reference would
            # re-run the single-task union-find plus its repartition(1)
            # exchange (plan-shaped cost, the data is tiny). One
            # materialization, every consumer reads blocks.
            labels = _endgame_cc(e).transform(_ckpt)
            if rounds == 0:
                return labels
            # nodes the contracted edge set no longer mentions are roots
            roots = nodes.join(
                labels.select(F.col("node").alias("u")), "u", "left_anti"
            ).select(F.col("u").alias("node"), F.col("u").alias("component"))
            return labels.union(roots)
        # large_star expects a symmetric view; its output (and
        # small_star's) is directed toward the minimum, so re-symmetrize
        # on entry to each round.
        both = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        e = small_star(large_star(both)).transform(_ckpt)
        sig = _signature(e)
        if sig == prev_sig:
            break
        prev_sig = sig
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} rounds"
        )
    # star forest: every non-root u appears exactly once as (u -> root)
    labels = e.select(F.col("u").alias("node"), F.col("v").alias("component"))
    roots = nodes.join(
        e.select("u"), nodes["u"] == e["u"], "left_anti"
    ).select(F.col("u").alias("node"), F.col("u").alias("component"))
    return labels.union(roots)


def duplicate_clusters(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iters: int = 25,
) -> DataFrame:
    """Resolve near-duplicate PAIRS into duplicate clusters: one row per
    clustered document with its cluster id (the minimum doc id in the
    component), the cluster size, and whether this document is the
    canonical keeper (``doc_id == cluster_id`` — the standard
    keep-the-smallest-id policy, deterministic). The size is a window
    count over the component partition: one shuffle, no aggregate
    re-joined to the labels."""
    from pyspark.sql.window import Window

    comp = connected_components(pairs, src=src, dst=dst, max_iters=max_iters)
    return comp.select(
        F.col("node").alias("doc_id"),
        F.col("component").alias("cluster_id"),
        F.count(F.lit(1)).over(Window.partitionBy("component")).alias("cluster_size"),
        (F.col("node") == F.col("component")).alias("is_canonical"),
    )


def pagerank(
    edges: DataFrame,
    n_iters: int = 3,
    damping: float = 0.85,
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Fixed-iteration PageRank over the undirected pair graph:
    ``(node, pr)`` after ``n_iters`` power iterations from the uniform
    start, damping ``d``:

        pr'(v) = (1 - d)/n + d * sum over neighbors u of pr(u)/deg(u)

    Built as one lazy plan (the ``kmeans_centroids`` / ``train_logreg``
    nested-iteration discipline: each iteration is a rank join + a
    node-keyed aggregation; per-iteration ranks are node-sized and
    cached so the plan stays linear in iterations). Symmetrized edges
    mean no dangling nodes, so no teleport-mass correction is needed.

    Engine-portability ([[oracle-exactness]]): ranks are 6-decimal
    doubles at every iteration boundary; each neighbor contribution is
    ``round(pr/deg, 9)`` (a deterministic double division) cast to
    DECIMAL(28,14) before the sum, so shuffle order cannot flip a bit
    and fixed-iteration runs replay exactly in SQL. Scale: each
    iteration shuffles the edge list once on the destination key —
    PageRank's irreducible cost — and the rank table is node-sized."""
    # no per-iteration caches: unlike train_logreg (whose weights feed
    # BOTH the score join and the update, forcing a cache to stay
    # linear), each rank table here has exactly one consumer — the next
    # iteration — so the lazy plan nests linearly on its own, and cache
    # barriers would only serialize the DAG (memory: spark-plan-quirks
    # #3).
    #
    # Plan-size cap (r14, VERDICT r13 #4): ``sym`` and ``deg`` are each
    # referenced once per iteration (plus the rank seed), and every
    # reference used to re-expand the caller's ENTIRE upstream pair
    # pipeline into the logical plan — ~45 copies of the MinHash subtree
    # and 959 Exchange nodes in the dedup_duplicate_clusters physical
    # plan, i.e. seconds of Catalyst/codegen work per run that grows
    # with n_iters. Lazily checkpointing both truncates every reference
    # to a LogicalRDD scan; values are unchanged (checkpointing is not a
    # transformation) and the blocks are released at the next slot
    # boundary via cachectl.
    sym = _symmetrize(edges, src, dst).distinct().transform(_ckpt)
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("dg")).transform(_ckpt)
    nn = deg.agg(F.count(F.lit(1)).alias("n"))
    ranks = deg.crossJoin(F.broadcast(nn)).select(
        "u", F.round(F.lit(1.0) / F.col("n"), 6).alias("r")
    )
    for _ in range(max(1, n_iters)):
        contrib = F.round(F.col("r") / F.col("dg"), 9).cast("decimal(28,14)")
        # join ranks with deg FIRST (both node-sized) so the edge list is
        # probed once per iteration instead of twice — same contributions,
        # one edge-sized join fewer per iteration (guide §2.4)
        per_node = ranks.join(deg, "u").select("u", contrib.alias("__c"))
        ranks = (
            sym.join(per_node, "u")
            .groupBy(F.col("v").alias("u"))
            .agg(F.sum(F.col("__c")).alias("__m"))
            .crossJoin(F.broadcast(nn))
            .select(
                "u",
                F.round(
                    (F.lit(1.0) - F.lit(damping)) / F.col("n")
                    + F.lit(damping) * F.col("__m").cast("double"),
                    6,
                ).alias("r"),
            )
        )
    return ranks.select(F.col("u").alias("node"), F.col("r").alias("pr"))


def centrality_canonicals(
    pairs: DataFrame,
    n_iters: int = 3,
    damping: float = 0.85,
    src: str = "id_a",
    dst: str = "id_b",
    max_iters: int = 25,
) -> DataFrame:
    """Duplicate-cluster resolution with a CENTRALITY canonical election:
    like :func:`duplicate_clusters` (cluster id = min node id in the
    connected component, cluster size), but the keeper is the cluster's
    highest-PageRank member (ties to the smallest doc id) — the
    'keep the most-connected exemplar' policy, which preserves the copy
    other documents most resemble instead of an arbitrary id. Returns
    ``(doc_id, cluster_id, cluster_size, is_canonical, pr)``."""
    from pyspark.sql.window import Window

    comp = connected_components(pairs, src=src, dst=dst, max_iters=max_iters)
    sizes = comp.groupBy("component").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    pr = pagerank(pairs, n_iters=n_iters, damping=damping, src=src, dst=dst)
    w = Window.partitionBy("component").orderBy(F.desc("pr"), F.asc("node"))
    return (
        comp.join(pr, "node")
        .join(sizes, "component")
        .withColumn("__rk", F.row_number().over(w))
        .select(
            F.col("node").alias("doc_id"),
            F.col("component").alias("cluster_id"),
            "cluster_size",
            (F.col("__rk") == 1).alias("is_canonical"),
            "pr",
        )
    )


def _endgame_subtree_sizes(pr: DataFrame, grouped: bool) -> DataFrame:
    """Single- (or per-group-) partition subtree sizes for small forests
    (the ``_endgame_cc`` discipline): one mapInPandas task builds the
    children map and folds sizes bottom-up iteratively — one pass, no
    ranking rounds. Input columns ``(g?, c, p)``; when grouped, groups
    hash-co-locate so whole forests stay within one task and tasks
    parallelize across groups."""
    import pandas as pd

    def part(batches):
        children: dict = {}
        nodes = set()
        has_parent = set()
        for pdf in batches:
            gs = pdf["g"] if "g" in pdf.columns else [None] * len(pdf)
            for g, c, p in zip(gs, pdf["c"], pdf["p"]):
                children.setdefault((g, p), []).append((g, c))
                nodes.add((g, c))
                nodes.add((g, p))
                has_parent.add((g, c))
        if not nodes:
            return
        sizes: dict = {}
        roots = [n for n in nodes if n not in has_parent]
        for r in roots:
            # iterative post-order: push node twice, fold on second pop
            stack = [(r, False)]
            while stack:
                v, done = stack.pop()
                if done:
                    sizes[v] = 1 + sum(
                        sizes[c] for c in children.get(v, ())
                    )
                else:
                    stack.append((v, True))
                    stack.extend((c, False) for c in children.get(v, ()))
        out = {"node": [k[1] for k in sizes],
               "subtree_size": list(sizes.values())}
        if "g" in pdf.columns:
            out = {"g": [k[0] for k in sizes], **out}
        yield pd.DataFrame(out)

    dt = pr.schema["c"].dataType.simpleString()
    if grouped:
        gt = pr.schema["g"].dataType.simpleString()
        return pr.repartition("g").mapInPandas(
            part, f"g {gt}, node {dt}, subtree_size long"
        )
    return pr.repartition(1).mapInPandas(
        part, f"node {dt}, subtree_size long"
    )


#: Below this many parent edges the single-partition endgame replaces
#: the distributed Euler-tour ranking — same rationale and bound as
#: SMALL_EDGE_THRESHOLD for connected components.
SMALL_TREE_THRESHOLD = 1 << 21


def subtree_sizes(
    parents: DataFrame,
    node_col: str = "node",
    parent_col: str = "parent",
    max_iters: int = 45,
    small_edge_threshold: int | None = SMALL_TREE_THRESHOLD,
    group_col: str | None = None,
) -> DataFrame:
    """Subtree size of EVERY node of a functional forest in
    O(log n) rounds — the Euler-tour technique (Tarjan & Vishkin 1985)
    expressed as DataFrame ops. Input: one ``(node, parent)`` row per
    NON-ROOT node (a node that never appears as ``node`` is a root;
    parent ids must form a forest — no cycles). Output:
    ``([group,] node, subtree_size)`` for every node incl. roots and
    isolated parents, where ``subtree_size`` counts the node itself
    plus all descendants. ``group_col`` scopes independent forests
    (per-timestep DEMs): every join, window and the endgame key thread
    the group, so forests never mix.

    Why not bottom-up propagation: summing children into parents
    converges in O(depth) rounds — a river's flow path makes depth the
    grid diagonal. The Euler tour instead (1) doubles each tree edge
    into an up-arc and a down-arc, (2) threads them into one circuit
    per tree with the classic next-arc-around-the-vertex successor
    rule (neighbor order: parent first, then children by id), cut at
    the root, (3) list-ranks the circuit by pointer doubling with
    distance accumulation — the same O(log path) lazily-checkpointed
    join discipline as ``watershed_labels`` — and (4) reads
    ``subtree(v) = (rank(exit) - rank(enter) + 1) / 2`` off the two
    arc ranks. Everything is joins, window functions, and one
    signature-scan convergence check per round; arc count is
    ``2 (n - roots)``, so each round shuffles ~2 edges per node.

    Hybrid endgame (the ``connected_components`` discipline): at or
    below ``small_edge_threshold`` parent edges the whole forest folds
    in ONE pass (one task per group when grouped) — the tour's
    ~log(path) driver round trips only pay for themselves on forests
    too big for a task.
    """
    from pyspark.sql.window import Window

    grouped = group_col is not None
    gcols = ["g"] if grouped else []
    sel = ([F.col(group_col).alias("g")] if grouped else []) + [
        F.col(node_col).alias("c"), F.col(parent_col).alias("p")
    ]
    pr = parents.select(*sel).filter(F.col("c") != F.col("p")).distinct(
    ).transform(_ckpt)
    if small_edge_threshold and pr.count() <= small_edge_threshold:
        out = _endgame_subtree_sizes(pr, grouped)
        return out.withColumnRenamed("g", group_col) if grouped else out
    # ordered neighbor list per vertex: parent first (pos 0), then
    # children ordered by id
    as_child = pr.select(*gcols, F.col("c").alias("v"),
                         F.col("p").alias("nbr"), F.lit(0).alias("grp"))
    as_parent = pr.select(*gcols, F.col("p").alias("v"),
                          F.col("c").alias("nbr"), F.lit(1).alias("grp"))
    wv = Window.partitionBy(*gcols, "v").orderBy("grp", "nbr")
    nbrs = (
        as_child.unionByName(as_parent)
        .withColumn("pos", F.row_number().over(wv) - 1)
        .withColumn(
            "deg", F.count(F.lit(1)).over(Window.partitionBy(*gcols, "v"))
        )
    ).transform(_ckpt)
    # successor of in-arc (u -> v): out-arc of v toward the neighbor
    # AFTER u in v's circular order. The root's wrap-around arc (the one
    # whose successor would be the root's pos-0 out-arc) is cut: NULL
    # successor ends the tour.
    nxt = nbrs.select(
        *gcols, F.col("v"), F.col("nbr").alias("u"),
        ((F.col("pos") + 1) % F.col("deg")).alias("jpos"),
        (F.col("grp") == 0).alias("u_is_parent"),
        F.col("pos"), F.col("deg"),
    )
    jn = nbrs.select(
        *gcols, F.col("v"), F.col("pos").alias("jpos"),
        F.col("nbr").alias("w"),
    )
    roots = (
        pr.select(*gcols, F.col("p").alias("v"))
        .distinct()
        .join(
            pr.select(*gcols, F.col("c").alias("v")).distinct(),
            gcols + ["v"],
            "left_anti",
        )
    )
    null_t = pr.schema["p"].dataType.simpleString()
    arcs = (
        nxt.join(jn, gcols + ["v", "jpos"])
        .join(roots.withColumn("__isroot", F.lit(1)), gcols + ["v"], "left")
        .select(
            *gcols,
            F.col("u").alias("src"),
            F.col("v").alias("dst"),
            # cut at the root: the arc that would wrap to the root's
            # first out-arc terminates the list
            F.when(
                (F.col("__isroot") == 1) & (F.col("jpos") == 0),
                F.lit(None).cast(null_t),
            ).otherwise(F.col("v")).alias("nsrc"),
            F.when(
                (F.col("__isroot") == 1) & (F.col("jpos") == 0),
                F.lit(None).cast(null_t),
            ).otherwise(F.col("w")).alias("ndst"),
            F.lit(1).cast("long").alias("d"),
        )
    ).transform(_ckpt)

    def _sig(df: DataFrame) -> tuple[int, int]:
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(
                F.bit_xor(
                    F.xxhash64(*gcols, "src", "dst", "nsrc", "ndst", "d")
                ),
                F.lit(0),
            ).alias("h"),
        ).collect()[0]
        return int(row["n"]), int(row["h"])

    sig = _sig(arcs)
    cur = arcs
    for _ in range(max_iters):
        bsel = [F.col("g").alias("bg")] if grouped else []
        bkeys = (
            [F.col("a.g") == F.col("bg")] if grouped else []
        )
        nxt_t = (
            cur.alias("a")
            .join(
                cur.select(
                    *bsel,
                    F.col("src").alias("bsrc"), F.col("dst").alias("bdst"),
                    F.col("nsrc").alias("bnsrc"), F.col("ndst").alias("bndst"),
                    F.col("d").alias("bd"),
                ),
                on=bkeys + [
                    F.col("a.nsrc") == F.col("bsrc"),
                    F.col("a.ndst") == F.col("bdst"),
                ],
                how="left",
            )
            .select(
                *([F.col("a.g").alias("g")] if grouped else []),
                F.col("a.src").alias("src"),
                F.col("a.dst").alias("dst"),
                F.col("bnsrc").alias("nsrc"),
                F.col("bndst").alias("ndst"),
                (F.col("a.d") + F.coalesce(F.col("bd"), F.lit(0))).alias("d"),
            )
        ).transform(_ckpt)
        new_sig = _sig(nxt_t)
        cur = nxt_t
        if new_sig == sig:
            break
        sig = new_sig
    else:
        raise RuntimeError(f"subtree_sizes: no convergence in {max_iters}")
    # d is now each arc's distance-to-end (inclusive). For non-root v:
    # enter = (parent -> v), exit = (v -> parent); both in v's tree, and
    # size = (d(enter) - d(exit) + 1) / 2. Root size = d(head)/2 + 1
    # where head = (root -> first child) = the arc with the tree's max d.
    pj = (
        [cur["g"] == pr["g"]] if grouped else []
    )
    enter = cur.join(
        pr, pj + [cur["src"] == pr["p"], cur["dst"] == pr["c"]]
    ).select(*[pr["g"]] if grouped else [], pr["c"].alias("node"),
             cur["d"].alias("__de"))
    exit_ = cur.join(
        pr, pj + [cur["src"] == pr["c"], cur["dst"] == pr["p"]]
    ).select(*[pr["g"]] if grouped else [], pr["c"].alias("node"),
             cur["d"].alias("__dx"))
    non_root = enter.join(exit_, gcols + ["node"]).select(
        *gcols, "node",
        ((F.col("__de") - F.col("__dx") + 1) / 2).cast("long").alias(
            "subtree_size"
        ),
    )
    rj = (
        [cur["g"] == roots["g"]] if grouped else []
    )
    root_sizes = (
        cur.join(roots, rj + [cur["src"] == roots["v"]])
        .groupBy(*([roots["g"]] if grouped else []),
                 roots["v"].alias("node"))
        .agg((F.max(cur["d"]) / 2 + 1).cast("long").alias("subtree_size"))
    )
    out = non_root.unionByName(root_sizes)
    return out.withColumnRenamed("g", group_col) if grouped else out
