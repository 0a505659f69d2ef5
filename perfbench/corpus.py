"""Corpus workload: near-duplicate detection and embedding search.

The corpus is generated from the seed in the ``scripts/gen_sf.py``
style: documents over that script's 31-word vocabulary, and unit-norm
float32 64-dim embeddings with weak label clusters. Exact and edited
document copies, and near-identical embeddings, are planted so the
checks know which pairs must be found. No grid code runs here.
"""

from __future__ import annotations

import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from grid import close, require
from spans import join_output_rows
from xarray_dataaccessor_spark.operators.cachectl import (
    release_checkpoints,
    unpersist_intermediates,
)
from xarray_dataaccessor_spark.operators.dedup import minhash_near_duplicates
from xarray_dataaccessor_spark.operators.graph import duplicate_clusters
from xarray_dataaccessor_spark.operators.similarity import (
    cosine_topk,
    embedding_near_duplicates,
)

VOCAB = np.array([
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "sort", "scan", "hash", "join", "query", "agg", "group",
    "filter", "order", "line", "part", "batch", "fast", "slow", "big",
    "small", "key", "data", "customer", "the", "a", "grid", "row",
])
JACCARD = 0.5
COSINE = 0.95
TOP_K = 10


class CorpusDedupSearch:
    """One op is one of: MinHash near-duplicates -> duplicate clusters;
    cosine top-k for a batch of queries; embedding near-duplicates."""

    name = "corpus_dedup_search"
    op_types = ("corpus_minhash_clusters", "corpus_cosine_topk", "corpus_embedding_neardup")

    def __init__(self, seed: int, work: Path, smoke: bool):
        self.seed, self.work = seed, work
        self.n_docs, self.n_vecs = (300, 200) if smoke else (1200, 500)
        self.n_queries = 8 if smoke else 32

    def _generate(self) -> None:
        rng = np.random.default_rng(self.seed)
        lens = rng.integers(10, 101, self.n_docs)
        words = [VOCAB[rng.integers(0, len(VOCAB), n)] for n in lens]
        # copies are made only from documents that are never overwritten,
        # so every planted pair still holds once planting is done
        targets = rng.choice(np.arange(1, self.n_docs), self.n_docs // 50, replace=False)
        sources = np.setdiff1d(np.arange(self.n_docs), targets)
        self.exact_dups: list[tuple[int, int]] = []
        for i in targets:
            src = int(rng.choice(sources[sources < i]))
            words[i] = words[src].copy()
            if rng.random() < 0.5:  # an edited copy: one word changed
                words[i][rng.integers(0, len(words[i]))] = VOCAB[rng.integers(0, len(VOCAB))]
            else:
                self.exact_dups.append((src, int(i)))
        self.texts = [" ".join(w) for w in words]

        cents = rng.standard_normal((10, 64))
        cents /= np.linalg.norm(cents, axis=1, keepdims=True)
        x = rng.standard_normal((self.n_vecs, 64)) + 0.57 * cents[rng.integers(0, 10, self.n_vecs)]
        targets = rng.choice(np.arange(1, self.n_vecs), self.n_vecs // 50, replace=False)
        sources = np.setdiff1d(np.arange(self.n_vecs), targets)
        self.near_vecs: list[tuple[int, int]] = []
        for j in targets:
            src = int(rng.choice(sources[sources < j]))
            x[j] = x[src] / np.linalg.norm(x[src]) + rng.normal(0.0, 0.0015, 64)
            self.near_vecs.append((src, int(j)))
        x /= np.linalg.norm(x, axis=1, keepdims=True)
        self.emb = x.astype(np.float32)
        e = self.emb.astype("f8")
        self.unit = e / np.linalg.norm(e, axis=1, keepdims=True)

    def setup(self, spark) -> None:
        shutil.rmtree(self.work, ignore_errors=True)
        self.work.mkdir(parents=True)
        self._generate()
        pq.write_table(pa.table({
            "doc_id": pa.array(np.arange(self.n_docs, dtype=np.int64)),
            "text": pa.array(self.texts),
        }), self.work / "documents.parquet")
        pq.write_table(pa.table({
            "vec_id": pa.array(np.arange(self.n_vecs, dtype=np.int64)),
            "embedding": pa.array(list(self.emb), type=pa.list_(pa.float32())),
        }), self.work / "embeddings.parquet")
        self.docs = spark.read.parquet(str(self.work / "documents.parquet"))
        self.vecs = spark.read.parquet(str(self.work / "embeddings.parquet"))

    def op(self, i: int, phase: str) -> dict:
        kind = self.op_types[i % len(self.op_types)]
        rng = np.random.default_rng([self.seed, i])
        n = self.n_vecs if kind != "corpus_minhash_clusters" else self.n_docs
        width = (3 * n) // 4  # a seeded window of three quarters of the corpus
        lo = int(rng.integers(0, n - width + 1))
        op = {"type": kind, "ids": (lo, lo + width)}
        if kind == "corpus_cosine_topk":
            op["queries"] = sorted(int(q) for q in rng.choice(n, self.n_queries, replace=False))
        return op

    def run(self, spark, tr, op: dict):
        kind, (lo, hi) = op["type"], op["ids"]
        if kind == "corpus_minhash_clusters":
            docs = self.docs.filter(F.col("doc_id").between(lo, hi - 1))
            with tr.layer("operators.dedup") as span:
                cand = minhash_near_duplicates(docs)
                pairs = cand.filter(F.col("est_jaccard") >= JACCARD).select("id_a", "id_b")
                span.out(pairs)
            with tr.layer("operators.graph") as span:
                clusters = duplicate_clusters(pairs)
                tr.plan(kind, clusters)
                span.mark()
                rows = clusters.collect()
            if tr.enabled:
                tr.count("operators.dedup.candidate_pairs", cand.count())
                tr.count("operators.dedup.kept_pairs", pairs.count())
            unpersist_intermediates(cand)
            release_checkpoints()
            return rows
        vecs = self.vecs.filter(F.col("vec_id").between(lo, hi - 1))
        if kind == "corpus_cosine_topk":
            queries = self.vecs.filter(F.col("vec_id").isin(op["queries"]))
            with tr.layer("operators.similarity") as span:
                top = cosine_topk(queries, self.vecs, k=TOP_K, dims=64)
                tr.plan(kind, top)
                span.mark()
                rows = top.collect()
        else:
            with tr.layer("operators.similarity") as span:
                top = embedding_near_duplicates(vecs, threshold=COSINE, dims=64)
                tr.plan(kind, top)
                span.mark()
                rows = top.collect()
        if tr.enabled:
            tr.count("operators.similarity.pairs_scored", join_output_rows(top))
        release_checkpoints()
        return rows

    # -- output checks ----------------------------------------------------

    def check(self, op: dict, rows) -> dict:
        kind, (lo, hi) = op["type"], op["ids"]
        if kind == "corpus_minhash_clusters":
            return self._check_clusters(rows, lo, hi)
        if kind == "corpus_cosine_topk":
            return self._check_topk(rows, op["queries"])
        return self._check_neardup(rows, lo, hi)

    def _check_clusters(self, rows, lo: int, hi: int) -> dict:
        cluster = {r["doc_id"]: r["cluster_id"] for r in rows}
        members: dict[int, list[int]] = {}
        for r in rows:
            require(lo <= r["doc_id"] < hi, f"doc {r['doc_id']} outside the op's window")
            members.setdefault(r["cluster_id"], []).append(r["doc_id"])
        for r in rows:
            m = members[r["cluster_id"]]
            require(r["cluster_id"] == min(m), "cluster id is not the smallest member")
            require(r["cluster_size"] == len(m), "cluster size")
            require(r["is_canonical"] == (r["doc_id"] == r["cluster_id"]), "canonical flag")
        planted = [(a, b) for a, b in self.exact_dups if lo <= a < hi and lo <= b < hi]
        for a, b in planted:
            require(a in cluster and cluster.get(a) == cluster.get(b),
                    f"planted duplicate ({a}, {b}) not clustered")
        return {}

    def _check_topk(self, rows, queries: list[int]) -> dict:
        scores = self.unit[queries] @ self.unit.T
        scores[np.arange(len(queries)), queries] = -np.inf  # a query is not its own neighbour
        got: dict[int, list] = {}
        for r in rows:
            got.setdefault(r["query_id"], []).append((r["rk"], r["neighbor_id"], r["cos"]))
        require(sorted(got) == queries, "top-k query ids")
        for qi, q in enumerate(queries):
            mine = sorted(got[q])
            ids = [nid for _, nid, _ in mine]
            require([rk for rk, _, _ in mine] == list(range(1, TOP_K + 1)), "top-k ranks")
            require(len(set(ids)) == TOP_K and q not in ids, f"top-k ids of query {q}")
            best = np.sort(scores[qi])[::-1][:TOP_K]
            # the engine's picks score as the k best do: exact up to ties
            close(scores[qi, ids], best, f"top-k neighbours of query {q}")
            close([c for _, _, c in mine], best, f"top-k scores of query {q}")
        return {}

    def _check_neardup(self, rows, lo: int, hi: int) -> dict:
        found = {(r["id_a"], r["id_b"]) for r in rows}
        for r in rows:
            a, b = r["id_a"], r["id_b"]
            require(lo <= a < b < hi, f"pair ({a}, {b}) outside the window or unordered")
            close(r["cos"], self.unit[a] @ self.unit[b], f"cosine of ({a}, {b})")
            require(r["cos"] >= COSINE, f"pair ({a}, {b}) below the threshold")
        planted = [(a, b) for a, b in self.near_vecs if lo <= a < hi and lo <= b < hi]
        hit = sum((a, b) in found for a, b in planted)
        recall = hit / len(planted) if planted else 1.0
        # banded LSH is approximate; planted pairs sit at cosine ~0.9999,
        # where a miss in all four bands has probability ~1e-6
        require(recall >= 0.9, f"planted near-duplicate recall {recall:.3f}")
        return {"planted": len(planted), "planted_found": hit}

    def input_sizes(self) -> dict:
        return {"documents": self.n_docs, "document_bytes": sum(map(len, self.texts)),
                "vectors": self.n_vecs, "vector_bytes": self.emb.nbytes}

