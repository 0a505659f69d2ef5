"""Release-path cache hygiene (VERDICT r10 "What's wrong #2" / ADVICE):
every cache a slot builder or operator makes is registered with
``cachectl.tracked_cache``, so a long-lived library session releases
executor memory with one ``cachectl.release()`` — no global
``spark.catalog.clearCache()``, and no need to hold the exact frame a
builder returned (a derived frame cannot lose track of anything).

The gate is the JVM's persistent-RDD registry: after consuming each
builder's result and calling ``release`` (the registry only — no
clearCache), it must return to its pre-build size. A cache made outside
``cachectl`` anywhere in the builder's lineage fails this immediately;
the AST guard below keeps such calls out of the package.
"""

from __future__ import annotations

import ast
from pathlib import Path

import pytest

import xarray_dataaccessor_spark as pkg
import xarray_dataaccessor_spark.queries_ext  # noqa: F401
from xarray_dataaccessor_spark.operators.cachectl import release, tracked_count
from xarray_dataaccessor_spark.queries import QUERIES


def _n_persistent(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _clean_slate(spark) -> int:
    release(blocking=True)
    spark.catalog.clearCache()
    return _n_persistent(spark)


# Slots chosen to cover every builder family that gained persists in
# rounds 10-11: the shared-tokenization caches (wc/bc/base), the KN
# model table ('big'), the 60-row broadcast-normalizer agg, the fuzzed
# line-dedup corpus, the classifier's feature/epoch caches, and the
# MinHash signature + edge caches.
@pytest.mark.parametrize(
    "slot,min_tags",
    [
        ("token_count_by_source", 3),        # agg, bc_kn, KN 'big'
        ("quality_classifier_distill", 3),   # wc, bc, base, feats, epochs
        ("quality_filter_gopher", 3),        # wc, bc, base
        ("line_dedup_reassembly", 1),        # fuzzed corpus
        ("dedup_minhash_lsh", 1),            # signature table
    ],
)
def test_slot_builders_release_all_caches(spark, sf_dir, slot, min_tags):
    before = _clean_slate(spark)
    df = QUERIES[slot](spark, sf_dir)
    assert tracked_count() >= min_tags, (
        f"{slot}: builder persists are not reaching the registry"
    )
    df.write.format("noop").mode("overwrite").save()
    assert release(blocking=True) >= min_tags
    after = _n_persistent(spark)
    assert after <= before, (
        f"{slot}: {after - before} persisted RDD(s) remain after "
        "release — an untracked persist() in the lineage"
    )


def test_back_to_back_builders_no_accumulation(spark, sf_dir):
    """The ADVICE scenario: a library caller composes two slot builders
    in one session. With registry release only (no clearCache), the
    persistent-RDD registry does not grow across the sequence."""
    before = _clean_slate(spark)
    for slot in ("token_count_by_source", "quality_classifier_distill"):
        df = QUERIES[slot](spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        release(blocking=True)
    assert _n_persistent(spark) <= before


def test_jaccard_auto_route_releases_signature_cache(spark):
    """``jaccard_pairs`` past its pair guard returns a filtered
    projection of ``minhash_near_duplicates``. A per-frame tag did not
    survive that projection, so the MinHash signature cache stayed
    pinned; the registry frees it whatever the caller holds."""
    from xarray_dataaccessor_spark.operators.dedup import jaccard_pairs
    from xarray_dataaccessor_spark.session import local_frame

    before = _clean_slate(spark)
    words = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()
    docs = local_frame(
        spark,
        [(i, " ".join(words[i % 3:] + words[: i % 3])) for i in range(12)],
        "doc_id bigint, text string",
    )
    with pytest.warns(RuntimeWarning, match="auto-routing"):
        pairs = jaccard_pairs(docs, max_candidate_pairs=1, auto_route=True)
    assert pairs.count() > 0
    assert _n_persistent(spark) > before, "the signature cache never materialized"
    assert release(blocking=True) >= 1
    assert _n_persistent(spark) <= before


def _calls(tree, attrs):
    return [
        node for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in attrs
    ]


def test_one_cache_lifecycle_in_the_package():
    """No JVM. Every cache and checkpoint in the package goes through
    ``cachectl``, whose public surface is the one lifecycle, and nothing
    tags a DataFrame with attributes. The one untracked call is
    ``catalog.points_df``'s session-lived checkpoint, which a slot
    release must never free."""
    root = Path(pkg.__file__).parent
    exempt_defs = {("catalog.py", "points_df")}
    offenders = []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        if rel == "operators/cachectl.py":
            continue
        tree = ast.parse(path.read_text())
        exempt = set()
        for node in ast.walk(tree):
            if isinstance(node, ast.FunctionDef) and (rel, node.name) in exempt_defs:
                exempt |= {id(n) for n in ast.walk(node)}
        offenders += [
            f"{rel}:{node.lineno} .{node.func.attr}("
            for node in _calls(tree, {"cache", "persist", "localCheckpoint"})
            if id(node) not in exempt
        ]
        # protoshim's message objects set their own fields
        if rel != "streaming/protoshim.py":
            offenders += [
                f"{rel}:{node.lineno} setattr("
                for node in ast.walk(tree)
                if isinstance(node, ast.Call)
                and isinstance(node.func, ast.Name)
                and node.func.id == "setattr"
            ]
    assert offenders == []

    cachectl = ast.parse((root / "operators" / "cachectl.py").read_text())
    public = {
        name
        for node in cachectl.body
        for name in (
            [node.name] if isinstance(node, ast.FunctionDef)
            else [t.id for t in getattr(node, "targets", []) if isinstance(t, ast.Name)]
        )
        if not name.startswith("_")
    }
    assert public == {
        "tracked_cache", "tracked_local_checkpoint", "release", "tracked_count",
        "unpersist_intermediates", "release_checkpoints",
    }


def test_legacy_release_names_only_in_perfbench():
    """``unpersist_intermediates`` and ``release_checkpoints`` are
    aliases of ``release`` kept for the benchmark harness; nothing else
    in the repository may use them."""
    repo = Path(pkg.__file__).parent.parent
    legacy = {"unpersist_intermediates", "release_checkpoints"}
    offenders = []
    for path in sorted(repo.rglob("*.py")):
        rel = path.relative_to(repo).as_posix()
        if rel.startswith(("perfbench/", ".")) or rel.endswith("operators/cachectl.py"):
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            name = (
                node.id if isinstance(node, ast.Name)
                else node.attr if isinstance(node, ast.Attribute)
                else node.name if isinstance(node, ast.alias)
                else None
            )
            if name in legacy:
                offenders.append(f"{rel}:{getattr(node, 'lineno', '?')}")
    assert offenders == []
