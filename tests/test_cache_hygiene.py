"""Release-path cache hygiene (VERDICT r10 "What's wrong #2" / ADVICE):
every slot builder that persists intermediates must expose them through
``cachectl.tag_caches`` so a long-lived library session can release
executor memory WITHOUT a global ``spark.catalog.clearCache()`` — the
bench-only discipline a composing caller doesn't have.

The gate is the JVM's persistent-RDD registry: after consuming each
builder's result and calling ``unpersist_intermediates`` (tag registry
only — no clearCache), the registry must return to its pre-build size.
An untagged ``persist()`` anywhere in the builder's lineage fails this
immediately.
"""

from __future__ import annotations

import pytest

import xarray_dataaccessor_spark.queries_ext  # noqa: F401
from xarray_dataaccessor_spark.operators.cachectl import (
    get_tagged_caches,
    unpersist_intermediates,
)
from xarray_dataaccessor_spark.queries import QUERIES


def _n_persistent(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


# Slots chosen to cover every builder family that gained persists in
# rounds 10-11: the shared-tokenization caches (wc/bc/base), the KN
# model table ('big'), the 60-row broadcast-normalizer agg, the fuzzed
# line-dedup corpus, the classifier's feature/epoch caches, and the
# MinHash signature + edge caches. (Slots that localCheckpoint —
# connected components — are excluded: checkpoint blocks are released
# by GC, not unpersist, so the registry size is not the right gate.)
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
    spark.catalog.clearCache()
    before = _n_persistent(spark)
    df = QUERIES[slot](spark, sf_dir)
    assert len(get_tagged_caches(df)) >= min_tags, (
        f"{slot}: builder persists are not reaching the tag registry"
    )
    df.write.format("noop").mode("overwrite").save()
    assert unpersist_intermediates(df, blocking=True) >= min_tags
    after = _n_persistent(spark)
    assert after <= before, (
        f"{slot}: {after - before} persisted RDD(s) remain after "
        "unpersist_intermediates — an untagged persist() in the lineage"
    )


def test_back_to_back_builders_no_accumulation(spark, sf_dir):
    """The ADVICE scenario: a library caller composes two slot builders
    in one session. With tag-based release only (no clearCache), the
    persistent-RDD registry does not grow across the sequence."""
    spark.catalog.clearCache()
    before = _n_persistent(spark)
    for slot in ("token_count_by_source", "quality_classifier_distill"):
        df = QUERIES[slot](spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        unpersist_intermediates(df, blocking=True)
    assert _n_persistent(spark) <= before
