"""Plan audits: prove that the optimizations the reference hand-rolls
(SURVEY §4) actually come out of Catalyst in this engine — filters reach
the Parquet scan, projections prune columns, small dimensions broadcast.
"""

from __future__ import annotations

import pytest

import xarray_dataaccessor_spark.queries_ext  # noqa: F401
from xarray_dataaccessor_spark.plans.explain import (
    codegen_stage_count,
    count_exchanges,
    has_broadcast_join,
    has_pushed_filter,
    plan_string,
    read_schemas,
)
from xarray_dataaccessor_spark.queries import QUERIES


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    df = QUERIES["filter_project"](spark, sf_dir)
    assert has_pushed_filter(df, "l_shipdate")
    assert has_pushed_filter(df, "l_quantity")


def test_projection_prunes_columns(spark, sf_dir):
    df = QUERIES["filter_project"](spark, sf_dir)
    schemas = read_schemas(df)
    assert schemas, "no file scan found"
    # only the 5 selected columns are read, not all 11 lineitem columns
    assert all("l_returnflag" not in s and "l_tax" not in s for s in schemas)


def test_time_filter_pushdown_in_aggregate(spark, sf_dir):
    df = QUERIES["pricing_summary"](spark, sf_dir)
    assert has_pushed_filter(df, "l_shipdate")


def test_joins_broadcast_dimension_tables(spark, sf_dir):
    fused = QUERIES["tpch_query_shapes"](spark, sf_dir)  # q3 + q5 variants
    assert has_broadcast_join(fused)


def test_extraction_broadcasts_points(spark, sf_dir):
    df = QUERIES["extraction_points_wide"](spark, sf_dir)
    assert has_broadcast_join(df)


def test_flagship_is_single_aggregation_plan(spark, sf_dir):
    df = QUERIES["flagship_grid_mean"](spark, sf_dir)
    # landed-grid scan + final agg: map-side partial aggregation means
    # the plan carries HashAggregate pairs, not repeated scans
    plan = plan_string(df)
    assert "HashAggregate" in plan
    # count codegen on the EXECUTED plan: AQE's initial plan over a
    # parquet scan prints no codegen ids until an action has run
    df.collect()
    assert codegen_stage_count(df) >= 1


def test_upsample_has_no_aggregation(spark, sf_dir):
    # the separable window-lerp upsample must not contain a groupBy
    from xarray_dataaccessor_spark.operators.spatial import spatial_resample
    from xarray_dataaccessor_spark.queries import _grid

    up = spatial_resample(
        _grid(spark, sf_dir), resolution_factor=2.0, resample_method="bilinear"
    )
    # everything after the landed-grid scan is windows + broadcast
    # joins; allow the window sort exchanges but no extra aggregates
    plan = plan_string(up)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert count_exchanges(up) <= 4


def test_resample_partial_aggregation(spark, sf_dir):
    df = QUERIES["resample_agg_daily"](spark, sf_dir)
    plan = plan_string(df)
    # two HashAggregate nodes (partial + final) around one exchange
    assert plan.count("HashAggregate") >= 2


def test_no_cell_product_driver_collect():
    """Guard against the O(nx*ny) anti-pattern: no operator module may
    collect the distinct (x, y) cell product to the driver — axes must be
    derived per-dimension (grid_axes / axis_values), each bounded by
    max(|xs|, |ys|). The .gag sink legitimately collects a gage network
    but must bound it (max_gages)."""
    import re
    from pathlib import Path

    import xarray_dataaccessor_spark as pkg

    root = Path(pkg.__file__).parent
    pat = re.compile(r"select\(\s*x_col\s*,\s*y_col\s*\)\s*\.distinct\(\)\s*\.collect\(\)")
    offenders = [
        p for p in (root / "operators").glob("*.py") if pat.search(p.read_text())
    ]
    assert offenders == [], f"cell-product collect in {offenders}"
    gssha = (root / "sinks" / "gssha.py").read_text()
    assert "max_gages" in gssha


def test_grid_axes_driver_payload_is_dimension_sized(spark):
    """grid_axes must hand the driver |xs| + |ys| values from a single
    aggregation job — not the nx*ny cell set."""
    from pyspark.sql import functions as F

    from xarray_dataaccessor_spark.operators.spatial import grid_axes

    n = 60
    df = (
        spark.range(n).select(F.col("id").cast("double").alias("x"))
        .crossJoin(spark.range(n).select((F.col("id") * 2.0).alias("y")))
    )
    xs, ys = grid_axes(df, "x", "y")
    assert len(xs) == n and len(ys) == n
    assert xs == sorted(xs) and ys == sorted(ys)


def test_conv_kernel_plan_shape(spark):
    """Convolutional resample = 2 broadcast tap joins + 2 aggregations:
    exactly two exchanges (one per axis, after map-side partial agg) and
    no Python eval nodes."""
    from tests.grid_fixture import grid_df
    from xarray_dataaccessor_spark.operators.spatial import spatial_resample
    import re

    from xarray_dataaccessor_spark.plans.explain import (
        has_broadcast_join,
        plan_string,
    )

    out = spatial_resample(
        grid_df(spark, with_nulls=False), resolution_factor=2.0,
        resample_method="cubic",
    )
    assert has_broadcast_join(out)
    simple = plan_string(out, mode="simple")
    assert len(re.findall(r"\bExchange hashpartitioning", simple)) == 2
    assert "BatchEvalPython" not in simple and "ArrowEvalPython" not in simple


def test_utm_transform_plan_is_pure_projection(spark):
    """Closed-form CRS transform: no exchange, no Python — a single
    whole-stage-codegen projection over the scan."""
    from tests.grid_fixture import grid_df
    from xarray_dataaccessor_spark.operators.spatial import transform_crs_udf
    from xarray_dataaccessor_spark.plans.explain import plan_string

    out = transform_crs_udf(grid_df(spark, with_nulls=False), 4326, 32617)
    simple = plan_string(out, mode="simple")
    assert "Exchange" not in simple
    assert "BatchEvalPython" not in simple and "ArrowEvalPython" not in simple
    assert "*(1) Project" in simple  # the * marker = whole-stage codegen


def test_multimodal_decode_single_python_stage(spark, sf_dir):
    """VERDICT r2 #9: the Python-boundary decode plumbing must keep
    exactly ONE Arrow-batched Python stage per operator and no extra
    Exchange — plan-level guard against regressions like r2's 3.8x
    multimodal slowdown. (The fused oracle query unions two codec
    branches; the per-operator chain is what this guards.)"""
    import re

    from xarray_dataaccessor_spark.operators.multimodal import (
        attach_binary_column,
        decode_binary,
    )
    from xarray_dataaccessor_spark.sources.tables import load

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    df = decode_binary(attach_binary_column(docs))
    plan = plan_string(df)
    # formatted mode repeats each node in the detail section; count the
    # numbered detail headers only
    assert len(re.findall(r"\(\d+\) MapInPandas", plan)) == 1, plan
    # scan -> project -> mapInPandas: narrow plan, no shuffle at all
    assert count_exchanges(df) == 0, plan_string(df, "simple")


def test_custom_resample_single_python_stage(spark, sf_dir):
    import re

    df = QUERIES["resample_custom_apply"](spark, sf_dir)
    plan = plan_string(df)
    n_py = len(
        re.findall(
            r"\(\d+\) (FlatMapGroupsInPandas|MapInPandas|ArrowAggregatePython)", plan
        )
    )
    assert n_py == 1, plan
    # one shuffle to group rows for applyInPandas, nothing more
    assert count_exchanges(df) <= 1, plan_string(df, "simple")


def test_banded_lsh_ann_no_python_stages(spark, sf_dir):
    """The ANN paths are pure JVM (literal-plane codegen): any Python
    stage appearing here is a regression."""
    df = QUERIES["similarity_lsh_ann"](spark, sf_dir)
    plan = plan_string(df)
    for marker in ("MapInPandas", "FlatMapGroupsInPandas", "BatchEvalPython", "ArrowEvalPython"):
        assert marker not in plan, marker


def test_pii_scrub_is_shuffle_free(spark, sf_dir):
    """PII redaction is pure map-side regexp codegen: no Exchange at all
    — at 100 TB the query runs at scan rate."""
    df = QUERIES["pii_scrub"](spark, sf_dir)
    assert count_exchanges(df) == 0
    assert "MapInPandas" not in plan_string(df)


def test_text_profile_is_shuffle_free(spark, sf_dir):
    """The fused quality+langid+fingerprint profile stays one map-side
    projection over the scan — the reason the three queries were merged."""
    df = QUERIES["text_profile"](spark, sf_dir)
    assert count_exchanges(df) == 0


def test_gopher_signals_shuffle_on_doc_id_only(spark, sf_dir):
    """Two keyed aggregation families (unigram + bigram profiles) and the
    final id join: every Exchange hashes on the document id or the
    (id, gram) pair — never on raw text — and map-side partial
    aggregation precedes each shuffle."""
    df = QUERIES["quality_filter_gopher"](spark, sf_dir)
    plan = plan_string(df)
    assert "partial" in plan.lower()  # map-side combine before the shuffle
    # bounded number of exchanges: 2 per gram profile + the join
    assert count_exchanges(df) <= 6


@pytest.mark.parametrize(
    "slot", ["quality_filter_gopher", "quality_classifier_distill"]
)
def test_gopher_stack_tokenizes_corpus_twice(spark, sf_dir, slot):
    """Shared-tokenization proof (VERDICT r6 #1): each quality slot —
    gopher gate + bigram-LM fluency + perplexity tiers in one, the
    hashed-feature classifier (2 training epochs + inference) + held-out
    AUC in the other (split r11, VERDICT r10 #3) — reads exactly TWO
    parquet tables: the session-landed unigram and bigram count tables
    (adjacency can't derive from unigram counts, so two is the floor),
    and never the documents text itself. The corpus is tokenized once
    per gram shape per process, when the counts land. Before the rewire
    the lineage held ~5 corpus scans, each with its own tokenize +
    corpus-sized shuffle."""
    import re

    from xarray_dataaccessor_spark.operators.cachectl import (
        unpersist_intermediates,
    )
    from xarray_dataaccessor_spark.queries import _FIXTURES

    df = QUERIES[slot](spark, sf_dir)
    try:
        plan = plan_string(df)
        # formatted mode lists each physical node once as a detail header
        # "(N) Scan parquet" followed by its Location
        scans = re.findall(r"\(\d+\) Scan parquet", plan)
        assert len(scans) == 2, plan[:4000]
        landed = {_FIXTURES[("word_counts", sf_dir)],
                  _FIXTURES[("bigram_counts", sf_dir)]}
        locations = re.findall(r"Location: InMemoryFileIndex \[file:([^\],]+)\]", plan)
        assert sorted(locations) == sorted(landed), locations
        assert "documents.parquet" not in plan, plan[:4000]
    finally:
        assert unpersist_intermediates(df) >= 3  # wc, bc, base, feats…


def test_pyramid_executes_one_base_scan(spark, tmp_path):
    """The cascade materializes each level once (lazy local checkpoint),
    so the EXECUTED plan reads the base parquet exactly once — without it
    every level's union branch re-scans and re-shuffles the base (3
    scans / 6 exchanges for 3 levels, measured)."""
    import re

    from tests.grid_fixture import grid_df
    from xarray_dataaccessor_spark.operators.spatial import raster_pyramid

    d = str(tmp_path / "pyr_base")
    grid_df(spark, with_nulls=False).write.mode("overwrite").parquet(d)
    out = raster_pyramid(spark.read.parquet(d), levels=3, method="mean")
    out.write.format("noop").mode("overwrite").save()
    plan = out._jdf.queryExecution().executedPlan().toString()
    # every level reads its own checkpointed (already-aggregated) RDD;
    # the base parquet was scanned once inside the level-1 checkpoint
    # job and never appears in the final union plan, which is also
    # exchange-free (no re-shuffle of anything)
    assert len(re.findall(r"Scan parquet", plan)) == 0, plan[:2000]
    assert len(re.findall(r"Scan ExistingRDD", plan)) == 3, plan[:2000]
    assert "Exchange" not in plan, plan[:2000]


def test_no_cartesian_product_in_any_query_plan(spark, sf_dir):
    """Standing guard over the whole registry: an unconditioned
    large-large join planned as CartesianProduct is the classic
    scale-killer; 1-row broadcast crossJoins plan as
    BroadcastNestedLoopJoin and stay allowed. Streaming queries are
    skipped (building them executes the stream)."""
    bad = []
    for name, fn in QUERIES.items():
        if name.startswith("streaming"):
            continue
        try:
            plan = plan_string(fn(spark, sf_dir), "simple")
        except Exception as exc:  # pragma: no cover - surface broken builds
            bad.append((name, f"plan build failed: {exc}"))
            continue
        if "CartesianProduct" in plan:
            bad.append((name, "CartesianProduct in plan"))
    assert not bad, bad


def test_contamination_report_single_shingling(spark, sf_dir):
    """Each variant shingles the train corpus ONCE: three Generate
    (explode) nodes total — the exact branch's train positional
    posexplode + eval shingle explode, and the bloom branch's train
    posexplode (its eval pass ran in the filter-BUILD job, so the main
    plan carries no eval side at all — the broadcast-free shape). The
    naive overlap+span composition had four for the exact report
    alone."""
    df = QUERIES["contamination_ngram_overlap"](spark, sf_dir)
    plan = plan_string(df, "simple")
    assert plan.count("Generate") == 3, plan
    assert "CartesianProduct" not in plan
    # the bloom branch is join-free: the only (shuffle or broadcast)
    # join in the whole plan is the exact branch's eval equi-join
    assert plan.count("Join") == 1, plan


def test_grid_fixture_lands_once(spark, sf_dir):
    """Two ``_grid`` calls in one process read ONE landing: a re-land
    would rewrite the table under fresh part-file names."""
    from xarray_dataaccessor_spark.queries import _FIXTURES, _grid

    first = _grid(spark, sf_dir).inputFiles()
    second = _grid(spark, sf_dir).inputFiles()
    assert first and first == second
    assert [k for k in _FIXTURES if k[0] == "grid"] == [("grid", sf_dir)]
