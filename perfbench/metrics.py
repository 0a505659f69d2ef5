"""Metric definitions: the single source that ``BENCHMARK.json`` mirrors.

Each per-layer metric names the end-to-end metric and the workload it
should move, written down before any change claims a gain.
``BENCHMARK.json`` holds only name, unit and direction (its schema has
no room for more); ``python3 perfbench/selftest.py`` checks that the two
agree.
"""

from __future__ import annotations

import json

GRID, CORPUS = "grid_backfill_aoi", "corpus_dedup_search"
RUN_SECONDS = 12

WORKLOADS = {
    GRID: "land one month (decode, variable merge, partition write), then AOI requests "
          "(pruning, resample, regrid, extraction, small sinks); no corpus code runs",
    CORPUS: "dedup, graph and similarity operators on a seeded corpus; no grid "
            "code runs at all",
}

# Reported with tracing off, on every workload.
END_TO_END = [
    # op_p50_s is the geometric mean of the op types' median latencies
    {"name": "op_p50_s", "unit": "s", "better": "lower", "bound": 0.25},
    {"name": "ops_per_s", "unit": "1/s", "better": "higher", "bound": 0.25},
    {"name": "peak_rss_mb", "unit": "MB", "better": "lower", "bound": 0.1},
    {"name": "setup_s", "unit": "s", "better": "lower", "bound": 0.25},
]

# Printed in the report and the run record, but not in the result JSON:
# each is defined on one workload only, is zero at HEAD, or (the pooled
# median of a run's ops of several types) is too unsteady for a bound.
REPORT_ONLY = {
    "op_p50_pooled_s": "s",
    "op_p90_s": "s",
    "cells_per_s": "1/s",
    "stored_bytes_per_input_byte": "ratio",
    "failed_op_share": "ratio",
}

GENERIC = {
    "wall_s": ("s", "lower"),  # self time per op: the increment over the previous span
    "plan_s": ("s", "lower"),  # time in the call before the benchmark consumes the result
    "jobs": ("count", "lower"),
    "tasks": ("count", "lower"),
    "cpu_util": ("ratio", "higher"),  # process-tree CPU s / (span wall s * nproc)
    "read_mb": ("MB", "lower"),  # process-tree rchar delta per op
    "write_mb": ("MB", "lower"),  # process-tree wchar delta per op
}

# layer -> (end-to-end metrics it should move, workload)
LAYERS = {
    "sources.ingest.decode": ("cells_per_s,op_p50_s", GRID),
    "operators.joins": ("cells_per_s", GRID),
    "sources.ingest.land": ("cells_per_s,op_p50_s,stored_bytes_per_input_byte", GRID),
    "operators.filters": ("op_p50_s", GRID),
    "operators.resample": ("op_p50_s", GRID),
    "operators.spatial": ("op_p90_s", GRID),
    "operators.extraction": ("op_p50_s", GRID),
    "sinks.tables": ("op_p50_s", GRID),
    "sinks.gssha": ("op_p50_s", GRID),
    "operators.dedup": ("op_p50_s,ops_per_s", CORPUS),
    "operators.graph": ("op_p50_s", CORPUS),
    "operators.similarity": ("op_p50_s,ops_per_s", CORPUS),
}

# name -> (unit, better, moves, workload)
EXTRAS = {
    "session.get_spark_s": ("s", "lower", "setup_s", "all"),
    "sources.netcdf3.decode_mb_per_s": ("MB/s", "higher", "cells_per_s", GRID),
    "operators.filters.read_bytes_per_row_returned": ("B/row", "lower", "op_p50_s", GRID),
    "operators.dedup.candidate_pairs": ("count", "lower", "op_p50_s,ops_per_s", CORPUS),
    "operators.dedup.kept_share": ("ratio", "higher", "op_p50_s,ops_per_s", CORPUS),
    "operators.similarity.pairs_scored": ("count", "lower", "op_p50_s,ops_per_s", CORPUS),
    "operators.similarity.planted_recall": ("ratio", "higher", "op_p50_s,ops_per_s", CORPUS),
    "trace.overhead_s": ("s", "lower", "none: traced minus untraced op time", "all"),
}

# op type -> workload; plans.explain counts are exact, read from each type's plan
OP_TYPES = {
    "backfill_land": GRID,
    "aoi_daily_mean": GRID,
    "aoi_regrid": GRID,
    "aoi_points_csv": GRID,
    "aoi_gag": GRID,
    "corpus_minhash_clusters": CORPUS,
    "corpus_cosine_topk": CORPUS,
    "corpus_embedding_neardup": CORPUS,
}
PLAN_COUNTS = ("exchanges", "python_nodes")


def per_layer() -> list[dict]:
    """Every per-layer metric with its unit, direction and mapping."""
    out = []
    for layer, (moves, workload) in LAYERS.items():
        for g, (unit, better) in GENERIC.items():
            out.append({"name": f"{layer}.{g}", "unit": unit, "better": better,
                        "moves": moves, "workload": workload})
    for name, (unit, better, moves, workload) in EXTRAS.items():
        out.append({"name": name, "unit": unit, "better": better,
                    "moves": moves, "workload": workload})
    for op_type, workload in OP_TYPES.items():
        for c in PLAN_COUNTS:
            out.append({"name": f"plans.explain.{op_type}.{c}", "unit": "count",
                        "better": "lower", "moves": "whichever layer built the plan",
                        "workload": workload})
    return out


def benchmark_json() -> dict:
    """The content ``BENCHMARK.json`` must have."""
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": n, "why": why} for n, why in WORKLOADS.items()],
        "end_to_end": END_TO_END,
        "per_layer": [{k: m[k] for k in ("name", "unit", "better")} for m in per_layer()],
    }


if __name__ == "__main__":
    # python3 perfbench/metrics.py > BENCHMARK.json
    print(json.dumps(benchmark_json(), indent=2))
