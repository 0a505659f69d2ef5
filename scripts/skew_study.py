"""Skewed-vs-uniform scaling measurement (VERDICT r9 #6).

Runs the named slots bench-style (noop sink, clearCache between, median
of N) over uniform and skewed generated SFs and prints a JSON dict
{slot: {sf_label: median_sec}} plus derived exponents.
"""
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import xarray_dataaccessor_spark.queries_ext  # noqa: F401
from xarray_dataaccessor_spark.queries import QUERIES
from xarray_dataaccessor_spark.session import get_spark

SLOTS = [
    "dedup_jaccard_ngrams", "dedup_simhash_hamming", "pii_scrub",
    "asof_join_last_purchase", "tpch_query_shapes",
]
DIRS = {
    "u0.1": "/root/testdata/sf0.1",
    "s0.1": "/root/repo/testdata_sf0.1_skew",
    "u1": "/root/repo/testdata_sf1",
    "s1": "/root/repo/testdata_sf1_skew",
}


def main():
    spark = get_spark(app_name="xda-skew-study", cpus="32")
    spark.sparkContext.setLogLevel("ERROR")
    reps = int(os.environ.get("SPARK_GRAFT_REPEATS", "3"))
    # warm: one pass of each slot at sf0.01 (codegen)
    for name in SLOTS:
        try:
            QUERIES[name](spark, "/root/testdata/sf0.01").write.format(
                "noop").mode("overwrite").save()
            spark.catalog.clearCache()
        except Exception as exc:
            print(f"# warm error {name}: {exc}", file=sys.stderr, flush=True)
    out = {}
    for name in SLOTS:
        out[name] = {}
        for label, d in DIRS.items():
            runs = []
            for _ in range(reps):
                t0 = time.perf_counter()
                try:
                    QUERIES[name](spark, d).write.format("noop").mode(
                        "overwrite").save()
                    runs.append(round(time.perf_counter() - t0, 2))
                except Exception as exc:
                    print(f"# error {name}@{label}: {exc}",
                          file=sys.stderr, flush=True)
                    runs.append(-1.0)
                    break
                spark.catalog.clearCache()
            ok = sorted(r for r in runs if r >= 0)
            med = ok[len(ok) // 2] if ok else -1.0
            out[name][label] = med
            print(f"{name:28s} {label:5s} median={med:7.2f} runs={runs}",
                  flush=True)
    import math

    for name, row in out.items():
        if all(row.get(k, -1) > 0 for k in ("u0.1", "u1", "s0.1", "s1")):
            eu = math.log10(row["u1"] / row["u0.1"])
            es = math.log10(row["s1"] / row["s0.1"])
            row["exp_uniform"] = round(eu, 2)
            row["exp_skew"] = round(es, 2)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
