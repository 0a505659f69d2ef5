"""Re-measure at HEAD the slots whose code changed AFTER
scripts/sf10_study.py launched (same harness shape: exclusive
median-of-N, noop sink, clearCache between repeats, sf0.01 warm-up).

The main BENCH_sf10_full_r11.txt run loaded the module once at launch,
so these slots measured pre-change code: `rollup_revenue` (gained the
'bk' bottom-k sketch variant), `stratified_sample_langs` (gained the
'priority' sampling variant), `quality_classifier_distill` (training
replay capped at the 2048-doc hash sample), and the two Lloyd
consumers `embedding_neardup_cosine` / `similarity_ivf_ann`
(Arrow-exact assignment + tiled distance kernel). This follow-up measures
the HEAD versions at sf3 AND sf10 in ONE fresh harness so the
sf3->sf10 exponent is same-box; absolute seconds are comparable only
within this file.

Usage: python scripts/sf10_stale_slots.py [--out BENCH_sf10_stale_r11.txt]
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import xarray_dataaccessor_spark.queries_ext  # noqa: F401
from xarray_dataaccessor_spark.queries import QUERIES
from xarray_dataaccessor_spark.session import get_spark

SLOTS = [
    "rollup_revenue",
    "stratified_sample_langs",
    "quality_classifier_distill",
    # Lloyd execution change (Arrow-exact assignment + tiled kernel)
    "embedding_neardup_cosine",
    "similarity_ivf_ann",
]
DIRS = {
    "sf3": "/root/repo/testdata_sf3",
    "sf10": "/root/repo/testdata_sf10",
}


def main() -> None:
    out_path = "BENCH_sf10_stale_r11.txt"
    if "--out" in sys.argv:
        out_path = sys.argv[sys.argv.index("--out") + 1]
    spark = get_spark(
        app_name="xda-sf10-stale",
        cpus=os.environ.get("SPARK_GRAFT_CPUS", "32"),
    )
    spark.sparkContext.setLogLevel("ERROR")
    reps = int(os.environ.get("SPARK_GRAFT_REPEATS", "2"))
    for name in SLOTS:
        QUERIES[name](spark, "/root/testdata/sf0.01").write.format(
            "noop").mode("overwrite").save()
        spark.catalog.clearCache()
    results: dict[str, dict[str, float]] = {}
    lines = []
    for label, d in DIRS.items():
        for name in SLOTS:
            runs = []
            for _ in range(reps):
                t0 = time.perf_counter()
                QUERIES[name](spark, d).write.format("noop").mode(
                    "overwrite").save()
                runs.append(round(time.perf_counter() - t0, 2))
                spark.catalog.clearCache()
            med = sorted(runs)[len(runs) // 2]
            results.setdefault(name, {})[label] = med
            line = f"{name:38s} {label:6s} median={med:8.2f} runs={runs}"
            print(line, flush=True)
            lines.append(line)
    table = []
    for name, row in results.items():
        s3, s10 = row["sf3"], row["sf10"]
        e = round(math.log10(s10 / s3) / math.log10(10.0 / 3.0), 2)
        table.append(f"| `{name}` | {s3:.2f} | {s10:.2f} | {e} |")
    hdr = "| slot | sf3 | sf10 | exp sf3->sf10 |\n|---|---|---|---|"
    with open(out_path, "w") as fh:
        fh.write("# HEAD re-measure of slots changed after the main sf10 "
                 "study launched (median-of-%d)\n" % reps)
        fh.write("\n".join(lines) + "\n\n" + hdr + "\n")
        fh.write("\n".join(table) + "\n")
        fh.write("\nJSON: " + json.dumps(results) + "\n")
    print(f"# wrote {out_path}")


if __name__ == "__main__":
    main()
