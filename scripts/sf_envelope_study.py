"""Full-inventory fourth-decade scaling study (VERDICT r10 "Next round"
#7): run EVERY registered slot at sf1 and sf3 (exclusive median-of-N,
noop sink, clearCache between repeats — the skew_study harness), then
print a per-slot sf1/sf3 table with the sf1->sf3 exponent.

sf0.1 and sf1 medians for the exponent chain come from the SAME run
(sf0.1 included), so all three decades share one harness and one box —
cross-artifact machine drift cannot contaminate the exponents.

Exempt at sf3 (run only through sf1): the two measured audit-path
slots — exact n-gram Jaccard (exponent 2.65, 523 s at sf3, measured in
BENCH_sf3_r10.txt) and SimHash hamming pairing (1.58) — now behind the
runtime candidate-pair guard that routes corpus-scale inputs to
MinHash-LSH; re-burning ~30 min to reconfirm a documented knee buys
nothing.

Methodology note (matches the r9 three-point study): grid-shaped slots
derive their grid from lineitem in-plan with a session cache — the
first grid slot in each (sf, repeat) pays the derivation; bench.py's
landed-parquet prologue is a bench-only honesty device, not used here,
so numbers are comparable with SCALE.md's existing sf0.01/sf0.1/sf1
table, not with BENCH_r*.json.

Usage: python scripts/sf_envelope_study.py [--out BENCH_sf3_full_r11.txt]
Env: SPARK_GRAFT_REPEATS (default 3), SPARK_GRAFT_CPUS (default 32).
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import xarray_dataaccessor_spark.queries_ext  # noqa: F401
from xarray_dataaccessor_spark.queries import ORACLES, QUERIES
from xarray_dataaccessor_spark.session import get_spark

SF3_EXEMPT = {"dedup_jaccard_ngrams", "dedup_simhash_hamming"}

DIRS = {
    "sf0.1": "/root/testdata/sf0.1",
    "sf1": "/root/repo/testdata_sf1",
    "sf3": "/root/repo/testdata_sf3",
}


def main() -> None:
    out_path = "BENCH_sf3_full_r11.txt"
    if "--out" in sys.argv:
        out_path = sys.argv[sys.argv.index("--out") + 1]
    spark = get_spark(
        app_name="xda-sf-envelope",
        cpus=os.environ.get("SPARK_GRAFT_CPUS", "32"),
    )
    spark.sparkContext.setLogLevel("ERROR")
    reps = int(os.environ.get("SPARK_GRAFT_REPEATS", "3"))
    slots = [n for n in QUERIES if n in ORACLES]

    # codegen/JVM warm-up: one pass of everything at sf0.01
    for name in slots:
        try:
            QUERIES[name](spark, "/root/testdata/sf0.01").write.format(
                "noop").mode("overwrite").save()
        except Exception as exc:  # pragma: no cover - diagnostics only
            print(f"# warm error {name}: {exc}", file=sys.stderr, flush=True)
        spark.catalog.clearCache()

    results: dict[str, dict[str, float]] = {}
    lines = []
    for label, d in DIRS.items():
        for name in slots:
            if label == "sf3" and name in SF3_EXEMPT:
                continue
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
            results.setdefault(name, {})[label] = med
            line = f"{name:38s} {label:6s} median={med:8.2f} runs={runs}"
            print(line, flush=True)
            lines.append(line)

    table = []
    for name, row in sorted(
        results.items(), key=lambda kv: -kv[1].get("sf3", kv[1].get("sf1", 0))
    ):
        s01, s1, s3 = row.get("sf0.1", -1), row.get("sf1", -1), row.get("sf3", -1)
        e01 = round(math.log10(s1 / s01), 2) if s01 > 0 and s1 > 0 else None
        e13 = (
            round(math.log10(s3 / s1) / math.log10(3.0), 2)
            if s1 > 0 and s3 > 0 else None
        )
        table.append(
            f"| `{name}` | {s01:.2f} | {s1:.2f} | "
            + (f"{s3:.2f}" if s3 > 0 else "exempt")
            + f" | {e01 if e01 is not None else '-'} | "
            + f"{e13 if e13 is not None else '-'} |"
        )
    hdr = ("| slot | sf0.1 | sf1 | sf3 | exp sf0.1->sf1 | exp sf1->sf3 |\n"
           "|---|---|---|---|---|---|")
    print(hdr)
    print("\n".join(table))
    with open(out_path, "w") as fh:
        fh.write("# full-inventory sf0.1/sf1/sf3 exclusive median-of-%d\n"
                 % reps)
        fh.write("# (scripts/sf_envelope_study.py; Jaccard/SimHash exempt "
                 "at sf3 per the pair-count guard)\n")
        fh.write("\n".join(lines) + "\n\n" + hdr + "\n")
        fh.write("\n".join(table) + "\n")
        fh.write("\nJSON: " + json.dumps(results) + "\n")
    print(f"# wrote {out_path}")


if __name__ == "__main__":
    main()
