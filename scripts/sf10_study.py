"""Fifth-decade scaling study: run EVERY registered slot at sf3 AND
sf10 in ONE harness (exclusive median-of-N, noop sink, clearCache
between repeats — the sf_envelope_study harness) and print the
sf3->sf10 exponent per slot.

Why a separate run instead of a fourth column in sf_envelope_study:
the full four-decade rerun costs ~2.5 h; measuring sf3 AGAIN inside
this harness gives the sf10 exponents a same-box anchor (machine drift
cannot contaminate the sf3->sf10 ratio) while the committed
BENCH_sf3_full_r11.txt chain covers sf0.1->sf1->sf3. The sf3 medians
here and there differ only by box state — compare exponents, not
absolute seconds, across the two artifacts.

sf10 data: scripts/gen_sf.py 10 -> /root/repo/testdata_sf10 (1.9 GB:
6 M lineitem, 1.5 M orders, 1 M events, 500 k documents, 200 k
embeddings — the documents corpus is ~0.5 GB of raw text).

Exempt (both scales): the two audit-path slots behind the r11
candidate-pair guard — exact n-gram Jaccard and SimHash hamming raise
CandidatePairExplosion by design past sf~0.3.

Usage: python scripts/sf10_study.py [--out BENCH_sf10_full_r11.txt]
Env: SPARK_GRAFT_REPEATS (default 2), SPARK_GRAFT_CPUS (default 32).
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

EXEMPT = {"dedup_jaccard_ngrams", "dedup_simhash_hamming"}

DIRS = {
    "sf3": "/root/repo/testdata_sf3",
    "sf10": "/root/repo/testdata_sf10",
}


def main() -> None:
    out_path = "BENCH_sf10_full_r11.txt"
    if "--out" in sys.argv:
        out_path = sys.argv[sys.argv.index("--out") + 1]
    spark = get_spark(
        app_name="xda-sf10-study",
        cpus=os.environ.get("SPARK_GRAFT_CPUS", "32"),
    )
    spark.sparkContext.setLogLevel("ERROR")
    reps = int(os.environ.get("SPARK_GRAFT_REPEATS", "2"))
    slots = [n for n in QUERIES if n in ORACLES and n not in EXEMPT]

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
        results.items(), key=lambda kv: -kv[1].get("sf10", 0)
    ):
        s3, s10 = row.get("sf3", -1), row.get("sf10", -1)
        e = (
            round(math.log10(s10 / s3) / math.log10(10.0 / 3.0), 2)
            if s3 > 0 and s10 > 0 else None
        )
        table.append(
            f"| `{name}` | {s3:.2f} | {s10:.2f} | "
            f"{e if e is not None else '-'} |"
        )
    hdr = ("| slot | sf3 | sf10 | exp sf3->sf10 |\n"
           "|---|---|---|---|")
    print(hdr)
    print("\n".join(table))
    with open(out_path, "w") as fh:
        fh.write("# full-inventory sf3/sf10 exclusive median-of-%d\n" % reps)
        fh.write("# (scripts/sf10_study.py; Jaccard/SimHash exempt per the "
                 "pair-count guard)\n")
        fh.write("\n".join(lines) + "\n\n" + hdr + "\n")
        fh.write("\n".join(table) + "\n")
        fh.write("\nJSON: " + json.dumps(results) + "\n")
    print(f"# wrote {out_path}")


if __name__ == "__main__":
    main()
