"""Focused per-slot bench: run the named slots N times in one warmed
session and print per-run timings (noop sink, cache cleared between
runs — bench.py's consumption discipline, minus the full prologue).

Usage:
    python scripts/focus_bench.py slot1,slot2 [repeats] [--plans DIR]

With --plans DIR, also write each slot's .explain("formatted") to
DIR/<slot>.txt (plan capture for the optimization evidence).

Grid/text/ANN slots read the session fixtures (derived grid parquet,
shared-tokenization count tables, persisted IVF index) bench.py times;
the first slot that needs one lands it, so its first run includes the
landing.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    slots = [s for s in sys.argv[1].split(",") if s]
    repeats = int(sys.argv[2]) if len(sys.argv) > 2 and not sys.argv[2].startswith("--") else 3
    plans_dir = None
    if "--plans" in sys.argv:
        plans_dir = sys.argv[sys.argv.index("--plans") + 1]
        os.makedirs(plans_dir, exist_ok=True)

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    import xarray_dataaccessor_spark.queries_ext  # noqa: F401
    from xarray_dataaccessor_spark.queries import QUERIES
    from xarray_dataaccessor_spark.session import get_spark

    spark = get_spark(app_name="xda-focus-bench", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    # light warm-up (ab_bench discipline): page/footer caches + workers
    spark.read.parquet(f"{sf_dir}/region.parquet").count()
    for tbl in ("lineitem", "orders", "events", "documents", "embeddings"):
        p = f"{sf_dir}/{tbl}.parquet"
        if os.path.exists(p):
            spark.read.parquet(p).write.format("noop").mode("overwrite").save()
    spark.range(0, int(cpus), 1, int(cpus)).mapInPandas(
        lambda it: it, "id long"
    ).write.format("noop").mode("overwrite").save()

    out: dict[str, list[float]] = {}
    for name in slots:
        fn = QUERIES[name]
        runs: list[float] = []
        for i in range(repeats):
            spark.sparkContext.setJobDescription(f"focus:{name}#{i}")
            t0 = time.perf_counter()
            try:
                df = fn(spark, sf_dir)
                if plans_dir is not None and i == 0:
                    with open(os.path.join(plans_dir, f"{name}.txt"), "w") as fh:
                        fh.write(df._jdf.queryExecution().explainString(
                            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
                        ))
                df.write.format("noop").mode("overwrite").save()
                runs.append(round(time.perf_counter() - t0, 3))
            except Exception as exc:
                print(f"# error in {name}: {exc}", file=sys.stderr)
                runs.append(-1.0)
                break
            finally:
                spark.sparkContext.setJobDescription(None)
            spark.catalog.clearCache()
        out[name] = runs
        ok = sorted(r for r in runs if r >= 0)
        med = ok[len(ok) // 2] if ok else -1.0
        print(f"{name:42s} median={med:7.3f}  runs={runs}", file=sys.stderr)
    print("FOCUS " + json.dumps(out))


if __name__ == "__main__":
    main()
