"""Capture .explain("formatted") for every declared query into a
directory (one <slot>.txt per query). Queries read the same session
fixtures (landed grid, shared-token count tables) as bench.py, so the
captured plans are the plans the bench times.

Usage:
    python scripts/capture_plans.py OUT_DIR [slot1,slot2,...]
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    out_dir = sys.argv[1]
    only = set(sys.argv[2].split(",")) if len(sys.argv) > 2 else None
    os.makedirs(out_dir, exist_ok=True)

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    import xarray_dataaccessor_spark.queries_ext  # noqa: F401
    from xarray_dataaccessor_spark.queries import QUERIES
    from xarray_dataaccessor_spark.session import get_spark

    spark = get_spark(app_name="xda-capture-plans")
    spark.sparkContext.setLogLevel("ERROR")

    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    for name in sorted(QUERIES):
        if only is not None and name not in only:
            continue
        try:
            df = QUERIES[name](spark, sf_dir)
            txt = df._jdf.queryExecution().explainString(mode)
        except Exception as exc:  # keep going; note the failure
            txt = f"PLAN CAPTURE FAILED: {exc}"
        with open(os.path.join(out_dir, f"{name}.txt"), "w") as fh:
            fh.write(txt)
        print(f"# captured {name}", file=sys.stderr)
        spark.catalog.clearCache()


if __name__ == "__main__":
    main()
