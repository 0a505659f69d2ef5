"""Benchmark harness: times the declared slot inventory at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) and prints ONE JSON
line on stdout:

    {"metric": "...", "value": <total_sec>, "unit": "sec",
     "queries": {...}, "runs_per_slot": N, "sf": ...}

Usage:
    python bench.py [slot ...]

With no slot names every registered slot runs, in name order. The
session runs on local[$SPARK_GRAFT_CPUS] (default: the host's cores).

Method (`time_slots`, the one loop that times a slot): each slot runs
once unmeasured (the cold run: JIT compilation, codegen, Python worker
start, page cache, and the first landing of any session fixture it
reads), then $SPARK_GRAFT_REPEATS times (default 3) timed. Every run
writes to the `noop` sink (full execution, no driver collect) and is
followed by `cachectl.release()`, which frees every cache and checkpoint
the run's operators made. A slot's number is the median
of its timed runs; -1.0 means it failed (the typed error is on stderr
and in the detail artifact).

Session fixtures (the landed grid, the shared-token count tables, the
persisted IVF index) are built once per process by the query layer, so
they land inside the cold run of the first slot that reads them. Tests and the correctness driver go through the same fixtures, so
the plans timed here are the plans the oracle checks.

The full detail (3-decimal medians, per-slot mins, every timed run,
`queries_cold`, `errors`) goes to stderr and to the JSON artifact at
$SPARK_GRAFT_BENCH_DETAIL (default BENCH_DETAIL_last.json next to this
file).
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback


def time_slots(spark, sf_dir: str, names: list[str], repeats: int) -> dict:
    """Run each named slot once cold, then ``repeats`` times timed.

    Returns ``{"cold": {slot: s}, "runs": {slot: [s, ...]},
    "errors": {slot: "ExcClass: message"}}``. A failing run is recorded
    as -1.0 and ends that slot.
    """
    import xarray_dataaccessor_spark.queries_ext  # noqa: F401 (registers extension slots)
    from xarray_dataaccessor_spark.operators.cachectl import release
    from xarray_dataaccessor_spark.queries import QUERIES

    cold: dict[str, float] = {}
    runs: dict[str, list[float]] = {}
    errors: dict[str, str] = {}
    for name in names:
        times: list[float] = []
        for _ in range(repeats + 1):
            t0 = time.perf_counter()
            try:
                QUERIES[name](spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                times.append(round(time.perf_counter() - t0, 3))
            except Exception as exc:  # keep the harness alive; flag the slot
                traceback.print_exc(file=sys.stderr)
                times.append(-1.0)
                errors[name] = f"{type(exc).__name__}: {exc}"
                print(f"# bench error in {name}: {errors[name]}", file=sys.stderr)
                break
            finally:
                # the next run or slot must not inherit blocks this one cached
                release()
        cold[name], runs[name] = times[0], times[1:]
    return {"cold": cold, "runs": runs, "errors": errors}


def _median(xs: list[float]) -> float:
    ok = sorted(x for x in xs if x >= 0)
    if not ok:
        return -1.0
    mid = len(ok) // 2
    return ok[mid] if len(ok) % 2 else round((ok[mid - 1] + ok[mid]) / 2, 3)


def stdout_line(medians: dict[str, float], repeats: int, sf) -> str:
    """The one metric line. The driver keeps only the LAST ~2000 chars
    of stdout, so it carries the total and 2-decimal per-slot medians
    and nothing else."""
    return json.dumps(
        {
            "metric": "declared-query-inventory wall time (per-slot median of %d)"
            % repeats,
            "value": round(sum(v for v in medians.values() if v >= 0), 3),
            "unit": "sec",
            "queries": {k: round(v, 2) for k, v in medians.items()},
            "runs_per_slot": repeats,
            "sf": sf,
        }
    )


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    repeats = max(1, int(os.environ.get("SPARK_GRAFT_REPEATS", "3")))

    import xarray_dataaccessor_spark.queries_ext  # noqa: F401 (registers extension slots)
    from xarray_dataaccessor_spark.queries import QUERIES
    from xarray_dataaccessor_spark.session import get_spark

    names = sys.argv[1:] or sorted(QUERIES)
    unknown = [n for n in names if n not in QUERIES]
    if unknown:
        raise SystemExit(f"unknown slot(s): {', '.join(unknown)}")

    spark = get_spark(app_name="xda-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")
    res = time_slots(spark, sf_dir, names, repeats)

    medians = {n: _median(r) for n, r in res["runs"].items()}
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf_dir
    line = stdout_line(medians, repeats, sf_val)
    detail = {
        **json.loads(line),
        "queries": medians,
        "queries_min": {
            n: min((x for x in r if x >= 0), default=-1.0)
            for n, r in res["runs"].items()
        },
        "queries_cold": res["cold"],
        "runs": res["runs"],
        "errors": res["errors"],
    }
    print(json.dumps(detail), file=sys.stderr)
    detail_path = os.environ.get(
        "SPARK_GRAFT_BENCH_DETAIL",
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL_last.json"),
    )
    try:
        with open(detail_path, "w") as fh:
            json.dump(detail, fh, indent=1)
    except OSError as exc:
        print(f"# could not write bench detail: {exc}", file=sys.stderr)
    print(line)


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    main()
