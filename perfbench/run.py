#!/usr/bin/env python3
"""Repository benchmark: one workload, one seed, one process.

    python3 perfbench/run.py --workload grid_backfill_aoi --seed 1 --seconds 12 --trace 0

Run from the repository root. The run starts the engine's own session
(``session.get_spark``) on ``local[nproc // 2]`` with the heap the
session sizes from the host. Set-up time is the session start, plus the
median of ``SETUP_REPS`` builds of the workload's inputs from the seed
(generation, fixture files, landing), plus one warm-up op of each type.
The run then issues ops in a closed loop (one client, the next op after
the previous completes), in whole cycles of the workload's op types, at
least ``MIN_CYCLES`` of them and until ``--seconds`` of op time have
passed, and checks every op's output against a numpy/pandas reference.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs the same
ops untraced for half the time, replays them with layer spans, and
prints the per-layer metrics plus the tracing overhead. Human-readable
report lines come first; the last stdout line is one JSON object. A run
record with host state and provenance is written under
``.perfbench_runs/``. Scratch files go under ``.perfbench_work/`` and are
removed at exit. The run re-executes itself once to pin ``PYTHONHASHSEED``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(ROOT))

import metrics  # noqa: E402
import probe  # noqa: E402

SETUP_REPS = 3
MIN_CYCLES = 2  # so every op type has a median of at least two ops
HASH_SEED = "0"  # fixed for every run, so every run builds the same plans
NO_OVERRIDES = ("SPARK_DRIVER_MEM", "SPARK_DRIVER_JVM_OPTS", "SPARK_GRAFT_CPUS")


def _environment(work: Path) -> None:
    """Keep every file Spark, the JVM and Python workers write inside
    ``work``, and let the session size itself from the host."""
    for key in NO_OVERRIDES:
        os.environ.pop(key, None)
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={tmp}"])
    )
    os.environ["PYTHONPATH"] = os.pathsep.join(
        filter(None, [str(ROOT), os.environ.get("PYTHONPATH")])
    )


def spark_slots(nproc: int) -> int:
    """Task slots for ``local[n]``: half the CPUs. A task that runs Python
    keeps a JVM thread and a Python worker busy, so ``nproc`` slots put
    about twice ``nproc`` threads on the CPUs, and the op latencies then
    follow the neighbours' load. On a 4-vCPU host with two CPU-bound
    neighbour processes, corpus ops ran about twice as slow as on the
    quiet host with ``local[4]``, and within about 1.5x with ``local[2]``;
    on the quiet host the two were equally fast."""
    return max(1, nproc // 2)


def _heap_bytes(spec: str) -> int:
    units = {"k": 2**10, "m": 2**20, "g": 2**30, "t": 2**40}
    spec = spec.strip().lower()
    return int(spec[:-1]) * units[spec[-1]] if spec[-1] in units else int(spec)


def _shutdown(spark) -> None:
    """Stop the session and its JVM, then wait for every process the run
    started (JVM, Python worker daemon) to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        gateway.proc.stdin.close()  # the JVM exits on EOF
        gateway.proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while len(probe.tree_pids()) > 1:
        if time.monotonic() > deadline:
            raise RuntimeError(f"processes still running: {probe.tree_pids()[1:]}")
        time.sleep(0.1)


class _Loop:
    """Closed loop of ops with per-op latency, failures and check counters."""

    def __init__(self, wl, spark, tracer):
        self.wl, self.spark, self.tracer = wl, spark, tracer
        self.latencies: list[float] = []
        self.types: list[str] = []
        self.failed = 0
        self.counters: dict[str, float] = {}

    def one(self, i: int, phase: str) -> None:
        op = self.wl.op(i, phase)
        self.tracer.begin_op()
        t0 = time.perf_counter()
        try:
            result = self.wl.run(self.spark, self.tracer, op)
            dt = time.perf_counter() - t0
            counts = self.wl.check(op, result)
        except Exception:  # the loop must go on; the failure is counted and shown
            print(f"op {phase}{i} ({op['type']}) failed:", file=sys.stderr)
            traceback.print_exc()
            self.failed += 1
            return
        self.latencies.append(dt)
        self.types.append(op["type"])
        for k, v in counts.items():
            self.counters[k] = self.counters.get(k, 0) + v

    def until(self, seconds: float, phase: str, min_cycles: int = MIN_CYCLES) -> int:
        """Run whole cycles of the workload's op types (so every run has
        the same mix), at least ``min_cycles``, until ``seconds`` of op
        time have passed."""
        i, cycle = 0, len(self.wl.op_types)
        while (sum(self.latencies) < seconds or i < min_cycles * cycle or i % cycle) \
                and i < 10_000:
            self.one(i, phase)
            i += 1
            if self.failed and not self.latencies:
                break  # every op fails: stop early, the result says so
        return i

    @property
    def attempted(self) -> int:
        return len(self.latencies) + self.failed

    def type_medians(self) -> dict[str, float]:
        by_type: dict[str, list[float]] = {}
        for t, dt in zip(self.types, self.latencies):
            by_type.setdefault(t, []).append(dt)
        return {t: statistics.median(v) for t, v in by_type.items()}


def _p(values: list[float], q: int) -> float:
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1] if len(values) > 1 \
        else values[0]


def _workload(name: str, seed: int, work: Path, smoke: bool):
    from corpus import CorpusDedupSearch
    from grid import GridBackfillAoi

    classes = {c.name: c for c in (GridBackfillAoi, CorpusDedupSearch)}
    return classes[name](seed, work, smoke)


def run(args, work: Path) -> dict:
    from spans import Tracer
    from xarray_dataaccessor_spark.session import get_spark

    nproc = probe.nproc()
    slots = spark_slots(nproc)
    mem_avail = probe.mem_available_bytes()
    wl = _workload(args.workload, args.seed, work / "data", args.smoke)
    reps = 1 if args.smoke else SETUP_REPS
    spark = None
    try:
        t0 = time.perf_counter()
        spark = get_spark(app_name="perfbench", cpus=slots)
        spark.sparkContext.setLogLevel("ERROR")
        get_spark_s = time.perf_counter() - t0
        fixture_times = []
        for _ in range(reps):
            t0 = time.perf_counter()
            wl.setup(spark)
            fixture_times.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        warm = _Loop(wl, spark, Tracer(spark, False, nproc))
        for j in range(len(wl.op_types)):
            warm.one(1_000_000 + j, "w")
        if warm.failed:
            raise RuntimeError(f"{warm.failed} warm-up op(s) failed; see stderr")
        warmup_s = time.perf_counter() - t0
        warmup_ops = dict(zip(warm.types, warm.latencies))
        heap = spark.sparkContext.getConf().get("spark.driver.memory")
        if _heap_bytes(heap) > mem_avail:
            raise RuntimeError(f"session heap {heap} exceeds MemAvailable {mem_avail} B")
        out = {
            "nproc": nproc, "spark_slots": slots, "heap": heap, "mem_available_mb": mem_avail / 2**20,
            "get_spark_s": get_spark_s, "fixture_s_reps": fixture_times, "warmup_s": warmup_s,
            "warmup_op_s": warmup_ops,
            "setup_s": get_spark_s + statistics.median(fixture_times) + warmup_s,
            "input_sizes": wl.input_sizes(),
        }
        out["loop"] = _Loop(wl, spark, Tracer(spark, False, nproc))
        if not args.trace:
            out["loop"].until(args.seconds, "t")
        else:
            n = out["loop"].until(args.seconds / 2, "u", min_cycles=1)
            out["traced"] = _Loop(wl, spark, Tracer(spark, True, nproc))
            for i in range(n):
                out["traced"].one(i, "r")
            if args.workload == metrics.GRID:
                out["decode_mb_per_s"] = _decode_rate(wl)
    finally:
        if spark is not None:
            _shutdown(spark)
    return out


def _decode_rate(wl) -> float:
    """Single-process ``netcdf_fragment_to_pandas`` over the run's granules."""
    from xarray_dataaccessor_spark.sources.netcdf3 import netcdf_fragment_to_pandas

    total, secs = 0, 0.0
    for path in wl.granule_paths():
        content = path.read_bytes()
        t0 = time.perf_counter()
        netcdf_fragment_to_pandas(content, path.parent.name)
        secs += time.perf_counter() - t0
        total += len(content)
    return total / 1e6 / secs


def end_to_end(res: dict, peak_rss: int) -> dict:
    loop = res["loop"]
    lat = loop.latencies
    medians = loop.type_medians()
    m = {
        # each op type weighs the same, whichever types a pooled median
        # of a short run would fall between
        "op_p50_s": statistics.geometric_mean(medians.values()),
        "ops_per_s": len(lat) / sum(lat),
        "peak_rss_mb": peak_rss / 2**20,
        "setup_s": res["setup_s"],
    }
    # the highest percentile with at least ten samples above it
    report = {"op_p50_pooled_s": statistics.median(lat),
              "op_p90_s": _p(lat, 90) if len(lat) >= 100 else None,
              "failed_op_share": loop.failed / loop.attempted}
    c = loop.counters
    if "cells" in c:  # over the backfill ops only
        land_s = sum(t for t, kind in zip(lat, loop.types) if kind == "backfill_land")
        report["cells_per_s"] = c["cells"] / land_s
        report["stored_bytes_per_input_byte"] = c["stored_bytes"] / c["input_bytes"]
    return {"metrics": m, "report": report, "op_p50_by_type_s": medians}


def per_layer(res: dict) -> dict:
    traced, untraced = res["traced"], res["loop"]
    tr = traced.tracer
    m: dict[str, float] = {}
    for layer in metrics.LAYERS:
        st = tr.layers.get(layer)
        for g, v in (st.metrics(tr.nproc) if st else dict.fromkeys(metrics.GENERIC, 0.0)).items():
            m[f"{layer}.{g}"] = v
    counts, c = tr.counts, traced.counters

    def per(layer: str, value: float) -> float:
        st = tr.layers.get(layer)
        return value / st.spans if st and st.spans else 0.0

    filters = tr.layers.get("operators.filters")
    m.update({
        "session.get_spark_s": res["get_spark_s"],
        "sources.netcdf3.decode_mb_per_s": res.get("decode_mb_per_s", 0.0),
        "operators.filters.read_bytes_per_row_returned":
            filters.read_b / counts["operators.filters.rows_returned"] if filters else 0.0,
        "operators.dedup.candidate_pairs":
            per("operators.dedup", counts["operators.dedup.candidate_pairs"]),
        "operators.dedup.kept_share":
            counts["operators.dedup.kept_pairs"] / counts["operators.dedup.candidate_pairs"]
            if counts["operators.dedup.candidate_pairs"] else 0.0,
        "operators.similarity.pairs_scored":
            per("operators.similarity", counts["operators.similarity.pairs_scored"]),
        "operators.similarity.planted_recall":
            c["planted_found"] / c["planted"] if c.get("planted") else 0.0,
        "trace.overhead_s":
            (sum(traced.latencies) - sum(untraced.latencies[: len(traced.latencies)]))
            / max(1, len(traced.latencies)),
    })
    for op_type in metrics.OP_TYPES:
        for k in metrics.PLAN_COUNTS:
            m[f"plans.explain.{op_type}.{k}"] = tr.plans.get(op_type, {}).get(k, 0)
    return m


def main() -> int:
    if os.environ.get("PYTHONHASHSEED") != HASH_SEED:
        # The engine's plans depend on Python's str-hash order: with a
        # random hash seed, whole runs were about 10 % faster or slower.
        os.environ["PYTHONHASHSEED"] = HASH_SEED
        os.execv(sys.executable, [sys.executable, __file__, *sys.argv[1:]])
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=list(metrics.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=metrics.RUN_SECONDS)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, one set-up (self-test)")
    args = ap.parse_args()

    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    _environment(work)
    provenance = probe.provenance(ROOT)
    host = probe.HostWindow()
    try:
        with probe.PeakRss() as rss:
            res = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    host_state = host.close()

    e2e = end_to_end(res, rss.peak_bytes)
    loop = res["loop"]
    attempted, failed = loop.attempted, loop.failed
    e2e_units = {m["name"]: m["unit"] for m in metrics.END_TO_END}
    if args.trace:
        printed = per_layer(res)
        attempted += res["traced"].attempted
        failed += res["traced"].failed
        units = {m["name"]: m["unit"] for m in metrics.per_layer()}
    else:
        printed, units = e2e["metrics"], e2e_units

    record = {
        "args": vars(args), **provenance, "host": host_state,
        **{k: v for k, v in res.items() if k not in ("loop", "traced")},
        "op_latencies_s": loop.latencies, "op_types": loop.types,
        "end_to_end": e2e, "metrics": printed,
    }
    runs = ROOT / ".perfbench_runs"
    runs.mkdir(exist_ok=True)
    rec_path = runs / f"{time.strftime('%Y%m%dT%H%M%S')}-{args.workload}-s{args.seed}" \
        f"-t{args.trace}-{os.getpid()}.json"
    rec_path.write_text(json.dumps(record, indent=1, default=str))

    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace} nproc={res['nproc']} "
          f"heap={res['heap']} ops={len(loop.latencies)} failed={loop.failed} "
          f"steal={host_state['steal_share']:.4f} psi_cpu={host_state['psi_cpu_some_share']}")
    for name, value in e2e["metrics"].items():
        print(f"  {name:52s} {value:14.6g} {e2e_units[name]}")
    for name, value in e2e["report"].items():
        shown = "n/a (fewer than 100 ops)" if value is None else f"{value:14.6g}"
        print(f"  {name:52s} {shown} {metrics.REPORT_ONLY[name]}")
    if args.trace:
        for name, value in printed.items():
            print(f"  {name:52s} {value:14.6g} {units[name]}")
    print(f"  record {rec_path.relative_to(ROOT)}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in printed.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
