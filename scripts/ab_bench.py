"""Same-day A/B canary bench: prev-round HEAD vs current HEAD, one
harness, one box, interleaved runs — the committed evidence that makes
cross-round envelope claims self-verifying (VERDICT r10 "Next round"
#1: the r9->r10 +15.7 s jump was box drift, proven only by a judge-run
A/B; this script commits that evidence every round).

Method
------
- The previous round's HEAD (default: newest commit whose subject is
  ``round N: ...`` — the driver's round-final artifact commit) is
  exported with ``git archive`` into a throwaway directory.
- For each repeat, BOTH sides run as fresh subprocesses back-to-back,
  and the first side alternates (prev/head on even repeats, head/prev
  on odd ones; the artifact records each pair's order): machine-speed
  drift hits both sides of a pair equally and neither side always runs
  first — the property single-sided artifact history lacks.
- Each subprocess loads the CURRENT ``bench.py`` by path and calls its
  ``time_slots`` with one repeat: per slot one unmeasured cold run, then
  one timed run (noop sink, cache cleared after every run), so both
  sides warm exactly as the bench does. Medians per (side, slot) are
  compared; any same-day delta beyond +/-15 % is flagged for a named
  cause in the round's bench narrative.
- The head side runs the working tree, so the artifact records whether
  it was dirty and its ``git diff --stat HEAD`` next to ``head_sha``.

Canaries default to the five slots the judge's r10 A/B used: the most
expensive families plus the flagship — slots that are rarely touched,
so a same-day delta is a real regression, not new surface.

Perfbench mode (``--perfbench WORKLOAD``) runs the repository benchmark
instead of the slots: per pair, ``perfbench/run.py`` once on the
``git archive`` of REF and once on the working tree, each from its own
checkout, with the same seed (``--seed`` + pair index), perfbench's own
run length and the first side alternating by pair. Each pair records every printed metric, the
run record's CPU steal, PSI and ``get_spark_s``, failed ops, both SHAs
and the working tree's dirty flag; the summary gives per metric both
medians, both interquartile ranges and the pairs the working tree won
(direction from ``BENCHMARK.json``).

Usage:
    python scripts/ab_bench.py [--prev REF] [--repeats 3]
        [--out BENCH_AB_rNN.json] [--slots a,b,c]
    python scripts/ab_bench.py --perfbench grid_backfill_aoi --pairs 10
        --prev REF [--seed 11] [--trace 0] [--out X.json]
"""

from __future__ import annotations

import argparse
import datetime
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

DEFAULT_SLOTS = [
    "quality_filter_gopher",
    "dedup_duplicate_clusters",
    "embedding_neardup_cosine",
    "multimodal_binary_features",
    "flagship_grid_mean",
]

# The runner executes inside a fresh subprocess with the TARGET repo
# (prev export or current HEAD) first on sys.path, so each side runs
# its own code, session config, and query registry through one harness.
_RUNNER = r'''
import importlib.util, json, sys

bench_py, repo, sf_dir, slots = sys.argv[1:5]
sys.path.insert(0, repo)
spec = importlib.util.spec_from_file_location("bench", bench_py)
bench = importlib.util.module_from_spec(spec)
spec.loader.exec_module(bench)

from xarray_dataaccessor_spark.session import get_spark

spark = get_spark(app_name="xda-ab-bench")
spark.sparkContext.setLogLevel("ERROR")
res = bench.time_slots(spark, sf_dir, slots.split(","), 1)
print("ABRESULT " + json.dumps(res))
'''


def _git(*args: str, cwd: str = REPO) -> str:
    return subprocess.run(
        ["git", *args], cwd=cwd, check=True, capture_output=True, text=True
    ).stdout.strip()


def _export(sha: str, dest: str) -> None:
    """Write the tree of ``sha`` into ``dest`` as plain files."""
    tar = subprocess.run(
        ["git", "archive", sha], cwd=REPO, check=True, capture_output=True
    ).stdout
    subprocess.run(["tar", "-x", "-C", dest], input=tar, check=True)


def _default_prev_ref() -> str:
    """Newest driver round-final commit (subject 'round N: ...')."""
    sha = _git("log", "--grep", "^round [0-9]*:", "-1", "--format=%H")
    if not sha:
        raise SystemExit("no 'round N:' commit found; pass --prev explicitly")
    return sha


def _run_side(runner: str, repo: str, sf_dir: str, slots: list[str]) -> dict:
    # pin the core count for both sides: a prev side may predate the
    # host-core default of session.get_spark
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    proc = subprocess.run(
        [sys.executable, runner, os.path.join(REPO, "bench.py"), repo, sf_dir,
         ",".join(slots)],
        capture_output=True, text=True, timeout=3600,
        env={**os.environ, "SPARK_GRAFT_CPUS": cpus},
    )
    for line in proc.stdout.splitlines():
        if line.startswith("ABRESULT "):
            return json.loads(line[len("ABRESULT "):])
    raise RuntimeError(
        f"runner produced no result for {repo}:\n{proc.stderr[-2000:]}"
    )


def _run_perfbench(root: str, args, seed: int) -> dict:
    """One ``perfbench/run.py`` process in checkout ``root``: its printed
    metrics plus the host state and session start time of its run
    record."""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", args.perfbench,
         "--seed", str(seed), "--trace", str(args.trace)],
        cwd=root, capture_output=True, text=True, timeout=1800,
    )
    lines = proc.stdout.splitlines()
    records = [ln.split(None, 1)[1] for ln in lines if ln.strip().startswith("record ")]
    if proc.returncode or not records:
        raise RuntimeError(f"perfbench failed in {root}:\n{proc.stderr[-2000:]}")
    out = json.loads(lines[-1])
    with open(os.path.join(root, records[-1].strip())) as fh:
        record = json.load(fh)
    return {
        "metrics": {k: v["value"] for k, v in out["metrics"].items()},
        "attempted": out["attempted"],
        "failed": out["failed"],
        "steal_share": record["host"]["steal_share"],
        "psi_cpu_some_share": record["host"]["psi_cpu_some_share"],
        "get_spark_s": record["get_spark_s"],
    }


def _quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def perfbench_ab(args, prev_ref: str, prev_sha: str, head_sha: str) -> dict:
    """Alternating pairs of perfbench runs, REF export vs working tree."""
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    better = {m["name"]: m["better"] for m in bench["end_to_end"] + bench["per_layer"]}
    prev_dir = tempfile.mkdtemp(prefix="xda_ab_prev_")
    _export(prev_sha, prev_dir)
    pairs = []
    try:
        for i in range(args.pairs):
            seed = args.seed + i
            sides = [("prev", prev_dir), ("head", REPO)]
            if i % 2:
                sides.reverse()
            pair = {"seed": seed, "order": [side for side, _ in sides]}
            for side, root in sides:
                print(f"# pair {i + 1}/{args.pairs} seed={seed} side={side}", file=sys.stderr)
                pair[side] = _run_perfbench(root, args, seed)
            pair["prev"]["sha"] = prev_sha
            pair["head"]["sha"] = head_sha
            pair["head"]["dirty"] = bool(_git("status", "--porcelain"))
            pairs.append(pair)
    finally:
        shutil.rmtree(prev_dir, ignore_errors=True)

    summary = {}
    for name in pairs[0]["head"]["metrics"]:
        prev = [p["prev"]["metrics"][name] for p in pairs]
        head = [p["head"]["metrics"][name] for p in pairs]
        sign = -1.0 if better.get(name) == "lower" else 1.0
        pq1, pmed, pq3 = _quartiles(prev)
        hq1, hmed, hq3 = _quartiles(head)
        summary[name] = {
            "better": better.get(name),
            "prev_median": pmed,
            "head_median": hmed,
            "prev_iqr": pq3 - pq1,
            "head_iqr": hq3 - hq1,
            "head_wins": sum(sign * (h - p) > 0 for p, h in zip(prev, head)),
            "delta_pct": round(100.0 * (hmed - pmed) / pmed, 1) if pmed else None,
            "median_gain_exceeds_prev_iqr": sign * (hmed - pmed) > pq3 - pq1,
        }
    return {
        "method": (
            "alternating perfbench pairs: per pair, perfbench/run.py runs once on a "
            "git archive of prev_ref and once on the working tree with the same seed, "
            "the first side alternating by pair (see each pair's 'order'); wins count "
            "the pairs where head is better in the metric's BENCHMARK.json direction"
        ),
        "date": datetime.date.today().isoformat(),
        "workload": args.perfbench,
        "trace": args.trace,
        "prev_ref": prev_ref,
        "prev_sha": prev_sha,
        "head_sha": head_sha,
        "head_dirty": bool(_git("status", "--porcelain")),
        "head_diffstat": _git("diff", "--stat", "HEAD"),
        "pairs": pairs,
        "summary": summary,
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--prev", default=None, help="git ref of the previous round's HEAD")
    ap.add_argument("--repeats", type=int, default=3)
    ap.add_argument("--slots", default=",".join(DEFAULT_SLOTS))
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--out", default=os.path.join(REPO, "BENCH_AB_last.json"))
    ap.add_argument("--perfbench", default=None, metavar="WORKLOAD",
                    help="A/B the repository benchmark on WORKLOAD instead of slots")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=11, help="seed of the first perfbench pair")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if args.perfbench:
        prev_ref = args.prev or _default_prev_ref()
        result = perfbench_ab(args, prev_ref, _git("rev-parse", prev_ref),
                              _git("rev-parse", "HEAD"))
        with open(args.out, "w") as fh:
            json.dump(result, fh, indent=1)
        for name, e in result["summary"].items():
            print(f"{name}: prev {e['prev_median']:.4g} vs head {e['head_median']:.4g} "
                  f"({e['delta_pct']}%), head won {e['head_wins']}/{args.pairs}")
        return

    slots = [s for s in args.slots.split(",") if s]
    prev_ref = args.prev or _default_prev_ref()
    prev_sha = _git("rev-parse", prev_ref)
    head_sha = _git("rev-parse", "HEAD")

    prev_dir = tempfile.mkdtemp(prefix="xda_ab_prev_")
    _export(prev_sha, prev_dir)
    runner_dir = tempfile.mkdtemp(prefix="xda_ab_")
    runner = os.path.join(runner_dir, "runner.py")
    with open(runner, "w") as fh:
        fh.write(_RUNNER)

    runs: dict[str, dict[str, list]] = {s: {"prev": [], "head": []} for s in slots}
    cold: dict[str, dict[str, list]] = {s: {"prev": [], "head": []} for s in slots}
    errors: list[str] = []
    order: list[list[str]] = []
    try:
        for rep in range(args.repeats):
            sides = (("prev", prev_dir), ("head", REPO))
            if rep % 2:
                sides = sides[::-1]
            order.append([side for side, _ in sides])
            for side, repo in sides:
                print(f"# rep {rep + 1}/{args.repeats} side={side}", file=sys.stderr)
                got = _run_side(runner, repo, args.sf_dir, slots)
                for s in slots:
                    runs[s][side] += got["runs"][s] or [-1.0]
                    cold[s][side].append(got["cold"][s])
                errors += [f"{side} rep {rep + 1} {s}: {e}" for s, e in got["errors"].items()]
    finally:
        shutil.rmtree(prev_dir, ignore_errors=True)
        shutil.rmtree(runner_dir, ignore_errors=True)

    def med(xs):
        ok = [x for x in xs if isinstance(x, (int, float)) and x >= 0]
        return round(statistics.median(ok), 3) if ok else None

    result = {
        "method": (
            "interleaved same-session-hour A/B: per repeat, prev and head "
            "run as back-to-back fresh subprocesses through bench.time_slots "
            "(one cold + one timed run per slot), the first side alternating "
            "by repeat (see 'order'); medians of the timed runs compared per "
            "slot; |delta| > 15% flagged"
        ),
        "date": datetime.date.today().isoformat(),
        "prev_ref": prev_ref,
        "prev_sha": prev_sha,
        "head_sha": head_sha,
        "head_dirty": bool(_git("status", "--porcelain")),
        "head_diffstat": _git("diff", "--stat", "HEAD"),
        "sf_dir": args.sf_dir,
        "repeats": args.repeats,
        "order": order,
        "errors": errors,
        "slots": {},
    }
    flagged = []
    for s in slots:
        pm, hm = med(runs[s]["prev"]), med(runs[s]["head"])
        delta = (
            round(100.0 * (hm - pm) / pm, 1)
            if pm and hm and pm > 0 else None
        )
        entry = {
            "prev_runs": runs[s]["prev"],
            "head_runs": runs[s]["head"],
            "prev_cold": cold[s]["prev"],
            "head_cold": cold[s]["head"],
            "prev_median": pm,
            "head_median": hm,
            "delta_pct": delta,
            "flagged": delta is not None and abs(delta) > 15.0,
        }
        if entry["flagged"]:
            flagged.append(s)
        result["slots"][s] = entry
    result["flagged_slots"] = flagged
    with open(args.out, "w") as fh:
        json.dump(result, fh, indent=1)
    print(json.dumps({k: v for k, v in result.items() if k != "slots"}))
    for s in slots:
        e = result["slots"][s]
        print(f"{s}: prev {e['prev_median']} s vs head {e['head_median']} s "
              f"({e['delta_pct']}%)" + ("  <-- FLAGGED" if e["flagged"] else ""))


if __name__ == "__main__":
    main()
