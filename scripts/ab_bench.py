"""Same-day A/B canary bench: prev-round HEAD vs current HEAD, one
harness, one box, interleaved runs — the committed evidence that makes
cross-round envelope claims self-verifying (VERDICT r10 "Next round"
#1: the r9->r10 +15.7 s jump was box drift, proven only by a judge-run
A/B; this script commits that evidence every round).

Method
------
- The previous round's HEAD (default: newest commit whose subject is
  ``round N: ...`` — the driver's round-final artifact commit) is
  checked out into a throwaway git worktree.
- For each repeat, BOTH sides run as fresh subprocesses back-to-back
  (prev, head, prev, head, ...): every (side, repeat) pays the same JVM
  start + light warm-up, and machine-speed drift hits both sides of a
  pair equally — the property single-sided artifact history lacks.
- Each subprocess times the canary slots once (noop sink, cache cleared
  between slots — bench.py's consumption discipline). Medians per
  (side, slot) are compared; any same-day delta beyond +/-15 % is
  flagged for a named cause in the round's bench narrative.

Canaries default to the five slots the judge's r10 A/B used: the most
expensive families plus the flagship — slots that are rarely touched,
so a same-day delta is a real regression, not new surface.

Usage:
    python scripts/ab_bench.py [--prev REF] [--repeats 3]
        [--out BENCH_AB_rNN.json] [--slots a,b,c]
"""

from __future__ import annotations

import argparse
import datetime
import json
import os
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
# (prev worktree or current HEAD) first on sys.path, so each side runs
# its own code, session config, and query registry.
_RUNNER = r'''
import json, os, sys, time

repo, sf_dir = sys.argv[1], sys.argv[2]
slots = sys.argv[3].split(",")
sys.path.insert(0, repo)

from xarray_dataaccessor_spark.session import get_spark

cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
spark = get_spark(app_name="xda-ab-bench", cpus=cpus)
spark.sparkContext.setLogLevel("ERROR")

import xarray_dataaccessor_spark.queries_ext  # noqa: F401
from xarray_dataaccessor_spark.queries import QUERIES

# Light, side-identical warm-up: input page/footer caches + the shared
# JVM codepaths. Deliberately NOT bench.py's full prologue — the A/B
# compares sides within one harness; absolute numbers are not the point.
spark.read.parquet(f"{sf_dir}/region.parquet").count()
for tbl in ("lineitem", "orders", "events", "documents", "embeddings"):
    p = f"{sf_dir}/{tbl}.parquet"
    if os.path.exists(p):
        spark.read.parquet(p).write.format("noop").mode("overwrite").save()
spark.range(0, int(cpus), 1, int(cpus)).mapInPandas(
    lambda it: it, "id long"
).write.format("noop").mode("overwrite").save()

out = {}
for name in slots:
    fn = QUERIES.get(name)
    if fn is None:
        out[name] = None  # slot absent at this HEAD (renamed/fused)
        continue
    t0 = time.perf_counter()
    try:
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        out[name] = round(time.perf_counter() - t0, 3)
    except Exception as exc:
        print(f"# ab error in {name}: {exc}", file=sys.stderr)
        out[name] = -1.0
    spark.catalog.clearCache()
print("ABRESULT " + json.dumps(out))
'''


def _git(*args: str, cwd: str = REPO) -> str:
    return subprocess.run(
        ["git", *args], cwd=cwd, check=True, capture_output=True, text=True
    ).stdout.strip()


def _default_prev_ref() -> str:
    """Newest driver round-final commit (subject 'round N: ...')."""
    sha = _git("log", "--grep", "^round [0-9]*:", "-1", "--format=%H")
    if not sha:
        raise SystemExit("no 'round N:' commit found; pass --prev explicitly")
    return sha


def _run_side(runner: str, repo: str, sf_dir: str, slots: list[str]) -> dict:
    proc = subprocess.run(
        [sys.executable, runner, repo, sf_dir, ",".join(slots)],
        capture_output=True, text=True, timeout=3600,
    )
    for line in proc.stdout.splitlines():
        if line.startswith("ABRESULT "):
            return json.loads(line[len("ABRESULT "):])
    raise RuntimeError(
        f"runner produced no result for {repo}:\n{proc.stderr[-2000:]}"
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--prev", default=None, help="git ref of the previous round's HEAD")
    ap.add_argument("--repeats", type=int, default=3)
    ap.add_argument("--slots", default=",".join(DEFAULT_SLOTS))
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--out", default=os.path.join(REPO, "BENCH_AB_last.json"))
    args = ap.parse_args()

    slots = [s for s in args.slots.split(",") if s]
    prev_ref = args.prev or _default_prev_ref()
    prev_sha = _git("rev-parse", prev_ref)
    head_sha = _git("rev-parse", "HEAD")

    wt = tempfile.mkdtemp(prefix="xda_ab_prev_")
    _git("worktree", "add", "--detach", wt, prev_sha)
    runner = os.path.join(tempfile.mkdtemp(prefix="xda_ab_"), "runner.py")
    with open(runner, "w") as fh:
        fh.write(_RUNNER)

    runs: dict[str, dict[str, list]] = {s: {"prev": [], "head": []} for s in slots}
    try:
        for rep in range(args.repeats):
            for side, repo in (("prev", wt), ("head", REPO)):
                print(f"# rep {rep + 1}/{args.repeats} side={side}", file=sys.stderr)
                got = _run_side(runner, repo, args.sf_dir, slots)
                for s in slots:
                    runs[s][side].append(got.get(s))
    finally:
        subprocess.run(["git", "worktree", "remove", "--force", wt],
                       cwd=REPO, capture_output=True)

    def med(xs):
        ok = [x for x in xs if isinstance(x, (int, float)) and x >= 0]
        return round(statistics.median(ok), 3) if ok else None

    result = {
        "method": (
            "interleaved same-session-hour A/B: per repeat, prev and head "
            "run as back-to-back fresh subprocesses (identical light "
            "warm-up); medians compared per slot; |delta| > 15% flagged"
        ),
        "date": datetime.date.today().isoformat(),
        "prev_ref": prev_ref,
        "prev_sha": prev_sha,
        "head_sha": head_sha,
        "sf_dir": args.sf_dir,
        "repeats": args.repeats,
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
