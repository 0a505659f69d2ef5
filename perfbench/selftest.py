#!/usr/bin/env python3
"""Smoke-sized self-test of the benchmark.

    python3 perfbench/selftest.py

Runs every workload at a tiny size (``--smoke``), untraced and traced,
through the same command line the benchmark is run with, and checks that

- ``BENCHMARK.json`` is what ``metrics.py`` defines;
- the last stdout line is the result object with exactly its four keys;
- every end-to-end metric (untraced) or per-layer metric (traced) named
  in ``BENCHMARK.json`` is printed with its unit;
- the report shows ``failed_op_share`` 0 and no op failed.

Exits with 1 and a list of problems if any check fails.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import metrics  # noqa: E402


def check_run(workload: str, trace: int, bench: dict) -> list[str]:
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", "1",
           "--seconds", "2", "--trace", str(trace), "--smoke"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    tag = f"{workload} trace={trace}"
    if p.returncode:
        return [f"{tag}: exit code {p.returncode}\n{p.stderr[-2000:]}"]
    lines = p.stdout.strip().splitlines()
    res = json.loads(lines[-1])
    problems = []
    if sorted(res) != ["attempted", "correct", "failed", "metrics"]:
        problems.append(f"{tag}: result keys {sorted(res)}")
    if not res["correct"] or res["failed"] or res["attempted"] < 1:
        problems.append(f"{tag}: correct={res['correct']} failed={res['failed']} "
                        f"attempted={res['attempted']}\n{p.stderr[-2000:]}")
    want = {m["name"]: m["unit"] for m in bench["per_layer" if trace else "end_to_end"]}
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    if got != want:
        problems.append(f"{tag}: metrics differ from BENCHMARK.json: "
                        f"missing {sorted(set(want) - set(got))}, extra {sorted(set(got) - set(want))}, "
                        f"units {[k for k in want if k in got and got[k] != want[k]]}")
    share = [ln.split() for ln in lines if ln.split()[:1] == ["failed_op_share"]]
    if not share or float(share[0][1]) != 0.0:
        problems.append(f"{tag}: failed_op_share line {share}")
    return problems


def main() -> int:
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    problems = [] if bench == metrics.benchmark_json() else [
        "BENCHMARK.json differs from metrics.benchmark_json(); regenerate it with "
        "python3 perfbench/metrics.py > BENCHMARK.json"]
    for workload in metrics.WORKLOADS:
        for trace in (0, 1):
            found = check_run(workload, trace, bench)
            print(f"{workload} trace={trace}: {'ok' if not found else 'FAILED'}", flush=True)
            problems += found
    for p in problems:
        print(p, file=sys.stderr)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
