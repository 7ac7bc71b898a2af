"""Smoke test of the benchmark itself: every workload's code path once,
traced and untraced, on the sf0.001 dataset.

    python3 perfbench/selftest.py

Each run must exit 0 and end with a result line whose metrics are exactly
the ones BENCHMARK.json declares for that mode, each with a name and the
declared unit, and whose checks all passed. Takes about five minutes on
four cores.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def check(workload: str, trace: int, declared: dict) -> list[str]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--trace", str(trace), "--seconds", "0", "--seed", "7", "--smoke"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    tag = f"{workload} trace={trace}"
    if p.returncode != 0:
        return [f"{tag}: exit {p.returncode}: {p.stderr[-2000:]}"]
    last = json.loads(p.stdout.strip().splitlines()[-1])
    errs = []
    if set(last) != {"correct", "attempted", "failed", "metrics"}:
        errs.append(f"{tag}: result keys {sorted(last)}")
    if not last.get("correct") or last.get("failed") or last.get("attempted", 0) < 1:
        errs.append(f"{tag}: checks failed: {p.stdout.strip().splitlines()[-2][-2000:]}")
    want = declared["per_layer" if trace else "end_to_end"]
    units = {m["name"]: m["unit"] for m in want}
    got = last.get("metrics", {})
    if set(got) != set(units):
        errs.append(f"{tag}: metric names differ: {sorted(set(got) ^ set(units))}")
    for name, m in got.items():
        if not name or m.get("unit") != units.get(name) or not isinstance(m.get("value"), (int, float)):
            errs.append(f"{tag}: bad metric {name}: {m}")
    return errs


def main() -> int:
    import run

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        declared = json.load(fh)
    errs = []
    for w in run.WORKLOADS:  # the declared workloads and corpus_dedup
        for trace in (0, 1):
            e = check(w, trace, declared)
            print(f"{w} trace={trace}: {'ok' if not e else 'FAIL'}", flush=True)
            errs += e
    for e in errs:
        print(e, file=sys.stderr)
    return 1 if errs else 0


if __name__ == "__main__":
    sys.exit(main())
