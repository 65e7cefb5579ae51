"""Run every workload once per seed and report each end-to-end metric's
spread: the distance between the first and third quartile of its
values (``statistics.quantiles(values, n=4)``) as a share of their
median, next to the bound ``BENCHMARK.json`` sets for it.

    python3 perfbench/steadiness.py --seeds 101-110 [--workload emf_mix]

Runs are sequential, one benchmark process at a time. Raw results go to
``.bench_work/steadiness/<first>-<last>.json``.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def seed_range(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def spread(values) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--seeds", type=seed_range, required=True, help="e.g. 101-110")
    p.add_argument("--workload", action="append", help="default: every workload")
    args = p.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = args.workload or [w["name"] for w in spec["workloads"]]
    results = {}
    for name in names:
        for seed in args.seeds:
            t = time.perf_counter()
            proc = subprocess.run(
                [sys.executable, *spec["command"][1:], "--workload", name, "--seed", str(seed),
                 "--seconds", str(spec["run_seconds"]), "--trace", "0"],
                cwd=ROOT, capture_output=True, text=True, timeout=900,
            )
            wall = time.perf_counter() - t
            if proc.returncode != 0:
                print(f"{name} seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
                return 1
            *_, summary, last = proc.stdout.strip().splitlines()
            out = json.loads(last)
            results.setdefault(name, []).append(
                {"seed": seed, "wall_s": wall, "summary": summary, **out})
            print(f"wall {wall:.1f}s correct={out['correct']} {summary}", flush=True)
    dest = ROOT / ".bench_work" / "steadiness" / f"{args.seeds[0]}-{args.seeds[-1]}.json"
    dest.parent.mkdir(parents=True, exist_ok=True)
    dest.write_text(json.dumps(results, indent=1))
    print(f"\n| workload | metric | median | spread | bound |\n|---|---|---|---|---|")
    for name, runs in results.items():
        for m in spec["end_to_end"]:
            vals = [r["metrics"][m["name"]]["value"] for r in runs]
            print(f"| {name} | {m['name']} | {statistics.median(vals):.4g} | "
                  f"{spread(vals):.3f} | {m['bound']} |")
        walls = [r["wall_s"] for r in runs]
        print(f"| {name} | wall per run (s) | {statistics.median(walls):.1f} | "
              f"{spread(walls):.3f} | — |")
    return 0


if __name__ == "__main__":
    sys.exit(main())
