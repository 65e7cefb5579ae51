"""Paired A/B of the benchmark: a parent revision against a change.

    python3 tools/ab.py --work /tmp/ab --seeds 1-10 [--parent HEAD] [--change REV]
                        [--workload emf_stream] [--trace 0]
    python3 tools/ab.py --work /tmp/ab --report

Copies the parent (default ``HEAD``) and the change (a revision, or by
default the working tree's tracked and untracked, not ignored, files)
into ``<work>/parent`` and ``<work>/change``; revisions are copied with
``git archive``. Then, for every seed and workload, it runs the
benchmark command of ``BENCHMARK.json`` (``perfbench/run.py --seconds
<run_seconds> --trace 0``) once in each copy, one process at a time,
alternating which side runs first: the first seed of a workload runs the
parent first, the next the change, and so on. Each run's result is
appended to ``<work>/results.jsonl`` when it ends; runs already there
are skipped, so an interrupted A/B resumes where it stopped.

The report gives, per workload and metric, each side's median and
quartiles (``statistics.quantiles(values, n=4)``), how many pairs the
change won (ties count for neither side), how much worse the change's
median is (negative: better) against the metric's bound, and whether
the gain rule holds (it needs at least 10 pairs): the change wins at
least 9 in 10 pairs and the medians differ by more than the parent's
interquartile distance. Then
each side's failed checks over checks attempted, and, for ``--trace
0``, a table of every pair. Give the same revision as ``--parent`` and
``--change`` to measure drift. Nothing under ``perfbench/`` is changed:
each copy runs its own benchmark files, and everything a run writes
stays inside its copy.
"""

from __future__ import annotations

import argparse
import io
import json
import shutil
import statistics
import subprocess
import sys
import tarfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SIDES = ("parent", "change")
LABELS = {
    "records_per_s": "rec/s",
    "batch_ms_p50": "batch ms",
    "setup_s": "setup s",
    "peak_rss_mb": "RSS MB",
}


def seed_range(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def git(*args: str) -> bytes:
    return subprocess.run(
        ["git", *args], cwd=ROOT, check=True, capture_output=True
    ).stdout


def copy_tree(rev: str | None, dest: Path) -> None:
    """``rev``'s files (``git archive``), or the working tree's when None."""
    shutil.rmtree(dest, ignore_errors=True)
    dest.mkdir(parents=True)
    if rev is not None:
        with tarfile.open(fileobj=io.BytesIO(git("archive", "--format=tar", rev))) as tar:
            tar.extractall(dest)
        return
    for name in git("ls-files", "-z", "--cached", "--others", "--exclude-standard").split(b"\0"):
        src = ROOT / name.decode()
        if name and src.is_file():
            (dest / name.decode()).parent.mkdir(parents=True, exist_ok=True)
            shutil.copy2(src, dest / name.decode())


def run_once(tree: Path, spec: dict, workload: str, seed: int, trace: int) -> dict:
    cmd = [sys.executable, *spec["command"][1:], "--workload", workload, "--seed", str(seed),
           "--seconds", str(spec["run_seconds"]), "--trace", str(trace)]
    t = time.perf_counter()
    proc = subprocess.run(cmd, cwd=tree, capture_output=True, text=True, timeout=1800)
    wall = time.perf_counter() - t
    lines = proc.stdout.strip().splitlines()
    try:
        out = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        out = {"correct": False, "attempted": 0, "failed": 0, "metrics": {},
               "error": f"exit {proc.returncode}: {proc.stderr[-2000:]}"}
    return {"wall_s": round(wall, 1), "summary": lines[-2] if len(lines) > 1 else "", **out}


def load(results: Path) -> list[dict]:
    if not results.exists():
        return []
    return [json.loads(line) for line in results.read_text().splitlines() if line.strip()]


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def fmt(v: float, unit: str) -> str:
    return f"{v:.0f}" if unit in ("ms", "MB") else f"{v:.1f}"


def report(runs: list[dict], spec: dict) -> None:
    metrics = {m["name"]: m for m in spec["end_to_end"] + spec.get("per_layer", [])}
    pairs: dict[str, dict[int, dict]] = {}
    for r in runs:
        pairs.setdefault(r["workload"], {}).setdefault(r["seed"], {})[r["side"]] = r
    for wl, by_seed in pairs.items():
        done = [p for _, p in sorted(by_seed.items()) if all(s in p for s in SIDES)]
        ok = [p for p in done if not any("error" in p[s] for s in SIDES)]
        names = [m for m in metrics if ok and all(m in p[s]["metrics"] for p in ok for s in SIDES)]
        for name in names:
            m = metrics[name]
            lower = m["better"] == "lower"
            vals = {s: [p[s]["metrics"][name]["value"] for p in ok] for s in SIDES}
            pq1, pmed, pq3 = quartiles(vals["parent"])
            cq1, cmed, cq3 = quartiles(vals["change"])
            wins = sum((c < p) if lower else (c > p) for p, c in zip(*vals.values()))
            gap = (pmed - cmed) if lower else (cmed - pmed)
            worse = f"{((cmed - pmed) if lower else (pmed - cmed)) / pmed:+.1%}" if pmed else "n/a"
            if len(ok) < 10:
                rule = "needs 10 pairs"
            else:
                rule = "met" if wins >= 0.9 * len(ok) and gap > pq3 - pq1 else "not met"
            bound = f" (bound {m['bound']:.0%})" if "bound" in m else ""
            print(f"- {wl} {name}: parent median {pmed:.4g} (IQR {pq1:.4g}-{pq3:.4g}), "
                  f"change median {cmed:.4g} (IQR {cq1:.4g}-{cq3:.4g}), "
                  f"change better in {wins}/{len(ok)}, change worse by {worse}{bound}, "
                  f"gain rule {rule}")
        shares = []
        for s in SIDES:
            att = sum(p[s]["attempted"] for p in done)
            fail = sum(p[s]["failed"] for p in done)
            errors = sum("error" in p[s] for p in done)
            shares.append(f"{s} {fail / att if att else 0:.4g} ({fail}/{att} checks, "
                          f"{errors} runs without a result)")
        print(f"- {wl} failed_share " + ", ".join(shares))
    e2e = [m for m in spec["end_to_end"] if m["name"] in LABELS]
    if not all(m["name"] in r["metrics"] for r in runs for m in e2e if "error" not in r):
        return
    head = ["workload", "seed", "first",
            *(f"{s} {LABELS[m['name']]}" for s in SIDES for m in e2e),
            *(f"{s} failed" for s in SIDES)]
    print("\n| " + " | ".join(head) + " |\n|" + "---|" * len(head))
    for wl, by_seed in pairs.items():
        for seed, p in sorted(by_seed.items()):
            if not all(s in p for s in SIDES):
                continue
            cells = [wl, str(seed), p["parent"]["first"]]
            for s in SIDES:
                ms = p[s]["metrics"]
                cells += [fmt(ms[m["name"]]["value"], m["unit"]) if m["name"] in ms else "—"
                          for m in e2e]
            cells += [f"{p[s]['failed']}/{p[s]['attempted']}" for s in SIDES]
            print("| " + " | ".join(cells) + " |")


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--work", type=Path, required=True, help="scratch directory for the copies")
    p.add_argument("--seeds", type=seed_range, help="e.g. 1-10")
    p.add_argument("--parent", default="HEAD")
    p.add_argument("--change", default=None, help="default: the working tree")
    p.add_argument("--workload", action="append", help="default: every workload")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--report", action="store_true", help="only report <work>/results.jsonl")
    args = p.parse_args()
    results = args.work / "results.jsonl"
    if args.report:
        runs = [r for r in load(results) if r["trace"] == args.trace]
        report(runs, json.loads((args.work / "change" / "BENCHMARK.json").read_text()))
        return 0
    if not args.seeds:
        p.error("--seeds is required unless --report is given")
    trees = {"parent": args.work / "parent", "change": args.work / "change"}
    copy_tree(args.parent, trees["parent"])
    copy_tree(args.change, trees["change"])
    spec = json.loads((trees["change"] / "BENCHMARK.json").read_text())
    names = args.workload or [w["name"] for w in spec["workloads"]]
    done = {(r["workload"], r["seed"], r["side"], r["trace"]) for r in load(results)}
    for i, seed in enumerate(args.seeds):
        first = SIDES[i % 2]
        for wl in names:
            for side in (first, SIDES[1 - i % 2]):
                if (wl, seed, side, args.trace) in done:
                    continue
                r = run_once(trees[side], spec, wl, seed, args.trace)
                r.update(workload=wl, seed=seed, side=side, first=first, trace=args.trace)
                with results.open("a") as f:
                    f.write(json.dumps(r) + "\n")
                print(f"{wl} seed {seed} {side}: wall {r['wall_s']}s {r['summary'] or r.get('error')}",
                      flush=True)
    report([r for r in load(results) if r["trace"] == args.trace], spec)
    return 0


if __name__ == "__main__":
    sys.exit(main())
