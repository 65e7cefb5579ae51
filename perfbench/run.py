"""Benchmark of the EMF engine's public entry points.

    python3 perfbench/run.py --workload emf_mix --seed 1 --seconds 20 --trace 0

Runs one workload (see ``workloads.WORKLOADS`` and README.md) from the
root of a checkout: generates its seeded inputs, starts a
``local[nproc]`` SparkSession, runs one cold warm-up pass on a tiny
input, then repeats the workload's call closed-loop from this single
process until ``--seconds`` have passed, checking every call's output
against ``tests/oracle.py``. The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer ledger (``ledger.py``) with
``--trace 1``. Everything it writes goes under ``.bench_work/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".bench_work"

sys.path.insert(0, str(ROOT))


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--records", type=int, default=None,
        help="records per input file (default: the workload's size)",
    )
    return p.parse_args(argv)


def measure(wl, inputs, tiny, seconds: float, work: Path):
    """The untraced run: set-up, then closed-loop calls for ``seconds``."""
    import harness
    from checks import Checker

    chk = Checker()
    sess, _start, setup = harness.setup(wl, tiny, work)
    try:
        calls, batch_ms = [], []
        t0 = time.perf_counter()
        while not calls or time.perf_counter() - t0 < seconds:
            sw, ms = harness.run_checked(sess, wl, inputs, str(work / "out" / "timed"), chk)
            calls.append(sw)
            batch_ms += ms
        rss = harness.peak_rss_mb([os.getpid(), sess.jvm_pid()])
    finally:
        sess.close()
    metrics = {
        "records_per_s": (statistics.median(inputs.records / c.seconds for c in calls), "1/s"),
        "batch_ms_p50": (statistics.median(batch_ms), "ms"),
        "setup_s": (setup.seconds, "s"),
        "peak_rss_mb": (rss, "MB"),
    }
    info = {
        "calls": len(calls),
        "batch_ms": [round(b) for b in batch_ms],
        "wall_s": [round(c.wall, 2) for c in calls],
        "steal": [round(s.steal, 3) for s in (setup, *calls)],
    }
    return chk, metrics, info


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        import emf_spark  # noqa: F401
        from tests import oracle  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the EMF engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    import workloads

    wl = workloads.WORKLOADS.get(args.workload)
    if wl is None:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    n = args.records or wl.records_per_file
    cache = str(WORK / "cache")
    inputs = workloads.prepare(cache, wl.name, wl.files, n, args.seed)
    tiny = workloads.prepare(cache, "tiny", 1, workloads.TINY_RECORDS, workloads.TINY_SEED)
    run_dir = WORK / "runs" / f"{wl.name}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        if args.trace:
            import ledger

            chk, metrics, info = ledger.traced_run(
                wl, inputs, tiny, run_dir, WORK / "traces", args.seed, args.seconds
            )
        else:
            chk, metrics, info = measure(wl, inputs, tiny, args.seconds, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    for f in chk.failures:
        print(f"perfbench: check failed: {f}", file=sys.stderr)
    summary = " ".join(f"{k}={v:.6g}{u}" for k, (v, u) in metrics.items())
    print(f"{wl.name} seed={args.seed} {summary} failed_share={chk.failed_share:.4g} "
          + " ".join(f"{k}={v}" for k, v in info.items()))
    print(json.dumps({
        "correct": chk.failed == 0,
        "attempted": chk.attempted,
        "failed": chk.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
