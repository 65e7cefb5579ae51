"""Tests of the benchmark itself: the self-time arithmetic, and a tiny
run of every workload through the same command the benchmark uses.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

import ledger  # noqa: E402
import workloads  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def test_self_times_are_prefix_differences():
    cum = {
        "scan": 1.0, "detok": 1.5, "parse": 4.0, "enrich": 4.5, "staged_write": 6.0,
        "staged_scan": 0.5, "explode": 1.0, "hist": 2.5, "meta": 2.0, "assemble": 4.5,
        "events_json": 5.5, "write_events": 7.0, "stats": 0.25, "route_write": 3.0,
    }
    s = ledger.self_times(cum)
    assert s["pipeline.scan_s"] == 1.0
    assert s["tokenizer.detok_s"] == 0.5
    assert s["parse.s"] == 2.5
    assert s["enrich.s"] == 0.5
    assert s["pipeline.staged_write_s"] == 1.5
    assert s["aggregate.explode_s"] == 0.5
    assert s["aggregate.hist_s"] == 1.5
    assert s["aggregate.meta_s"] == 1.5
    # both branches come off, their shared staged scan goes back on once
    assert s["aggregate.assemble_s"] == 4.5 + 0.5 - 2.5 - 2.0
    assert s["output.events_json_s"] == 1.0
    assert s["output.write_events_s"] == 1.5
    # each linear chain telescopes to its last cumulative prefix
    assert sum(s[k] for k in ("pipeline.scan_s", "tokenizer.detok_s", "parse.s", "enrich.s",
                              "pipeline.staged_write_s")) == cum["staged_write"]
    # the aggregate DAG sums to its last prefix too
    assert sum(s[k] for k in ("pipeline.staged_scan_s", "aggregate.explode_s", "aggregate.hist_s",
                              "aggregate.meta_s", "aggregate.assemble_s", "output.events_json_s",
                              "output.write_events_s")) == cum["write_events"]


def test_span_parents_and_attribution():
    tr = ledger.Tracer("r")
    with tr.span("outer") as outer:
        with tr.span("inner") as inner:
            pass
    assert inner["parent"] == outer["id"] and outer["parent"] is None
    assert inner["run"] == outer["run"] == "r"
    jobs = [outer["start"] * 1000, outer["end"] * 1000 + 5000]
    stages = [{"submit_ms": outer["start"] * 1000, "tasks": 4, "cpu_s": 1.0, "gc_s": 0.1,
               "shuffle_write_mb": 2.0, "spill_mb": 0.0}]
    c = ledger.engine_counters(outer, jobs, stages)
    assert (c["jobs"], c["stages"], c["tasks"], c["shuffle_write_mb"]) == (1, 1, 4, 2.0)


def test_routed_check_catches_a_rejected_row_routed_in_place_of_a_valid_one(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from checks import Checker, check_routed

    tokens = pa.array([[1, 2], [3], [4, 5, 6]], pa.list_(pa.int32()))
    inp = pa.table({"doc_id": ["a", "b", "c"], "tokens": tokens})
    (tmp_path / "in").mkdir()
    pq.write_table(inp, tmp_path / "in" / "part-0.parquet")
    expect = {"rejected": ["b"], "valid_by_sink": {"s": 2}}

    def routed(ids):
        out = tmp_path / f"out-{''.join(ids)}"
        (out / "routed").mkdir(parents=True)
        pq.write_table(inp.filter(pa.array([d in ids for d in ["a", "b", "c"]])),
                       out / "routed" / "part-0.parquet")
        return Checker(), str(out)

    chk, out = routed(["a", "c"])
    check_routed(chk, out, str(tmp_path / "in"), expect)
    assert chk.failed == 0, chk.failures
    # same count and one valid row's tokens still match, but "b" was rejected
    chk, out = routed(["a", "b"])
    check_routed(chk, out, str(tmp_path / "in"), expect)
    assert chk.failed == 2 and "routed.ids" in chk.failures[0]


def run_bench(workload: str, trace: int, records: int) -> dict:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--records", str(records)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_tiny_run_is_correct_and_complete(workload):
    out = run_bench(workload, 0, 300)
    assert out["correct"] and out["failed"] == 0 and out["attempted"] > 0
    assert set(out["metrics"]) == {m["name"] for m in SPEC["end_to_end"]}
    assert all(v["value"] > 0 for v in out["metrics"].values())


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_tiny_traced_run_reports_every_layer(workload):
    out = run_bench(workload, 1, 300)
    assert out["correct"] and out["failed"] == 0
    assert set(out["metrics"]) == {m["name"] for m in SPEC["per_layer"]}
    m = {k: v["value"] for k, v in out["metrics"].items()}
    files = workloads.WORKLOADS[workload].files
    assert m["parse.records"] == 300 * files
    assert m["parse.valid"] + m["parse.errors"] == m["parse.records"]
    assert m["route.rows"] == m["parse.valid"]
    assert m["stream.batches"] == files
