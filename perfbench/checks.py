"""Output checks run after every timed call, outside the timing.

The outputs are read back with pyarrow, not Spark, so checking adds no
jobs to the session being measured. Each check adds one to
``attempted`` and, when it does not hold, one to ``failed``;
``failed / attempted`` is the benchmark's ``failed_share``. Floats are
held to ``pytest.approx``'s default tolerance, the one
``tests/test_pipeline_e2e.py`` uses.
"""

from __future__ import annotations

import math
import os
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq

REL_TOL = 1e-6
ABS_TOL = 1e-12


def close(a, b) -> bool:
    return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=ABS_TOL)


def all_close(xs, ys) -> bool:
    return len(xs) == len(ys) and all(close(x, y) for x, y in zip(xs, ys))


class Checker:
    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def check(self, name: str, ok: bool, detail="") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(f"{name}: {detail}"[:500])

    @property
    def failed_share(self) -> float:
        return self.failed / max(self.attempted, 1)


def read(path: str, columns: list[str]) -> list[dict]:
    """Rows of a Spark-written (hive-partitioned) parquet directory."""
    return ds.dataset(path, format="parquet", partitioning="hive").to_table(columns=columns).to_pylist()


def metric_mismatch(row_metrics, expected: dict):
    """First mismatch between an event's metrics and the oracle's reduced
    fields, or None. ``expected`` maps name -> {Values, Counts, Min, Max,
    Sum}, or -> the bare scalar of the A10 single-bucket collapse, which
    the event renders as the group's Max."""
    got = {m["metric_name"]: m for m in row_metrics}
    if set(got) != set(expected):
        return f"metric names {sorted(got)} != {sorted(expected)}"
    for name, stats in expected.items():
        g = got[name]
        if isinstance(stats, dict):
            ok = (
                all_close(g["values"], stats["Values"])
                and list(g["counts"]) == stats["Counts"]
                and close(g["min"], stats["Min"])
                and close(g["max"], stats["Max"])
                and close(g["sum"], stats["Sum"])
            )
        else:
            ok = len(g["values"]) == 1 and close(g["max"], stats)
        if not ok:
            return f"{name}: {g} != {stats}"
    return None


def errors_by_reason(out_dir: str) -> dict:
    return dict(Counter(r["error"] for r in read(os.path.join(out_dir, "errors"), ["error"])))


def check_batch(chk: Checker, out_dir: str, input_dir: str, stats_rows, expect) -> None:
    """pipeline.run outputs against the oracle."""
    events = expect["events"]
    stats = {r["sink"]: r for r in stats_rows}
    records_in = {s: r["records_in"] for s, r in stats.items()}
    chk.check("stats.records_in", records_in == expect["valid_by_sink"], records_in)
    events_out = {s: r["events_out"] for s, r in stats.items()}
    chk.check("stats.events_out", events_out == dict(Counter(k[0] for k in events)), events_out)

    rows = read(
        os.path.join(out_dir, "events"),
        ["sink", "window_start", "dim_hash", "metrics", "dimensions", "timestamp"],
    )
    keys = [(r["sink"], r["window_start"], r["dim_hash"]) for r in rows]
    chk.check("events.group_keys", sorted(keys) == sorted(events), len(keys))
    bad = None
    for key, r in zip(keys, rows):
        exp = events.get(key)
        if exp is None:
            continue
        bad = metric_mismatch(r["metrics"], exp["metrics"])
        if bad is None and (
            dict(r["dimensions"]) != exp["dimensions"] or r["timestamp"] != exp["timestamp"]
        ):
            bad = "dimensions/timestamp"
        if bad:
            bad = f"{key} {bad}"
            break
    chk.check("events.metric_values", bad is None, bad)

    reasons = errors_by_reason(out_dir)
    chk.check("errors.by_reason", reasons == expect["errors"], reasons)
    check_routed(chk, out_dir, input_dir, expect)


def _sorted_tokens(table):
    t = table.take(pc.sort_indices(table, [("doc_id", "ascending")]))
    tokens = t.column("tokens").combine_chunks()
    return (
        t.column("doc_id").to_pylist(),
        pc.list_value_length(tokens).to_numpy(zero_copy_only=False),
        pc.list_flatten(tokens).to_numpy(zero_copy_only=False),
    )


def check_routed(chk: Checker, out_dir: str, input_dir: str, expect) -> None:
    """Every input row the oracle accepts is routed exactly once, with its
    exact tokens, and no rejected row is routed."""
    routed = ds.dataset(os.path.join(out_dir, "routed"), format="parquet", partitioning="hive")
    r_ids, r_len, r_tok = _sorted_tokens(routed.to_table(columns=["doc_id", "tokens"]))
    inp = pq.read_table(input_dir, columns=["doc_id", "tokens"])
    rejected = pa.array(expect["rejected"], pa.string())
    keep = pc.invert(pc.is_in(inp.column("doc_id"), value_set=rejected))
    i_ids, i_len, i_tok = _sorted_tokens(inp.filter(keep))
    valid = sum(expect["valid_by_sink"].values())
    chk.check("routed.rows", len(r_ids) == len(i_ids) == valid, (len(r_ids), len(i_ids), valid))
    chk.check("routed.ids", r_ids == i_ids)
    same = r_ids == i_ids and np.array_equal(r_len, i_len) and np.array_equal(r_tok, i_tok)
    chk.check("routed.tokens_equal", same)


def check_stream(chk: Checker, out_dir: str, expect, drained: bool, stopped: bool,
                 batches: int, files: int) -> None:
    """A drained run_microbatch: per-batch partial events re-sum to the
    oracle's group records, and every file became one batch."""
    chk.check("stream.drained", drained)
    chk.check("stream.stopped", stopped)
    chk.check("stream.batches", batches == files, (batches, files))
    if not drained:
        return
    got = Counter()
    for r in read(os.path.join(out_dir, "events"), ["sink", "window_start", "dim_hash", "records"]):
        got[(r["sink"], r["window_start"], r["dim_hash"])] += r["records"]
    exp = {k: e["records"] for k, e in expect["events"].items()}
    chk.check("stream.group_records", dict(got) == exp, len(got))
    by_sink = Counter()
    for (sink, _w, _h), n in got.items():
        by_sink[sink] += n
    chk.check("stream.valid_by_sink", dict(by_sink) == expect["valid_by_sink"], dict(by_sink))
    reasons = errors_by_reason(out_dir)
    chk.check("stream.errors_by_reason", reasons == expect["errors"], reasons)
