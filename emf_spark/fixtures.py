"""Deterministic EMF fixture corpus (FIXTURES.md §2-§4).

Replicates the reference integration generator's event mix
(``/root/reference/test-generator/src/index.ts:52-131``) with a seeded
RNG, plus adversarial slices keyed off ``i % 100`` so every corpus size
contains every slice at a fixed fraction:

  0-1  malformed (missing _aws / Timestamp / CloudWatchMetrics)
  2    "Dimnesions" typo (sample_record.json:7) — projection skipped
  3    Min/Max-only metric value — dropped per aggregator.go:136-149
  4    string "NaN"/"Infinity" values — parse to NaN/Inf, filtered at
       histogram insert (seh.go:65-67)
  5    non-positive metric values — SEH bucket-0 collision (seh.go:36-38)
  6    pinned 1-distinct group (exact-branch, histogram.go:43-49)
  7    pinned 2-distinct group (exact-branch, histogram.go:50-58)
  8    duplicate-value compression pair (1200/1201 vs 1200/1200)
  else the 4-type event mix; 30% of those forced onto one hot
       dimension set (skew slice, north rule)

Timestamps are non-decreasing from ``base_ts`` (duplicates occur once n exceeds the window span in ms) spanning >= 3 tumbling
windows. Tokenization: UTF-8 bytes (tokenizer.py).
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_TS = 1738022400000  # 2025-01-28T00:00:00Z, epoch ms
WINDOW_MS = 60_000

SOURCES = ["app-a", "app-b", "app-c", "noise"]

BASE_DIMS = {
    "Service": "EcommerceApp",
    "Environment": "Production",
    "Region": "us-west-2",
}
NAMESPACE = "EcommerceMetrics"

DEVICE_TYPES = ["mobile", "desktop", "tablet"]
BROWSERS = ["chrome", "firefox", "safari", "edge"]
PAY_METHODS = ["credit_card", "debit_card", "paypal", "crypto"]
PAY_STATUS = ["success", "success", "success", "failed"]
WAREHOUSES = [f"wh_{i}" for i in range(1, 6)]

SOURCE_LOOKUP_ROWS = [
    # (source, sink, log_group_name, log_stream_name, env)
    ("app-a", "cloudwatch", "MyServiceEMF", "MyServiceStream", "prod"),
    ("app-b", "cloudwatch", "MyServiceEMF", "stream-b", "prod"),
    ("app-c", "file", "FileEMF", "stream-c", "staging"),
    ("noise", "archive", "ArchiveEMF", "stream-n", "dev"),
]


def _round2(x: float) -> float:
    return float(np.round(x, 2))


def _mk_aws(ts: int, dims_sets: list[list[str]], metrics: list[tuple[str, str]],
            dim_key: str = "Dimensions") -> dict:
    return {
        "Timestamp": ts,
        "CloudWatchMetrics": [
            {
                "Namespace": NAMESPACE,
                dim_key: dims_sets,
                "Metrics": [{"Name": n, "Unit": u} for n, u in metrics],
            }
        ],
    }


def _system_metrics(rng) -> dict:
    return {
        "CPUUtilization": _round2(rng.uniform(5, 95)),
        "MemoryUtilization": _round2(rng.uniform(20, 90)),
        "LatencyP95": _round2(rng.uniform(50, 500)),
        "ErrorRate": _round2(rng.uniform(0, 5)),
    }


SYSTEM_METRIC_DEFS = [
    ("CPUUtilization", "Percent"),
    ("MemoryUtilization", "Percent"),
    ("LatencyP95", "Milliseconds"),
    ("ErrorRate", "Percent"),
]


def _event_record(rng, ts: int, hot: bool) -> dict:
    """One record from the 4-type mix (index.ts:52-131 shapes).

    ``hot`` pins the record to the payment type AND the single hot
    dimension set — the etype draw would otherwise scatter 3/4 of the
    hot slice across branches that ignore the flag, leaving ~9% real
    skew where the fixture documents 30% (review finding: skew tests
    were exercising a 3-4x weaker hot key than claimed)."""
    etype = 2 if hot else int(rng.integers(0, 4))
    dims = dict(BASE_DIMS)
    if etype == 0:  # user_session
        dims["DeviceType"] = DEVICE_TYPES[int(rng.integers(0, 3))]
        dims["Browser"] = BROWSERS[int(rng.integers(0, 4))]
        metrics = {
            "SessionDuration": _round2(rng.uniform(10, 3600)),
            "PageViews": int(rng.integers(1, 51)),
            "BounceRate": _round2(rng.uniform(20, 80)),
            "LoadTime": _round2(rng.uniform(100, 2000)),
        }
        defs = [
            ("SessionDuration", "Seconds"),
            ("PageViews", "Count"),
            ("BounceRate", "Percent"),
            ("LoadTime", "Milliseconds"),
        ]
    elif etype == 1:  # order
        metrics = {
            "OrderValue": _round2(rng.uniform(10, 500)),
            "ItemsPerOrder": int(rng.integers(1, 11)),
            "OrderProcessingTime": _round2(rng.uniform(500, 3000)),
            "CartAbandonmentRate": _round2(rng.uniform(20, 40)),
        }
        defs = [
            ("OrderValue", "None"),
            ("ItemsPerOrder", "Count"),
            ("OrderProcessingTime", "Milliseconds"),
            ("CartAbandonmentRate", "Percent"),
        ]
    elif etype == 2:  # payment
        if hot:
            dims["PaymentMethod"] = "credit_card"
            dims["PaymentStatus"] = "success"
        else:
            dims["PaymentMethod"] = PAY_METHODS[int(rng.integers(0, 4))]
            dims["PaymentStatus"] = PAY_STATUS[int(rng.integers(0, 4))]
        # structured-value form for PaymentProcessingTime exercises the
        # Values/Counts parse branch (metric.go:181-213)
        ppt = _round2(rng.uniform(100, 2000))
        metrics = {
            "PaymentProcessingTime": {
                "Values": [ppt],
                "Counts": [1],
                "Min": ppt,
                "Max": ppt,
                "Sum": ppt,
                "Count": 1,
            },
            "PaymentSuccess": int(dims["PaymentStatus"] == "success"),
            "PaymentFailure": int(dims["PaymentStatus"] != "success"),
            "TransactionValue": _round2(rng.uniform(10, 500)),
        }
        defs = [
            ("PaymentProcessingTime", "Milliseconds"),
            ("PaymentSuccess", "Count"),
            ("PaymentFailure", "Count"),
            ("TransactionValue", "None"),
        ]
    else:  # inventory
        dims["Warehouse"] = WAREHOUSES[int(rng.integers(0, 5))]
        metrics = {
            "StockLevel": int(rng.integers(0, 1001)),
            "StockValue": _round2(rng.uniform(100, 100000)),
            "OutOfStock": int(rng.integers(0, 2)),
            "LowStock": int(rng.integers(0, 2)),
        }
        defs = [
            ("StockLevel", "Count"),
            ("StockValue", "None"),
            ("OutOfStock", "Count"),
            ("LowStock", "Count"),
        ]
    metrics.update(_system_metrics(rng))
    defs = defs + SYSTEM_METRIC_DEFS
    dim_names = sorted(dims)
    rec = {
        "_aws": _mk_aws(ts, [["Service"], dim_names], defs),
        **metrics,
        **dims,
        "RequestId": f"req-{int(rng.integers(0, 1 << 31))}",  # stripped (P2)
    }
    return rec


def _adversarial_record(rng, ts: int, slot: int, i: int) -> dict:
    dims = dict(BASE_DIMS)
    if slot <= 1:  # malformed: rotate 3 shapes
        kind = i % 3
        if kind == 0:
            return {"Latency": 1.0, "Service": "x"}  # no _aws
        if kind == 1:
            return {"_aws": {"CloudWatchMetrics": []}, "Latency": 1.0}  # no ts
        return {"_aws": {"Timestamp": ts}, "Latency": 1.0}  # no CWM
    if slot == 2:  # Dimnesions typo — projection's dims never parse
        rec = {
            "_aws": _mk_aws(ts, [["Service"]], [("TypoMetric", "Count")],
                            dim_key="Dimnesions"),
            "TypoMetric": _round2(rng.uniform(0, 10)),
            **dims,
        }
        return rec
    if slot == 3:  # Min/Max-only metric value -> dropped (P6)
        return {
            "_aws": _mk_aws(ts, [sorted(dims)], [("Orphan", "Count"),
                                                 ("Kept", "Count")]),
            "Orphan": {"Min": 5.0, "Max": 7.0, "Sum": 12.0, "Count": 2},
            "Kept": 1,
            **dims,
        }
    if slot == 4:  # string NaN/Inf -> filtered at insert (P5)
        return {
            "_aws": _mk_aws(ts, [sorted(dims)], [("Flaky", "Count"),
                                                 ("Kept", "Count")]),
            "Flaky": "NaN" if i % 2 else "Infinity",
            "Kept": 1,
            **dims,
        }
    if slot == 5:  # non-positive values -> SEH bucket 0 collision
        return {
            "_aws": _mk_aws(ts, [sorted(dims)], [("Delta", "None")]),
            "Delta": float(rng.choice([-3.5, -1.0, 0.0, 0.5, 1.05])),
            **dims,
        }
    if slot == 6:  # pinned 1-distinct group
        d = {**dims, "Pin": "one"}
        return {
            "_aws": _mk_aws(ts, [sorted(d)], [("PinMetric", "Count")]),
            "PinMetric": 42.0,
            **d,
        }
    if slot == 7:  # pinned 2-distinct group
        d = {**dims, "Pin": "two"}
        return {
            "_aws": _mk_aws(ts, [sorted(d)], [("PinMetric", "Count")]),
            "PinMetric": 42.0 if i % 2 else 43.0,
            **d,
        }
    # slot 8: duplicate-value pair (README.md:23 precision example)
    d = {**dims, "Pin": "dup"}
    return {
        "_aws": _mk_aws(ts, [sorted(d)], [("DupMetric", "Milliseconds")]),
        "DupMetric": 1200.0 if i % 2 else 1201.0,
        **d,
    }


def gen_records(n: int, seed: int = 42, base_ts: int = BASE_TS,
                n_windows: int = 3, adversarial: bool = True):
    """Yield (doc_id, json_str, source, ts). Deterministic for (n, seed)."""
    rng = np.random.default_rng(seed)
    span = n_windows * WINDOW_MS
    for i in range(n):
        ts = base_ts + (i * span) // max(n, 1)  # strictly non-decreasing
        slot = i % 100
        if adversarial and slot <= 8:
            rec = _adversarial_record(rng, ts, slot, i)
        else:
            hot = rng.random() < 0.30  # hot-key skew slice
            rec = _event_record(rng, ts, hot)
        source = SOURCES[int(rng.integers(0, 4))]
        doc_id = f"doc_{seed}_{i:012d}"
        yield doc_id, json.dumps(rec, separators=(",", ":")), source, ts


def corpus_table(n: int, seed: int = 42, **kw) -> pa.Table:
    """Materialize the tokenized corpus as a pyarrow Table
    (doc_id, tokens, n_tok, source) per BASELINE.json input_hint."""
    doc_ids, toks, n_toks, sources = [], [], [], []
    for doc_id, js, source, _ts in gen_records(n, seed, **kw):
        b = js.encode("utf-8")
        doc_ids.append(doc_id)
        toks.append(np.frombuffer(b, dtype=np.uint8).astype(np.int32))
        n_toks.append(len(b))
        sources.append(source)
    return pa.table(
        {
            "doc_id": pa.array(doc_ids, pa.string()),
            "tokens": pa.array([t.tolist() for t in toks], pa.list_(pa.int32())),
            "n_tok": pa.array(n_toks, pa.int32()),
            "source": pa.array(sources, pa.string()),
        }
    )


def write_corpus(path: str, n: int, seed: int = 42, **kw) -> str:
    """Write the corpus parquet (stand-in for the Iceberg table; on a
    cluster this is ``writeTo(...).partitionedBy(source, bucket(doc_id))``)."""
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    pq.write_table(corpus_table(n, seed, **kw), path)
    return path


def lookup_df(spark):
    """Broadcast-side enrichment table (FIXTURES.md §4), as an inline
    ``VALUES`` table. Spark plans it as a ``LocalRelation``, so each
    query that broadcasts it collects the rows inside the JVM.
    ``createDataFrame`` over a Python list plans a ``LogicalRDD``
    instead, whose broadcast runs a job through Python workers on every
    query. String literals are non-null, so the schema is exactly
    ``LOOKUP_SCHEMA``."""
    from emf_spark.schema import LOOKUP_SCHEMA

    def sql_str(v: str) -> str:
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"

    rows = ", ".join(
        "(" + ", ".join(map(sql_str, row)) + ")" for row in SOURCE_LOOKUP_ROWS
    )
    cols = ", ".join(LOOKUP_SCHEMA.fieldNames())
    return spark.sql(f"SELECT * FROM VALUES {rows} AS lookup({cols})")
