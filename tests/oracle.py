"""Pure-Python oracle: independent transliteration of the reference
aggregation semantics (FIXTURES.md §6), evaluated over the same JSON
records the engine consumes. Never imports engine code paths beyond the
tokenizer contract.

Mirrors (citations into /root/reference/):
  - emf/metric.go:32-179   parse + key stripping (intent-level: invalid
    projections dropped rather than left as zero structs)
  - emf/aggregator.go:96-151 grouping + metadata merge
  - histogram/histogram.go + histogram/seh.go reduce
Documented divergences (SURVEY.md §7.4): deterministic (ts, doc_id)
arrival order; NaN/Inf filtered at insert; P6 Min==Max by value;
A6 intended per-namespace union; canonical ascending value order;
out-of-range counts drop their value and count sums saturate.
"""

from __future__ import annotations

import json
import math
from collections import defaultdict

LOG11 = math.log(1.1)
WINDOW_MS = 60_000
LONG_MAX = 2**63 - 1


def parse_float(v) -> float:
    if isinstance(v, bool):
        return 0.0
    if isinstance(v, (int, float)):
        return float(v)
    if isinstance(v, str):
        try:
            return float(v)
        except ValueError:
            return 0.0
    return 0.0


def parse_record(rec: dict):
    """-> (ts, cwm, dims, metric_pairs) or raises ValueError (P1)."""
    if not isinstance(rec, dict) or "_aws" not in rec:
        raise ValueError("no aws metadata")
    aws = rec["_aws"]
    if not isinstance(aws, dict) or "Timestamp" not in aws:
        raise ValueError("no timestamp")
    ts = aws["Timestamp"]
    if not isinstance(ts, int) or isinstance(ts, bool):
        raise ValueError("timestamp not int")
    if "CloudWatchMetrics" not in aws or not isinstance(
        aws["CloudWatchMetrics"], list
    ):
        raise ValueError("no CloudWatchMetrics")
    cwm = []
    dim_names = set()
    for p in aws["CloudWatchMetrics"]:
        if not isinstance(p, dict):
            continue
        if "Namespace" not in p or "Dimensions" not in p:
            continue
        if not isinstance(p["Dimensions"], list):
            continue
        dims_sets = [
            sorted(str(d) for d in s) for s in p["Dimensions"] if isinstance(s, list)
        ]
        # reference accumulates emf.DimensionSet from the Dimensions leg
        # BEFORE skipping on a bad/missing Metrics field (metric.go:80-124)
        for s in dims_sets:
            dim_names.update(s)
        if "Metrics" not in p or not isinstance(p["Metrics"], list):
            continue
        metrics = [
            {
                "Name": str(m["Name"]),
                "Unit": None if m.get("Unit") is None else str(m["Unit"]),
            }
            for m in p["Metrics"]
            if isinstance(m, dict) and m.get("Name") is not None
        ]
        cwm.append(
            {"Namespace": str(p["Namespace"]), "Dimensions": dims_sets, "Metrics": metrics}
        )
    metric_names = {m["Name"] for p in cwm for m in p["Metrics"]}
    dims, pairs = {}, {}
    for k, v in rec.items():
        if k == "_aws":
            continue
        if k in metric_names:
            pairs[k] = metric_value_pairs(v)
        elif k in dim_names:
            dims[k] = v if isinstance(v, str) else str(v)
    return ts, cwm, dims, pairs


def count_of(c) -> int | None:
    """A count truncated to an int, or None when it is negative,
    non-finite or not below 2^63: such a count makes its value invalid
    and the value is dropped (SURVEY.md §7.4 count rule)."""
    x = parse_float(c)
    return int(x) if 0.0 <= x < 2.0**63 else None


def add_counts(a: int, b: int) -> int:
    """Count sums saturate at 2^63-1 (SURVEY.md §7.4 count rule)."""
    return min(a + b, LONG_MAX)


def metric_value_pairs(v):
    """A3/P6/P5: metric value -> [(value, count)] after filters."""
    if isinstance(v, dict):
        values = v.get("Values")
        counts = v.get("Counts")
        if values is not None:
            out = []
            for i, val in enumerate(values):
                c = (
                    count_of(counts[i])
                    if counts is not None and i < len(counts)
                    else 1
                )
                out.append((parse_float(val), c))
        elif (
            v.get("Max") is not None
            and v.get("Min") == v.get("Max")
            and v.get("Count") is not None
        ):
            out = [(parse_float(v["Max"]), count_of(v["Count"]))]
        else:
            return []
        return [
            (x, c)
            for x, c in out
            if c is not None and not (math.isnan(x) or math.isinf(x))
        ]
    x = parse_float(v)
    if math.isnan(x) or math.isinf(x):
        return []
    return [(x, 1)]


def dim_hash(dims: dict) -> str:
    return ";".join(sorted(f"{k}={v}" for k, v in dims.items()))


def seh_bucket(v: float) -> int:
    if v <= 0:
        return 0
    return int(math.floor(math.log(v) / LOG11))


def seh_value(bucket: int) -> float:
    return math.exp((bucket + 0.5) * LOG11)


def reduce_histogram(vc: dict[float, int]):
    """histogram.go:39-88 Reduce, canonical ascending order."""
    n = len(vc)
    if n == 0:
        return None
    if n <= 2:
        values = sorted(vc)
        counts = [vc[v] for v in values]
        return {
            "Values": values,
            "Counts": counts,
            "Min": min(values),
            "Max": max(values),
            "Sum": sum(v * c for v, c in vc.items()),
        }
    buckets: dict[int, int] = defaultdict(int)
    for v, c in vc.items():
        buckets[seh_bucket(v)] = add_counts(buckets[seh_bucket(v)], c)
    out = {b: c for b, c in buckets.items() if c > 0}
    values = sorted(seh_value(b) for b in out)
    counts = [c for _, c in sorted((seh_value(b), c) for b, c in out.items())]
    return {
        "Values": values,
        "Counts": counts,
        "Min": min(vc),
        "Max": max(vc),
        "Sum": sum(v * c for v, c in vc.items()),
    }


def metric_namespace(cwm, name):
    """Owning namespace = first projection listing the metric
    (metric.go:153-168 loop order; engine parse.namespace_of)."""
    for p in cwm:
        if any(m["Name"] == name for m in p["Metrics"]):
            return p["Namespace"]
    return None


def aggregate(records, window_ms: int = WINDOW_MS, key_by_namespace: bool = False):
    """records: iterable of (doc_id, json_str, sink).

    -> dict[(sink, window_start, dim_hash)] = {
         'dimensions', 'timestamp', 'cw_metrics', 'metrics': {name: vc},
         'records'}
    Processed in deterministic (ts, doc_id) order (SURVEY.md §7.4).

    ``key_by_namespace=True`` models the north-rule key (sink, window,
    namespace, dim_hash): record metadata replicates under each DISTINCT
    projected namespace, a group's cw_metrics merge only that
    namespace's projections, and each metric's observations land in its
    owning namespace's group (first projection listing it).
    """
    parsed = []
    for doc_id, js, sink in records:
        try:
            rec = json.loads(js)
            ts, cwm, dims, pairs = parse_record(rec)
        except ValueError:
            continue
        parsed.append((ts, doc_id, sink, cwm, dims, pairs))
    parsed.sort(key=lambda r: (r[0], r[1]))

    groups = {}

    def group_for(key, dims):
        g = groups.setdefault(
            key,
            {
                "dimensions": dict(dims),
                "timestamp": None,
                "ns": {},
                "metrics": defaultdict(lambda: defaultdict(int)),
                "records": 0,
            },
        )
        return g

    for ts, doc_id, sink, cwm, dims, pairs in parsed:
        w = (ts // window_ms) * window_ms
        dh = dim_hash(dims)
        if key_by_namespace:
            namespaces = list(dict.fromkeys(p["Namespace"] for p in cwm))
            # zero valid projections -> the empty namespace: the record
            # still flushes and counts, matching both the non-keyed
            # mode and the engine (aggregate.py review fix)
            record_keys = [(sink, w, ns, dh) for ns in (namespaces or [""])]
        else:
            record_keys = [(sink, w, dh)]
        for key in record_keys:
            g = group_for(key, dims)
            g["timestamp"] = ts  # A5 last-wins
            for k, v in dims.items():  # A4 first-wins
                g["dimensions"].setdefault(k, v)
            for p in cwm:  # A6 intended union per namespace
                if key_by_namespace and p["Namespace"] != key[2]:
                    continue
                ns = g["ns"].setdefault(
                    p["Namespace"], {"Dimensions": [], "Metrics": []}
                )
                for s in p["Dimensions"]:
                    if s not in ns["Dimensions"]:
                        ns["Dimensions"].append(s)
                for m in p["Metrics"]:
                    if m not in ns["Metrics"]:
                        ns["Metrics"].append(m)
            g["records"] += 1
        for name, vps in pairs.items():
            if key_by_namespace:
                owner = metric_namespace(cwm, name)
                if owner is None:
                    continue
                key = (sink, w, owner, dh)
            else:
                key = (sink, w, dh)
            vc = groups[key]["metrics"][name]
            for v, c in vps:
                vc[v] = add_counts(vc[v], c)

    # canonicalize cw_metrics like the engine (sorted ns / dims / metrics)
    for g in groups.values():
        g["cw_metrics"] = sorted(
            (
                {
                    "Namespace": ns,
                    "Dimensions": sorted(d["Dimensions"]),
                    "Metrics": sorted(
                        d["Metrics"], key=lambda m: (m["Name"], m["Unit"])
                    ),
                }
                for ns, d in g["ns"].items()
            ),
            key=lambda p: p["Namespace"],
        )
        del g["ns"]
    return groups


def reduced_events(groups):
    """-> dict[key] = {metric_name: HistogramStats-or-scalar} plus
    metadata, mirroring flush (aggregator.go:153-231) with the A10
    single-value scalar collapse."""
    out = {}
    for key, g in groups.items():
        fields = {}
        for name, vc in g["metrics"].items():
            stats = reduce_histogram(dict(vc))
            if stats is None:
                continue
            if len(stats["Values"]) == 1:
                fields[name] = stats["Max"]
            else:
                fields[name] = stats
        out[key] = {
            "metrics": fields,
            "dimensions": g["dimensions"],
            "timestamp": g["timestamp"],
            "cw_metrics": g["cw_metrics"],
            "records": g["records"],
        }
    return out
