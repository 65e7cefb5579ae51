"""Parser tests transliterating the reference's table-driven cases
(``/root/reference/fluent-bit-emf/emf/metric_test.go``) onto the
tokenized input path."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from emf_spark.operators.parse import parse_emf, split_valid, with_parsed_metrics
from emf_spark.tokenizer import tokenize_bytes, with_payload


def _parse_one(spark, rec: dict):
    js = json.dumps(rec, separators=(",", ":"))
    df = spark.createDataFrame(
        [("d0", tokenize_bytes(js), len(js), "app-a")],
        "doc_id string, tokens array<int>, n_tok int, source string",
    )
    return with_parsed_metrics(parse_emf(with_payload(df)))


VALID_RECORD = {
    "_aws": {
        "Timestamp": 1738022579723,
        "CloudWatchMetrics": [
            {
                "Namespace": "TestNS",
                "Dimensions": [["ServiceName"], ["Operation", "ServiceName"]],
                "Metrics": [
                    {"Name": "Latency", "Unit": "Milliseconds"},
                    {"Name": "Fault", "Unit": "Count"},
                ],
            }
        ],
    },
    "Latency": {
        "Values": [258],
        "Counts": [1],
        "Min": 258,
        "Max": 258,
        "Sum": 258,
        "Count": 1,
    },
    "Fault": 0,
    "ServiceName": "MyService",
    "Operation": "MyOperation",
    "RequestId": "545648-noise",
}


def test_valid_record(spark):
    """metric_test.go:10-59: timestamp, projections, metric, dims."""
    row = _parse_one(spark, VALID_RECORD).collect()[0]
    assert row["valid"]
    assert row["ts"] == 1738022579723
    assert len(row["cwm"]) == 1
    assert row["cwm"][0]["Namespace"] == "TestNS"
    # dimension sets sorted at parse (metric.go:109)
    assert row["cwm"][0]["Dimensions"] == [["ServiceName"], ["Operation", "ServiceName"]]
    assert sorted(row["dim_names"]) == ["Operation", "ServiceName"]
    assert sorted(row["metric_names"]) == ["Fault", "Latency"]
    assert row["dims"] == {"ServiceName": "MyService", "Operation": "MyOperation"}
    # RequestId stripped (P2, metric.go:146-176)
    assert "RequestId" not in row["dims"]
    m = {m["name"]: m for m in row["metrics"]}
    assert m["Latency"]["pairs"] == [(258.0, 1)]
    assert m["Fault"]["pairs"] == [(0.0, 1)]
    assert m["Latency"]["namespace"] == "TestNS"
    assert (
        row["dim_hash"] == "Operation=MyOperation;ServiceName=MyService"
    )  # aggregator.go:234-248


@pytest.mark.parametrize(
    "mutate, reason",
    [
        (lambda r: r.pop("_aws"), "no aws metadata found in record"),
        (
            lambda r: r["_aws"].pop("Timestamp"),
            "no timestamp found in aws data",
        ),
        (
            lambda r: r["_aws"].pop("CloudWatchMetrics"),
            "no CloudWatchMetrics key found",
        ),
    ],
)
def test_malformed_records(spark, mutate, reason):
    """metric_test.go:61-96: three malformed shapes must be rejected."""
    rec = json.loads(json.dumps(VALID_RECORD))
    mutate(rec)
    df = _parse_one(spark, rec)
    valid, errors = split_valid(df)
    assert valid.count() == 0
    err = errors.collect()[0]
    assert err["error"] == reason


def test_parse_metric_value_shapes(spark):
    """metric_test.go:98-144: simple float vs structured value."""
    rec = json.loads(json.dumps(VALID_RECORD))
    rec["Latency"] = 12.5  # simple
    rec["Fault"] = {
        "Values": [1.0, 2.0],
        "Counts": [3, 4],
        "Min": 1.0,
        "Max": 2.0,
        "Sum": 11.0,
        "Count": 7,
    }
    row = _parse_one(spark, rec).collect()[0]
    m = {m["name"]: m for m in row["metrics"]}
    assert m["Latency"]["pairs"] == [(12.5, 1)]
    assert m["Fault"]["pairs"] == [(1.0, 3), (2.0, 4)]


def test_string_coercion(spark):
    """utils.go:9-25 ConvertToFloat64: parseable strings parse,
    unparseable -> 0; NaN/Inf strings parse then get filtered (P5)."""
    rec = json.loads(json.dumps(VALID_RECORD))
    rec["Latency"] = "258.5"
    rec["Fault"] = "not-a-number"
    row = _parse_one(spark, rec).collect()[0]
    m = {m["name"]: m for m in row["metrics"]}
    assert m["Latency"]["pairs"] == [(258.5, 1)]
    assert m["Fault"]["pairs"] == [(0.0, 1)]

    rec["Fault"] = "NaN"
    rec["Latency"] = "Infinity"
    row = _parse_one(spark, rec).collect()[0]
    m = {m["name"]: m for m in row["metrics"]}
    assert m["Fault"]["pairs"] == []  # seh.go:65-67
    assert m["Latency"]["pairs"] == []


def test_dimnesions_typo_skips_projection(spark):
    """sample_record.json:7 typo -> projection skipped
    (metric.go:89-91): no dims, no metrics recognized."""
    rec = {
        "_aws": {
            "Timestamp": 1,
            "CloudWatchMetrics": [
                {
                    "Namespace": "NS",
                    "Dimnesions": [["ServiceName"]],
                    "Metrics": [{"Name": "M", "Unit": "Count"}],
                }
            ],
        },
        "M": 5,
        "ServiceName": "x",
    }
    row = _parse_one(spark, rec).collect()[0]
    assert row["valid"]
    assert row["cwm"] == []
    assert row["metrics"] == []
    assert row["dims"] == {}
    assert row["dim_hash"] == ""


def test_min_max_only_value(spark):
    """P6: no Value/Values -> dropped unless degenerate Min==Max
    (intent semantics, SURVEY.md §7.4)."""
    rec = json.loads(json.dumps(VALID_RECORD))
    rec["Latency"] = {"Min": 5.0, "Max": 7.0, "Sum": 12.0, "Count": 2}
    rec["Fault"] = {"Min": 4.0, "Max": 4.0, "Sum": 8.0, "Count": 2}
    row = _parse_one(spark, rec).collect()[0]
    m = {m["name"]: m for m in row["metrics"]}
    assert m["Latency"]["pairs"] == []  # dropped (aggregator.go:136-149)
    assert m["Fault"]["pairs"] == [(4.0, 2)]  # degenerate keep


def test_metric_shadows_dimension(spark):
    """A name that is both metric and dimension resolves as metric
    (metric.go:153-174 checks metrics first)."""
    rec = {
        "_aws": {
            "Timestamp": 1,
            "CloudWatchMetrics": [
                {
                    "Namespace": "NS",
                    "Dimensions": [["Both"]],
                    "Metrics": [{"Name": "Both", "Unit": "Count"}],
                }
            ],
        },
        "Both": 3,
    }
    row = _parse_one(spark, rec).collect()[0]
    m = {m["name"]: m for m in row["metrics"]}
    assert m["Both"]["pairs"] == [(3.0, 1)]
    assert row["dims"] == {}
