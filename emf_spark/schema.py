"""Schemas for the EMF pipeline.

The reference is schema-on-read (dynamic metric/dimension names,
``/root/reference/fluent-bit-emf/emf/metric.go:146-176``). We resolve
that into *fixed container schemas* — ``map`` for dimensions/metrics,
``array<struct>`` for projection definitions — so the DataFrame schema
is static while the key space stays dynamic (SURVEY.md §1.2).
"""

from __future__ import annotations

from pyspark.sql import types as T

# Structured metric value — emf/metric.go:13-21 MetricValue, read with
# from_json. Counts come in as doubles and truncate to long
# (metric.go:193-197,211-213).
METRIC_VALUE_DDL = (
    "struct<Value:double,Values:array<double>,Counts:array<double>,"
    "Min:double,Max:double,Sum:double,Count:double>"
)

# Input table shape — fixed by BASELINE.json input_hint.
TOKENIZED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("tokens", T.ArrayType(T.IntegerType()), False),
        T.StructField("n_tok", T.IntegerType(), False),
        T.StructField("source", T.StringType(), False),
    ]
)

# Enrichment lookup (FIXTURES.md §4).
LOOKUP_SCHEMA = T.StructType(
    [
        T.StructField("source", T.StringType(), False),
        T.StructField("sink", T.StringType(), False),
        T.StructField("log_group_name", T.StringType(), False),
        T.StructField("log_stream_name", T.StringType(), False),
        T.StructField("env", T.StringType(), False),
    ]
)
