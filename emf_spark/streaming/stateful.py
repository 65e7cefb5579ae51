"""Custom stateful streaming operator on pandas keyed state
(SURVEY.md §2.6 W4, §2.9): cross-micro-batch running EMF group state.

The reference keeps its aggregation maps alive between fluent-bit flush
calls under a mutex (aggregator.go:30-42,71-72). The Spark-native
equivalent is keyed state: per (sink, dim_hash) group we maintain
running totals — records, observation count, sum, min, max — merged
incrementally each micro-batch and emitted as an update row: each
batch's update rows are the flush of every group it touched. State is
five scalars per group, kept for the life of the query's checkpoint
(``runner.keyed_state``).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming.state import GroupState
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from emf_spark.streaming.runner import keyed_state, run_stream, write_batch

STATE_SCHEMA = StructType(
    [
        StructField("records", LongType()),
        StructField("obs", LongType()),
        StructField("sum", DoubleType()),
        StructField("min", DoubleType()),
        StructField("max", DoubleType()),
    ]
)

OUTPUT_SCHEMA = StructType(
    [
        StructField("sink", StringType()),
        StructField("dim_hash", StringType()),
        StructField("records", LongType()),
        StructField("obs", LongType()),
        StructField("sum", DoubleType()),
        StructField("min", DoubleType()),
        StructField("max", DoubleType()),
    ]
)


def _update_group(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    records, obs, s, mn, mx = (
        state.get if state.exists else (0, 0, 0.0, float("inf"), float("-inf"))
    )
    for pdf in pdfs:
        records += int(pdf["records"].sum())
        obs += int(pdf["obs"].sum())
        s += float(pdf["sum"].sum())
        mn = min(mn, float(pdf["min"].min()))
        mx = max(mx, float(pdf["max"].max()))
    state.update((records, obs, s, mn, mx))
    yield pd.DataFrame(
        [
            {
                "sink": key[0],
                "dim_hash": key[1],
                "records": records,
                "obs": obs,
                "sum": s,
                # a group that has seen no observations yet has no
                # min/max (records-only rows carry null pairs stats)
                "min": mn if obs else None,
                "max": mx if obs else None,
            }
        ]
    )


def running_group_totals(parsed_stream: DataFrame) -> DataFrame:
    """Streaming DF of parsed+enriched records -> running per-(sink,
    dim_hash) totals over ALL metric observations, maintained across
    micro-batches. Input needs columns: sink, dim_hash, metric_raw.

    Each input record reduces to ONE row via in-row HOF aggregation (no
    explode in the stream), so ``records`` counts true input records —
    not observation rows (ADVICE r1) — and the per-batch shuffle carries
    one row per record instead of one per value-pair."""
    from emf_spark.operators.parse import _metric_pairs

    pairs = F.flatten(
        F.transform(F.map_values("metric_raw"), lambda r: _metric_pairs(r))
    )
    obs = (
        parsed_stream.select("sink", "dim_hash", pairs.alias("pairs"))
        # no filter: a record whose values ALL normalize away still IS
        # an input record (docstring/ADVICE r1 contract) — it
        # contributes records=1, obs=0, null min/max (review finding)
        .select(
            "sink",
            "dim_hash",
            F.lit(1).cast("long").alias("records"),
            F.aggregate(
                "pairs", F.lit(0).cast("long"), lambda acc, p: acc + p["c"]
            ).alias("obs"),
            F.aggregate(
                "pairs", F.lit(0.0), lambda acc, p: acc + p["v"] * p["c"]
            ).alias("sum"),
            F.array_min(F.transform("pairs", lambda p: p["v"])).alias("min"),
            F.array_max(F.transform("pairs", lambda p: p["v"])).alias("max"),
        )
    )
    return keyed_state(
        obs, ["sink", "dim_hash"], _update_group, OUTPUT_SCHEMA, STATE_SCHEMA,
        output_mode="update",
    )


def run_stateful(
    spark: SparkSession, input_dir: str, out_dir: str, max_files_per_trigger: int = 2
):
    """Wire the stateful operator onto the file stream; update-mode
    output lands one row per touched group per micro-batch."""
    import os

    from emf_spark import fixtures, pipeline
    from emf_spark.streaming.job import read_tokenized

    stream = read_tokenized(spark, input_dir, max_files_per_trigger)
    staged = pipeline.stage(stream, fixtures.lookup_df(spark))
    totals = running_group_totals(staged.filter(F.col("valid")))
    path = os.path.join(out_dir, "totals")
    return run_stream(
        totals,
        lambda b, i: write_batch(b, path, i),
        os.path.join(out_dir, "_checkpoint"),
        output_mode="update",
    )
