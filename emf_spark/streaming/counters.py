"""Streaming reset-aware counter accumulation: the stream-native
sibling of ``datax/timeseries.counter_increase`` — same lattice, same
reset rule, same tiebreak — accumulated across micro-batches with
keyed state via ``runner.keyed_state``.

Contract parity is engineered, not hoped for: the gauge is scaled to
the integer lattice SPARK-SIDE (JVM ``round(value*scale)`` — the
exact expression the batch operator uses) before rows reach the
stateful function, so the python side chains pure int64 arithmetic
and a one-batch stream is bit-identical to the batch operator; a
multi-batch stream matches whenever batches arrive in event-time
order per series (rows inside a micro-batch are sorted before
chaining; CROSS-batch disorder is a data contract, exactly as a
PromQL scraper assumes ordered scrapes).

Emission: one row per (series, micro-batch) carrying the CUMULATIVE
(samples, resets, increase_units, last_units) plus a per-series
``batch_seq`` — append-mode facts (parquet-sink compatible); the
current value of a series is its max-``batch_seq`` row, and a
checkpoint re-run re-emits nothing.

State: 7 int64s per live series (~56 B + key), spread across the
state store's shuffle partitions; no timeout — evicting a series
would forget its last sample and mis-count the next delta as a reset.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming.state import GroupState
from pyspark.sql.types import LongType, StructField, StructType

from emf_spark.streaming.runner import keyed_state

COUNTER_STATE_SCHEMA = StructType(
    [
        StructField("last_ts", LongType()),
        StructField("last_tie", LongType()),
        StructField("last_v", LongType()),
        StructField("samples", LongType()),
        StructField("resets", LongType()),
        StructField("increase", LongType()),
        StructField("batches", LongType()),
    ]
)


def _accumulate(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    batch = pd.concat(list(pdfs), ignore_index=True)
    batch = batch.sort_values(["_ts", "_tie"], kind="mergesort")
    if state.exists:
        last_ts, last_tie, last_v, samples, resets, increase, batches = (
            int(x) for x in state.get
        )
        prev = last_v
    else:
        last_ts = last_tie = last_v = samples = resets = increase = 0
        batches = 0
        prev = None
    for ts, tie, v in zip(
        batch["_ts"].astype("int64"),
        batch["_tie"].astype("int64"),
        batch["_v"].astype("int64"),
    ):
        ts, tie, v = int(ts), int(tie), int(v)
        if prev is not None:
            if v >= prev:
                increase += v - prev
            else:
                resets += 1
                increase += v
        samples += 1
        prev = v
        last_ts, last_tie, last_v = ts, tie, v
    batches += 1
    state.update(
        (last_ts, last_tie, last_v, samples, resets, increase, batches)
    )
    yield pd.DataFrame(
        [
            dict(
                zip(
                    [f"_k{i}" for i in range(len(key))],
                    key,
                )
            )
            | {
                "batch_seq": batches,
                "samples": samples,
                "resets": resets,
                "increase_units": increase,
                "last_units": last_v,
            }
        ]
    )


def streaming_counter_increase(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    value_col: str,
    tiebreak_col: str,
    scale: int = 100,
) -> DataFrame:
    """Streaming DF -> append stream of cumulative per-series counter
    stats, one row per (series, micro-batch). Columns: ``*key_cols,
    batch_seq, samples, resets, increase_units, last_units`` — the
    max-``batch_seq`` row per series equals the batch
    ``counter_increase`` over everything ingested so far (given
    per-series event-time-ordered batch arrival)."""
    def fn(key, pdfs, state):
        for out in _accumulate(key, pdfs, state):
            yield out.rename(
                columns={f"_k{i}": k for i, k in enumerate(key_cols)}
            )

    keyed = df.select(
        *key_cols,
        F.unix_micros(F.col(ts_col)).alias("_ts"),
        F.col(tiebreak_col).cast("long").alias("_tie"),
        F.round(F.col(value_col) * scale).cast("long").alias("_v"),
    )
    values = [
        StructField(name, LongType())
        for name in ("batch_seq", "samples", "resets", "increase_units", "last_units")
    ]
    return keyed_state(keyed, key_cols, fn, values, COUNTER_STATE_SCHEMA)
