"""Streaming CUSUM change-point detection: the stream-native sibling
of ``datax/timeseries.cusum`` — same integer-cent lattice, same Page
statistic, same (ts, tiebreak) ordering — carried across micro-batches
with keyed state via ``runner.keyed_state``.

Where the batch operator de-sequentializes the recursion into prefix
sums + running mins (two window passes), the streaming side exploits
the SAME closed form the other way round: the entire per-series
history collapses to FOUR int64s of state — the prefix sums ``P_hi`` /
``P_lo`` and their running minima (including the virtual ``P_0 = 0``)
— because ``S_n = P_n - min_{0<=j<=n} P_j``. No sample buffer, no
window retention, state is O(1) per live series forever.

Contract parity is engineered the way counters.py's is: the gauge
scales to cents SPARK-SIDE with the exact expression the batch
operator uses (``round(value*scale)`` -> long, NULL samples filtered
before grouping), rows inside a micro-batch sort by ``(ts,
tiebreak)``, so a one-batch stream is row-identical to the batch
operator and a multi-batch stream matches whenever batches arrive in
event-time order per series (the same cross-batch data contract every
stateful op in this package documents).

Emission: one row PER INPUT SAMPLE (keys, ts_micros, tiebreak,
cusum_hi_cents, cusum_lo_cents, alarm_hi, alarm_lo) — append-mode
facts; the alarm columns are edge-triggerable downstream by comparing
consecutive rows. No timeout: evicting a series would zero its drift
history and suppress a slow-building alarm, the exact failure CUSUM
exists to catch.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming.state import GroupState
from pyspark.sql.types import IntegerType, LongType, StructField, StructType

from emf_spark.streaming.runner import keyed_state

CUSUM_STATE_SCHEMA = StructType(
    [
        StructField("p_hi", LongType()),
        StructField("min_hi", LongType()),
        StructField("p_lo", LongType()),
        StructField("min_lo", LongType()),
    ]
)


def _fold(key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState):
    batch = pd.concat(list(pdfs), ignore_index=True)
    batch = batch.sort_values(["_ts", "_tie"], kind="mergesort")
    if state.exists:
        p_hi, min_hi, p_lo, min_lo = (int(x) for x in state.get)
    else:
        p_hi = p_lo = 0
        min_hi = min_lo = 0  # the virtual P_0 = 0
    thr = int(batch["_thr"].iloc[0])
    k_hi = int(batch["_khi"].iloc[0])
    k_lo = int(batch["_klo"].iloc[0])
    out = {
        "_ts": [], "_tie": [],
        "cusum_hi_cents": [], "cusum_lo_cents": [],
        "alarm_hi": [], "alarm_lo": [],
    }
    for ts, tie, v in zip(
        batch["_ts"].astype("int64"),
        batch["_tie"].astype("int64"),
        batch["_v"].astype("int64"),
    ):
        v = int(v)
        p_hi += v - k_hi
        min_hi = min(min_hi, p_hi)
        s_hi = p_hi - min_hi
        p_lo += k_lo - v
        min_lo = min(min_lo, p_lo)
        s_lo = p_lo - min_lo
        out["_ts"].append(int(ts))
        out["_tie"].append(int(tie))
        out["cusum_hi_cents"].append(s_hi)
        out["cusum_lo_cents"].append(s_lo)
        out["alarm_hi"].append(1 if s_hi >= thr else 0)
        out["alarm_lo"].append(1 if s_lo >= thr else 0)
    state.update((p_hi, min_hi, p_lo, min_lo))
    kcols = {f"_k{i}": [k] * len(batch) for i, k in enumerate(key)}
    yield pd.DataFrame(kcols | out)


def streaming_cusum(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    value_col: str,
    tiebreak_col: str,
    target_cents: int,
    slack_cents: int,
    threshold_cents: int,
    scale: int = 100,
) -> DataFrame:
    """Streaming DF -> append stream of per-sample CUSUM statistics.
    Columns: ``*key_cols, ts_micros, tiebreak, cusum_hi_cents,
    cusum_lo_cents, alarm_hi, alarm_lo`` — given per-series event-time-
    ordered batch arrival, the concatenated emissions equal the batch
    ``timeseries.cusum`` over everything ingested so far."""
    if scale < 1 or threshold_cents < 1:
        raise ValueError("scale and threshold_cents must be >= 1")
    if slack_cents < 0:
        raise ValueError("slack_cents must be >= 0")
    def fn(key, pdfs, state):
        for out in _fold(key, pdfs, state):
            yield out.rename(
                columns={f"_k{i}": k for i, k in enumerate(key_cols)}
            ).rename(columns={"_ts": "ts_micros", "_tie": "tiebreak"})

    keyed = (
        df.filter(F.col(value_col).isNotNull())
        .select(
            *key_cols,
            F.unix_micros(F.col(ts_col)).alias("_ts"),
            F.col(tiebreak_col).cast("long").alias("_tie"),
            F.round(F.col(value_col) * scale).cast("long").alias("_v"),
            F.lit(threshold_cents).cast("long").alias("_thr"),
            F.lit(target_cents + slack_cents).cast("long").alias("_khi"),
            F.lit(target_cents - slack_cents).cast("long").alias("_klo"),
        )
    )
    values = [
        StructField("ts_micros", LongType()),
        StructField("tiebreak", LongType()),
        StructField("cusum_hi_cents", LongType()),
        StructField("cusum_lo_cents", LongType()),
        StructField("alarm_hi", IntegerType()),
        StructField("alarm_lo", IntegerType()),
    ]
    return keyed_state(keyed, key_cols, fn, values, CUSUM_STATE_SCHEMA)
