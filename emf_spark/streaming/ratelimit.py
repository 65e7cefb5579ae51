"""Streaming per-key rate limiting: the stream-native sibling of
``datax/timeseries.rate_limit`` — keep the first ``max_per_window``
events of every (key, time-window) cell, decided IN FLIGHT with keyed
state via ``runner.keyed_state`` (a throttle that waits for a
batch job has already let the flood through).

Contract parity is engineered the counters.py way: the window start is
computed SPARK-SIDE with the batch operator's exact expression
(``floor(unix_timestamp/step)*step`` — truncation semantics included),
rows inside a micro-batch are sorted by (ts, tiebreak) before
counting, so a one-batch stream is row-identical to the batch
operator, and a multi-batch stream matches whenever batches arrive in
event-time order per key (cross-batch disorder is a data contract, as
in counters.py).

Emission: one row PER EVENT (append mode) — key cols, tiebreak,
window_start, kept — so the stream stays a filterable event stream and
drop-rate dashboards aggregate the same rows. Checkpoint replay of an
uncommitted batch re-runs against the rolled-back state version, so
re-emission is idempotent.

State per key: the newest ``keep_windows`` (window, count) pairs as two
parallel arrays — bounded regardless of stream length (the eviction
exact-dedup cannot afford is fine HERE: a window older than the
retained horizon is by definition past its burst). Events arriving for
an evicted window are dropped (kept=0): a throttle's failure mode must
be over-dropping stragglers, never re-admitting a burst.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming.state import GroupState
from pyspark.sql.types import ArrayType, LongType, StructField, StructType

from emf_spark.streaming.runner import keyed_state

RL_STATE_SCHEMA = StructType(
    [
        StructField("windows", ArrayType(LongType())),
        StructField("counts", ArrayType(LongType())),
    ]
)


def _throttle_fn(max_per_window: int, keep_windows: int,
                 key_cols: list[str], tiebreak_out: str = "tiebreak"):
    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        batch = pd.concat(list(pdfs), ignore_index=True)
        batch = batch.sort_values(["_ts", "_tie"], kind="mergesort")
        if state.exists:
            windows, counts = state.get
            wmap = dict(zip((int(w) for w in windows),
                            (int(c) for c in counts)))
        else:
            wmap = {}
        kept_flags, outw = [], []
        for w in batch["_w"].astype("int64"):
            w = int(w)
            if w not in wmap:
                if len(wmap) >= keep_windows and w < min(wmap):
                    # below the retained horizon: late straggler, drop
                    kept_flags.append(0)
                    outw.append(w)
                    continue
                wmap[w] = 0
                while len(wmap) > keep_windows:
                    wmap.pop(min(wmap))
            c = wmap.get(w)
            if c is None:  # its own window was just evicted by a newer one
                kept_flags.append(0)
                outw.append(w)
                continue
            kept_flags.append(1 if c < max_per_window else 0)
            wmap[w] = c + 1
            outw.append(w)
        ws = sorted(wmap)
        state.update(([int(w) for w in ws], [int(wmap[w]) for w in ws]))
        out = pd.DataFrame(
            {
                **{f"_k{i}": key[i] for i in range(len(key))},
                "_tieout": batch["_tie"].values,
                "window_start": outw,
                "kept": kept_flags,
            }
        )
        names = {f"_k{i}": k for i, k in enumerate(key_cols)}
        names["_tieout"] = tiebreak_out
        yield out.rename(columns=names)

    return fn


def streaming_rate_limit(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    tiebreak_col: str,
    max_per_window: int,
    step_seconds: int,
    keep_windows: int = 16,
) -> DataFrame:
    """Streaming DF -> append stream of (key_cols..., tiebreak,
    window_start, kept) — one row per input event, kept decided
    in flight. ``keep_windows`` bounds per-key state."""
    if max_per_window < 1:
        raise ValueError("max_per_window must be >= 1")
    if step_seconds < 1:
        raise ValueError("step_seconds must be >= 1")
    if keep_windows < 1:
        raise ValueError("keep_windows must be >= 1")
    # cast handles TIMESTAMP_NTZ sources (parquet written by arrow)
    ts = F.col(ts_col).cast("timestamp")
    epoch = F.unix_timestamp(ts)
    keyed = df.select(
        *key_cols,
        # SECOND-truncated ordering key, matching the batch operator's
        # rank window (timeseries.rate_limit orders by unix_timestamp,
        # i.e. whole seconds, then tiebreak). Sub-second precision here
        # would diverge kept/dropped verdicts whenever two events share
        # a second but differ in micros (ADVICE r4, medium).
        epoch.cast("bigint").alias("_ts"),
        F.col(tiebreak_col).alias("_tie"),
        (F.floor(epoch / step_seconds) * step_seconds)
        .cast("bigint").alias("_w"),
    )
    values = [
        StructField(tiebreak_col, df.schema[tiebreak_col].dataType),
        StructField("window_start", LongType()),
        StructField("kept", LongType()),
    ]
    return keyed_state(
        keyed,
        key_cols,
        _throttle_fn(max_per_window, keep_windows, key_cols, tiebreak_col),
        values,
        RL_STATE_SCHEMA,
    )
