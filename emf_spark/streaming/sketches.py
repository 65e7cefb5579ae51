"""Streaming HyperLogLog distinct counting: the stream-native sibling
of ``datax/sketches.hll_distinct`` — same portable 56-bit hash, same
bucket/rank derivation, same integer-scaled harmonic sum — folded
across micro-batches with keyed state via ``runner.keyed_state``.

Parity is structural: register-update rows are derived SPARK-SIDE by
the shared ``sketches.hll_register_rows`` (the exact JVM expressions
the batch operator aggregates), and the python side only folds
elementwise register MAX — commutative and associative, so the
cumulative sketch equals the batch sketch over everything ingested so
far for ANY batch split and ANY arrival order (strictly stronger than
the ordered-arrival contract the counter stream needs). The emitted
``hll_sum_scaled`` / ``hll_zero_regs`` / ``hll_raw`` therefore match
the batch columns bit-for-bit; ``hll_estimate``'s small-range
correction applies python ``math.log`` where the batch applies JVM
``ln`` — not guaranteed bit-identical, tolerance-grade only, exactly
as the batch docstring already warns for cross-engine compares.

Emission: one row per (group, micro-batch) with the CUMULATIVE sketch
columns plus ``batch_seq`` — append-mode facts; the live sketch of a
group is its max-``batch_seq`` row, and a checkpoint re-run emits
nothing. State: m int64 registers per live group (m=256 at the
default p=8, ~2 KiB) — fixed by p, never by stream volume; no
timeout, since evicting a group would forget observed maxima and
undercount forever after.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from emf_spark.datax.sketches import _hll_alpha, hll_register_rows
from emf_spark.streaming.runner import keyed_state

HLL_STATE_SCHEMA = StructType(
    [
        StructField("regs", ArrayType(LongType())),
        StructField("batches", LongType()),
    ]
)


def _emit(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState,
    key_names: list[str], m: int, scale: int, numer: float,
) -> Iterator[pd.DataFrame]:
    if state.exists:
        regs_s, batches = state.get
        regs = np.asarray(list(regs_s), dtype=np.int64)
        batches = int(batches)
    else:
        regs = np.zeros(m, dtype=np.int64)
        batches = 0
    for pdf in pdfs:
        if len(pdf):
            np.maximum.at(
                regs,
                pdf["_b"].to_numpy(np.int64),
                pdf["_r"].to_numpy(np.int64),
            )
    batches += 1
    state.update((regs.tolist(), batches))
    # integer-exact harmonic sum: register j contributes 2^(scale - M_j)
    # (2^scale when empty); max m * 2^scale < 2^63 for p >= 2
    s_all = int((np.int64(1) << (scale - regs)).sum())
    zero = int((regs == 0).sum())
    raw = numer / float(s_all)
    if raw <= 2.5 * m and zero > 0:
        est = float(m) * math.log(float(m) / zero)
    else:
        est = raw
    yield pd.DataFrame(
        [dict(zip(key_names, key)) | {
            "batch_seq": batches,
            "hll_sum_scaled": s_all,
            "hll_zero_regs": zero,
            "hll_raw": raw,
            "hll_estimate": est,
        }]
    )


def streaming_hll_distinct(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    p: int = 8,
) -> DataFrame:
    """Streaming DF -> append stream of cumulative per-group HLL
    sketches, one row per (group, micro-batch). Columns:
    ``*group_cols, batch_seq, hll_sum_scaled, hll_zero_regs, hll_raw,
    hll_estimate`` — the max-``batch_seq`` row per group equals the
    batch ``hll_distinct`` over everything ingested so far
    (bit-for-bit on the integer columns and hll_raw, tolerance-grade
    on hll_estimate's ln branch)."""
    m = 1 << p
    scale = 56 - p + 1
    numer = _hll_alpha(m) * m * m * float(1 << scale)
    keyed = hll_register_rows(df, value_col, group_cols, p)

    def fn(key, pdfs, state):
        yield from _emit(key, pdfs, state, list(group_cols), m, scale, numer)

    values = [
        StructField("batch_seq", LongType()),
        StructField("hll_sum_scaled", LongType()),
        StructField("hll_zero_regs", LongType()),
        StructField("hll_raw", DoubleType()),
        StructField("hll_estimate", DoubleType()),
    ]
    return keyed_state(keyed, list(group_cols), fn, values, HLL_STATE_SCHEMA)
