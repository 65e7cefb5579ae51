"""Streaming log template mining: the stream-native sibling of
``operators/templates.mine_templates`` — same pre-mask, same
(token_count, head) branching, same per-position consensus —
accumulated across micro-batches with keyed state via
``runner.keyed_state``.

Parity is structural, not hoped for: lines are normalized, masked,
and tokenized SPARK-SIDE with the exact JVM expressions the batch
operator uses, so the python side only folds elementwise (lo, hi)
string bounds and a line count — and because (lo, hi) are consulted
solely for EQUALITY (agree ⇒ literal token, disagree ⇒ wildcard),
the Python-vs-Java string-collation difference on supplementary
code points cannot change any template: order never picks a winner,
it only witnesses disagreement. A one-batch stream is therefore
row-identical to the batch miner's per-group consensus, and any
batch arrival order converges to the same final templates (min/max
folds are commutative + associative).

Emission: one row per (group, micro-batch) carrying the group key
``(n, head)``, a per-group ``batch_seq``, the CUMULATIVE ``n_lines``,
and the group's CURRENT ``template`` — append-mode facts; the live
template of a group is its max-``batch_seq`` row, and same-template
groups merge downstream exactly as in the batch miner (the parity
test does this fold). A checkpoint re-run emits nothing.

State: per live (token_count, head) branch, two length-n string
arrays + two int64s — bounded by TEMPLATE DIVERSITY times line
length, never by stream volume; no timeout, since evicting a branch
would forget consensus already witnessed and could un-wildcard a
position.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming.state import GroupState
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from emf_spark.operators.templates import WILDCARD
from emf_spark.streaming.runner import keyed_state

TEMPLATE_STATE_SCHEMA = StructType(
    [
        StructField("lo", ArrayType(StringType())),
        StructField("hi", ArrayType(StringType())),
        StructField("n_lines", LongType()),
        StructField("batches", LongType()),
    ]
)

TEMPLATE_OUT_SCHEMA = StructType(
    [
        StructField("n", IntegerType()),
        StructField("head", StringType()),
        StructField("batch_seq", LongType()),
        StructField("n_lines", LongType()),
        StructField("template", StringType()),
    ]
)


def _fold(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState,
    wildcard: str,
) -> Iterator[pd.DataFrame]:
    n, head = key
    if state.exists:
        lo_s, hi_s, n_lines, batches = state.get
        lo = np.asarray(list(lo_s), dtype=object)
        hi = np.asarray(list(hi_s), dtype=object)
        n_lines, batches = int(n_lines), int(batches)
    else:
        lo = hi = None
        n_lines = batches = 0
    for pdf in pdfs:
        if not len(pdf):
            continue
        arr = np.stack(
            [np.asarray(ws, dtype=object) for ws in pdf["ws"]]
        )
        blo = np.minimum.reduce(arr, axis=0)
        bhi = np.maximum.reduce(arr, axis=0)
        if lo is None:
            lo, hi = blo, bhi
        else:
            lo = np.minimum(lo, blo)
            hi = np.maximum(hi, bhi)
        n_lines += len(arr)
    batches += 1
    state.update((list(lo), list(hi), n_lines, batches))
    tmpl = " ".join(
        l if l == h else wildcard for l, h in zip(lo, hi)
    )
    yield pd.DataFrame(
        [{
            "n": int(n),
            "head": head,
            "batch_seq": batches,
            "n_lines": n_lines,
            "template": tmpl,
        }]
    )


def streaming_mine_templates(
    df: DataFrame, line_col: str = "line", wildcard: str = WILDCARD
) -> DataFrame:
    """Streaming DF of raw lines -> append stream of per-branch
    template facts, one row per ((n, head) branch, micro-batch).
    The max-``batch_seq`` row per branch carries that branch's
    consensus template and cumulative line count over everything
    ingested so far; folding same-template branches downstream
    reproduces the batch ``mine_templates`` output exactly."""
    norm = F.regexp_replace(F.trim(F.col(line_col)), r"\s+", " ")
    base = (
        df.select(norm.alias("m"))
        .filter(F.length("m") > 0)
        .select(
            F.split(
                F.regexp_replace("m", r"[^ ]*[0-9][^ ]*", wildcard), " "
            ).alias("ws")
        )
        .select(
            F.size("ws").alias("n"),
            F.col("ws").getItem(0).alias("head"),
            "ws",
        )
    )

    def fn(key, pdfs, state):
        yield from _fold(key, pdfs, state, wildcard)

    return keyed_state(
        base, ["n", "head"], fn, TEMPLATE_OUT_SCHEMA, TEMPLATE_STATE_SCHEMA
    )
