"""Streaming heavy hitters: bounded-state top-k over an unbounded key
stream — the stream-native sibling of the batch CMS heavy-hitters query
(datax/sketches.cms_build/cms_estimate). Space-Saving summaries
(Metwally et al., ICDT 2005): each state group keeps at most
``capacity`` (key, count, err) entries; an arriving key either bumps
its entry, fills a free slot, or evicts the current minimum and
inherits its count as the new entry's error bound. Invariant per
entry: ``est - err <= true <= est`` (est never undercounts).

Sharding: keys hash to one of ``n_shards`` state groups
(``pmod(xxhash64(key), n_shards)``), so total state is bounded by
``n_shards * capacity`` entries REGARDLESS of stream cardinality, and
each key lives in exactly ONE shard — merging the per-shard top lists
therefore loses nothing: the global top-k over emissions equals the
top-k over the union of summaries. Per micro-batch cost: one exchange
on shard + a pandas pass over the batch's per-key counts.

Batch arrivals fold by their per-batch count (heaviest first, then
lexicographic — deterministic), which preserves the Space-Saving
bounds: an eviction records the evicted floor as ``err``. When
``capacity`` >= the shard's distinct-key universe, the summary IS the
exact count table (err = 0) — pinned by the batch-parity pytest.

Emission is update-style: each micro-batch re-emits the shard's
current top ``emit_top`` entries tagged with a per-shard batch_seq;
downstream readers keep each shard's max-batch_seq rows (the
counters.py convention).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming.state import GroupState
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from emf_spark.streaming.runner import keyed_state

HEAVY_STATE_SCHEMA = StructType(
    [
        StructField("keys", ArrayType(StringType())),
        StructField("counts", ArrayType(LongType())),
        StructField("errs", ArrayType(LongType())),
        StructField("batch_seq", LongType()),
    ]
)

HEAVY_OUTPUT_SCHEMA = StructType(
    [
        StructField("shard", LongType()),
        StructField("key", StringType()),
        StructField("est", LongType()),
        StructField("err", LongType()),
        StructField("batch_seq", LongType()),
    ]
)


def _make_space_saving(capacity: int, emit_top: int):
    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        batch: dict[str, int] = {}
        for pdf in pdfs:
            for k, c in pdf.groupby("_k").size().items():
                batch[k] = batch.get(k, 0) + int(c)
        if state.exists:
            keys, counts, errs, seq = state.get
            summary = {
                k: [int(c), int(e)] for k, c, e in zip(keys, counts, errs)
            }
            seq = int(seq)
        else:
            summary, seq = {}, 0
        # deterministic fold order: heaviest batch key first, then
        # lexicographic — replay-stable across retries
        for k in sorted(batch, key=lambda x: (-batch[x], x)):
            c = batch[k]
            if k in summary:
                summary[k][0] += c
            elif len(summary) < capacity:
                summary[k] = [c, 0]
            else:
                # evict min count; smallest key among ties (deterministic)
                mk = min(summary, key=lambda x: (summary[x][0], x))
                mc = summary[mk][0]
                del summary[mk]
                summary[k] = [mc + c, mc]
        seq += 1
        order = sorted(summary, key=lambda x: (-summary[x][0], x))
        state.update(
            (
                order,
                [summary[k][0] for k in order],
                [summary[k][1] for k in order],
                seq,
            )
        )
        top = order[:emit_top]
        if not top:
            return
        yield pd.DataFrame(
            {
                "shard": pd.array([int(key[0])] * len(top), dtype="int64"),
                "key": top,
                "est": pd.array([summary[k][0] for k in top], dtype="int64"),
                "err": pd.array([summary[k][1] for k in top], dtype="int64"),
                "batch_seq": pd.array([seq] * len(top), dtype="int64"),
            }
        )

    return fn


def streaming_heavy_hitters(
    df: DataFrame,
    key_col: str = "key",
    n_shards: int = 8,
    capacity: int = 64,
    emit_top: int = 16,
) -> DataFrame:
    """Streaming DF -> append stream of per-shard Space-Saving top
    entries (shard, key, est, err, batch_seq). State bounded by
    ``n_shards * capacity`` entries for the stream's lifetime."""
    if capacity < 1 or emit_top < 1 or n_shards < 1:
        raise ValueError("capacity, emit_top, and n_shards must be >= 1")
    keyed = df.select(
        F.pmod(F.xxhash64(F.col(key_col).cast("string")), F.lit(n_shards))
        .cast("long")
        .alias("shard"),
        F.col(key_col).cast("string").alias("_k"),
    )
    return keyed_state(
        keyed,
        ["shard"],
        _make_space_saving(capacity, emit_top),
        HEAVY_OUTPUT_SCHEMA,
        HEAVY_STATE_SCHEMA,
    )
