"""Streaming exact dedup: emit each distinct document exactly once
across micro-batches (SURVEY.md §2.9 custom stateful operator; the
stream-native sibling of datax/dedup.exact_dedup_incremental, which
solves the same problem for batch ingests against a parquet store).

Keyed state via ``runner.keyed_state``: one state row per distinct
content hash holding the kept doc id. A micro-batch emits a document
only when its hash has no state yet (first-seen wins; within a
micro-batch the smallest non-null id of the batch wins,
deterministically; null when the batch has none, like the batch
operator's ``min``).
Later arrivals of the same content — same batch or any later batch —
are swallowed. Emissions are append-only facts (a hash is emitted at
most once over the stream's lifetime), so downstream sinks can run in
append mode and re-runs from a checkpoint are no-ops.

State sizing at scale: 16 bytes of md5-derived hash key + 8 bytes of
kept id per DISTINCT document — the same ~tens-of-GB-per-10^9-docs
envelope as the batch store, spread across the state store's shuffle
partitions (RocksDB-backed in production). There is deliberately NO
timeout eviction: evicting a hash would re-admit its duplicates. If
the distinct universe outgrows the state store, shard the stream by
``pmod(hash, n)`` into n independent queries — dedup is per-hash
local, so sharding is exact.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming.state import GroupState
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from emf_spark.streaming.runner import file_stream, keyed_state, run_stream

DEDUP_STATE_SCHEMA = StructType([StructField("keep_id", LongType())])

DEDUP_OUTPUT_SCHEMA = StructType(
    [
        StructField("content_hash", StringType()),
        StructField("keep_id", LongType()),
        StructField("batch_dups", LongType()),
    ]
)


def _first_seen(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    # count this batch's arrivals even when swallowing (the iterator
    # must be drained either way — pandas batches stream lazily)
    n = 0
    min_id = None
    for pdf in pdfs:
        n += len(pdf)
        ids = pdf["_id"].dropna()
        if len(ids):
            m = int(ids.min())
            min_id = m if min_id is None else min(min_id, m)
    if state.exists:
        return  # duplicate of an earlier batch: swallow
    state.update((min_id,))
    yield pd.DataFrame(
        [{"content_hash": key[0], "keep_id": min_id, "batch_dups": n}]
    )


def streaming_exact_dedup(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Streaming DF of documents -> append stream of first-seen
    (content_hash, keep_id, batch_dups) rows, one per distinct
    normalized text over the stream's lifetime. Same hash + same
    min-id tiebreak as the batch ``exact_dedup`` (md5 of the
    normalized text), so a one-batch stream is row-identical to the
    batch operator."""
    from emf_spark.datax.dedup import normalized

    keyed = docs.select(
        F.md5(normalized(F.col(text_col))).alias("content_hash"),
        F.col(id_col).cast("long").alias("_id"),
    )
    return keyed_state(
        keyed, ["content_hash"], _first_seen, DEDUP_OUTPUT_SCHEMA, DEDUP_STATE_SCHEMA
    )


def run_streaming_dedup(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    schema: str = "doc_id bigint, text string",
    max_files_per_trigger: int = 1,
):
    """Wire the dedup operator onto a parquet file stream; append-mode
    output lands one row per newly-seen document per micro-batch."""
    stream = file_stream(spark, input_dir, max_files_per_trigger, schema)
    return run_stream(
        streaming_exact_dedup(stream),
        os.path.join(out_dir, "unique"),
        os.path.join(out_dir, "_checkpoint"),
    )
