"""Structured Streaming front-end (SURVEY.md §2.6 W1-W4).

The reference is a streaming aggregator: fluent-bit pushes chunks, a
wall-clock ticker flushes accumulated state every aggregation_period and
resets it (task.go:29-47, aggregator.go:153-231). Every query here is
declared on the stream runner (``streaming/runner.py``), which owns the
file source, checkpoint, trigger, keyed state and replay rules:

- ``run_microbatch`` is the ticker: a ``foreachBatch`` query whose
  trigger defaults to availableNow and can be a processing-time
  interval. The stage (``pipeline.stage``: detokenize, parse,
  broadcast enrich, window) is built once per query, on the file
  stream itself, so a micro-batch only persists rows that are already
  staged. Each micro-batch then runs the SAME batch aggregation
  (event-time tumbling windows inside the batch) and writes per-sink
  events. Its errors write and its events leg (the ``aggregate`` build
  and write) run concurrently (``pipeline.run_legs``), so the events
  plan is built while the errors write fills the batch's cache.
  Because event output is keyed by (sink, window_start, dim_hash) and
  the histogram merge is associative, re-aggregating a window across
  micro-batches writes *partial* event rows per batch —
  exactly the reference's semantics of flushing what arrived during
  each interval (its groups also split across flushes,
  aggregator.go:223-227). ``streaming/merge.py`` re-merges them.
- ``run_eventtime_counts`` / ``run_eventtime_sessions`` are watermarked
  aggregations for the simple count/sum surface, with genuine
  cross-batch streaming state and late-data handling (the reference has
  none, W2: any record aggregates into the in-flight interval).

Checkpointing: a second start on the same checkpoint picks up from the
last committed micro-batch (W3 — strictly stronger than the reference,
whose shutdown flush is admittedly broken, fluent-bit-emf/main.go:78-85).
"""

from __future__ import annotations

import os

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession, functions as F

from emf_spark import fixtures, pipeline
from emf_spark.operators import aggregate as agg
from emf_spark.operators import parse as parse_op
from emf_spark.schema import TOKENIZED_SCHEMA
from emf_spark.streaming.runner import file_stream, run_stream, write_batch
from emf_spark.tokenizer import with_payload


def read_tokenized(
    spark: SparkSession, input_dir: str, max_files_per_trigger: int
) -> DataFrame:
    """The tokenized parquet file stream every EMF stream entry point
    reads, at most ``max_files_per_trigger`` new files per micro-batch."""
    return file_stream(spark, input_dir, max_files_per_trigger, TOKENIZED_SCHEMA)


def _aggregate_batch(
    staged: DataFrame,
    out_dir: str,
    batch_id: int,
    key_by_namespace: bool = False,
) -> None:
    # The errors write and both aggregation branches read one cached
    # pass over the batch's staged rows (pipeline.stage ran in the
    # query: detokenize, parse, enrich, window; tokens/payload
    # dropped); released even if a write fails.
    staged = staged.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        valid, errors = parse_op.split_valid(staged)
        # Two concurrent legs: the events plan is built while the errors
        # write fills the cache. Both writes are scoped to this batch_id,
        # so a replayed batch overwrites its own partitions
        # (runner.write_batch).
        # ALL partials are persisted, including oversize-flagged ones: the
        # events dir is the MERGE's input store, not the final sink. The
        # oversize policy applies to the MERGED final event (compact_events
        # re-renders the JSON and filters there) — silently dropping a
        # partial here made the merged final event undercount where the
        # one-shot batch run would have dropped the whole group (review
        # finding, merge.py's streaming==batch contract).
        pipeline.run_legs(
            errors=lambda: write_batch(
                errors, os.path.join(out_dir, "errors"), batch_id
            ),
            events=lambda: write_batch(
                pipeline.aggregate(valid, key_by_namespace),
                os.path.join(out_dir, "events"),
                batch_id,
                "sink",
            ),
        )
    finally:
        staged.unpersist()


def run_microbatch(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    window_ms: int = agg.WINDOW_MS,
    trigger: dict | None = None,
    lookup: DataFrame | None = None,
    key_by_namespace: bool = False,
    max_files_per_trigger: int = 8,
):
    """File-source streaming job; ``trigger`` defaults to availableNow
    (drain-and-stop, for tests); pass {'processingTime': '5 seconds'}
    for the reference's ticker behavior. ``key_by_namespace`` switches
    the per-batch aggregation to the north-rule key, same as batch.

    The stage (detokenize, parse, broadcast enrich, window) is part of
    the query, built once: each micro-batch receives staged rows."""
    lookup = lookup if lookup is not None else fixtures.lookup_df(spark)
    staged = pipeline.stage(
        read_tokenized(spark, input_dir, max_files_per_trigger), lookup, window_ms
    )
    return run_stream(
        staged,
        lambda b, i: _aggregate_batch(b, out_dir, i, key_by_namespace),
        os.path.join(out_dir, "_checkpoint"),
        trigger=trigger,
    )


def _watermarked_valid(
    spark: SparkSession, input_dir: str, max_files_per_trigger: int, watermark: str
) -> DataFrame:
    """Valid parsed records of the file stream with an ``event_time``
    column (``ts``) under ``watermark``: the input of the event-time
    counts and sessions."""
    parsed = parse_op.parse_emf(
        with_payload(read_tokenized(spark, input_dir, max_files_per_trigger))
    )
    return (
        parsed.filter(F.col("valid"))
        .withColumn("event_time", F.timestamp_millis(F.col("ts")))
        .withWatermark("event_time", watermark)
    )


def run_eventtime_counts(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    window: str = "1 minute",
    watermark: str = "30 seconds",
    max_files_per_trigger: int = 2,
    slide: str | None = None,
):
    """Cross-batch stateful windowed counts with a watermark (W2): per
    (sink-agnostic) dim_hash and event-time window, the record count and
    the count of DECLARED METRIC KEYS across records (``metric_keys`` —
    not post-parse observation counts, which would need the full value
    normalization this lightweight surface skips); late rows beyond
    the watermark are dropped
    by Spark's state eviction. Append mode emits a window once the
    watermark passes its end — windows still open when a bounded input
    drains stay in state (use update mode or a final flush for those).
    ``slide`` turns the window hopping (each event lands in
    size/slide windows — the streaming form of emf_sliding_window);
    state grows by the same factor, watermark eviction unchanged."""
    counts = (
        _watermarked_valid(spark, input_dir, max_files_per_trigger, watermark)
        .groupBy(
            F.window("event_time", window, slide or window).alias("w"),
            "dim_hash",
        )
        .agg(
            F.count(F.lit(1)).alias("records"),
            F.sum(F.size(F.map_keys(F.col("metric_raw")))).alias("metric_keys"),
        )
        .select(
            F.unix_millis(F.col("w.start")).alias("window_start"),
            "dim_hash",
            "records",
            "metric_keys",
        )
    )
    return run_stream(
        counts, os.path.join(out_dir, "counts"), os.path.join(out_dir, "_checkpoint")
    )


def run_eventtime_sessions(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    gap: str = "30 seconds",
    watermark: str = "30 seconds",
    max_files_per_trigger: int = 2,
):
    """Watermarked SESSION windows (VERDICT r3 item 7 — the streaming
    form of ``operators/sessions.py``): per dim_hash, events separated
    by more than ``gap`` of event-time inactivity start a new session;
    Spark's ``session_window`` state merges overlapping in-flight
    sessions across micro-batches and the watermark closes a session
    once event time passes last_event + gap + watermark. Append mode
    emits each closed session exactly once; semantics (inclusive-merge
    boundary, end = last event + gap) match the batch operator, pinned
    by the parity test. Scale: state is one (key, open-session) entry
    per in-flight session — bounded by key cardinality x gap, evicted
    by the watermark, never by job restarts (checkpointed)."""
    sessions = (
        _watermarked_valid(spark, input_dir, max_files_per_trigger, watermark)
        .groupBy(F.session_window("event_time", gap).alias("sw"), "dim_hash")
        .agg(
            F.count(F.lit(1)).alias("records"),
            F.sum(F.size(F.map_keys(F.col("metric_raw")))).alias("metric_keys"),
        )
        .select(
            F.unix_millis(F.col("sw.start")).alias("session_start"),
            F.unix_millis(F.col("sw.end")).alias("session_end"),
            "dim_hash",
            "records",
            "metric_keys",
        )
    )
    return run_stream(
        sessions, os.path.join(out_dir, "sessions"), os.path.join(out_dir, "_checkpoint")
    )
