"""Structured Streaming front-end (SURVEY.md §2.6 W1-W4).

The reference is a streaming aggregator: fluent-bit pushes chunks, a
wall-clock ticker flushes accumulated state every aggregation_period and
resets it (task.go:29-47, aggregator.go:153-231). ``run_microbatch`` is
that ticker: a ``foreachBatch`` query over the tokenized parquet file
stream whose trigger defaults to availableNow (drain what is there,
then stop) and can be a processing-time interval. The stage
(``pipeline.stage``: detokenize, parse, broadcast enrich, window) is
built once per query, on the file stream itself, so a micro-batch
receives rows that are already staged. Each micro-batch flushes them the
way ``pipeline.run`` does: ``pipeline.checkpoint`` writes them to
parquet and reads them back, then the SAME batch aggregation
(event-time tumbling windows inside the batch) runs over the read-back
and writes per-sink events, concurrently with the errors write
(``pipeline.run_legs``). Because event output is keyed by (sink,
window_start, dim_hash) and the histogram merge is associative,
re-aggregating a window across micro-batches writes *partial* event
rows per batch — exactly the reference's semantics of flushing what
arrived during each interval (its groups also split across flushes,
aggregator.go:223-227). ``streaming/merge.py`` re-merges them.

Checkpointing: a second start on the same checkpoint picks up from the
last committed micro-batch (W3 — strictly stronger than the reference,
whose shutdown flush is admittedly broken, fluent-bit-emf/main.go:78-85).
A batch replayed after a crash before its checkpoint commit overwrites
its own output (``write_batch``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from emf_spark import fixtures, pipeline
from emf_spark.operators import aggregate as agg
from emf_spark.schema import TOKENIZED_SCHEMA


def read_tokenized(
    spark: SparkSession, input_dir: str, max_files_per_trigger: int
) -> DataFrame:
    """The tokenized parquet file stream, at most
    ``max_files_per_trigger`` new files per micro-batch."""
    return (
        spark.readStream.schema(TOKENIZED_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )


def write_batch(df: DataFrame, path: str, batch_id: int, *partition_cols: str) -> None:
    """Write ``df`` under ``path`` as micro-batch ``batch_id``'s
    partition, further split by ``partition_cols``. A dynamic partition
    overwrite: a batch replayed after a crash before its checkpoint
    commit overwrites its own partition instead of appending
    duplicates."""
    (
        df.withColumn("batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id", *partition_cols)
        .parquet(path)
    )


def _aggregate_batch(
    staged: DataFrame,
    out_dir: str,
    batch_id: int,
    key_by_namespace: bool = False,
) -> None:
    # The errors write and both aggregation branches read one parquet
    # checkpoint of the batch's staged rows (pipeline.stage ran in the
    # query), less the columns only a routed copy reads. Each batch
    # overwrites it, a replayed one included.
    valid, errors = pipeline.checkpoint(
        staged.drop("tokens", "log_group_name", "log_stream_name", "env"),
        os.path.join(out_dir, "staged"),
    )
    # Two concurrent legs, both scoped to this batch_id, so a replayed
    # batch overwrites its own partitions.
    # ALL partials are persisted, including oversize-flagged ones: the
    # events dir is the MERGE's input store, not the final sink. The
    # oversize policy applies to the MERGED final event (compact_events
    # re-renders the JSON and filters there) — silently dropping a
    # partial here made the merged final event undercount where the
    # one-shot batch run would have dropped the whole group (review
    # finding, merge.py's streaming==batch contract).
    pipeline.run_legs(
        errors=lambda: write_batch(errors, os.path.join(out_dir, "errors"), batch_id),
        events=lambda: write_batch(
            pipeline.aggregate(valid, key_by_namespace),
            os.path.join(out_dir, "events"),
            batch_id,
            "sink",
        ),
    )


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
    return (
        staged.writeStream.outputMode("append")
        .option("checkpointLocation", os.path.join(out_dir, "_checkpoint"))
        .trigger(**(trigger or {"availableNow": True}))
        .foreachBatch(lambda b, i: _aggregate_batch(b, out_dir, i, key_by_namespace))
        .start()
    )
