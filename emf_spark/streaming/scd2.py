"""Streaming SCD2 maintenance + snapshot-diff publishing: the
stream-native siblings of datax/diff.scd2_apply and
datax/diff.snapshot_diff, for the pipeline where full snapshots of a
keyed dimension LAND AS FILES (daily partner dumps, hourly exports) and
downstream wants (a) a maintained type-2 history and (b) the
added/removed/changed delta feed — without anyone re-running batch jobs
by hand.

Both keep their state in the runner's VERSIONED store (``runner.py``):
micro-batch ``b`` reads the highest store version <= b and writes
version ``b+1``, so a batch replayed after a pre-commit crash re-runs
against the same predecessor it read the first time. Diff deltas
additionally land batch_id-partitioned via ``runner.write_batch``.

Input contract: EACH MICRO-BATCH IS ONE COMPLETE SNAPSHOT. Feed one
snapshot file per trigger (``maxFilesPerTrigger=1`` is the default
here, unlike the CDC merge where batches compose) — a half-delivered
snapshot would read as mass deletion, exactly like handing
scd2_apply a truncated frame. SCD2 history versions advance with the
batch id: batch ``b`` closes/opens rows at version ``b+1`` (the batch
id IS the business version of a landed dump; map it to dates
downstream via the delivery manifest if needed).

Equivalence: with in-order snapshot arrival, the streamed fold equals
applying the batch operators sequentially — pinned by parity pytests.

Scale shape per micro-batch: scd2 pays the batch operator's single
full-outer join between the OPEN slice and the snapshot (closed history
passes through around the join); diff pays one full-outer join of two
(key, hash) projections. History/previous-snapshot stores rewrite per
batch — the compacted-store cost, amortized by longer triggers, same
trade as the CDC merge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from emf_spark.datax.diff import scd2_apply, snapshot_diff
from emf_spark.streaming.runner import (
    file_stream,
    read_version,
    require_bootstrap,
    run_stream,
    write_batch,
    write_version,
)


def init_history(history: DataFrame, history_dir: str) -> None:
    """Write the bootstrap SCD2 history as version 0. For a cold start
    pass an empty frame with the full history schema (keys + attrs +
    valid_from/valid_to)."""
    write_version(history, history_dir, 0)


def current_history(spark: SparkSession, history_dir: str) -> DataFrame:
    return read_version(spark, history_dir)


def run_scd2_stream(
    spark: SparkSession,
    snapshot_feed_dir: str,
    history_dir: str,
    checkpoint_dir: str,
    key_cols: list[str],
    attr_cols: list[str] | None = None,
    max_files_per_trigger: int = 1,
):
    """Stream landed full-snapshot parquet files from
    ``snapshot_feed_dir`` into the versioned SCD2 history at
    ``history_dir`` (bootstrap with init_history first). Batch ``b``
    applies scd2_apply(history<=b, batch, version=b+1) and writes
    history v=b+1. Returns the started StreamingQuery."""
    require_bootstrap(spark, history_dir, "init_history")

    def fold(batch: DataFrame, batch_id: int) -> None:
        hist = read_version(batch.sparkSession, history_dir, batch_id)
        out = scd2_apply(
            hist, batch, key_cols, version=batch_id + 1, attr_cols=attr_cols
        )
        write_version(out, history_dir, batch_id + 1)

    return run_stream(
        file_stream(spark, snapshot_feed_dir, max_files_per_trigger), fold, checkpoint_dir
    )


def init_prev_snapshot(snapshot: DataFrame, store_dir: str) -> None:
    """Write the diff stream's bootstrap 'previous snapshot' as v=0."""
    write_version(snapshot, store_dir, 0)


def run_snapshot_diff_stream(
    spark: SparkSession,
    snapshot_feed_dir: str,
    store_dir: str,
    delta_dir: str,
    checkpoint_dir: str,
    key_cols: list[str],
    compare_cols: list[str] | None = None,
    max_files_per_trigger: int = 1,
):
    """Stream landed full-snapshot parquet files and publish the
    (key..., status, batch_id) delta of each against its predecessor to
    ``delta_dir`` (batch_id-partitioned, dynamic overwrite), keeping the
    predecessor in the versioned store at ``store_dir`` (bootstrap with
    init_prev_snapshot). Returns the started StreamingQuery."""
    require_bootstrap(spark, store_dir, "init_prev_snapshot")

    def publish(batch: DataFrame, batch_id: int) -> None:
        old = read_version(batch.sparkSession, store_dir, batch_id)
        write_batch(snapshot_diff(old, batch, key_cols, compare_cols), delta_dir, batch_id)
        # the new snapshot becomes the next batch's predecessor; written
        # AFTER the delta so a crash between the writes replays cleanly
        # (delta partition is overwritten, store version is overwritten)
        write_version(batch, store_dir, batch_id + 1)

    return run_stream(
        file_stream(spark, snapshot_feed_dir, max_files_per_trigger),
        publish,
        checkpoint_dir,
    )
