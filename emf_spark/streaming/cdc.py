"""Streaming CDC merge: fold a change-feed STREAM into a maintained
keyed snapshot — the stream-native sibling of datax/diff.apply_changes
(same I/U/D row contract), i.e. the continuous MERGE a Delta/Iceberg
sink performs, expressed with plain parquet + Structured Streaming.

Snapshot storage is the runner's VERSIONED store (``runner.py``): each
micro-batch ``b`` writes the merged result to ``<snapshot_dir>/v=<b+1>``
after reading its predecessor, which makes micro-batch REPLAY exact,
not just harmless. (apply_changes is additionally a no-op on
re-applied feeds, but the versioning means we never rely on that.) Old versions are retained for time travel /
debugging; pruning them is a retention sweep, same as Delta's VACUUM.

Ordering semantics: micro-batches apply in arrival order, with
``seq_col`` resolving conflicts only WITHIN a batch — later batches win
over earlier ones regardless of seq, which is CDC contract (a feed
replays in commit order). When arrival order is consistent with seq
order (the normal case), the streamed fold equals the one-shot batch
apply_changes over the concatenated feed — pinned by the parity test.

Scale shape per micro-batch: one keyed aggregate over the batch (small)
+ one full-outer join against the snapshot keyed the same way; the
snapshot rewrite is the unavoidable cost of a compacted-snapshot sink
(an append-only CDC LOG costs nothing per batch but pushes the merge to
every reader — that variant is just the stream's raw sink). At 100 TB,
partition the snapshot by a stable key hash so the rewrite
parallelizes, and lengthen the trigger so feed volume per merge
amortizes the snapshot scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from emf_spark.datax.diff import apply_changes
from emf_spark.streaming.runner import (
    _versions,  # noqa: F401  (a store's version list, read through cdc)
    file_stream,
    read_version,
    require_bootstrap,
    run_stream,
    write_version,
)


def init_snapshot(base: DataFrame, snapshot_dir: str) -> None:
    """Write the bootstrap snapshot as version 0."""
    write_version(base, snapshot_dir, 0)


def current_snapshot(spark: SparkSession, snapshot_dir: str) -> DataFrame:
    """Read the highest snapshot version."""
    return read_version(spark, snapshot_dir)


def run_cdc_merge(
    spark: SparkSession,
    feed_dir: str,
    snapshot_dir: str,
    checkpoint_dir: str,
    key_cols: list[str],
    seq_col: str,
    op_col: str = "op",
    max_files_per_trigger: int = 8,
):
    """Stream parquet change-feed files from ``feed_dir`` into the
    versioned snapshot at ``snapshot_dir`` (bootstrap with
    init_snapshot first). Returns the started StreamingQuery."""
    require_bootstrap(spark, snapshot_dir, "init_snapshot")

    def merge_batch(batch: DataFrame, batch_id: int) -> None:
        base = read_version(batch.sparkSession, snapshot_dir, batch_id)
        merged = apply_changes(base, batch, key_cols, seq_col, op_col=op_col)
        write_version(merged, snapshot_dir, batch_id + 1)

    return run_stream(
        file_stream(spark, feed_dir, max_files_per_trigger), merge_batch, checkpoint_dir
    )
