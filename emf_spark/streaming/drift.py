"""Streaming distribution-drift monitor: watch a category stream's
cumulative mix drift away from a FROZEN reference window — the
stream-native sibling of ``datax/quality.distribution_drift``, built
on the runner's versioned store (``runner.py``), like ``cdc.py`` and
``scd2.py``.

Why counts merge exactly: ``category_counts`` frames are mergeable —
union + re-aggregate of two windows' count frames IS the count frame
of the concatenated windows — so the monitor never re-reads past
micro-batches; each batch folds its own (tiny, |categories|-row)
counts into the predecessor store version, and the drift rows are
recomputed from the collapsed frames in O(|categories|).

Replay exactness: version ``b+1`` is written after reading the
highest version <= ``b`` (v=0 is the empty bootstrap), so a replayed
batch re-runs against the same predecessor. Per-batch drift verdicts
land under ``drift_dir/batch_id=<b>`` via ``runner.write_batch``. The
latest drift partition always equals the one-shot batch
``distribution_drift(reference, everything-ingested-so-far)`` —
pinned row-identical by the parity test.

Per-batch cost: ONE count aggregate over the micro-batch plus
O(|categories|) merge/drift arithmetic on collapsed frames — the
stream volume is touched exactly once, ever.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from emf_spark.datax.quality import category_counts, drift_from_counts
from emf_spark.streaming.runner import (
    file_stream,
    read_version,
    require_bootstrap,
    run_stream,
    write_batch,
    write_version,
)


def init_reference(ref: DataFrame, cat_col: str, store_dir: str) -> None:
    """Freeze the reference window: write its collapsed count frame to
    ``<store_dir>/ref`` and an EMPTY cumulative bootstrap at v=0."""
    counts = category_counts(ref, cat_col)
    counts.write.mode("overwrite").parquet(os.path.join(store_dir, "ref"))
    write_version(counts.limit(0), os.path.join(store_dir, "cum"), 0)


def current_drift(spark: SparkSession, store_dir: str,
                  drift_dir: str) -> DataFrame:
    """The latest per-batch drift verdict (max batch_id partition)."""
    d = spark.read.option("basePath", drift_dir).parquet(drift_dir)
    top = d.agg(F.max("batch_id").alias("m")).collect()[0]["m"]
    return d.filter(F.col("batch_id") == top).drop("batch_id")


def run_drift_monitor(
    spark: SparkSession,
    feed_dir: str,
    store_dir: str,
    drift_dir: str,
    checkpoint_dir: str,
    cat_col: str,
    max_files_per_trigger: int = 8,
):
    """Stream parquet files from ``feed_dir``; per micro-batch, fold
    the batch's category counts into the versioned cumulative store at
    ``<store_dir>/cum`` and write the drift rows vs the frozen
    reference to ``<drift_dir>/batch_id=<b>``. Bootstrap with
    ``init_reference`` first. Returns the started StreamingQuery."""
    cum_dir = os.path.join(store_dir, "cum")
    require_bootstrap(spark, cum_dir, "init_reference")

    def fold_batch(batch: DataFrame, batch_id: int) -> None:
        s = batch.sparkSession
        ref = s.read.parquet(os.path.join(store_dir, "ref"))
        cum = (
            read_version(s, cum_dir, batch_id)
            .unionByName(category_counts(batch, cat_col))
            .groupBy("category")
            .agg(F.sum("n").alias("n"))
        )
        write_version(cum, cum_dir, batch_id + 1)
        merged = read_version(s, cum_dir, batch_id + 1)
        write_batch(drift_from_counts(ref, merged), drift_dir, batch_id)

    return run_stream(
        file_stream(spark, feed_dir, max_files_per_trigger), fold_batch, checkpoint_dir
    )
