"""Per-partition lineage manifests + checkpoint-resume (SURVEY.md §7.2
step 6; north rule: "resumable from checkpoint with per-partition
lineage + metrics").

The reference has no resume story (its final flush on shutdown is
admittedly broken, fluent-bit-emf/main.go:78-85). Here every completed
work cell — (stage, sink, window_start) — appends one manifest row with
row/byte counts and wall-clock timing. A resumed run anti-joins the
manifest and only writes the missing cells; re-running a completed job
is a no-op. Cells are idempotent because event output is deterministic
per (sink, window) under the engine's canonical ordering.
"""

from __future__ import annotations

import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F

MANIFEST_SCHEMA = (
    "stage string, sink string, window_start bigint, rows_out bigint,"
    " bytes_out bigint, started_at double, finished_at double,"
    " run_id string, status string"
)

CELL_KEYS = ["sink", "window_start"]


class Manifest:
    def __init__(self, spark: SparkSession, out_dir: str):
        self.spark = spark
        self.path = os.path.join(out_dir, "_manifest")

    def exists(self) -> bool:
        # Hadoop FS check, not os.path: the manifest may live on any
        # supported scheme (file:/ s3a:/ hdfs:/ ...), matching wherever
        # the event tables are written (VERDICT r1 item 9).
        jvm = self.spark._jvm
        path = jvm.org.apache.hadoop.fs.Path(self.path)
        conf = self.spark._jsc.hadoopConfiguration()
        return path.getFileSystem(conf).exists(path)

    def read(self) -> DataFrame:
        if not self.exists():
            return self.spark.createDataFrame([], MANIFEST_SCHEMA)
        return self.spark.read.parquet(self.path)

    def done_cells(self, stage: str) -> DataFrame:
        return (
            self.read()
            .filter((F.col("stage") == stage) & (F.col("status") == "done"))
            .select(*CELL_KEYS)
            .distinct()
        )

    def append(self, rows: DataFrame) -> None:
        rows.write.mode("append").parquet(self.path)


def pending_cells(df: DataFrame, manifest: Manifest, stage: str) -> DataFrame:
    """Filter out rows whose (sink, window_start) cell already completed.
    The manifest is tiny relative to data — broadcast anti-join."""
    done = manifest.done_cells(stage)
    return df.join(F.broadcast(done), CELL_KEYS, "left_anti")


def write_events_resumable(
    spark: SparkSession,
    events: DataFrame,
    out_dir: str,
    stage: str = "events",
) -> dict:
    """Resumable per-sink event write: skips manifest-completed
    (sink, window_start) cells, writes the rest partitioned by cell,
    then records one lineage row per cell. Returns counters.

    One aggregate over the pending rows, collected on the driver, gives
    each cell's ``rows_out`` and ``bytes_out``; no cells means nothing
    to write. An oversize-dropped row is not written, so it counts in
    neither, but its cell is still recorded: the cell completes and is
    never retried, and the manifest counts what the events table really
    contains (review finding)."""
    manifest = Manifest(spark, out_dir)
    run_id = uuid.uuid4().hex[:12]
    started = time.time()
    todo = pending_cells(events, manifest, stage).persist()
    path = os.path.join(out_dir, "events")
    written = ~F.col("dropped_oversize")
    try:
        cells = (
            todo.groupBy(*CELL_KEYS)
            .agg(
                F.sum(written.cast("long")).alias("rows_out"),
                F.sum(F.when(written, F.col("event_bytes")).otherwise(F.lit(0)))
                .cast("bigint").alias("bytes_out"),
            )
            .collect()
        )
        if cells:
            # dynamic overwrite of the CELL partitions, not append: the
            # manifest row lands AFTER this write, so a crash between the
            # two re-runs these cells on resume — an append would then
            # duplicate every row of the partially-recorded cells, while
            # re-overwriting the same (sink, window_start) partitions is
            # idempotent (review finding; same pattern as the streaming
            # micro-batch and dedup-store writers)
            (
                todo.filter(written).write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy(*CELL_KEYS)
                .parquet(path)
            )
            finished = time.time()
            rows = [(stage, *c, started, finished, run_id, "done") for c in cells]
            manifest.append(spark.createDataFrame(rows, MANIFEST_SCHEMA).coalesce(1))
    finally:
        todo.unpersist()
    return {"written_rows": sum(c["rows_out"] for c in cells), "run_id": run_id, "path": path}
