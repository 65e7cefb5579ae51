"""Parquet compaction: rewrite a directory of small files into files of
a target size (``cli datax compact``)."""

from __future__ import annotations

from pyspark.sql import SparkSession


def compact_parquet(
    spark: SparkSession,
    path: str,
    out_path: str,
    target_mb: int = 128,
) -> int:
    """Rewrite a parquet directory into ~``target_mb`` files; returns
    the output file count.

    The small-files problem: a streaming/micro-batch writer
    (streaming/job.py appends per batch) leaves thousands of KB-scale
    files whose per-file open/footer cost dominates scans long before
    data volume does. Compaction = one read + one round-robin
    repartition to ceil(bytes/target) + one write. Writes to
    ``out_path`` — swapping it over the source atomically is the
    caller's/catalog's job (an Iceberg rewrite-files commit at cluster
    scale; a directory rename here)."""
    import math

    jvm = spark._jvm
    fs_path = jvm.org.apache.hadoop.fs.Path(path)
    fs = fs_path.getFileSystem(spark._jsc.hadoopConfiguration())
    total = fs.getContentSummary(fs_path).getLength()
    n = max(1, math.ceil(total / (target_mb * 1024 * 1024)))
    spark.read.parquet(path).repartition(n).write.mode("overwrite").parquet(out_path)
    out = jvm.org.apache.hadoop.fs.Path(out_path)
    return sum(
        1
        for st in fs.listStatus(out)
        if st.getPath().getName().endswith(".parquet")
    )
