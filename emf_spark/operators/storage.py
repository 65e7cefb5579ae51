"""Bucketed-table storage: co-located joins and re-aggregations.

At 100 TB the dominant cost of a repeated join/groupBy on the same key
is the shuffle. Spark's bucketed tables (`bucketBy` + `saveAsTable`)
persist the hash-partitioning INTO the storage layout: every reader
that joins or aggregates on the bucket key gets a shuffle-free plan
(no Exchange on the bucketed side, pinned by
tests/test_plans.py::test_bucketed_join_is_shuffle_free).

Use cases in this engine:
- per-sink event tables bucketed by ``dim_hash``: downstream
  merge_partial_events / compaction re-aggregates without a shuffle;
- the tokenized corpus bucketed by ``doc_id`` for repeated dedup
  passes (signatures, fingerprints, decontamination all groupBy id).

Bucket-count sizing: target ~128 MB per bucket file per partition;
buckets are fixed at write time, so size for the table's full scale,
not today's sample (too few buckets = giant files + stragglers).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    keys: list[str],
    buckets: int = 64,
    sort: bool = True,
    mode: str = "overwrite",
) -> None:
    """Persist ``df`` as a bucketed (optionally bucket-sorted) managed
    parquet table. Sorting within buckets lets sort-merge joins skip
    the per-task sort too."""
    w = df.write.mode(mode).format("parquet").bucketBy(buckets, *keys)
    if sort:
        w = w.sortBy(*keys)
    w.saveAsTable(table)


def read_table(spark: SparkSession, table: str) -> DataFrame:
    return spark.table(table)


def zorder_key(cols, bits: int = 16):
    """Morton (Z-order) interleave of ``bits`` low bits from each column
    — the multi-dimension clustering key for data layout: sorting by it
    keeps rows that are close in EVERY dimension close in file order,
    so parquet row-group min/max stats prune multi-dimensional range
    filters (a single-column sort only prunes that column).

    Columns must already be non-negative ints scaled to [0, 2^bits)
    (clip/quantize upstream: rank, bucketize, or >> shift). Total key
    width = bits * len(cols), must stay <= 63."""
    from pyspark.sql import functions as F

    n = len(cols)
    if bits * n > 63:
        raise ValueError("bits * len(cols) must be <= 63 for a long key")
    out = F.lit(0).cast("long")
    for i, c in enumerate(cols):
        cc = (F.col(c) if isinstance(c, str) else c).cast("long")
        for b in range(bits):
            bit = F.shiftright(cc, b).bitwiseAND(F.lit(1))
            out = out.bitwiseOR(F.shiftleft(bit, b * n + i))
    return out


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    bits: int = 16,
    partitions: int = 64,
) -> None:
    """Write ``df`` parquet range-partitioned AND sorted by the Z-order
    key of ``cols``: every row group's min/max stats become tight in
    ALL the clustered dimensions, so multi-dim range scans skip most
    groups. (The key column itself is dropped — it is layout, not
    data.)"""
    from pyspark.sql import functions as F

    keyed = df.withColumn("_z", zorder_key(cols, bits))
    (
        keyed.repartitionByRange(partitions, F.col("_z"))
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(path)
    )


def iceberg_catalog(spark: SparkSession) -> str | None:
    """Capability probe (VERDICT r4 item 8): the name of the first
    session catalog configured with a LOADABLE Iceberg implementation,
    else None. A catalog is usable only when (a) ``spark.sql.catalog.
    <name>`` names an Iceberg class and (b) that class is actually on
    the JVM classpath — config alone lies on a cluster missing the
    runtime jar, and failing at write time (mid-job) is the expensive
    way to find out."""
    prefix = "spark.sql.catalog."
    for key, value in spark.sparkContext.getConf().getAll():
        if not key.startswith(prefix) or key.count(".") != 3:
            continue
        if "iceberg" not in value.lower():
            continue
        try:
            spark._jvm.java.lang.Class.forName(value)
        except Exception:
            continue
        return key[len(prefix):]
    return None


def write_table(
    df: DataFrame,
    table: str,
    partition_cols: list[str] | None = None,
    mode: str = "overwrite",
    catalog: str | None = None,
) -> str:
    """THE storage seam for managed table writes: Iceberg when a
    catalog is available, plain parquet ``partitionBy`` otherwise —
    callers never branch on the environment themselves. Returns the
    path taken ("iceberg" or "parquet") for observability.

    With an Iceberg catalog the write goes through the DataFrameWriterV2
    API (``writeTo().createOrReplace()`` / ``append()``), which gives
    atomic snapshot commits, hidden-partition evolution, and
    rewrite-files compaction downstream — the capabilities
    compact_parquet and the streaming writer emulate by hand on bare
    parquet. Without one (this sandbox), the fallback is the repo's
    standing parquet stand-in: a partitioned managed table with the
    same logical layout, so the caller's read side is unchanged."""
    if mode not in ("overwrite", "append"):
        raise ValueError(f"write_table supports overwrite/append, got {mode!r}")
    cat = catalog or iceberg_catalog(df.sparkSession)
    if cat is not None:
        from pyspark.sql import functions as F

        w = df.writeTo(f"{cat}.{table}")
        if partition_cols:
            w = w.partitionedBy(*[F.col(c) for c in partition_cols])
        if mode == "overwrite":
            w.createOrReplace()
        else:
            w.append()
        return "iceberg"
    w = df.write.mode(mode).format("parquet")
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    w.saveAsTable(table)
    return "parquet"


def compact_parquet(
    spark: SparkSession,
    path: str,
    out_path: str,
    target_mb: int = 128,
    sort_within_by: list[str] | None = None,
) -> int:
    """Rewrite a parquet directory into ~``target_mb`` files; returns
    the output file count.

    The small-files problem is the other half of the storage story: a
    streaming/micro-batch writer (streaming/job.py appends per batch)
    leaves thousands of KB-scale files whose per-file open/footer cost
    dominates scans long before data volume does. Compaction = one
    read + one round-robin repartition to ceil(bytes/target) + one
    write; ``sort_within_by`` adds a sortWithinPartitions so row-group
    min/max stats stay selective after the rewrite (pair with
    write_zordered for multi-dim locality). Writes to ``out_path`` —
    swapping it over the source atomically is the caller's/catalog's
    job (an Iceberg rewrite-files commit at cluster scale; a directory
    rename here)."""
    import math

    jvm = spark._jvm
    fs_path = jvm.org.apache.hadoop.fs.Path(path)
    fs = fs_path.getFileSystem(spark._jsc.hadoopConfiguration())
    total = fs.getContentSummary(fs_path).getLength()
    n = max(1, math.ceil(total / (target_mb * 1024 * 1024)))
    df = spark.read.parquet(path).repartition(n)
    if sort_within_by:
        df = df.sortWithinPartitions(*sort_within_by)
    df.write.mode("overwrite").parquet(out_path)
    out = jvm.org.apache.hadoop.fs.Path(out_path)
    return sum(
        1
        for st in fs.listStatus(out)
        if st.getPath().getName().endswith(".parquet")
    )
