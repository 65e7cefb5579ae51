"""Global ordering primitives that never global-sort.

Training-data export needs two order operations that are trivial on a
laptop and traps at 100 TB:

* ``global_index`` — a contiguous 0-based row number in key order
  (stable ids for a corpus snapshot). ``ROW_NUMBER() OVER (ORDER BY
  key)`` funnels every row through ONE reducer; here the key space is
  cut into value-range buckets from a one-pass min/max aggregate, rows
  rank INSIDE their bucket in parallel, and per-bucket counts (at most
  ``n_buckets`` rows on the driver) become cumulative offsets added
  back via a broadcast join. Exactly equal to the single-window form
  for any tie-free (key, tiebreak) order.

* ``epoch_shuffle`` — the deterministic per-epoch random order + shard
  assignment a training run re-derives from (id, epoch) alone. Rows
  order by a portable 56-bit hash of ``id:epoch``; shards are
  RANGES of that hash space, so shard id + in-shard position IS the
  global shuffle order (readers stream shard 0, shard 1, ... and see
  the exact global permutation) with no cross-shard sort. Hash
  uniformity makes every shard the same size to within sampling noise
  — this path has no skew mode at all.

Both are pure DataFrame plans: one algebraic aggregate, one windowed
rank partitioned by bucket/shard, one broadcast of <= n_buckets rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from emf_spark.datax.dedup import portable_hash56

_HASH_SPACE = 1 << 56  # portable_hash56 range [0, 2^56)


def global_index(
    df: DataFrame,
    key_col: str,
    tiebreak: list[str] | None = None,
    n_buckets: int = 1024,
    out_col: str = "row_idx",
) -> DataFrame:
    """Add ``out_col``: the 0-based global row number ordering by
    (``key_col`` ASC, ``tiebreak...`` ASC). ``key_col`` must be numeric
    (bucket boundaries come from its min/max); NULL keys sort FIRST
    (Spark's ASC-nulls-first, same as the window form) via a dedicated
    leading bucket; ties across the full order make the index
    nondeterministic between the tied rows, same as the window form —
    pass enough tiebreak columns.

    Buckets are fixed VALUE ranges, so a heavily clustered key
    distribution fills few buckets; raise ``n_buckets`` (driver holds
    one count row per non-empty bucket) or pre-scale the key if the
    cluster is pathological. Hot duplicate keys all land in one bucket
    by necessity — their relative order is what the tiebreak defines.
    """
    tiebreak = tiebreak or []
    for c in ("_gb", "_gr", "_goff"):
        if c in df.columns:
            raise ValueError(f"column {c!r} collides with global_index internals")
    stats = df.select(
        F.min(key_col).alias("lo"), F.max(key_col).alias("hi")
    ).collect()[0]
    # min/max ignore NULLs, so lo is None only when every key is NULL;
    # any NULL keys route to a dedicated LEADING bucket (-1) below,
    # matching the single-window form's ASC nulls-first order (ADVICE
    # r4: F.least() ignores NULL args, which silently sent NULL keys to
    # the LAST bucket, breaking window-form equality mid-sequence).
    lo = 0.0 if stats["lo"] is None else float(stats["lo"])
    hi = 0.0 if stats["hi"] is None else float(stats["hi"])
    width = max((hi - lo) / n_buckets, 1e-12)
    bucket = F.when(F.col(key_col).isNull(), F.lit(-1)).otherwise(
        F.least(
            F.floor((F.col(key_col) - F.lit(lo)) / F.lit(width)),
            F.lit(n_buckets - 1),
        )
    ).cast("int")
    b = df.withColumn("_gb", bucket)
    counts = (
        b.groupBy("_gb").agg(F.count(F.lit(1)).alias("_c"))
        .orderBy("_gb")
        .collect()
    )
    offsets, acc = [], 0
    for r in counts:
        offsets.append((r["_gb"], acc))
        acc += r["_c"]
    off_df = b.sparkSession.createDataFrame(offsets, "_gb int, _goff bigint")
    w = Window.partitionBy("_gb").orderBy(
        *[F.col(key_col).asc()] + [F.col(c).asc() for c in tiebreak]
    )
    return (
        b.withColumn("_gr", F.row_number().over(w))
        .join(F.broadcast(off_df), "_gb")
        .withColumn(out_col, (F.col("_goff") + F.col("_gr") - 1).cast("bigint"))
        .drop("_gb", "_gr", "_goff")
    )


def epoch_shuffle(
    df: DataFrame,
    id_col: str,
    epoch: int,
    n_shards: int = 16,
) -> DataFrame:
    """Deterministic training-epoch shuffle: adds ``shard`` (int, in
    [0, n_shards)) and ``pos`` (bigint, 0-based within shard) such that
    reading shards in order, each in ``pos`` order, yields the exact
    global permutation ORDER BY (md5-56(id:epoch), id). Changing
    ``epoch`` re-permutes; same (id, epoch) always lands the same slot.
    """
    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    for c in ("_eh", "shard", "pos"):
        if c in df.columns:
            raise ValueError(f"column {c!r} collides with epoch_shuffle outputs")
    shard_width = -(-_HASH_SPACE // n_shards)  # ceil
    h = portable_hash56(
        F.concat(F.col(id_col).cast("string"), F.lit(f":{int(epoch)}"))
    )
    w = Window.partitionBy("shard").orderBy(F.col("_eh").asc(), F.col(id_col).asc())
    return (
        df.withColumn("_eh", h)
        # integer DIV, not float /: hashes exceed 2^53 and double
        # rounding would flip shard assignment at range boundaries
        .withColumn("shard", F.expr(f"_eh DIV {shard_width}").cast("int"))
        .withColumn("pos", (F.row_number().over(w) - 1).cast("bigint"))
        .drop("_eh")
    )


def write_training_shards(
    df: DataFrame,
    path: str,
    id_col: str,
    epoch: int,
    n_shards: int = 16,
    max_records_per_file: int | None = None,
) -> None:
    """Materialize one training epoch as shard-partitioned parquet: the
    epoch_shuffle permutation written to ``path/shard=K/`` with rows
    ordered by ``pos`` WITHIN every file, so a loader that walks shards
    in order (files per shard in name order, rows in file order)
    replays the exact global permutation without ever sorting — the
    epoch's order is baked into the layout at write time, which is the
    only place a 100 TB pipeline can afford it.

    Shard file layout: one Spark partition per shard (the shuffle is
    the epoch's single Exchange), ``max_records_per_file`` splits a
    shard into size-bounded files WITHOUT breaking order (Spark writes
    a partition sequentially, rolling files as the cap hits, and names
    them part-00000, part-00001, ... in row order)."""
    shuffled = epoch_shuffle(df, id_col, epoch, n_shards=n_shards)
    writer = (
        shuffled.repartition(n_shards, F.col("shard"))
        .sortWithinPartitions("shard", "pos")
        .write.mode("overwrite")
        .partitionBy("shard")
    )
    if max_records_per_file is not None:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    writer.parquet(path)


def equidepth_boundaries(
    df: DataFrame,
    n_bins: int = 10,
) -> DataFrame:
    """Exact equi-depth bin boundaries on the integer lattice: for
    k = 1..n_bins-1, ``boundary_units[k]`` is the value at 0-based
    global rank ``ceil(k*N/n_bins) - 1`` under ASC value order —
    equivalently the smallest lattice value whose cumulative count
    reaches ceil(k*N/n_bins). Discrete order statistics, no
    interpolation, no float: ties share a value, so the boundary is
    deterministic even though which tied ROW holds the rank is not.
    The training-pipeline use is quantile bucketing (length-grouped
    batching, balanced range partitioning) where approx_percentile's
    error bound is the wrong contract for a reproducibility gate.

    Returns ``(bin int, boundary_units long)`` for k = 1..n_bins-1,
    ordered by bin. NULL values are missing measurements, excluded
    (and excluded from N).

    Scale shape: rides ``global_index`` — a stats pass, value-range
    bucketing with driver-held per-bucket counts, and within-bucket
    window ranks (never a global single-partition window); the rank →
    boundary lookup is a broadcast equi-join against the (n_bins - 1)-
    row target table. Driver-side state: one count row per non-empty
    bucket plus the N scalar — bounded by n_buckets, not data.
    """
    if n_bins < 2:
        raise ValueError("n_bins must be >= 2")
    x = df.filter(F.col("value").isNotNull()).select(
        F.round(F.col("value") * 100).cast("long").alias("v")
    )
    n = x.count()
    spark = df.sparkSession
    if n == 0:
        return spark.createDataFrame([], "bin int, boundary_units long")
    targets = [
        (k, (k * n + n_bins - 1) // n_bins - 1) for k in range(1, n_bins)
    ]
    tdf = spark.createDataFrame(targets, "bin int, _ri long")
    idx = global_index(x, "v", out_col="_ri")
    return (
        idx.join(F.broadcast(tdf), "_ri")
        .select("bin", F.col("v").alias("boundary_units"))
        .orderBy("bin")
    )
