"""The one stream runner: how every query in ``emf_spark/streaming``
reads, checkpoints, triggers, keeps state and replays.

- ``file_stream``: the parquet file source, at most N new files per
  micro-batch.
- ``run_stream``: start a stream into a parquet directory or a
  ``foreachBatch`` function, checkpointed, draining with
  ``availableNow`` unless a trigger is given. A second start on the
  same checkpoint resumes after the last committed micro-batch.
- ``keyed_state``: the one ``applyInPandasWithState`` call.
- ``write_batch``: the replay-idempotent ``batch_id`` write.
- The versioned store (``require_bootstrap``, ``read_version``,
  ``write_version``). Micro-batch ``b`` reads its predecessor, the
  highest version <= ``b`` (v=0 is the bootstrap), and writes version
  ``b+1``. A batch that crashed after writing but before its checkpoint
  commit re-runs against the same predecessor it read the first time:
  its own partial output lives at a higher version, is excluded by
  construction, and is overwritten.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.streaming.state import GroupStateTimeout
from pyspark.sql.types import StructField, StructType


def file_stream(
    spark: SparkSession,
    input_dir: str,
    max_files_per_trigger: int,
    schema: StructType | str | None = None,
) -> DataFrame:
    """Parquet file stream over ``input_dir``. Without ``schema``, the
    schema is that of a batch read of the files already there."""
    if schema is None:
        schema = spark.read.parquet(input_dir).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )


def run_stream(
    stream: DataFrame,
    sink: str | Callable[[DataFrame, int], None],
    checkpoint: str,
    output_mode: str = "append",
    trigger: dict | None = None,
) -> StreamingQuery:
    """Start ``stream`` into ``sink``, a parquet directory or a
    ``foreachBatch`` function ``(batch, batch_id) -> None``. ``trigger``
    defaults to availableNow (drain what is there, then stop). Returns
    the started query."""
    writer = (
        stream.writeStream.outputMode(output_mode)
        .option("checkpointLocation", checkpoint)
        .trigger(**(trigger or {"availableNow": True}))
    )
    if callable(sink):
        return writer.foreachBatch(sink).start()
    return writer.start(path=sink, format="parquet")


def keyed_state(
    df: DataFrame,
    keys: list[str],
    fn,
    out_schema: StructType | list[StructField],
    state_schema: StructType,
    output_mode: str = "append",
) -> DataFrame:
    """``fn(key, pdfs, state)`` over ``df`` grouped by ``keys``, with
    per-key state kept across micro-batches. ``out_schema`` is the whole
    output schema, or the fields that follow the key columns (typed as
    in ``df``).

    State never times out: it lives as long as the checkpoint. A
    processing-time timeout makes Spark run an empty batch after every
    batch to check for expiry, so an ``availableNow`` (drain-and-stop)
    query never stopped."""
    if not isinstance(out_schema, StructType):
        out_schema = StructType(
            [StructField(k, df.schema[k].dataType) for k in keys] + list(out_schema)
        )
    return df.groupBy(*keys).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode=output_mode,
        timeoutConf=GroupStateTimeout.NoTimeout,
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


def _versions(spark: SparkSession, store_dir: str) -> list[int]:
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    path = jvm.org.apache.hadoop.fs.Path(store_dir)
    fs = path.getFileSystem(conf)
    if not fs.exists(path):
        return []
    out = []
    for st in fs.listStatus(path):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith("v="):
            try:
                out.append(int(name[2:]))
            except ValueError:
                continue
    return sorted(out)


def require_bootstrap(spark: SparkSession, store_dir: str, init: str) -> None:
    """Raise unless ``store_dir`` has a version (``init`` writes v=0)."""
    if not _versions(spark, store_dir):
        raise ValueError(
            f"bootstrap missing: call {init} before streaming into {store_dir}"
        )


def read_version(
    spark: SparkSession, store_dir: str, upto: int | None = None
) -> DataFrame:
    """The store's highest version, or with ``upto`` the highest one <=
    ``upto``: micro-batch ``b``'s predecessor is ``read_version(s, d, b)``."""
    vs = [v for v in _versions(spark, store_dir) if upto is None or v <= upto]
    if not vs:
        raise ValueError(f"no versions under {store_dir}")
    return spark.read.parquet(os.path.join(store_dir, f"v={vs[-1]}"))


def write_version(df: DataFrame, store_dir: str, version: int) -> None:
    """Write ``df`` as the store's ``version`` (replacing a replayed one)."""
    df.write.mode("overwrite").parquet(os.path.join(store_dir, f"v={version}"))
