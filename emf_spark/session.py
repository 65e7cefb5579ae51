"""SparkSession factory tuned for the pipeline's shuffle/skew profile.

Defaults follow the north rule: AQE on (runtime re-plan + skew split),
explicit shuffle-partition sizing, Arrow enabled for pandas UDF exchange.
On a real cluster these same settings apply unchanged; only ``master``
and memory sizing differ (supplied by spark-submit).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CONF = {
    # Arrow transport for pandas UDFs (the detokenize hot path).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # AQE: runtime coalescing, skew-join splitting (north rule).
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64m",
    # AQE also inside a plan run to fill a cache. With Spark's default
    # (false) a persisted frame keeps all spark.sql.shuffle.partitions
    # partitions: pipeline.run's events writes and its stats aggregate
    # each ran 8 tasks over a few hundred groups. A warm 3k-record call
    # on the 4-vCPU host ran 30 events and 10 stats tasks with it off, 9
    # and 3 with it on (measured when the events were also written as
    # JSONL).
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    # Nested-schema pruning so from_json/struct projections prune at scan.
    "spark.sql.optimizer.nestedSchemaPruning.enabled": "true",
    # Partial aggregation is the reference's in-memory map equivalent;
    # keep it on (default) and make the scan split size explicit.
    "spark.sql.files.maxPartitionBytes": "128m",
    # Compiled-class cache (static: fixed at JVM start). Spark's default
    # of 100 is below one call's working set, so every warm call
    # recompiled its generated classes: measured 105 per warm
    # pipeline.run and 119 per warm micro-batch on a 500-record input,
    # 0 for both at 2000. 2000 leaves room for the other operators a
    # session runs without evicting the EMF calls' classes.
    "spark.sql.codegen.cache.maxEntries": "2000",
    # Under AQE a query's whole-stage codegen ids follow the order its
    # stages are created, and that order follows which of two concurrent
    # stages finishes first. With the id in each generated class's name
    # (Spark's default), the first warm micro-batch whose cached-scan
    # stages finish in the other order compiles its classes again (6;
    # the other order came in 8 of 30 warm calls at local[8] on a 4-vCPU
    # host, plans equal but for their codegen ids). Without the id in
    # the name, both orders generate the same code and share one cache
    # entry.
    "spark.sql.codegen.useIdInClassName": "false",
    # PySpark's DataFrame call-site capture (Spark's documentation
    # warns of its non-trivial overhead): on every DataFrame and
    # functions call it walks the Python stack, retries a failing
    # `import IPython` and sends the call site to the JVM, a few extra
    # py4j round trips per call. One warm build of the stage +
    # aggregate plan took 4,432 round trips and 958 ms with it, 2,079
    # and 648 ms without (4-vCPU host, expressions not memoized).
    # Errors still name the failing expression; they lose only the
    # Python file and line.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
    "spark.sql.session.timeZone": "UTC",
    "spark.ui.enabled": "false",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
}


def get_spark(
    app_name: str = "emf_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS (driver contract) or 32.
    ``shuffle_partitions`` defaults to 2x cpus — small enough to avoid
    tiny-task overhead at test SFs, and AQE coalesces further; at real
    cluster scale the submitter overrides it to ~2-3x total cores.
    """
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or 2 * cpus
    builder = SparkSession.builder.appName(app_name).master(f"local[{cpus}]")
    conf = dict(DEFAULT_CONF)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    conf["spark.default.parallelism"] = str(cpus)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
