"""Exact re-merge of per-batch PARTIAL events into final events
(streaming exact-merge mode, VERDICT r2 item 7).

``run_microbatch`` appends one partial event per (sink, window_start,
dim_hash) per micro-batch — the reference's per-flush split
(aggregator.go:223-227). Because every piece of event state is an
associative merge, the partials re-merge EXACTLY:

- value->count histogram: pair-level summation (A2); for metrics that
  crossed into SEH in a partial, the representative value round-trips
  to its own bucket (seh_bucket(seh_value_of(b)) == b — floor(b+0.5)),
  so bucket counts merge losslessly (A8's associativity).
- min/max/sum/count: merged from the partials' TRUE stats columns
  (min-of-mins, max-of-maxes, sum-of-sums, sum-of-counts; count sums
  saturate like the aggregation's, ``aggregate.count_sum``) — never
  recomputed from post-SEH representatives. The double ``sum``
  accumulates in ascending-addend order (same canonicalization trick
  as aggregate_histograms' value-ordered window) so the merge is
  deterministic; across a different partial split it can still differ
  from the batch engine's ascending-v accumulation in the last ulp
  (float addition is not associative — the parity test pins exact
  equality everywhere and 1e-9 relative on sum).
- dims: identical within a dim_hash group by construction (the hash IS
  the sorted dim pairs), so first-wins is value-stable.
- timestamp last-wins = max; records/bytes_in = summation;
  CloudWatchMetrics = ``aggregate.cw_union`` over the partials' distinct
  unions, the function aggregate_metadata builds them with (a union of
  unions is the union).

Five hash shuffles, none per namespace: three in the metric merge (the
true-stats window, the value-pair groupBy and its cardinality window),
one metadata groupBy on the group keys, and one to gather each group's
metric list. Per-group state stays bounded (post-SEH cardinality,
distinct partial unions), so the merge scales like the aggregation
itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from emf_spark.operators import aggregate as agg
from emf_spark.operators import output as output_op


def merge_partial_events(
    events: DataFrame, key_by_namespace: bool = False
) -> DataFrame:
    """Partial event rows (the structured ``events`` parquet written by
    run_microbatch / the batch pipeline) -> one final event per
    (sink, window_start[, namespace], dim_hash), with ``event_json``
    re-rendered. Streaming-then-merge == one-shot batch aggregation."""
    keys = [
        c
        for c in ("sink", "window_start", "namespace", "dim_hash")
        if c in events.columns
    ]

    # ---- metric merge ----
    mt = events.select(*keys, F.explode("metrics").alias("m"))
    # TRUE stats merge; ascending-addend order makes the double sum
    # deterministic under any partial split
    ws = (
        Window.partitionBy(*keys, "metric_name")
        .orderBy("psum")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    stats = (
        mt.select(
            *keys,
            F.col("m.metric_name").alias("metric_name"),
            F.col("m.min").alias("pmin"),
            F.col("m.max").alias("pmax"),
            F.col("m.sum").alias("psum"),
            F.col("m.count").alias("pcount"),
        )
        .select(
            *keys,
            "metric_name",
            F.min("pmin").over(ws).alias("min"),
            F.max("pmax").over(ws).alias("max"),
            F.sum("psum").over(ws).alias("sum"),
            agg.count_sum(F.col("pcount"), ws).alias("count"),
        )
        .dropDuplicates(keys + ["metric_name"])
    )
    pairs = mt.select(
        *keys,
        F.col("m.metric_name").alias("metric_name"),
        F.col("m.n_distinct").alias("pnd"),
        F.explode(F.arrays_zip("m.values", "m.counts")).alias("p"),
    ).select(
        *keys,
        "metric_name",
        "pnd",
        F.col("p.values").alias("v"),
        F.col("p.counts").alias("c"),
    )
    p1 = pairs.groupBy(*keys, "metric_name", "v").agg(
        agg.count_sum(F.col("c")).alias("c"), F.max("pnd").alias("pnd")
    )
    wv = (
        Window.partitionBy(*keys, "metric_name")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    # Branch cardinality = max(merged distinct, any partial's RAW
    # distinct): a partial that already SEH'd (n_distinct >= 3) may
    # carry few representative values, and merging it with a new raw
    # value must NOT fall back to the exact branch — the batch engine
    # saw >= 3 raw distinct and buckets everything (review finding:
    # partial A={10.0,10.1,10.2} SEH'd + partial B={5.0} previously
    # emitted raw 5.0 next to A's representative).
    j = p1.withColumn(
        "n_distinct",
        F.greatest(F.count(F.lit(1)).over(wv), F.max("pnd").over(wv)),
    )
    p3 = (
        j.groupBy(*keys, "metric_name", agg.seh_out_v())
        .agg(
            agg.count_sum(F.col("c")).alias("c"),
            F.max("n_distinct").alias("n_distinct"),
        )
        .filter((F.col("n_distinct") <= 2) | (F.col("c") > 0))
    )
    hist = (
        p3.groupBy(*keys, "metric_name")
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("out_v").alias("v"), F.col("c").alias("c")))
            ).alias("hist"),
            F.max("n_distinct").alias("n_distinct"),
        )
        .select(
            *keys,
            "metric_name",
            F.col("hist.v").alias("values"),
            F.col("hist.c").alias("counts"),
            "n_distinct",
        )
        .join(stats, keys + ["metric_name"])
        .select(
            *keys, "metric_name", "values", "counts",
            "min", "max", "sum", "count", "n_distinct",
        )
    )

    # ---- metadata merge (same shapes as aggregate_metadata's output) ----
    meta = (
        events.groupBy(*keys)
        .agg(
            F.min_by("dimensions", F.struct(F.col("timestamp"))).alias("dimensions"),
            F.max("timestamp").alias("timestamp"),
            F.sum("records").alias("records"),
            F.sum("bytes_in").alias("bytes_in"),
            F.collect_set("cw_metrics").alias("_cws"),
        )
        .withColumn("cw_metrics", agg.cw_union(F.flatten("_cws")))
        .drop("_cws")
    )

    assembled = agg.assemble_groups(hist, meta, key_by_namespace)
    return output_op.events_json(assembled)


def compact_events(spark, out_dir: str) -> str:
    """End-of-stream compaction: read the per-batch partial events a
    run_microbatch job appended under ``out_dir``/events, re-merge them
    exactly, and write one final event per group to
    ``out_dir``/events_final (partitioned by sink, like the batch
    pipeline's table). Returns the output path. Run it after the
    stream drains, or periodically over closed windows — merging is
    idempotent (re-merging merged events is a no-op by associativity)."""
    import os

    events = spark.read.parquet(os.path.join(out_dir, "events"))
    final = merge_partial_events(events)
    path = os.path.join(out_dir, "events_final")
    (
        final.filter(~F.col("dropped_oversize"))
        .write.mode("overwrite")
        .partitionBy("sink")
        .parquet(path)
    )
    return path
