"""Aggregation core (SURVEY.md §2.5): dim-hash groups, exact value-count
histograms, cardinality-dependent SEH reduce, metadata merge.

Shuffle plan (the part that must survive 100 TB):

  obs (one row per observation pair)
    └─ groupBy(keys + metric + value) -> exact (value -> count) map
                                                                  [shuffle 1]
       The *value* participates in the hash key, so a hot
       (dim_hash, metric) group spreads over the cluster — this IS the
       salted first phase of the two-phase aggregation (north rule), with
       the value as a semantics-free natural salt. Spark's partial
       aggregation does map-side combining before the exchange, playing
       the role of the reference's in-memory map
       (aggregator.go:96-151).
    └─ repartition on the group keys (NOT keys + metric)  [shuffle 2]
       One reducer per group now sees every metric's distinct values,
       not one metric's, and everything after it, up to the join with
       the metadata branch, reuses this partitioning. Phase 1's value
       salt is unchanged: a hot group's raw observations still spread,
       and phase 2 only moves the distinct (value, count) pairs.
    └─ window over (keys + metric): per-metric stats
       (n_distinct/min/max/sum/count)                      [no exchange]
    └─ project out_value = value            (n_distinct <= 2, exact)
                         | seh_value(bucket(value))  (>= 3, seh.go)
    └─ groupBy(keys + metric + out_value) -> merged buckets  [no exchange]
    └─ groupBy(keys + metric) collect bounded arrays         [no exchange]
    └─ assemble: groupBy(keys) collect the metric list, join the
       metadata branch on keys    [no exchange: both sides are already
       hash-partitioned on the group keys]

  records (one row per valid record; north-rule mode: one per distinct
  namespace the record projects to)
    └─ groupBy(keys) first-wins dims, last-wins ts, records, bytes,
       collect_set(projection list)                   [shuffle 3, the only
                                                       one of this branch]
       Partial aggregation dedupes the projection lists map-side, so
       only distinct lists per group cross the exchange.
    └─ cw_union per row: per-namespace union of dimension sets and
       metric definitions, sorted                      [no exchange]
       The partial-event merge (streaming/merge.py) re-merges partial
       unions with the same groupBy + collect_set + cw_union.

Every count sum saturates at 2^63-1 (``count_sum``) instead of failing
the job on a long overflow under ANSI (SURVEY.md §7.4).

Per-group state is bounded everywhere: collect_list only ever sees
post-SEH cardinality (distinct buckets), never raw observations, and
collect_set only distinct projection lists (SURVEY.md §7.4
"cardinality-dependent reduce" decision).

Reference semantics (citations into /root/reference/):
  - A1 group key = dimension hash only (aggregator.go:98); namespace is
    *not* part of the key — ``key_by_namespace=True`` opts into the
    north-rule key (namespace, dim_hash, window).
  - A2 exact value->count merge (histogram/histogram.go:28-37).
  - A7 reduce branches: 1-2 distinct exact, >=3 SEH
    (histogram/histogram.go:39-88). The 0-distinct -> nil branch
    surfaces as "metric absent from output".
  - A8 SEH bucket aggregation + merge (seh.go:64-80,96-108) — the merge
    is associative so partial aggregation absorbs hot keys.
  - A9 degenerate-SEH collapse is unreachable after P5 NaN filtering
    (>=3 distinct finite values => min < max), so it is subsumed by the
    exact branches.
  - A4 first-wins dims / A5 last-wins timestamp under the deterministic
    arrival order (ts, doc_id) (SURVEY.md §7.4).
  - A6 CloudWatchMetrics merge, *intended* semantics: per-namespace union
    of dimension sets and metric definitions (common/emf.go:46-79; the
    reference's by-value-slice and dropped-dim-set bugs are documented
    divergences).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from emf_spark.functions import per_session, seh_bucket, seh_value_of

WINDOW_MS = 60_000  # default aggregation_period 1m (main.go:38-41)
LONG_MAX = 2**63 - 1


def count_sum(c: Column, window=None) -> Column:
    """Sum of non-negative observation counts (over ``window`` if given)
    that saturates at 2^63-1 instead of raising ARITHMETIC_OVERFLOW
    under ANSI: the SURVEY.md §7.4 count rule. Saturation is
    associative for non-negative addends, so partial aggregation and
    the partial-event merge keep it exact. ``c`` is never null here, so
    a null ``try_sum`` only ever means an overflow."""
    total = F.try_sum(c)
    if window is not None:
        total = total.over(window)
    return F.coalesce(total, F.lit(LONG_MAX))


def with_window(df: DataFrame, window_ms: int = WINDOW_MS) -> DataFrame:
    """W1 tumbling event-time window from _aws.Timestamp (epoch ms).

    The reference flushes on a processing-time ticker (task.go:29-47);
    event-time tumbling windows are the deterministic Spark equivalent
    (SURVEY.md §2.6 W1) and what the north rule prescribes.
    """
    return df.withColumn("window_start", _window_start(window_ms))


@per_session
def _window_start(window_ms: int) -> Column:
    return (F.floor(F.col("ts") / F.lit(window_ms)) * F.lit(window_ms)).cast("bigint")


def group_keys(df: DataFrame, key_by_namespace: bool = False) -> list[str]:
    keys = []
    if "sink" in df.columns:
        keys.append("sink")
    keys.append("window_start")
    if key_by_namespace:
        keys.append("namespace")
    keys.append("dim_hash")
    return keys


def explode_observations(df: DataFrame, key_by_namespace: bool = False) -> DataFrame:
    """Fan out parsed records into one row per (metric, value, count)
    observation (A3, aggregator.go:129-150).

    The raw metric JSON fragments explode FIRST; the value-shape
    normalization (F2/P5/P6) runs once per flat (record, metric) row —
    not inside nested HOFs pre-explode — so it codegens and the persisted
    upstream stays a cheap map<string,string>. Namespace lookup only in
    north-rule keying mode. Two generators, no shuffle."""
    cols = [c for c in ("sink", "window_start", "dim_hash") if c in df.columns]
    metrics, ns, pairs, v, c = _observation_cols(key_by_namespace)
    m = df.select(*cols, *(["cwm"] if key_by_namespace else []), metrics)
    m = m.select(*cols, "metric_name", ns, pairs)
    return m.select(*cols, "metric_name", "namespace", v, c)


@per_session
def _observation_cols(key_by_namespace: bool) -> tuple[Column, ...]:
    from emf_spark.operators.parse import _metric_pairs, namespace_of

    ns = (
        namespace_of(F.col("cwm"), F.col("metric_name"))
        if key_by_namespace
        else F.lit(None).cast("string")
    )
    return (
        F.explode("metric_raw").alias("metric_name", "raw"),
        ns.alias("namespace"),
        F.explode(_metric_pairs(F.col("raw"))).alias("p"),
        F.col("p.v").alias("v"),
        F.col("p.c").alias("c"),
    )


def aggregate_histograms(
    obs: DataFrame, key_by_namespace: bool = False
) -> DataFrame:
    """obs -> one row per (group keys, metric) with
    (values, counts, min, max, sum, count, n_distinct)."""
    gkeys = group_keys(obs, key_by_namespace)
    keys = gkeys + ["metric_name"]
    h = _histogram_cols(tuple(keys))

    # Phase 1 (A2): exact sparse histogram; value in the grouping key is
    # the natural salt for hot groups.
    p1 = obs.groupBy(*keys, "v").agg(h["c"])
    # Phase 2 is partitioned on the group keys alone: the stats window,
    # the SEH merge, the bucket collect and assemble_groups' per-group
    # collect and metadata join all reuse it (one exchange fewer than
    # partitioning on keys + metric).
    joined = p1.repartition(*gkeys).select(*keys, "v", "c", *h["stats"])
    p3 = joined.groupBy(*keys, h["out_v"]).agg(*h["merge"])
    # SEH drops empty buckets (GetNonEmptyBuckets, seh.go:53-61); the
    # exact branch keeps zero-count values (histogram.go:43-58).
    p3 = p3.filter(h["keep"])
    hist = p3.groupBy(*keys).agg(*h["collect"])
    # Canonical output ordering (O3): values ascending — the reference's
    # Go-map iteration order is nondeterministic even run-to-run.
    return hist.select(*keys, *h["out"])


@per_session
def _histogram_cols(keys: tuple[str, ...]) -> dict:
    """``aggregate_histograms``' expressions over the group ``keys``."""
    # Per-(group, metric) stats — always exact (histogram.go:39-88).
    # Whole-partition window aggregates over the already-reduced p1,
    # which aggregate_histograms hash-partitions on the group keys: no
    # self-join (a join here would recompute the entire upstream once
    # per side), and every following groupBy reuses that partitioning
    # (subset-key clustering) with no further exchange. p1 rows are
    # distinct values only, so the per-partition sort is over
    # post-reduction cardinality.
    from pyspark.sql.window import Window

    # Value-ordered full frame: double SUM accumulates ascending-v, so
    # the canonical Sum is identical whatever the physical layout
    # (a persisted vs a parquet-staged input re-partitions p1 rows
    # differently, which flipped last-ulp digits in event_json — caught
    # in round 2). The
    # reference itself is map-order nondeterministic here; ascending-v
    # is our documented canonicalization (O3). WindowExec sorts by
    # (partition keys, order key) anyway, so the extra key is ~free.
    w = (
        Window.partitionBy(*keys)
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    stats = ("n_distinct", "min", "max", "sum", "count")
    c = F.col("c")
    return {
        "c": count_sum(c).alias("c"),
        "stats": [
            F.count(F.lit(1)).over(w).alias("n_distinct"),
            F.min("v").over(w).alias("min"),
            F.max("v").over(w).alias("max"),
            F.sum(F.col("v") * c).over(w).alias("sum"),
            count_sum(c, w).alias("count"),
        ],
        # A7 branch select: exact passthrough vs SEH representative value.
        "out_v": seh_out_v(),
        "merge": [count_sum(c).alias("c"), *(F.max(s).alias(s) for s in stats)],
        "keep": (F.col("n_distinct") <= 2) | (F.col("c") > 0),
        "collect": [
            F.sort_array(
                F.collect_list(
                    F.struct(F.col("out_v").alias("v"), F.col("c").alias("c"))
                )
            ).alias("hist"),
            *(F.max(s).alias(s) for s in stats),
        ],
        "out": [
            F.col("hist.v").alias("values"),
            F.col("hist.c").alias("counts"),
            *(F.col(s) for s in ("min", "max", "sum", "count", "n_distinct")),
        ],
    }


@per_session
def seh_out_v() -> Column:
    """A7 ``out_v``: the value itself while its group has at most 2
    distinct values (exact branch), else its SEH representative."""
    return (
        F.when(F.col("n_distinct") <= 2, F.col("v"))
        .otherwise(seh_value_of(seh_bucket(F.col("v"))))
        .alias("out_v")
    )


def aggregate_metadata(df: DataFrame, key_by_namespace: bool = False) -> DataFrame:
    """Per-group metadata: A4 first-wins dims, A5 last-wins timestamp,
    A6 intended CloudWatchMetrics merge. One shuffle on the group keys
    (shared partitioning with the final event-assembly join)."""
    ns, aggs, cw_metrics = _metadata_cols(key_by_namespace)
    if key_by_namespace:
        df = df.withColumn("namespace", ns)
    keys = group_keys(df, key_by_namespace)
    meta = df.groupBy(*keys).agg(*aggs)
    return meta.withColumn("cw_metrics", cw_metrics).drop("_cwms")


@per_session
def _metadata_cols(key_by_namespace: bool) -> tuple:
    """(``namespace`` explode or None, the group aggregates, the
    ``cw_metrics`` union) of ``aggregate_metadata``."""
    ns = None
    if key_by_namespace:
        # replicate record metadata under each DISTINCT namespace it
        # projects to (two projections sharing a namespace must not
        # double-count the record). A record with ZERO valid
        # projections keys under the empty namespace instead of
        # vanishing from explode — both modes then agree that such
        # records still flush (and count toward records/bytes_in),
        # matching the non-keyed path's coalesce-to-empty group
        # (review finding: the modes disagreed on input accounting)
        ns_list = F.array_distinct(F.col("cwm.Namespace"))
        ns = F.explode(
            F.when(F.size(ns_list) > 0, ns_list).otherwise(F.array(F.lit("")))
        )

    # collect_set's partial aggregation dedupes the projection lists
    # map-side: per-group state is the group's DISTINCT lists, bounded at
    # any input scale, and cw_union merges them per row.
    ord_ = F.struct(F.col("ts"), F.col("doc_id"))
    aggs = [
        F.min_by("dims", ord_).alias("dimensions"),
        F.max("ts").alias("timestamp"),
        F.count(F.lit(1)).alias("records"),
        F.sum("n_tok").alias("bytes_in"),
        F.collect_set("cwm").alias("_cwms"),
    ]
    projs = F.flatten(F.col("_cwms"))
    if key_by_namespace:
        # a namespace-keyed group's projection metadata is only the
        # projections OF that namespace (north-rule EMF structure keyed
        # by (namespace, dim_hash, window))
        projs = F.filter(projs, lambda p: p["Namespace"] == F.col("namespace"))
    return ns, aggs, cw_union(projs)


def cw_union(projs: Column) -> Column:
    """A6 CloudWatchMetrics union of a projection list: one entry per
    namespace, ascending, holding the sorted distinct union of that
    namespace's dimension sets and metric definitions. A union of
    unions is the union, so partial events re-merge through it too
    (``streaming/merge.py``). An empty list gives an empty list: a group
    whose records had zero valid projections (e.g. the "Dimnesions"
    typo slice) still flushes (aggregator.go:163-207 emits per dimHash
    unconditionally)."""

    def union(ps: Column) -> Column:
        def of_ns(ns: Column, field: str) -> Column:
            mine = F.filter(ps, lambda p: p["Namespace"] == ns)
            return F.sort_array(
                F.array_distinct(F.flatten(F.transform(mine, lambda p: p[field])))
            )

        namespaces = F.sort_array(
            F.array_distinct(F.transform(ps, lambda p: p["Namespace"]))
        )
        return F.transform(
            namespaces,
            lambda ns: F.struct(
                ns.alias("Namespace"),
                of_ns(ns, "Dimensions").alias("Dimensions"),
                of_ns(ns, "Metrics").alias("Metrics"),
            ),
        )

    # bind ``projs`` once as a lambda variable: Catalyst does no common
    # subexpression elimination inside lambdas, so each inner reference
    # would re-evaluate it
    return F.element_at(F.transform(F.array(projs), union), 1)


def assemble_groups(
    hist: DataFrame, meta: DataFrame, key_by_namespace: bool = False
) -> DataFrame:
    """Join per-metric histograms (as a bounded sorted array) onto group
    metadata. Groups with no surviving metrics still emit (the reference
    flushes an event per dimHash even when the metric map is empty,
    aggregator.go:163-207). From ``aggregate_histograms`` and
    ``aggregate_metadata`` both sides arrive hash-partitioned on the
    group keys, so neither the collect nor the join adds an exchange."""
    keys = [c for c in hist.columns if c in ("sink", "window_start", "namespace", "dim_hash")]
    per_group = hist.groupBy(*keys).agg(_metric_list())
    return meta.join(per_group, keys, "left").withColumn(
        "metrics",
        F.coalesce(
            F.col("metrics"),
            F.array().cast(per_group.schema["metrics"].dataType.simpleString()),
        ),
    )


@per_session
def _metric_list() -> Column:
    return F.sort_array(
        F.collect_list(
            F.struct(
                "metric_name",
                "values",
                "counts",
                "min",
                "max",
                "sum",
                "count",
                "n_distinct",
            )
        )
    ).alias("metrics")
