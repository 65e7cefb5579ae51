"""EMF parse stage (SURVEY.md §2.2-§2.3): payload string -> typed columns.

Strategy (all Catalyst, zero Python):
  1. ``from_json(payload, struct<_aws:...>)``   — the typed metadata block
  2. ``from_json(payload, map<string,string>)`` — the dynamic top-level
     keys; nested JSON values survive as raw JSON text (the "union
     trick" for scalar-vs-struct metric values, emf/metric.go:181-222)
  3. membership predicates (P3/P4) via higher-order functions on the
     record's own projection list — intra-row, no join, no shuffle
  4. per-metric normalization to ``(value, count)`` pair arrays (A3)

Reference semantics mirrored (citations into /root/reference/):
  - P1 malformed filter: no ``_aws`` / ``Timestamp`` / ``CloudWatchMetrics``
    => rejected (emf/metric.go:39-73); split to an errors side-output.
  - projection-level skips: missing Namespace/Dimensions/Metrics skips the
    projection (emf/metric.go:83-122) — the "Dimnesions" typo case.
  - P2 key stripping: only declared metrics + referenced dimensions
    survive (emf/metric.go:146-176). Metric wins over dimension when a
    name is both (metric checked first, metric.go:153-174).
  - F2 parseMetricValue: bare scalar -> {Value}; object -> structured;
    strings coerced via ParseFloat with unparseable -> 0
    (utils/utils.go:9-25); Counts truncate double->long
    (metric.go:193-197).
  - P6 invalid-value filter: no Value, no Values => dropped unless the
    degenerate Min==Max form. We implement the evident *intent*
    (``Min <=> Max`` by value); the reference compares pointers
    (aggregator.go:139) so the branch never fires there — divergence
    documented in SURVEY.md §7.4 and covered by tests.
  - P5 NaN/Inf rejection at insert (histogram/seh.go:65-67), applied
    uniformly (the reference's exact-branch NaN handling is
    unserializable anyway: Go json.Marshal errors on NaN).
  - Count range: a negative, non-finite or >= 2^63 count drops its
    value (the reference's int64 conversion would wrap; SURVEY.md §7.4).
  - F5/O1 dimension-set sort (metric.go:109), F6 dimension hash
    (aggregator.go:234-248).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from emf_spark.functions import per_session
from emf_spark.schema import METRIC_VALUE_DDL

# Projection layers parse as RAW JSON text and re-parse per element: a
# typed array schema would null the WHOLE projection when one element
# has the wrong shape, but the reference skips only the bad element
# (metric.go:78-80 non-map projection, :103-106 non-array dim set,
# :131-134 non-map metric). String-typed fields absorb any JSON value
# (Jackson re-serializes), so each level degrades independently.
TOP_DDL = "struct<`_aws`:struct<Timestamp:bigint,CloudWatchMetrics:array<string>>>"

PROJECTION_RAW_DDL = (
    "struct<Namespace:string,Dimensions:array<string>,Metrics:array<string>>"
)

_INF = float("inf")
_2_63 = float(2**63)


def _eligible_parsed(cwm_raw: Column) -> Column:
    """Dims-eligible projections, parsed ONCE: map-parse ok, Namespace
    present, Dimensions present — INDEPENDENT of the Metrics leg. The
    reference accumulates emf.DimensionSet from the Dimensions leg and
    only then skips on a bad/missing Metrics field (metric.go:80-117
    accumulate, :117-124 skip), so a partially-valid projection still
    names dimensions (ADVICE r1).

    Returns array<struct<Namespace, Dims:array<array<string>> (parsed,
    NULL sets dropped, unsorted), MetricsRaw:array<string>>>. This is
    the SHARED intermediate both ``parsed_projections`` and
    ``dim_names_of`` read from one materialized column: the earlier
    shape re-ran from_json over every projection string once for the
    valid-projection struct AND once for the dim-name accumulation
    (Catalyst does no CSE inside HOF lambdas), doubling the projection
    parse on the pipeline's hottest stage."""
    parsed = F.transform(cwm_raw, lambda s: F.from_json(s, PROJECTION_RAW_DDL))
    elig = F.filter(
        parsed,
        lambda p: p.isNotNull()
        & p["Namespace"].isNotNull()
        & p["Dimensions"].isNotNull(),
    )
    return F.transform(
        elig,
        lambda p: F.struct(
            p["Namespace"].alias("Namespace"),
            F.filter(
                F.transform(
                    p["Dimensions"], lambda s: F.from_json(s, "array<string>")
                ),
                lambda s: s.isNotNull(),
            ).alias("Dims"),
            p["Metrics"].alias("MetricsRaw"),
        ),
    )


def dim_names_of(pe: Column) -> Column:
    """Record-wide dimension-name set (U3, emf.DimensionSet) from the
    _eligible_parsed column: every name in every array-parsing
    dimension set of every dims-eligible projection."""
    return F.array_distinct(
        F.flatten(F.transform(pe, lambda p: F.flatten(p["Dims"])))
    )


def parsed_projections(pe: Column) -> Column:
    """_eligible_parsed column -> array<struct<Namespace, Dimensions,
    Metrics>> with reference skip semantics: invalid projections dropped
    (metric.go:83-122), invalid dimension sets dropped (:103-106), each
    set sorted (:109), invalid/nameless metric entries dropped
    (:131-140 intent)."""
    valid = F.filter(pe, lambda p: p["MetricsRaw"].isNotNull())
    return F.transform(
        valid,
        lambda p: F.struct(
            p["Namespace"].alias("Namespace"),
            F.transform(p["Dims"], lambda s: F.array_sort(s)).alias(
                "Dimensions"
            ),
            F.filter(
                F.transform(
                    p["MetricsRaw"],
                    lambda m: F.from_json(m, "struct<Name:string,Unit:string>"),
                ),
                lambda m: m.isNotNull() & m["Name"].isNotNull(),
            ).alias("Metrics"),
        ),
    )


def _count(c: Column) -> Column:
    """A count (double) -> bigint, truncated (metric.go:193-197), or
    NULL when it is negative, non-finite or not below 2^63: such a
    count makes its value invalid (SURVEY.md §7.4), instead of failing
    the job with CAST_OVERFLOW under ANSI."""
    return F.when((c >= F.lit(0.0)) & (c < F.lit(_2_63)), c.try_cast("bigint"))


def _metric_pairs(raw: Column) -> Column:
    """Normalize one raw metric value (JSON text) into
    array<struct<v:double, c:bigint>> — the unit the aggregator consumes
    (A3, aggregator.go:129-150). NaN/Inf values filtered (P5), and so
    are values whose count is out of range (``_count``)."""
    mv = F.from_json(raw, METRIC_VALUE_DDL)
    is_obj = F.startswith(F.ltrim(raw), F.lit("{"))
    scalar = F.coalesce(raw.try_cast("double"), F.lit(0.0))
    one = F.lit(1).cast("bigint")
    pair = lambda v, c: F.struct(v.cast("double").alias("v"), c.alias("c"))
    # a missing count (Counts shorter than Values, or null) counts 1
    zipped = F.zip_with(
        mv["Values"],
        F.coalesce(mv["Counts"], F.array()),
        lambda v, c: pair(v, F.when(c.isNull(), one).otherwise(_count(c))),
    )
    degenerate = (
        mv["Max"].isNotNull() & mv["Min"].eqNullSafe(mv["Max"]) & mv["Count"].isNotNull()
    )
    pairs = (
        F.when(raw.isNull(), F.array().cast("array<struct<v:double,c:bigint>>"))
        .when(~is_obj, F.array(pair(scalar, one)))
        .when(mv["Values"].isNotNull(), zipped)
        .when(degenerate, F.array(pair(mv["Max"], _count(mv["Count"]))))
        .otherwise(F.array().cast("array<struct<v:double,c:bigint>>"))
    )
    return F.filter(
        pairs,
        lambda p: ~F.isnan(p["v"]) & (F.abs(p["v"]) != F.lit(_INF)) & p["c"].isNotNull(),
    )


def dim_hash_expr(dims: Column) -> Column:
    """F6: sorted ``k=v`` joined with ';' (aggregator.go:234-248)."""
    return F.concat_ws(
        ";",
        F.array_sort(
            F.transform(
                F.map_entries(dims),
                lambda e: F.concat(e["key"], F.lit("="), e["value"]),
            )
        ),
    )


def parse_emf(df: DataFrame) -> DataFrame:
    """payload -> typed EMF columns. Adds:

    ``ts`` (epoch ms), ``cwm`` (valid projections), ``dim_names``,
    ``metric_names``, ``dims`` (map), ``dim_hash``, ``metrics``
    (array<struct<name, namespace, pairs:array<struct<v,c>>>>),
    ``valid`` (P1 predicate), ``error`` (reject reason or null).
    """
    for step in _parse_steps("payload"):
        df = df.withColumns(step)
    return df.drop("_top", "_rec", "_pe")


@per_session
def _parse_steps(payload_col: str) -> tuple[dict[str, Column], ...]:
    """``parse_emf``'s projections, in order; each reads only columns
    the ones before it added."""
    payload = F.col(payload_col)
    aws = F.col("_top")["_aws"]
    cwm = F.col("cwm")
    rec = F.col("_rec")
    return (
        {
            "_top": F.from_json(payload, TOP_DDL),
            "_rec": F.from_json(payload, "map<string,string>"),
        },
        # the shared once-parsed projection column: cwm AND dim_names
        # read from this attribute, so each projection/dimension-set
        # JSON string is from_json'd exactly once per record
        {"_pe": _eligible_parsed(aws["CloudWatchMetrics"])},
        {
            "ts": aws["Timestamp"],
            "cwm": parsed_projections(F.col("_pe")),
            "valid": rec.isNotNull()
            & aws.isNotNull()
            & aws["Timestamp"].isNotNull()
            & aws["CloudWatchMetrics"].isNotNull(),
            "error": F.when(rec.isNull(), F.lit("unparseable record"))
            .when(aws.isNull(), F.lit("no aws metadata found in record"))
            .when(aws["Timestamp"].isNull(), F.lit("no timestamp found in aws data"))
            .when(
                aws["CloudWatchMetrics"].isNull(),
                F.lit("no CloudWatchMetrics key found"),
            ),
        },
        {
            # dim_names from dims-ELIGIBLE projections (Metrics leg may be
            # invalid — reference accumulates DimensionSet first, ADVICE r1)
            "dim_names": dim_names_of(F.col("_pe")),
            "metric_names": F.array_distinct(
                F.flatten(
                    F.transform(cwm, lambda p: F.transform(p["Metrics"], lambda m: m["Name"]))
                )
            ),
        },
        # dims: referenced-and-present, not shadowed by a metric name (P2/P4)
        {
            "dims": F.map_filter(
                rec,
                lambda k, v: F.array_contains(F.col("dim_names"), k)
                & ~F.array_contains(F.col("metric_names"), k),
            )
        },
        # metric_raw: declared-and-present metric values as raw JSON text.
        # Value normalization (F2/A3/P5/P6) happens AFTER the aggregation
        # explode (aggregate.explode_observations): the from_json runs once
        # per flat (record, metric) row under whole-stage codegen instead of
        # inside a nested HOF here, and the persisted intermediate stays a
        # cheap map<string,string> instead of deep structs.
        {
            "metric_raw": F.map_filter(
                rec, lambda k, v: F.array_contains(F.col("metric_names"), k)
            )
        },
        {"dim_hash": dim_hash_expr(F.col("dims"))},
    )


def namespace_of(cwm: Column, name: Column) -> Column:
    """Owning namespace = first projection listing the metric name
    (metric.go:153-168 loop order)."""
    return F.element_at(
        F.filter(cwm, lambda p: F.exists(p["Metrics"], lambda m: m["Name"] == name)),
        1,
    )["Namespace"]


def with_parsed_metrics(df: DataFrame) -> DataFrame:
    """Test/inspection helper: attach the fully-parsed ``metrics`` column
    (array<struct<name, namespace, pairs>>) from ``metric_raw``."""
    return df.withColumn(
        "metrics",
        F.transform(
            F.map_entries(F.col("metric_raw")),
            lambda e: F.struct(
                e["key"].alias("name"),
                namespace_of(F.col("cwm"), e["key"]).alias("namespace"),
                _metric_pairs(e["value"]).alias("pairs"),
            ),
        ),
    )


def split_valid(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(valid, errors) side-output split (drop site aggregator.go:81-86)."""
    return df.filter(F.col("valid")).drop("valid", "error"), df.filter(
        ~F.col("valid")
    ).select("doc_id", "source", "n_tok", "error")
