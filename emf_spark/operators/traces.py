"""Service-dependency graph from spans — the observability op that
turns a raw span stream into per-(caller service -> callee service)
edge metrics (call count, error count, total duration), i.e. the
service map every tracing UI renders and the read-side sibling of the
tail sampler (datax/sampling.tail_sample) which consumes the same span
shape. Reference analog: the plugin aggregates metric streams per
dimension-set (fluent-bit-emf/aggregator.go); this derives the
dimension (the edge) by resolving each span's parent before the same
kind of keyed aggregation.

Execution model:

* parent resolution is ONE equi-join on the composite key
  ``(trace_id, span_id)`` — trace-prefixed, so the key space is as
  wide as the trace stream itself and co-partitions cleanly; never a
  window over the whole stream.
* root spans (NULL parent id) are split out BEFORE the join: a NULL
  join key can never match, and routing every root span through the
  join would hash all of them to the null-key partition — the classic
  silent skew. Roots become ``__root__`` edges via a plain projection.
* spans whose parent id resolves to no span in the input (torn traces,
  sampled-away parents) keep their edge with client ``__missing__``
  (left join + coalesce) instead of silently dropping — at 100 TB some
  traces ALWAYS tear across retention boundaries.
* the final rollup is one map-combinable hash aggregate keyed by the
  (client, server) pair — |services|^2 keys at most, tiny.

Durations aggregate on the caller's integer lattice (pass a BIGINT
cents column); NULL durations count the call but add 0.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

ROOT = "__root__"
MISSING = "__missing__"


def service_graph(
    spans: DataFrame,
    trace_col: str,
    span_col: str,
    parent_col: str,
    service_col: str,
    duration_cents_col: str | None = None,
    error_col: str | None = None,
) -> DataFrame:
    """Aggregate spans into service-graph edges.

    Returns one row per (client, server): ``client`` (parent span's
    service, ``__root__`` for parentless spans, ``__missing__`` for
    unresolvable parents), ``server`` (the span's own service),
    ``calls``, ``errors`` (sum of ``error_col`` as 0/1; 0 if no error
    column), ``duration_cents`` (sum, NULLs add 0; 0 if no duration
    column).

    Contract: ``(trace_id, span_id)`` identifies a span uniquely —
    the tracing data model's own invariant. A duplicated span id would
    fan the join out and double-count its children's calls; enforcing
    it here would cost a full second aggregate over the stream, so it
    stays the producer's contract (deduplicate the parents side on
    ``(trace_id, span_id)`` when ingesting untrusted spans).
    """
    for c in ("_sg_client", "_sg_t", "_sg_s"):
        if c in spans.columns:
            raise ValueError(f"column {c!r} collides with service_graph internals")
    dur = (
        F.coalesce(F.col(duration_cents_col), F.lit(0)).cast("bigint")
        if duration_cents_col
        else F.lit(0).cast("bigint")
    )
    err = (
        F.when(F.col(error_col).cast("boolean"), 1).otherwise(0)
        if error_col
        else F.lit(0)
    )
    child = spans.select(
        F.col(trace_col).alias("_sg_t"),
        F.col(parent_col).alias("_sg_p"),
        F.col(service_col).alias("server"),
        dur.alias("_sg_d"),
        err.alias("_sg_e"),
    )
    parents = spans.select(
        F.col(trace_col).alias("_sg_t"),
        F.col(span_col).alias("_sg_s"),
        F.col(service_col).alias("_sg_client"),
    )
    roots = child.filter(F.col("_sg_p").isNull()).select(
        F.lit(ROOT).alias("client"), "server", "_sg_d", "_sg_e"
    )
    resolved = (
        child.filter(F.col("_sg_p").isNotNull())
        .join(
            parents,
            on=[
                child["_sg_t"] == parents["_sg_t"],
                child["_sg_p"] == parents["_sg_s"],
            ],
            how="left",
        )
        .select(
            F.coalesce(F.col("_sg_client"), F.lit(MISSING)).alias("client"),
            "server",
            "_sg_d",
            "_sg_e",
        )
    )
    return (
        roots.unionByName(resolved)
        .groupBy("client", "server")
        .agg(
            F.count(F.lit(1)).alias("calls"),
            F.sum("_sg_e").cast("bigint").alias("errors"),
            F.sum("_sg_d").alias("duration_cents"),
        )
    )
