"""Output stage (F7/O3/P7/A10/A11): assembled groups -> EMF event JSON.

The reference's JSON has an encoding bug — ``json:",inline"`` is not a
real encoding/json option so user fields nest under ``"OtherFields"``
(common/emf.go:9-12; hidden by the mock server decoding with the same
struct, mock-cloudwatch-server/main.go:78-81). We emit spec-correct
*flattened* EMF: ``_aws`` block + metric fields + dimension fields at
the top level, and tests assert logical content (SURVEY.md §2.3 F7).

Canonicalization (O3): metric fields sorted by name, histogram values
ascending, dims in to_json map order — the reference's output order is
Go-map nondeterministic even run-to-run (seh.go:53-61).
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, functions as F

from emf_spark.functions import per_session

# CloudWatch Logs constants (flush/cloudwatch.go:19-23)
MAX_EVENT_BYTES = 262_144
EVENT_OVERHEAD = 26


def _metric_fragment(m: Column) -> Column:
    """One metric's JSON value. A10: a single-distinct-value metric
    collapses to the bare scalar ``stats.Max`` — dropping its count, a
    reference quirk reproduced on purpose (aggregator.go:192-197)."""
    hist_json = F.to_json(
        F.struct(
            m["values"].alias("Values"),
            m["counts"].alias("Counts"),
            m["min"].alias("Min"),
            m["max"].alias("Max"),
            m["sum"].alias("Sum"),
        )
    )
    return F.when(F.size(m["values"]) == 1, m["max"].cast("string")).otherwise(
        hist_json
    )


def events_json(groups: DataFrame) -> DataFrame:
    """Attach ``event_json`` (one EMF object per group) and ``event_bytes``;
    apply the P7 oversize drop (flush/cloudwatch.go:77-80) keeping a
    ``dropped_oversize`` marker column instead of silently losing rows."""
    event_json, event_bytes, oversize = _event_cols()
    df = groups.withColumn("event_json", event_json)
    df = df.withColumn("event_bytes", event_bytes)
    return df.withColumn("dropped_oversize", oversize)


@per_session
def _event_cols() -> tuple[Column, Column, Column]:
    """``events_json``' three columns, each over the ones before it."""
    aws_json = F.to_json(
        F.struct(
            F.col("timestamp").alias("Timestamp"),
            F.col("cw_metrics").alias("CloudWatchMetrics"),
        )
    )
    def _quoted_key(name: Column) -> Column:
        # JSON-escape the metric name (quotes/backslashes/control chars —
        # record keys are arbitrary user input; the reference escapes via
        # json.Marshal): render {"<escaped>":0} with to_json and slice out
        # the quoted key.
        # coalesce: a null metric name must degrade to "" (parse is the
        # only upstream guard; create_map throws NULL_MAP_KEY on null)
        kj = F.to_json(F.create_map(F.coalesce(name, F.lit("")), F.lit(0)))
        return kj.substr(F.lit(2), F.length(kj) - F.lit(4))

    metric_parts = F.concat_ws(
        "",
        F.transform(
            F.col("metrics"),
            lambda m: F.concat(
                F.lit(","),
                _quoted_key(m["metric_name"]),
                F.lit(":"),
                _metric_fragment(m),
            ),
        ),
    )
    dims_inner = F.when(
        F.size(F.map_keys(F.col("dimensions"))) > 0,
        F.concat(
            F.lit(","),
            F.regexp_replace(F.to_json(F.col("dimensions")), r"^\{|\}$", ""),
        ),
    ).otherwise(F.lit(""))
    return (
        F.concat(F.lit('{"_aws":'), aws_json, metric_parts, dims_inner, F.lit("}")),
        F.octet_length("event_json") + F.lit(EVENT_OVERHEAD),
        F.col("event_bytes") > MAX_EVENT_BYTES,
    )


def write_events(df: DataFrame, out_dir: str) -> str:
    """Per-sink event table, partitioned by sink: parquet (the 'Iceberg
    table' stand-in). Its ``event_json`` column, one line per row, is
    the reference's file-sink format (flush/file.go:40-66, SURVEY.md
    S4)."""
    path = os.path.join(out_dir, "events")
    df.filter(~F.col("dropped_oversize")).write.mode("overwrite").partitionBy(
        "sink"
    ).parquet(path)
    return path


# PutLogEvents batch limits (flush/cloudwatch.go:19-23)
MAX_BATCH_BYTES = 1_048_576
MAX_BATCH_EVENTS = 10_000


def plan_cw_batches(
    events: DataFrame,
    order_cols: list[str] | None = None,
    max_batch_bytes: int = MAX_BATCH_BYTES,
    max_batch_events: int = MAX_BATCH_EVENTS,
    max_event_bytes: int = MAX_EVENT_BYTES,
    bytes_col: str = "event_bytes",
    sink_col: str = "sink",
) -> DataFrame:
    """S5 batching plan: assign every event a deterministic batch id per
    sink honoring the 1 MB / 10k-events PutLogEvents limits
    (flush/cloudwatch.go:83-103). The reference packs greedily while
    draining its in-memory slice; distributed, we derive the split from
    ONE running total of integer unit costs over a deterministic order:

      B' = max_batch_bytes - max_event_bytes      (byte budget w/ headroom)
      C  = max_batch_events
      unit(e) = max(bytes(e) * C, B')             (integer, no division)
      batch(e) = cum_units_before(e) div (B' * C)

    Every batch then provably respects both limits (assuming the P7
    oversize drop already removed events > max_event_bytes):
      - count: each unit >= B', and a batch spans < B'*C units, so
        (n-1)*B' < B'*C  =>  n <= C.
      - bytes: sum(bytes) <= sum(unit)/C < (B'*C + unit_last)/C
        = B' + max(bytes_last, B'/C) <= B' + max_event_bytes
        = max_batch_bytes.
    Integer math throughout (a double running sum would lose precision
    past 2^53 units on very large sink partitions); unit sums stay in
    int64 up to ~3.5e9 events per sink partition."""
    from pyspark.sql.window import Window

    byte_budget = max_batch_bytes - max_event_bytes
    if byte_budget <= 0:
        raise ValueError("max_event_bytes must be smaller than max_batch_bytes")
    denom = byte_budget * max_batch_events
    order_cols = order_cols or ["window_start", "dim_hash"]
    # ROWS frame + a bytes tiebreak: the default window frame is RANGE,
    # under which all rows TIED on the order keys share one cumulative
    # value — n tied events (namespace-keyed events tie on
    # (window_start, dim_hash)) would all land in one batch and bust
    # both limits the docstring proves (review finding). The ROWS frame
    # restores per-row accumulation; the extra order key keeps the
    # split deterministic for rows the caller's keys don't distinguish.
    w = (
        Window.partitionBy(sink_col)
        .orderBy(*order_cols, F.col(bytes_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    unit = F.greatest(
        F.col(bytes_col).cast("bigint") * F.lit(max_batch_events),
        F.lit(byte_budget).cast("bigint"),
    )
    return (
        events.withColumn("_unit", unit)
        .withColumn("_cum_before", F.sum("_unit").over(w) - F.col("_unit"))
        .withColumn("batch_id", F.expr(f"_cum_before div {denom}L").cast("int"))
        .drop("_unit", "_cum_before")
    )


def compression_stats(groups_with_json: DataFrame) -> DataFrame:
    """A11 per-sink compression ratio (aggregator.go:218-221): input
    records/bytes (carried through metadata agg) vs EMITTED events —
    events_out/bytes_out count only rows the sinks actually receive
    (the reference computes size/count from the flusher's output);
    dropped oversize rows are reported separately (review finding:
    they used to be double-reported inside events_out too)."""
    kept = ~F.col("dropped_oversize")
    return groups_with_json.groupBy("sink").agg(
        F.sum("records").alias("records_in"),
        F.sum("bytes_in").alias("bytes_in"),
        F.sum(kept.cast("long")).alias("events_out"),
        F.sum(F.when(kept, F.col("event_bytes")).otherwise(F.lit(0))).alias(
            "bytes_out"
        ),
        F.sum(F.col("dropped_oversize").cast("long")).alias("dropped_oversize"),
    )
