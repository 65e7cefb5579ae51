"""End-to-end batch pipeline (SURVEY.md §3.2-§3.3 Spark equivalent).

The EMF composition is written once and shared by ``build_events``,
``run`` and the micro-batch (``streaming/job.py``): ``stage``
(detokenize -> parse -> broadcast enrich -> event-time window), the
caller's own materialization, ``parse.split_valid`` (valid rows and the
errors side-output), then ``aggregate`` (windowed salted two-phase
histogram + metadata merge -> EMF event assembly). ``run`` adds the
routed write of the valid staged rows, per-sink event writes and
compression stats.

The composition's expressions are built once per session: the
operators build every ``Column`` tree that does not depend on the
input DataFrame through ``functions.per_session``, so a warm call or
micro-batch only assembles DataFrames from trees it already has. A
build used to cost about a second of py4j round trips on every call.

On a cluster the same composition runs via ``spark-submit --py-files``;
parquet paths become Iceberg tables and nothing else changes.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark import InheritableThread, SparkContext
from pyspark.sql import DataFrame, SparkSession

from emf_spark import fixtures
from emf_spark.operators import aggregate as agg
from emf_spark.operators import enrich as enrich_op
from emf_spark.operators import lineage
from emf_spark.operators import output as output_op
from emf_spark.operators import parse as parse_op
from emf_spark.operators import route as route_op
from emf_spark.tokenizer import with_payload


@dataclass
class PipelineResult:
    parsed: DataFrame
    errors: DataFrame
    events: DataFrame
    stats: DataFrame | None = None
    paths: dict = field(default_factory=dict)
    # the resumable events write's counters (``run(resumable=True)``)
    lineage: dict | None = None


# The routed table's columns (its ids, exact tokens, sink and lookup
# attributes), then the ones only the aggregation and the errors
# side-output read.
STAGED_COLS = route_op.ROUTED_COLS + [
    "window_start",
    "dim_hash",
    "ts",
    "dims",
    "cwm",
    "metric_raw",
    "valid",
    "error",
]


def run_legs(**legs: Callable[[], object]) -> dict:
    """Run each named leg on its own ``InheritableThread``: its jobs keep
    the caller's local properties (a ``setJobGroup`` tag stays on them)
    and carry the leg's name as their job description. Waits for every
    leg, then re-raises the first failure; returns each leg's result by
    name."""
    sc = SparkContext._active_spark_context
    results, failures = {}, []

    def body(name: str, leg: Callable[[], object]) -> None:
        sc.setJobDescription(name)
        try:
            results[name] = leg()
        except BaseException as e:  # re-raised on the caller's thread
            failures.append(e)

    threads = [
        InheritableThread(body, args=(name, leg)) for name, leg in legs.items()
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if failures:
        raise failures[0]
    return results


def stage(
    tokenized: DataFrame, lookup: DataFrame, window_ms: int = agg.WINDOW_MS
) -> DataFrame:
    """Detokenize, parse, enrich and window every record, valid or not,
    down to ``STAGED_COLS``: the one frame each caller materializes its
    own way before ``split_valid``. It keeps the input tokens and the
    lookup attributes, so the valid side is also the routed table; the
    detokenized payload never survives it."""
    parsed = parse_op.parse_emf(with_payload(tokenized))
    return agg.with_window(enrich_op.enrich(parsed, lookup), window_ms).select(
        *STAGED_COLS
    )


def aggregate(valid: DataFrame, key_by_namespace: bool = False) -> DataFrame:
    """Valid staged records -> one assembled EMF event per group: the
    histogram and metadata branches both read ``valid``, so callers that
    materialize it parse once."""
    obs = agg.explode_observations(valid, key_by_namespace)
    hist = agg.aggregate_histograms(obs, key_by_namespace)
    meta = agg.aggregate_metadata(valid, key_by_namespace)
    return output_op.events_json(agg.assemble_groups(hist, meta, key_by_namespace))


def build_events(
    spark: SparkSession,
    tokenized: DataFrame,
    lookup: DataFrame | None = None,
    window_ms: int = agg.WINDOW_MS,
    key_by_namespace: bool = False,
) -> PipelineResult:
    """Compose the logical plan up to assembled EMF events (no writes,
    nothing materialized)."""
    lookup = lookup if lookup is not None else fixtures.lookup_df(spark)
    valid, errors = parse_op.split_valid(stage(tokenized, lookup, window_ms))
    return PipelineResult(
        parsed=valid, errors=errors, events=aggregate(valid, key_by_namespace)
    )


def run(
    spark: SparkSession,
    input_path: str,
    out_dir: str,
    lookup: DataFrame | None = None,
    window_ms: int = agg.WINDOW_MS,
    key_by_namespace: bool = False,
    resumable: bool = False,
) -> PipelineResult:
    """Full job with writes: staged parse checkpoint, routed rows,
    per-sink events, errors, stats.

    Topology (the input is scanned and detok+parse runs exactly ONCE):

      tokenized --rebalance--> stage --> staged parquet [checkpoint]
      staged --split_valid--> errors
      staged --split_valid--> valid --> routed (by sink)
      valid --> aggregate --> events (persisted)
      events --> per-sink writes; events --> compression stats

    The staged parquet is written and re-read: its vectorized nested
    column scans (dims/cwm/metric_raw) measured ~8x faster than an
    in-memory relation. ``run`` overwrites it on every call; nothing
    reads it back across calls.

    AQE sizes every stage by its data: it coalesces the rebalance of the
    input, and it also re-plans the persisted events
    (``canChangeCachedPlanOutputPartitioning``, session.py), so a small
    call runs one or two tasks per stage and a large one up to
    ``spark.sql.shuffle.partitions``.

    The errors, routed and events writes are independent given the
    checkpoint and run concurrently through ``run_legs``; the staged
    write and the stats run as single legs. Every leg's jobs keep the
    caller's job group and are described ``staged``, ``errors``,
    ``routed``, ``events`` or ``stats``.

    ``resumable`` writes the events through the lineage manifest
    (``lineage.write_events_resumable``) instead of the parquet and
    JSONL tables: it skips the (sink, window_start) cells an earlier
    run completed and returns its counters as ``PipelineResult.lineage``.
    Both kinds of write read the same persisted events.
    """
    lookup = lookup if lookup is not None else fixtures.lookup_df(spark)
    os.makedirs(out_dir, exist_ok=True)
    # 1. staged checkpoint: the only scan of the input, and the only
    # pass that pays detok+parse.
    # Byte-based split sizing misjudges this workload: token payloads
    # are ~20x cheaper on disk (dictionary-compressed parquet) than the
    # JSON parse they cost, so a one-split input can still be minutes of
    # CPU. A rebalance shuffle moves only compressed tokens and lets AQE
    # size the parse stage by the shuffled bytes: under Spark's default
    # coalescing (parallelismFirst, 1 MB minPartitionSize) a large input
    # fans out to spark.sql.shuffle.partitions tasks and a small one
    # stays at one or two. A repartition to a fixed count is never
    # coalesced: 2x cores cut a 3k-record parse into 8 tasks on 4 cores.
    staged = stage(spark.read.parquet(input_path).hint("rebalance"), lookup, window_ms)
    paths = {leg: os.path.join(out_dir, leg) for leg in ("staged", "errors", "stats")}

    def _write_staged():
        staged.write.mode("overwrite").parquet(paths["staged"])
        return spark.read.parquet(paths["staged"])

    staged = run_legs(staged=_write_staged)["staged"]
    valid, errors = parse_op.split_valid(staged)
    events = aggregate(valid, key_by_namespace).persist()

    # 2. errors, 3. routed rows (the valid staged rows, by sink) and
    # 4. events are independent given the staged checkpoint: concurrent
    # legs, so Spark's scheduler interleaves their stages (the
    # errors/routed jobs are small; overlapping them hides their fixed
    # per-job latency behind the aggregation).
    def _write_errors():
        errors.write.mode("overwrite").parquet(paths["errors"])

    def _write_routed():
        paths["routed"] = route_op.write_routed(valid, out_dir)

    def _write_events():
        if resumable:
            info = lineage.write_events_resumable(spark, events, out_dir)
            paths["events"] = info["path"]
            return info
        paths["events"], paths["events_jsonl"] = output_op.write_events(
            events, out_dir
        )

    def _write_stats():
        output_op.compression_stats(events).write.mode("overwrite").parquet(
            paths["stats"]
        )
        return spark.read.parquet(paths["stats"])

    # the events cache is released even if a write raises
    try:
        written = run_legs(
            errors=_write_errors, events=_write_events, routed=_write_routed
        )
        stats = run_legs(stats=_write_stats)["stats"]
    finally:
        events.unpersist()
    return PipelineResult(valid, errors, events, stats, paths, written["events"])
