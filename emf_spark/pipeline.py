"""End-to-end batch pipeline (SURVEY.md §3.2-§3.3 Spark equivalent).

The EMF composition is written once and shared by ``build_events``,
``run`` and the micro-batch (``streaming/job.py``): ``stage``
(detokenize -> parse -> broadcast enrich -> event-time window), then
``aggregate`` (windowed salted two-phase histogram + metadata merge ->
EMF event assembly). ``run`` and the micro-batch flush through
``checkpoint``: it writes the staged rows to parquet, reads them back
and splits them (``parse.split_valid``) into valid rows and the errors
side-output, which every later leg reads. ``run`` adds the routed write
of the valid staged rows, per-sink event writes and the per-sink
compression stats collected from the written events.

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
from emf_spark.schema import TOKENIZED_SCHEMA
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
    down to ``STAGED_COLS``: the frame ``run`` and the micro-batch
    checkpoint before ``split_valid``. It keeps the input tokens
    and the lookup attributes, so the valid side is also the routed
    table; the detokenized payload never survives it."""
    parsed = parse_op.parse_emf(with_payload(tokenized))
    return agg.with_window(enrich_op.enrich(parsed, lookup), window_ms).select(
        *STAGED_COLS
    )


def checkpoint(staged: DataFrame, path: str) -> tuple[DataFrame, DataFrame]:
    """Write ``staged`` to parquet at ``path`` as the ``staged`` leg,
    overwriting what an earlier call left there, and read it back by its
    own schema (no inference job): ``split_valid`` of the written rows.
    Every later reader scans the checkpoint, so detokenize and parse run
    once, and its vectorized nested-column scans (dims/cwm/metric_raw)
    measured ~8x faster than an in-memory relation."""
    run_legs(staged=lambda: staged.write.mode("overwrite").parquet(path))
    read = staged.sparkSession.read.schema(staged.schema).parquet(path)
    return parse_op.split_valid(read)


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
    per-sink events and errors; returns the per-sink stats.

    Of the returned ``PipelineResult``, ``.parsed`` and ``.errors`` are
    lazy reads of this call's staged checkpoint, which the next call to
    the same ``out_dir`` overwrites, and ``.events`` aggregates again
    when it is read. Only tests read these three fields.

    Topology (the input is scanned and detok+parse runs exactly ONCE):

      tokenized --rebalance--> stage --> staged parquet [checkpoint]
      staged --split_valid--> errors
      staged --split_valid--> valid --> routed (by sink)
      valid --> aggregate --> events (persisted)
      events --> per-sink writes, then compression stats (collected)

    The input is read by ``TOKENIZED_SCHEMA``, so no schema inference
    job runs.

    AQE sizes every stage by its data: it coalesces the rebalance of the
    input, and it also re-plans the persisted events
    (``canChangeCachedPlanOutputPartitioning``, session.py), so a small
    call runs one or two tasks per stage and a large one up to
    ``spark.sql.shuffle.partitions``.

    The errors, routed and events writes are independent given the
    checkpoint and run concurrently through ``run_legs``; the staged
    write (``checkpoint``) runs as a single leg before them. Every leg's
    jobs keep the caller's job group and are described ``staged``,
    ``errors``, ``routed`` or ``events``.

    The events leg collects ``output_op.compression_stats`` over the
    persisted events once its write has filled that cache, and
    ``PipelineResult.stats`` holds the rows as a local relation: reading
    it runs no job, and no stats table is written.

    ``resumable`` writes the events through the lineage manifest
    (``lineage.write_events_resumable``) instead of the parquet table:
    it skips the (sink, window_start) cells an earlier run completed and
    returns its counters as ``PipelineResult.lineage``.
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
    tokenized = spark.read.schema(TOKENIZED_SCHEMA).parquet(input_path)
    staged = stage(tokenized.hint("rebalance"), lookup, window_ms)
    paths = {leg: os.path.join(out_dir, leg) for leg in ("staged", "errors")}
    valid, errors = checkpoint(staged, paths["staged"])
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
        info = None
        if resumable:
            info = lineage.write_events_resumable(spark, events, out_dir)
            paths["events"] = info["path"]
        else:
            paths["events"] = output_op.write_events(events, out_dir)
        return info, _collected(output_op.compression_stats(events))

    # the events cache is released even if a write raises
    try:
        written = run_legs(
            errors=_write_errors, events=_write_events, routed=_write_routed
        )
    finally:
        events.unpersist()
    info, stats = written["events"]
    return PipelineResult(valid, errors, events, stats, paths, info)


def _collected(df: DataFrame) -> DataFrame:
    """``df``'s rows, collected once, as a ``LocalRelation``: reading it
    again runs no job. (``createDataFrame`` over a Python list plans a
    ``LogicalRDD`` instead, whose ``collect`` is a job.)"""
    jdf = df._jdf
    local = df.sparkSession._jsparkSession.createDataFrame(
        jdf.collectAsList(), jdf.schema()
    )
    return DataFrame(local, df.sparkSession)
