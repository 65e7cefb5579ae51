"""Physical-plan regression tests (SURVEY.md §4): the plans that make
the pipeline scale must stay that way — broadcast enrichment, bounded
shuffle count in the histogram aggregation, Arrow (not row-at-a-time)
Python, and column pruning through the staged checkpoint."""

from __future__ import annotations

import contextlib
import io
import itertools
import re

import pytest
from pyspark.sql import functions as F

from emf_spark import fixtures, pipeline
from emf_spark.operators import aggregate as agg, enrich as enrich_op, parse as parse_op
from emf_spark.tokenizer import with_payload


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


@pytest.fixture(scope="module")
def parsed(spark, corpus_path):
    df = spark.read.parquet(corpus_path)
    valid, _ = parse_op.split_valid(parse_op.parse_emf(with_payload(df)))
    return agg.with_window(
        enrich_op.enrich(valid, fixtures.lookup_df(spark)), 60_000
    )


def test_enrich_is_broadcast_join(parsed):
    plan = plan_of(parsed)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_detokenize_is_arrow_batched(parsed):
    plan = plan_of(parsed)
    assert "ArrowEvalPython" in plan  # vectorized, not BatchEvalPython
    assert "BatchEvalPython" not in plan


def test_observation_explode_has_no_shuffle(parsed):
    obs = agg.explode_observations(parsed.drop("tokens", "payload"))
    plan = plan_of(obs, "simple")
    # narrow fan-out: no shuffle (the broadcast exchange from the
    # upstream enrich join is not a shuffle)
    assert "Exchange hashpartitioning" not in plan


@pytest.mark.parametrize("key_by_namespace", [False, True])
def test_aggregate_shuffle_count(parsed, key_by_namespace):
    """Three exchanges in event assembly: the value-salted phase 1, the
    phase-2 repartition on the group keys and the metadata groupBy. The
    per-group metric collect and the join with the metadata branch
    reuse the group-key partitioning."""
    events = pipeline.aggregate(parsed.drop("tokens", "payload"), key_by_namespace)
    plan = plan_of(events, "simple")
    assert plan.count("Exchange hashpartitioning") == 3, plan[:4000]


def test_histogram_agg_shuffle_count(parsed):
    """Exactly two exchanges: (keys+value) partial/final agg, then the
    window-function repartition on the group keys. Everything after
    reuses that partitioning (subset-key clustering)."""
    obs = agg.explode_observations(parsed.drop("tokens", "payload"))
    hist = agg.aggregate_histograms(obs)
    plan = plan_of(hist, "simple")
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges == 2, plan[:2000]


@pytest.mark.parametrize("key_by_namespace", [False, True])
def test_metadata_agg_shuffle_count(parsed, key_by_namespace):
    """One exchange on the group keys in either keying mode: the
    projection lists ride the metadata groupBy as a collect_set and merge
    per row, with no second groupBy and no join."""
    meta = agg.aggregate_metadata(parsed.drop("tokens", "payload"), key_by_namespace)
    plan = plan_of(meta, "simple")
    assert plan.count("Exchange hashpartitioning") == 1, plan[:2000]


@pytest.mark.parametrize("key_by_namespace", [False, True])
def test_merge_partials_shuffle_count(spark, corpus_path, tmp_path, key_by_namespace):
    """The partial-event merge shuffles five times in either keying mode:
    its metadata is one groupBy whose collect_set feeds cw_union, with no
    explode, per-namespace groupBy or join of its own."""
    from emf_spark.streaming.merge import merge_partial_events

    path = str(tmp_path / "events")
    pipeline.build_events(
        spark, spark.read.parquet(corpus_path), key_by_namespace=key_by_namespace
    ).events.write.parquet(path)
    merged = merge_partial_events(spark.read.parquet(path), key_by_namespace)
    plan = plan_of(merged, "simple")
    assert plan.count("Exchange hashpartitioning") == 5, plan[:4000]


def _janino_compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_warm_calls_reuse_compiled_classes(spark, tmp_path):
    """A repeated call compiles nothing: the codegen cache holds one
    pipeline.run's and one micro-batch's generated classes (Spark's
    default of 100 entries is smaller than either working set)."""
    from emf_spark.streaming import job as sjob

    src = str(tmp_path / "in")
    fixtures.write_corpus(f"{src}/part-0.parquet", 200)
    stream_runs = itertools.count()

    def batch_call():
        pipeline.run(spark, src, str(tmp_path / "batch")).stats.collect()

    def stream_call():
        # a fresh checkpoint per call, so each call drains the file again
        out = str(tmp_path / f"stream{next(stream_runs)}")
        assert sjob.run_microbatch(spark, src, out).awaitTermination(300)

    for call in (batch_call, stream_call):
        call()
        n = _janino_compiles(spark)
        call()
        assert _janino_compiles(spark) - n == 0, call.__name__


# Jobs of one warm call on the fixed 200-record input, per leg (AQE
# submits one job per query stage; a broadcast is one job). "caller"
# counts the jobs outside any leg.
LEGS = ("staged", "errors", "routed", "events", "stats")
JOB_BUDGET = {
    "batch": {"caller": 2, "staged": 4, "errors": 1, "routed": 1, "events": 7, "stats": 3},
    "stream": {"caller": 1, "errors": 1, "events": 7},
}


def _group_jobs(spark, group: str) -> list:
    """The status-store records of the jobs tagged with job group
    ``group``, in job id order, once the listener bus has recorded every
    job."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = sc._jsc.sc().statusStore()
    return [store.job(i) for i in sorted(sc.statusTracker().getJobIdsForGroup(group))]


def _leg_of(job) -> str:
    desc = job.description().getOrElse(None)
    return desc if desc in LEGS else "caller"


@contextlib.contextmanager
def _job_group(spark, group: str):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_pipeline_legs_keep_the_callers_job_group(spark, tmp_path):
    """pipeline.run's concurrent legs keep the caller's job group: the
    errors, routed and events writes are attributable to the call."""
    src = str(tmp_path / "in")
    fixtures.write_corpus(f"{src}/part-0.parquet", 200)
    with _job_group(spark, "legs-g"):
        pipeline.run(spark, src, str(tmp_path / "out"))
    legs = {_leg_of(job) for job in _group_jobs(spark, "legs-g")}
    assert set(LEGS) <= legs, legs


def _warm_call(spark, tmp_path, kind: str) -> list:
    """The jobs of a warm pipeline.run (``batch``) or a warm micro-batch
    (``stream``) on the fixed 200-record input, found through the call's
    job group (a stream query tags its jobs with its run id)."""
    from emf_spark.streaming import job as sjob

    src = str(tmp_path / "in")
    fixtures.write_corpus(f"{src}/part-0.parquet", 200)
    calls = itertools.count()

    def call() -> str:
        group = f"{tmp_path.name}-{next(calls)}"  # unique per test
        out = str(tmp_path / group)
        if kind == "batch":
            with _job_group(spark, group):
                pipeline.run(spark, src, out).stats.collect()
            return group
        q = sjob.run_microbatch(spark, src, out)
        assert q.awaitTermination(300)
        return str(q.runId)

    call()  # cold
    return _group_jobs(spark, call())


@pytest.mark.parametrize("kind", ["batch", "stream"])
def test_job_budget(spark, tmp_path, kind):
    """A warm pipeline.run and a warm micro-batch run exactly the jobs
    pinned in JOB_BUDGET."""
    legs = [_leg_of(job) for job in _warm_call(spark, tmp_path, kind)]
    per_leg = {d: legs.count(d) for d in legs}
    assert per_leg == JOB_BUDGET[kind], per_leg


def _executions_of(spark, jobs: list) -> list:
    """The status-store records of the SQL executions that ran ``jobs``."""
    executions = spark._jsparkSession.sharedState().statusStore().executionsList()
    return [
        ex
        for ex in (executions.apply(k) for k in range(executions.size()))
        if any(ex.jobs().contains(job.jobId()) for job in jobs)
    ]


# Tasks of one warm pipeline.run on the fixed 200-record input, per leg:
# a job's tasks less those of the stages it skipped (an AQE job lists
# the stages it reads from as skipped).
TASK_BUDGET = {
    "batch": {"caller": 2, "staged": 7, "errors": 1, "routed": 1, "events": 7, "stats": 3},
}


@pytest.mark.parametrize("kind", ["batch"])
def test_task_budget(spark, tmp_path, kind):
    """A warm pipeline.run's stages are sized by its data: the staged
    write rebalances the input (AQE coalesces the shuffle, no fixed-count
    round-robin), and AQE re-plans the persisted events, so every leg
    runs the tasks pinned in TASK_BUDGET. The staged write is the only
    scan of the input: every other leg reads the staged rows."""
    jobs = _warm_call(spark, tmp_path, kind)
    per_leg = {}
    for job in jobs:
        leg = _leg_of(job)
        per_leg[leg] = per_leg.get(leg, 0) + job.numTasks() - job.numSkippedTasks()
    assert per_leg == TASK_BUDGET[kind], per_leg

    plans = [
        (ex.description(), ex.physicalPlanDescription())
        for ex in _executions_of(spark, jobs)
    ]
    staged = [plan for desc, plan in plans if desc == "staged"]
    assert len(staged) == 1
    scans_input = [desc for desc, plan in plans if f"{tmp_path / 'in'}]" in plan]
    assert scans_input == ["staged"], scans_input
    round_robin = [ln for ln in staged[0].splitlines() if "RoundRobinPartitioning" in ln]
    assert round_robin, staged[0]
    assert all("REBALANCE_PARTITIONS" in ln for ln in round_robin), round_robin


def _staged_agg_rows(store, execution_id: int) -> int:
    """Rows one SQL execution read from storage for the aggregation: its
    parquet scans of ``dim_hash``, which only the staged checkpoint
    holds, by their SQL metrics. A scan a cache answers reads none,
    though the plan still shows it."""
    values = {}
    it = store.executionMetrics(execution_id).iterator()
    while it.hasNext():
        kv = it.next()
        values[kv._1()] = kv._2()
    nodes = store.planGraph(execution_id).allNodes()
    rows = 0
    for node in (nodes.apply(i) for i in range(nodes.size())):
        if node.name().startswith("Scan parquet") and "dim_hash#" in node.desc():
            metrics = node.metrics()
            for m in (metrics.apply(j) for j in range(metrics.size())):
                if m.name() == "number of output rows":
                    rows += int(values.get(m.accumulatorId(), "0").replace(",", ""))
    return rows


def test_resumable_run_aggregates_once(spark, tmp_path):
    """A --resumable CLI run aggregates once: its lineage write reads the
    persisted events (InMemoryTableScan), and the execution that fills
    that cache is the only one to read the staged rows for the
    aggregation. The events leg runs three SQL executions: the per-cell
    counts, the events write and the manifest append."""
    from emf_spark import cli

    src, out = str(tmp_path / "in"), str(tmp_path / "out")
    fixtures.write_corpus(f"{src}/part-0.parquet", 200)
    with _job_group(spark, tmp_path.name):
        assert cli.main(["--input", src, "--out", out, "--resumable"]) == 0
    call = _executions_of(spark, _group_jobs(spark, tmp_path.name))
    store = spark._jsparkSession.sharedState().statusStore()
    events_write = [
        ex.physicalPlanDescription()
        for ex in call
        if f"Arguments: file:{out}/events," in ex.physicalPlanDescription()
    ]
    assert events_write and all("InMemoryTableScan" in p for p in events_write)
    reads = [ex.description() for ex in call if _staged_agg_rows(store, ex.executionId())]
    assert reads == ["events"], reads
    legs = [ex.description() for ex in call]
    assert legs.count("events") == 3, legs


def test_session_turns_off_call_site_capture(spark):
    """get_spark turns off PySpark's per-call stack capture, which costs
    several py4j round trips on every DataFrame and functions call."""
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"


def test_composition_expressions_built_once_per_session(spark, corpus_path, monkeypatch):
    """A second build of the composition in one SparkContext reuses
    every memoized expression; a new SparkContext rebuilds them."""
    from pyspark import SparkContext

    from emf_spark import functions as fn

    tokenized = spark.read.parquet(corpus_path)
    lookup = fixtures.lookup_df(spark)

    def build():
        valid, _ = parse_op.split_valid(pipeline.stage(tokenized, lookup))
        pipeline.aggregate(valid)
        return dict(fn._memo)

    first = build()
    second = build()
    assert {b.__name__ for b, _ in first} >= {
        "_parse_steps", "_window_start", "_observation_cols", "_histogram_cols",
        "seh_out_v", "_metadata_cols", "_metric_list", "_event_cols",
    }
    assert second.keys() == first.keys()
    assert all(second[k] is v for k, v in first.items())

    real = SparkContext._active_spark_context

    class OtherContext:
        """A new SparkContext identity over the same JVM."""

        def __getattr__(self, name):
            return getattr(real, name)

    monkeypatch.setattr(SparkContext, "_active_spark_context", OtherContext())
    key = (parse_op._parse_steps.__wrapped__, ("payload",))
    rebuilt = parse_op._parse_steps("payload")
    assert rebuilt is not first[key]
    assert fn._memo == {key: rebuilt}


def test_lookup_is_an_inline_table(spark, corpus_path):
    """The default lookup is a LocalRelation with exactly LOOKUP_SCHEMA,
    so its broadcast collects in the JVM; a Python-list createDataFrame
    would be a Python RDD scan ("Scan ExistingRDD") on every query."""
    from emf_spark.schema import LOOKUP_SCHEMA

    lookup = fixtures.lookup_df(spark)
    assert lookup.schema == LOOKUP_SCHEMA
    assert [f.nullable for f in lookup.schema] == [f.nullable for f in LOOKUP_SCHEMA]
    optimized = lookup._jdf.queryExecution().optimizedPlan()
    assert optimized.getClass().getSimpleName() == "LocalRelation"
    assert sorted(tuple(r) for r in lookup.collect()) == sorted(fixtures.SOURCE_LOOKUP_ROWS)

    lines = plan_of(pipeline.stage(spark.read.parquet(corpus_path), lookup), "simple")
    lines = lines.splitlines()
    assert not [ln for ln in lines if "Scan ExistingRDD" in ln]
    at = [i for i, ln in enumerate(lines) if "BroadcastExchange" in ln]
    assert len(at) == 1
    assert "LocalTableScan" in lines[at[0] + 1]


def test_staged_scan_prunes_columns(spark, corpus_path, tmp_path):
    """The events path must never read tokens or the lookup attributes
    back from the staged checkpoint (only the routed table reads them),
    and the validity filter must push down to the parquet scan."""
    out = str(tmp_path / "plans_out")
    pipeline.run(spark, corpus_path, out)
    staged = spark.read.parquet(f"{out}/staged")
    valid, _ = parse_op.split_valid(staged)
    events_plan = plan_of(pipeline.aggregate(valid))
    read_schemas = [ln for ln in events_plan.splitlines() if "ReadSchema:" in ln]
    assert read_schemas, events_plan[:2000]
    for ln in read_schemas:
        read = re.findall(r"[<,](\w+):", ln)
        assert not {"tokens", "log_group_name", "log_stream_name", "env"} & set(read), ln
    q = staged.filter(F.col("valid")).select("dim_hash", "metric_raw")
    plan = plan_of(q)
    assert "PushedFilters: [IsNotNull(valid), EqualTo(valid,true)]" in plan or (
        "valid" in plan.split("PushedFilters")[1].split("]")[0]
    )
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "dims" not in read_schema and "cwm" not in read_schema


def test_partial_aggregation_before_shuffle(parsed):
    """Map-side combine (the reference's in-memory map equivalent): the
    value-count groupBy must show a partial HashAggregate below the
    exchange."""
    obs = agg.explode_observations(parsed.drop("tokens", "payload"))
    keys = agg.group_keys(obs) + ["metric_name", "v"]
    p1 = obs.groupBy(*keys).agg(F.sum("c").alias("c"))
    plan = plan_of(p1, "simple")
    # partial_sum appears below the exchange, final above
    assert plan.count("HashAggregate") >= 2
    assert "partial_sum" in plan


def test_minhash_signatures_single_shuffle(spark):
    """shingle_hash_rows windows by id and the signature groupBy reuses
    that partitioning: exactly ONE hash exchange end to end."""
    from emf_spark.datax import dedup

    df = spark.createDataFrame(
        [(i, f"w{i} w{i+1} w{i+2} w{i+3}") for i in range(20)],
        "doc_id bigint, text string",
    )
    sigs = dedup.minhash_signatures(df, num_perm=8)
    plan = plan_of(sigs, "simple")
    assert plan.count("Exchange hashpartitioning") == 1, plan[:2000]


def test_datax_pair_joins_never_cartesian(spark):
    """No pair-generating path may plan a cartesian/nested-loop join."""
    from emf_spark.datax import dedup, similarity

    docs = spark.createDataFrame(
        [(i, f"some text number {i} with words") for i in range(10)],
        "doc_id bigint, text string",
    )
    vecs = spark.createDataFrame(
        [(i, [float(i), 1.0, 2.0, 3.0]) for i in range(10)],
        "vec_id bigint, embedding array<float>",
    )
    plans = [
        plan_of(dedup.minhash_near_duplicates(docs, num_perm=8, bands=4), "simple"),
        plan_of(dedup.simhash_near_duplicates(docs), "simple"),
        plan_of(
            similarity.embedding_near_duplicates(vecs, dim=4, threshold=0.5),
            "simple",
        ),
        plan_of(dedup.jaccard_threshold_pairs(docs, threshold=0.6), "simple"),
        plan_of(dedup.containment_pairs(docs, threshold=0.7), "simple"),
    ]
    for p in plans:
        assert "CartesianProduct" not in p, p[:1500]
        assert "BroadcastNestedLoopJoin" not in p, p[:1500]


def test_lsh_bucketed_probe_is_partition_pruned(spark, tmp_path):
    """materialize_buckets + lsh_topk(bucketed_path=...): the probe scan
    must carry a non-empty PartitionFilters on _bucket (planning-time
    pruning) and read only the hamming-ball partitions — and return the
    exact same rows as the on-the-fly bucket path."""
    import numpy as np

    from emf_spark.datax import similarity

    rng = np.random.default_rng(3)
    vecs = [(i, [float(x) for x in rng.standard_normal(8)]) for i in range(200)]
    df = spark.createDataFrame(vecs, "vec_id bigint, embedding array<float>")
    path = str(tmp_path / "buckets")
    qvec = vecs[0][1]
    corpus = df.filter(F.col("vec_id") != 0)
    similarity.materialize_buckets(corpus, path, n_planes=4, seed=7)
    got = similarity.lsh_topk(
        corpus, qvec, k=5, n_planes=4, seed=7, probe_hamming=1,
        bucketed_path=path,
    )
    plan = plan_of(got)
    scan = plan[plan.index("PartitionFilters"):]
    head = scan[: scan.index("\n")]
    assert "_bucket" in head and "PartitionFilters: []" not in head, head
    # pruned probe == on-the-fly probe, row for row
    flying = similarity.lsh_topk(
        corpus, qvec, k=5, n_planes=4, seed=7, probe_hamming=1
    )
    assert [tuple(r) for r in got.collect()] == [tuple(r) for r in flying.collect()]


def test_tpch_join_queries_push_filters_and_broadcast_dims(spark):
    """Q3/Q5 shapes: date/segment predicates must reach the parquet
    scans (PushedFilters) and the dimension sides must broadcast (no
    cartesian, no nested-loop)."""
    from emf_spark import driver_queries as dq

    SF = "/root/testdata/sf0.001"
    for name in ("tpch_shipping_priority", "tpch_local_supplier_volume"):
        p = plan_of(dq.QUERIES[name](spark, SF))
        assert "BroadcastHashJoin" in p
        assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
        assert "LessThan(o_orderdate" in p or "LessThanOrEqual(o_orderdate" in p, name


def test_pii_scrub_is_map_only(spark):
    """The scrubber must stay a pure narrow map over the scan: no
    Exchange, no Python eval — regexes inside whole-stage codegen."""
    from emf_spark.datax.pii import pii_scrub

    df = spark.createDataFrame([("a@b.co x",)], ["text"])
    p = plan_of(pii_scrub(df), "simple")
    assert "Exchange" not in p
    assert "Python" not in p


def test_vocab_topk_windows_after_aggregation(spark):
    """The single-partition rank window must sit ABOVE the token-count
    aggregate (vocab cardinality), never over the raw exploded tokens
    (corpus cardinality)."""
    from emf_spark.datax.textstats import vocab_topk

    df = spark.createDataFrame([("a b c",)], ["text"])
    p = plan_of(vocab_topk(df), "formatted")
    assert p.index("Window") < p.index("HashAggregate")  # formatted prints top-down


def test_percentiles_hist_windows_above_histogram(spark):
    """The histogram-path percentile's cumulative/rank windows must sit
    ABOVE the (group, value)->count aggregate — the plan never sorts
    raw rows per group, only histogram rows (distinct-value
    cardinality)."""
    from emf_spark import driver_queries as dq

    p = plan_of(dq.QUERIES["emf_percentiles_hist"](spark, "/root/testdata/sf0.001"))
    # formatted prints top-down: the deepest (first-executed) node is
    # printed last — the histogram HashAggregate must appear BELOW
    # (after, in print order) every Window
    assert "Window" in p and "HashAggregate" in p
    assert p.rindex("HashAggregate") > p.rindex("Window")


def test_tpch_forecast_revenue_pushes_all_predicates(spark):
    """Q6 is the pushdown poster child: shipdate range AND quantity
    bound must reach the parquet scan, and the scan must not read
    columns beyond the 4 used."""
    from emf_spark import driver_queries as dq

    p = plan_of(dq.QUERIES["tpch_forecast_revenue"](spark, "/root/testdata/sf0.001"))
    assert "GreaterThanOrEqual(l_shipdate" in p
    assert "LessThan(l_quantity,24.0)" in p.replace(" ", "")
    import re

    read = re.search(r"ReadSchema: struct<([^>]*)>", p).group(1)
    cols = {c.split(":")[0] for c in read.split(",")}
    assert cols == {"l_shipdate", "l_quantity", "l_extendedprice", "l_discount"}


def test_tpch_order_priority_is_semi_join(spark):
    from emf_spark import driver_queries as dq

    p = plan_of(dq.QUERIES["tpch_order_priority_check"](spark, "/root/testdata/sf0.001"))
    assert "LeftSemi" in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_tpch_disjunctive_predicate_stays_equi_join(spark):
    """Q19 shape: the OR-of-ANDs must ride as a post-join filter on the
    partkey equi-join (BroadcastHashJoin), never force a nested loop."""
    from emf_spark import driver_queries as dq

    p = plan_of(dq.QUERIES["tpch_discounted_revenue"](spark, "/root/testdata/sf0.001"))
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_funnel_and_new_tpch_shapes_never_nested_loop(spark):
    """Funnel steps and the Q2/Q7/Q13/Q18 shapes must stay equi-joins;
    anti/left joins must not degrade to nested loops."""
    from emf_spark import driver_queries as dq

    SF = "/root/testdata/sf0.001"
    for name in (
        "events_funnel",
        "tpch_order_distribution",
        "tpch_large_volume_customer",
        "tpch_min_cost_supplier",
        "tpch_volume_shipping",
        "tpch_waiting_suppliers",
        "text_lm_fluency",
        # round-4 shapes: Q17 decorrelated avg, Q20 nested semi,
        # Q8 share, Q15 max-equality, Q16 NOT IN, Q9 5-way, CUBE
        "tpch_small_qty_revenue",
        "tpch_potential_promotion",
        "tpch_market_share",
        "tpch_top_supplier",
        "tpch_supplier_relationship",
        "tpch_product_profit",
        "tpch_cube_revenue",
    ):
        p = plan_of(dq.QUERIES[name](spark, SF))
        assert "CartesianProduct" not in p, name
        assert "BroadcastNestedLoopJoin" not in p, name


def test_kmv_global_two_phase_window(spark):
    """Ungrouped KMV must NOT funnel the full distinct-hash stream
    through one window partition (VERDICT r3): phase 1's rank window is
    partitioned by the (hash % 64) bucket — a parallel exchange — and
    only the bounded <= 64*k survivors reach the final global rank."""
    from emf_spark.datax import sketches

    ev = spark.range(0, 10_000).select(
        (F.col("id") % 997).cast("string").alias("v")
    )
    p = plan_of(sketches.kmv_distinct(ev, "v", None, k=64))
    # phase-1 exchange on the bucket column (parallel rank)
    assert "hashpartitioning(_b" in p
    # the final global rank is over <= 64*k survivors; Catalyst further
    # rewrites row_number<=k over that bounded frame into
    # TakeOrderedAndProject (per-partition top-k + merge) — either that
    # or a narrow SinglePartition window is acceptable, a full-stream
    # global sort is not
    assert "TakeOrderedAndProject" in p or "SinglePartition" in p
    # grouped mode keeps its one group-partitioned window (no change)
    g = plan_of(sketches.kmv_distinct(
        spark.range(0, 1000).select(
            (F.col("id") % 3).cast("string").alias("grp"),
            (F.col("id") % 97).cast("string").alias("v"),
        ),
        "v", ["grp"], k=8,
    ))
    assert "hashpartitioning(grp" in g and "hashpartitioning(_b" not in g


def test_scalar_broadcast_queries_have_one_row_build_side(spark):
    """Q11/Q22's only nested-loop is the sanctioned scalar shape: the
    build side is a single global aggregate row (no grouping keys), so
    the 'nested loop' is a constant broadcast, not a pair generator."""
    from emf_spark import driver_queries as dq

    SF = "/root/testdata/sf0.001"
    for name in (
        "tpch_important_parts",
        "tpch_global_sales_opportunity",
        "text_keywords",
        "data_drift",
    ):
        p = plan_of(dq.QUERIES[name](spark, SF))
        assert "CartesianProduct" not in p, name
        # every aggregate feeding the BNLJ build side must be global
        # (grouping-key-free): its partial/final pair appears with
        # empty grouping "keys=[]"
        if "BroadcastNestedLoopJoin" in p:
            assert "Keys: []" in p or "keys=[]" in p, name


def test_collocations_plan_posture(spark):
    """collocations' pairing is an EQUI-join on (doc, position) — the
    only nested-loop in the plan is the sanctioned 1-row corpus-total
    broadcast (global aggregate build side), never a pair generator."""
    from emf_spark import driver_queries as dq

    p = plan_of(dq.QUERIES["text_collocations"](spark, "/root/testdata/sf0.001"))
    assert "CartesianProduct" not in p
    if "BroadcastNestedLoopJoin" in p:
        assert "Keys: []" in p or "keys=[]" in p, p[:1500]
    # the (doc, pos) pairing itself must be a hash/sort-merge equi-join
    assert "SortMergeJoin" in p or "BroadcastHashJoin" in p or (
        "ShuffledHashJoin" in p)


def test_fourth_session_queries_plan_posture(spark):
    """The session's additions keep the repo's plan rules: no nested
    loops/cartesians anywhere; line_dedup and SNM never globally sort
    (no rangepartitioning Exchange — their orderings come from keyed
    windows / value-range bucketing); apply_changes carries exactly
    one full-outer shuffle join; quality checks stay a single
    aggregate over one scan."""
    from emf_spark import driver_queries as dq

    SF = "/root/testdata/sf0.001"
    for name in (
        "dedup_line_boilerplate",
        "dedup_semantic",
        "data_quality_checks",
        "data_apply_changes",
        "entity_snm_pairs",
    ):
        p = plan_of(dq.QUERIES[name](spark, SF))
        assert "CartesianProduct" not in p, name
        assert "BroadcastNestedLoopJoin" not in p, name

    p = plan_of(dq.QUERIES["dedup_line_boilerplate"](spark, SF))
    assert "rangepartitioning" not in p.lower(), p[:1500]
    p = plan_of(dq.QUERIES["entity_snm_pairs"](spark, SF))
    assert "rangepartitioning" not in p.lower(), p[:1500]
    # optimized logical plan: nodes appear once (formatted physical
    # plans repeat each node in the details section)
    lp = (dq.QUERIES["data_apply_changes"](spark, SF)
          ._jdf.queryExecution().optimizedPlan().toString())
    assert lp.count("Join FullOuter") == 1, lp[:2000]
    # one scan only: the suite compiles to a single aggregate pass
    lp = (dq.QUERIES["data_quality_checks"](spark, SF)
          ._jdf.queryExecution().optimizedPlan().toString())
    assert lp.count("Relation [") == 1, lp[:2000]


