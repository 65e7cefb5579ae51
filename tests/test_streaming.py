"""Structured Streaming front-end: micro-batch foreachBatch aggregation
(the reference's ticker semantics) and watermarked event-time counts."""

from __future__ import annotations

import threading
import time

import pytest
from pyspark.sql import functions as F

from emf_spark import fixtures, pipeline
from emf_spark.streaming import job as sjob


@pytest.fixture(autouse=True)
def _stop_streams(spark):
    """No query outlives its test: a stream that failed to drain would
    otherwise keep running beside every later test."""
    yield
    for q in spark.streams.active:
        q.stop()


@pytest.fixture(scope="module")
def stream_input(spark, tmp_path_factory):
    """Corpus split across several files to exercise multi-batch reads."""
    d = tmp_path_factory.mktemp("stream_in")
    df_path = str(d / "part0.parquet")
    fixtures.write_corpus(df_path, 600)
    df = spark.read.parquet(df_path)
    out = str(d / "in")
    df.repartition(6).write.mode("overwrite").parquet(out)
    return out


def test_microbatch_matches_batch_counts(spark, stream_input, tmp_path):
    out = str(tmp_path / "stream_out")
    q = sjob.run_microbatch(spark, stream_input, out)
    q.awaitTermination(300)

    ev = spark.read.parquet(f"{out}/events")
    # associative merge invariant: per-(sink, window, dim_hash, metric)
    # total observation counts equal the batch pipeline's
    stream_counts = (
        ev.select("sink", "window_start", "dim_hash", F.explode("metrics").alias("m"))
        .groupBy("sink", "window_start", "dim_hash", F.col("m.metric_name").alias("mn"))
        .agg(F.sum("m.count").alias("cnt"))
    )
    batch_out = str(tmp_path / "batch_out")
    res = pipeline.run(spark, stream_input, batch_out, write_routed=False)
    bev = spark.read.parquet(f"{batch_out}/events")
    batch_counts = (
        bev.select("sink", "window_start", "dim_hash", F.explode("metrics").alias("m"))
        .groupBy("sink", "window_start", "dim_hash", F.col("m.metric_name").alias("mn"))
        .agg(F.sum("m.count").alias("cnt"))
    )
    diff = stream_counts.join(
        batch_counts, ["sink", "window_start", "dim_hash", "mn"], "full"
    ).filter(
        ~F.coalesce(stream_counts["cnt"], F.lit(-1)).eqNullSafe(
            F.coalesce(batch_counts["cnt"], F.lit(-1))
        )
    )
    assert diff.count() == 0


def test_microbatch_checkpoint_resume_noop(spark, stream_input, tmp_path):
    out = str(tmp_path / "stream_resume")
    q = sjob.run_microbatch(spark, stream_input, out)
    q.awaitTermination(300)
    n1 = spark.read.parquet(f"{out}/events").count()
    # restart against the same checkpoint: no new files -> no new output
    q2 = sjob.run_microbatch(spark, stream_input, out)
    q2.awaitTermination(300)
    n2 = spark.read.parquet(f"{out}/events").count()
    assert n1 == n2


def test_eventtime_counts(spark, stream_input, tmp_path):
    # time-ordered input files: no artificial late data, so every
    # watermark-closed window matches the batch engine exactly
    ordered_in = str(tmp_path / "ordered_in")
    (
        spark.read.parquet(stream_input)
        .repartitionByRange(6, F.col("doc_id"))
        .write.mode("overwrite")
        .parquet(ordered_in)
    )
    # FileStreamSource orders by modification time (ties arbitrary) —
    # pin mtimes to the range order so batches arrive time-ordered
    import glob
    import os
    import time as _time

    base = _time.time() - 600
    for i, f in enumerate(sorted(glob.glob(f"{ordered_in}/part-*"))):
        os.utime(f, (base + i, base + i))
    stream_input = ordered_in
    out = str(tmp_path / "ev_counts")
    q = sjob.run_eventtime_counts(spark, stream_input, out)
    q.awaitTermination(300)
    got = spark.read.parquet(f"{out}/counts")
    # append mode only emits windows the watermark closed before the
    # bounded input drained — at least the earliest window must be out
    assert got.count() > 0
    emitted = {r["window_start"] for r in got.select("window_start").distinct().collect()}
    # per-(window, dim_hash) record counts match the batch engine for
    # every emitted window
    res = pipeline.build_events(spark, spark.read.parquet(stream_input))
    batch = (
        res.parsed.groupBy(
            (F.floor(F.col("ts") / 60000) * 60000).cast("bigint").alias("window_start"),
            "dim_hash",
        )
        .agg(F.count(F.lit(1)).alias("records"))
        .filter(F.col("window_start").isin(list(emitted)))
        .collect()
    )
    bmap = {(r["window_start"], r["dim_hash"]): r["records"] for r in batch}
    gmap = {
        (r["window_start"], r["dim_hash"]): r["records"] for r in got.collect()
    }
    assert gmap == bmap


def test_stateful_running_totals(spark, stream_input, tmp_path):
    """applyInPandasWithState keyed state (W4): final per-group running
    totals equal the batch aggregation over all observations."""
    from emf_spark.streaming import stateful

    out = str(tmp_path / "stateful_out")
    q = stateful.run_stateful(spark, stream_input, out)
    assert q.awaitTermination(120), "availableNow stateful query did not drain"
    got = spark.read.parquet(f"{out}/totals")
    # update mode emits one row per touched group per batch: the last
    # batch's row per group is the running total
    from pyspark.sql.window import Window

    w = Window.partitionBy("sink", "dim_hash").orderBy(F.desc("batch_id"))
    final = (
        got.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("sink", "dim_hash", "records", "obs", "sum", "min", "max")
    )
    # batch truth over the same input
    from emf_spark.operators import aggregate as agg, enrich as enrich_op, parse as parse_op
    from emf_spark.tokenizer import with_payload
    from emf_spark import fixtures as fx

    parsed = parse_op.parse_emf(with_payload(spark.read.parquet(stream_input)))
    valid = parsed.filter(F.col("valid"))
    enriched = enrich_op.enrich(valid, fx.lookup_df(spark))
    obs = (
        enriched.select("sink", "dim_hash", F.explode("metric_raw").alias("n", "raw"))
        .select(
            "sink",
            "dim_hash",
            F.explode(parse_op._metric_pairs(F.col("raw"))).alias("p"),
        )
    )
    # records = ALL true input records, including ones whose values all
    # normalize away (reference counts InputRecords before value
    # parsing; review r3 fixed the operator's old >=1-pair filter)
    rec_counts = enriched.groupBy("sink", "dim_hash").agg(
        F.count(F.lit(1)).alias("records")
    )
    truth = rec_counts.join(
        obs.groupBy("sink", "dim_hash").agg(
            F.sum("p.c").alias("obs"),
            F.round(F.sum(F.col("p.v") * F.col("p.c")), 6).alias("sum"),
            F.min("p.v").alias("min"),
            F.max("p.v").alias("max"),
        ),
        ["sink", "dim_hash"],
        "left",
    ).na.fill({"obs": 0, "sum": 0.0})
    tmap = {(r["sink"], r["dim_hash"]): r for r in truth.collect()}
    fmap = {(r["sink"], r["dim_hash"]): r for r in final.collect()}
    assert set(fmap) == set(tmap)
    for k, fr in fmap.items():
        tr = tmap[k]
        assert fr["records"] == tr["records"] and fr["obs"] == tr["obs"], k
        assert abs(fr["sum"] - tr["sum"]) < 1e-6
        assert fr["min"] == tr["min"] and fr["max"] == tr["max"], k


def test_merge_partials_equals_batch(spark, stream_input, tmp_path):
    """Streaming exact-merge mode: per-batch partial events re-merge to
    the one-shot batch engine's events — exact on every field except
    the double sum (float addition is not associative across a
    different partial split; 1e-9 relative there)."""
    from emf_spark.streaming.merge import merge_partial_events

    out = str(tmp_path / "stream_out_m")
    q = sjob.run_microbatch(spark, stream_input, out, max_files_per_trigger=2)
    q.awaitTermination(300)
    partials = spark.read.parquet(f"{out}/events")
    # must actually be partial (several batches split some group)
    assert (
        partials.groupBy("sink", "window_start", "dim_hash")
        .count()
        .filter(F.col("count") > 1)
        .count()
        > 0
    ), "fixture produced no split groups; weaken maxFilesPerTrigger"
    merged = merge_partial_events(partials)

    batch_out = str(tmp_path / "batch_out_m")
    res = pipeline.run(spark, stream_input, batch_out, write_routed=False)
    batch = spark.read.parquet(f"{batch_out}/events")

    key = ["sink", "window_start", "dim_hash"]

    def flat(df):
        return df.select(
            *key, "timestamp", "records", "bytes_in", "dimensions",
            F.to_json("cw_metrics").alias("cwj"),
            F.explode_outer("metrics").alias("m"),
        ).select(
            *key, "timestamp", "records", "bytes_in", "cwj",
            F.to_json("dimensions").alias("dj"),
            F.col("m.metric_name").alias("mn"),
            F.to_json(F.struct("m.values", "m.counts")).alias("vc"),
            F.col("m.min").alias("mmin"), F.col("m.max").alias("mmax"),
            F.col("m.sum").alias("msum"), F.col("m.count").alias("mcount"),
        )

    a = {tuple(r[k] for k in key + ["mn"]): r for r in flat(merged).collect()}
    b = {tuple(r[k] for k in key + ["mn"]): r for r in flat(batch).collect()}
    assert set(a) == set(b)
    for k, ra in a.items():
        rb = b[k]
        for f in ("timestamp", "records", "bytes_in", "cwj", "dj", "vc",
                  "mmin", "mmax", "mcount"):
            assert ra[f] == rb[f], (k, f, ra[f], rb[f])
        if ra["msum"] is not None:
            assert abs(ra["msum"] - rb["msum"]) <= 1e-9 * max(
                1.0, abs(rb["msum"])
            ), (k, ra["msum"], rb["msum"])


def test_compact_events_idempotent(spark, stream_input, tmp_path):
    """compact_events writes the final merged table; re-merging the
    merged output is a no-op (associativity)."""
    from emf_spark.streaming.merge import compact_events, merge_partial_events

    out = str(tmp_path / "stream_out_c")
    q = sjob.run_microbatch(spark, stream_input, out, max_files_per_trigger=2)
    q.awaitTermination(300)
    path = compact_events(spark, out)
    final = spark.read.parquet(path)
    key = ["sink", "window_start", "dim_hash"]
    # exactly one event per group
    assert final.groupBy(*key).count().filter(F.col("count") > 1).count() == 0
    # idempotence: merging the merged events changes nothing
    again = merge_partial_events(final)
    a = {tuple(r[k] for k in key): r["event_json"] for r in final.collect()}
    b = {tuple(r[k] for k in key): r["event_json"] for r in again.collect()}
    assert a == b


def test_merge_partial_seh_branch_uses_raw_cardinality(spark):
    """Review-found bug: a partial that already SEH'd (raw n_distinct=3,
    one representative value) merged with another partial's single raw
    value used to re-decide the branch from the MERGED distinct count
    (2) and emit the raw value unbucketed. The branch must honor the
    max partial raw cardinality."""
    import math

    from emf_spark.streaming.merge import merge_partial_events

    L = math.log(1.1)
    rep24 = math.exp((24 + 0.5) * L)   # bucket of 10.0/10.1/10.2
    rep16 = math.exp((16 + 0.5) * L)   # bucket of 5.0
    cwm_t = ("array<struct<Namespace:string,Dimensions:array<array<string>>,"
             "Metrics:array<struct<Name:string,Unit:string>>>>")
    m_t = ("array<struct<metric_name:string,values:array<double>,"
           "counts:array<bigint>,min:double,max:double,sum:double,"
           "count:bigint,n_distinct:bigint>>")
    schema = (f"sink string, window_start bigint, dim_hash string, "
              f"dimensions map<string,string>, timestamp bigint, "
              f"records bigint, bytes_in bigint, cw_metrics {cwm_t}, "
              f"metrics {m_t}")
    rows = [
        # partial A: SEH'd (raw nd=3) -> one representative
        ("file", 0, "h", {"d": "1"}, 5, 3, 30, [],
         [("m", [rep24], [3], 10.0, 10.2, 30.3, 3, 3)]),
        # partial B: exact single raw value
        ("file", 0, "h", {"d": "1"}, 9, 1, 10, [],
         [("m", [5.0], [1], 5.0, 5.0, 5.0, 1, 1)]),
    ]
    merged = merge_partial_events(spark.createDataFrame(rows, schema)).collect()
    assert len(merged) == 1
    m = merged[0]["metrics"][0]
    # BOTH values bucketized (batch saw 4 raw distinct): no raw 5.0
    assert [round(v, 6) for v in m["values"]] == [round(rep16, 6), round(rep24, 6)]
    assert list(m["counts"]) == [1, 3]
    assert m["min"] == 5.0 and m["max"] == 10.2 and m["count"] == 4


def test_merge_partials_namespace_keyed(spark, stream_input, tmp_path):
    """Exact-merge parity also holds under the north-rule key
    (namespace, dim_hash, window): streaming partials re-merge to the
    batch engine's namespace-keyed events."""
    from emf_spark.streaming.merge import merge_partial_events

    out = str(tmp_path / "stream_out_ns")
    q = sjob.run_microbatch(
        spark, stream_input, out, key_by_namespace=True, max_files_per_trigger=2
    )
    q.awaitTermination(300)
    merged = merge_partial_events(
        spark.read.parquet(f"{out}/events"), key_by_namespace=True
    )
    batch_out = str(tmp_path / "batch_out_ns")
    pipeline.run(
        spark, stream_input, batch_out, write_routed=False, key_by_namespace=True
    )
    batch = spark.read.parquet(f"{batch_out}/events")
    key = ["sink", "window_start", "namespace", "dim_hash"]

    def flat(df):
        return df.select(
            *key, "records", F.to_json("cw_metrics").alias("cwj"),
            F.explode_outer("metrics").alias("m"),
        ).select(
            *key, "records", "cwj",
            F.col("m.metric_name").alias("mn"),
            F.to_json(F.struct("m.values", "m.counts")).alias("vc"),
            F.col("m.count").alias("mcount"),
        )

    a = {tuple(r[k] for k in key + ["mn"]): r for r in flat(merged).collect()}
    b = {tuple(r[k] for k in key + ["mn"]): r for r in flat(batch).collect()}
    assert set(a) == set(b) and len(a) > 0
    for k, ra in a.items():
        rb = b[k]
        for f in ("records", "cwj", "vc", "mcount"):
            assert ra[f] == rb[f], (k, f, ra[f], rb[f])


def test_microbatch_replay_is_idempotent(spark, stream_input, tmp_path):
    """Review finding: a replayed micro-batch (append succeeded,
    checkpoint commit didn't) used to append duplicate partial events.
    The per-batch dynamic partition overwrite makes re-running the same
    batch_id a no-op."""
    from emf_spark.streaming.job import _aggregate_batch

    out = str(tmp_path / "replay_out")
    batch = _staged(spark, stream_input)
    _aggregate_batch(batch, out, 7)
    n1 = spark.read.parquet(f"{out}/events").count()
    e1 = spark.read.parquet(f"{out}/errors").count()
    # replay the SAME batch id — counts must not change
    _aggregate_batch(batch, out, 7)
    assert spark.read.parquet(f"{out}/events").count() == n1
    assert spark.read.parquet(f"{out}/errors").count() == e1
    # a different batch id still appends (normal progress)
    _aggregate_batch(batch, out, 8)
    assert spark.read.parquet(f"{out}/events").count() == 2 * n1


def _staged(spark, input_dir):
    """A batch read of ``input_dir`` as the stream query stages it."""
    return pipeline.stage(
        spark.read.parquet(input_dir), fixtures.lookup_df(spark), 60_000
    )


def _persistent_rdd_ids(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _plan_nodes(plan) -> list[str]:
    """Node names of a physical plan's own tree (a cached relation's
    plan is not a child of its scan, so it is not listed)."""
    children = plan.children()
    names = [plan.nodeName()]
    for i in range(children.length()):
        names += _plan_nodes(children.apply(i))
    return names


def test_microbatch_releases_cached_parse(spark, stream_input, tmp_path):
    """Each micro-batch caches its parsed rows for its three readers and
    releases them before the next batch: a drained query leaves no
    persisted RDD behind."""
    spark.catalog.clearCache()
    before = _persistent_rdd_ids(spark)
    q = sjob.run_microbatch(spark, stream_input, str(tmp_path / "out"))
    assert q.awaitTermination(300)
    assert q.exception() is None
    assert _persistent_rdd_ids(spark) == before


def test_microbatch_events_read_cached_parse_and_release_on_failure(
    spark, stream_input, tmp_path, monkeypatch
):
    """The events write scans the cached parse instead of detokenizing
    and parsing again, and the cache is released even when that write
    raises (injected here, after the errors write filled the cache)."""
    from pyspark.sql.readwriter import DataFrameWriter

    real_parquet = DataFrameWriter.parquet
    calls, at_failure = [], {}
    errors_written = threading.Event()

    def failing_events_write(self, path, *args, **kwargs):
        if path.endswith("events"):
            # the legs run concurrently: fail only once the errors
            # write has filled the cache
            assert errors_written.wait(300)
            calls.append(path)
            at_failure["cached"] = _persistent_rdd_ids(spark) - before
            at_failure["nodes"] = _plan_nodes(self._df._jdf.queryExecution().sparkPlan())
            raise OSError("injected write failure")
        calls.append(path)
        try:
            return real_parquet(self, path, *args, **kwargs)
        finally:
            errors_written.set()

    spark.catalog.clearCache()
    before = _persistent_rdd_ids(spark)
    monkeypatch.setattr(DataFrameWriter, "parquet", failing_events_write)
    with pytest.raises(OSError, match="injected"):
        sjob._aggregate_batch(
            _staged(spark, stream_input), str(tmp_path / "out"), 0
        )
    assert len(calls) == 2 and calls[1].endswith("events")
    assert at_failure["cached"], "the parse was not cached when the write ran"
    nodes = at_failure["nodes"]
    assert "InMemoryTableScan" in nodes and "ArrowEvalPython" not in nodes, nodes
    assert _persistent_rdd_ids(spark) == before


@pytest.mark.parametrize("failing", ["errors", "events"])
def test_microbatch_leg_failure_waits_for_the_other_leg(
    spark, stream_input, tmp_path, monkeypatch, failing
):
    """The errors and events legs run concurrently: a failure in either
    is raised from the micro-batch only after the other leg finished,
    and the batch's cache is released."""
    from pyspark.sql.readwriter import DataFrameWriter

    real_parquet = DataFrameWriter.parquet
    finished = []

    def write(self, path, *args, **kwargs):
        if path.endswith(failing):
            raise OSError(f"injected {failing} failure")
        time.sleep(1)  # the other leg outlasts the failure
        out = real_parquet(self, path, *args, **kwargs)
        finished.append(path)
        return out

    spark.catalog.clearCache()
    before = _persistent_rdd_ids(spark)
    monkeypatch.setattr(DataFrameWriter, "parquet", write)
    out = str(tmp_path / "out")
    with pytest.raises(OSError, match=f"injected {failing}"):
        sjob._aggregate_batch(_staged(spark, stream_input), out, 0)
    other = "events" if failing == "errors" else "errors"
    assert finished == [f"{out}/{other}"]
    assert _persistent_rdd_ids(spark) == before


def test_microbatch_stages_once_per_query(spark, stream_input, tmp_path, monkeypatch):
    """The stage plan (detokenize, parse, enrich, window) is built once
    for the query, not once per micro-batch."""
    src = str(tmp_path / "in")
    spark.read.parquet(stream_input).repartition(3).write.parquet(src)
    real_stage, built = pipeline.stage, []

    def counting_stage(*args, **kwargs):
        built.append(1)
        return real_stage(*args, **kwargs)

    monkeypatch.setattr(pipeline, "stage", counting_stage)
    q = sjob.run_microbatch(
        spark, src, str(tmp_path / "out"), max_files_per_trigger=1
    )
    assert q.awaitTermination(300)
    assert q.exception() is None
    assert len([p for p in q.recentProgress if p["numInputRows"] > 0]) == 3
    assert len(built) == 1


def test_eventtime_counts_sliding(spark, stream_input, tmp_path):
    """Hopping-window streaming counts: every emitted (window, dim_hash)
    count matches the batch double-assignment (each event in exactly
    window/slide windows)."""
    # time-ordered input (range-partitioned files, pinned mtimes) so
    # the watermark closes windows without dropping late rows — same
    # setup as test_eventtime_counts
    import glob
    import os
    import time as _time

    ordered_in = str(tmp_path / "ordered_in_slide")
    (
        spark.read.parquet(stream_input)
        .repartitionByRange(6, F.col("doc_id"))
        .write.mode("overwrite")
        .parquet(ordered_in)
    )
    base = _time.time() - 600
    for i, f in enumerate(sorted(glob.glob(f"{ordered_in}/part-*"))):
        os.utime(f, (base + i, base + i))
    stream_input = ordered_in
    out = str(tmp_path / "ev_counts_slide")
    q = sjob.run_eventtime_counts(
        spark, stream_input, out, window="2 minutes", slide="1 minute",
        watermark="30 seconds",
    )
    q.awaitTermination(300)
    got = spark.read.parquet(f"{out}/counts")
    assert got.count() > 0
    # all emitted starts align to the SLIDE, not the window size —
    # and at least one start must NOT be window-size-aligned, or a
    # regression to tumbling 2-minute windows would pass this test
    # (review finding: tumbling counts also satisfy the bmap compare)
    starts = [r["window_start"] for r in got.select("window_start").distinct().collect()]
    assert all(s % 60_000 == 0 for s in starts)
    assert any(s % 120_000 != 0 for s in starts)
    res = pipeline.build_events(spark, spark.read.parquet(stream_input))
    batch = (
        res.parsed.select(
            "dim_hash",
            F.explode(
                F.array(
                    (F.floor(F.col("ts") / 60000) * 60000).cast("bigint"),
                    (F.floor(F.col("ts") / 60000) * 60000 - 60000).cast("bigint"),
                )
            ).alias("window_start"),
        )
        .filter(F.col("window_start").isin(starts))
        .groupBy("window_start", "dim_hash")
        .agg(F.count(F.lit(1)).alias("records"))
        .collect()
    )
    bmap = {(r["window_start"], r["dim_hash"]): r["records"] for r in batch}
    for r in got.collect():
        assert bmap[(r["window_start"], r["dim_hash"])] == r["records"], r


def test_eventtime_sessions_parity(spark, stream_input, tmp_path):
    """Watermarked streaming session windows (W-family, VERDICT r3
    item 7): every session the watermark closes must be IDENTICAL —
    same (start, end, records, metric_keys) — to the batch
    session_window over the same parsed input with the same gap."""
    import glob
    import os
    import time as _time

    ordered_in = str(tmp_path / "ordered_in_sess")
    (
        spark.read.parquet(stream_input)
        .repartitionByRange(6, F.col("doc_id"))
        .write.mode("overwrite")
        .parquet(ordered_in)
    )
    base = _time.time() - 600
    for i, f in enumerate(sorted(glob.glob(f"{ordered_in}/part-*"))):
        os.utime(f, (base + i, base + i))
    out = str(tmp_path / "ev_sessions")
    q = sjob.run_eventtime_sessions(
        spark, ordered_in, out, gap="2 seconds", watermark="5 seconds"
    )
    q.awaitTermination(300)
    got = spark.read.parquet(f"{out}/sessions").collect()
    # the gap is small vs. per-key event spacing, so sessions split and
    # the watermark closes some before the bounded input drains
    assert len(got) > 0
    # batch reference: identical session_window semantics over all rows
    res = pipeline.build_events(spark, spark.read.parquet(ordered_in))
    batch = (
        res.parsed.withColumn("event_time", F.timestamp_millis(F.col("ts")))
        .groupBy(F.session_window("event_time", "2 seconds").alias("sw"),
                 "dim_hash")
        .agg(F.count(F.lit(1)).alias("records"),
             F.sum(F.size(F.map_keys(F.col("metric_raw")))).alias("mv"))
        .select(F.unix_millis(F.col("sw.start")).alias("s"),
                F.unix_millis(F.col("sw.end")).alias("e"),
                "dim_hash", "records", "mv")
        .collect()
    )
    bmap = {(r["s"], r["dim_hash"]): (r["e"], r["records"], r["mv"])
            for r in batch}
    for r in got:
        key = (r["session_start"], r["dim_hash"])
        assert bmap[key] == (
            r["session_end"], r["records"], r["metric_keys"]
        ), r
    # no closed session emitted twice
    keys = [(r["session_start"], r["dim_hash"]) for r in got]
    assert len(keys) == len(set(keys))


def test_streaming_dedup_first_seen_once(spark, tmp_path):
    """Cross-micro-batch exact dedup: one emission per distinct
    normalized text over the stream's lifetime; duplicates arriving in
    LATER batches are swallowed by keyed state; checkpoint re-run is a
    no-op; a one-batch stream matches batch exact_dedup row-for-row."""
    from emf_spark.datax import dedup as bdedup
    from emf_spark.streaming import dedup as sdedup

    ind = str(tmp_path / "in")
    # three ordered files -> three micro-batches (maxFilesPerTrigger=1)
    batches = [
        [(1, "alpha beta"), (2, "Alpha  beta"), (3, "gamma")],   # 2 dup in-batch
        [(4, "alpha beta"), (5, "delta")],                        # dup of b0
        [(6, "GAMMA"), (7, "delta"), (8, "epsilon")],             # dups of b0/b1
    ]
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    def write_file(path, rows):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        ids, texts = zip(*rows)
        pq.write_table(
            pa.table({"doc_id": pa.array(ids, pa.int64()),
                      "text": pa.array(texts, pa.string())}),
            path,
        )

    for i, rows in enumerate(batches):
        write_file(f"{ind}/b{i}.parquet", rows)
        # the file source orders micro-batches by modification time;
        # sub-second writes can tie, so pin strictly increasing mtimes
        os.utime(f"{ind}/b{i}.parquet", (1_700_000_000 + i, 1_700_000_000 + i))
    out = str(tmp_path / "out")
    q = sdedup.run_streaming_dedup(spark, ind, out)
    q.awaitTermination(300)

    got = {
        r["keep_id"]: r
        for r in spark.read.parquet(f"{out}/unique").collect()
    }
    # distinct texts: 'alpha beta' (1), 'gamma' (3), 'delta' (5),
    # 'epsilon' (8) -- first-seen batch's min id wins
    assert set(got) == {1, 3, 5, 8}
    assert got[1]["batch_dups"] == 2  # ids 1+2 in the first batch
    assert len({r["content_hash"] for r in got.values()}) == 4

    # checkpoint resume with no new files: zero new rows
    n_before = spark.read.parquet(f"{out}/unique").count()
    q2 = sdedup.run_streaming_dedup(spark, ind, out)
    q2.awaitTermination(300)
    assert spark.read.parquet(f"{out}/unique").count() == n_before

    # one-batch parity vs the batch operator (hash + min-id tiebreak),
    # including a text whose only id is null (keep_id null, no crash)
    allrows = [r for b in batches for r in b] + [(None, "zeta")]
    bdf = spark.createDataFrame(allrows, "doc_id bigint, text string")
    batch = {
        (r["content_hash"], r["keep_id"])
        for r in bdedup.exact_dedup(bdf).collect()
    }
    one_in = str(tmp_path / "in1")
    write_file(f"{one_in}/all.parquet", allrows)
    one_out = str(tmp_path / "out1")
    q3 = sdedup.run_streaming_dedup(
        spark, one_in, one_out, max_files_per_trigger=10
    )
    q3.awaitTermination(300)
    stream1 = {
        (r["content_hash"], r["keep_id"])
        for r in spark.read.parquet(f"{one_out}/unique").collect()
    }
    assert stream1 == batch


def test_streaming_counter_increase_parity(spark, tmp_path):
    """Cross-micro-batch counter accumulation: after three event-time-
    ordered micro-batches, each series' max-batch_seq row equals the
    batch counter_increase over the full input (resets included);
    checkpoint re-run emits nothing new."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from emf_spark.datax.timeseries import counter_increase
    from emf_spark.streaming.counters import streaming_counter_increase

    base = 1_700_000_000_000_000  # micros
    rows = []
    for i in range(30):
        # user 0: rising then reset at i=20; user 1: sawtooth resets
        u = i % 2
        v = (i * 7) % 40 + 1.25 if u else (i if i < 20 else i - 20) + 0.50
        rows.append((i, u, base + i * 60_000_000, float(v)))
    batches = [rows[:10], rows[10:20], rows[20:]]

    ind = str(tmp_path / "in")
    os.makedirs(ind, exist_ok=True)
    for i, b in enumerate(batches):
        ids, us, tss, vs = zip(*b)
        pq.write_table(
            pa.table({
                "event_id": pa.array(ids, pa.int64()),
                "user_id": pa.array(us, pa.int64()),
                "ts": pa.array(list(tss), pa.timestamp("us")),
                "value": pa.array(vs, pa.float64()),
            }),
            f"{ind}/b{i}.parquet",
        )
        os.utime(f"{ind}/b{i}.parquet", (1_700_000_000 + i,) * 2)

    stream = (
        spark.readStream.schema(
            "event_id bigint, user_id bigint, ts timestamp, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(ind)
    )
    out = str(tmp_path / "out")
    q = (
        streaming_counter_increase(
            stream, ["user_id"], "ts", "value", "event_id"
        )
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    emitted = spark.read.parquet(out).collect()
    assert len(emitted) == 6  # 2 series x 3 batches
    final = {}
    for r in emitted:
        cur = final.get(r["user_id"])
        if cur is None or r["batch_seq"] > cur["batch_seq"]:
            final[r["user_id"]] = r

    bdf = spark.createDataFrame(
        [(i, u, __import__("datetime").datetime.utcfromtimestamp(t / 1e6), v)
         for i, u, t, v in rows],
        "event_id bigint, user_id bigint, ts timestamp, value double",
    )
    want = {r["user_id"]: r for r in
            counter_increase(bdf, ["user_id"], "ts", "value",
                             "event_id").collect()}
    for u in (0, 1):
        for c in ("samples", "resets", "increase_units", "last_units"):
            assert final[u][c] == want[u][c], (u, c)

    # checkpoint resume, no new files: no new rows
    n = spark.read.parquet(out).count()
    q2 = (
        streaming_counter_increase(
            stream, ["user_id"], "ts", "value", "event_id"
        )
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(300)
    assert spark.read.parquet(out).count() == n


def test_streaming_cdc_merge_matches_batch_and_resumes(spark, tmp_path):
    """streaming/cdc.py: two mtime-ordered feed files fold into the
    versioned snapshot one micro-batch at a time; the final snapshot
    equals the one-shot batch apply_changes over the concatenated feed
    (seqs arrival-consistent), versions v0..v2 exist, and a checkpoint
    resume with no new files writes nothing."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from emf_spark.datax.diff import apply_changes
    from emf_spark.streaming import cdc

    base = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)],
        "id bigint, name string, v bigint",
    )
    snap = str(tmp_path / "snap")
    feed_dir = str(tmp_path / "feed")
    ck = str(tmp_path / "ck")
    cdc.init_snapshot(base, snap)

    batches = [
        [(2, 1, "U", "b1", 21), (4, 1, "I", "d", 40)],
        [(1, 2, "D", None, None), (4, 2, "U", "d2", 41)],
    ]

    def write_file(path, rows):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        ids, seqs, ops, names, vs = zip(*rows)
        pq.write_table(
            pa.table({
                "id": pa.array(ids, pa.int64()),
                "seq": pa.array(seqs, pa.int32()),
                "op": pa.array(ops, pa.string()),
                "name": pa.array(names, pa.string()),
                "v": pa.array(vs, pa.int64()),
            }),
            path,
        )

    for i, rows in enumerate(batches):
        p = f"{feed_dir}/f{i}.parquet"
        write_file(p, rows)
        os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))

    q = cdc.run_cdc_merge(
        spark, feed_dir, snap, ck, ["id"], "seq", max_files_per_trigger=1
    )
    q.awaitTermination(300)

    assert cdc._versions(spark, snap) == [0, 1, 2]
    got = {r["id"]: (r["name"], r["v"])
           for r in cdc.current_snapshot(spark, snap).collect()}
    assert got == {2: ("b1", 21), 3: ("c", 30), 4: ("d2", 41)}

    # parity with the one-shot batch merge over the concatenated feed
    feed_all = spark.createDataFrame(
        [r for b in batches for r in b],
        "id bigint, seq int, op string, name string, v bigint",
    )
    ref = {r["id"]: (r["name"], r["v"])
           for r in apply_changes(base, feed_all, ["id"], "seq").collect()}
    assert got == ref

    # checkpoint resume with no new files: no new version
    q2 = cdc.run_cdc_merge(
        spark, feed_dir, snap, ck, ["id"], "seq", max_files_per_trigger=1
    )
    q2.awaitTermination(300)
    assert cdc._versions(spark, snap) == [0, 1, 2]

    # bootstrap guard
    import pytest as _pytest

    with _pytest.raises(ValueError, match="bootstrap"):
        cdc.run_cdc_merge(
            spark, feed_dir, str(tmp_path / "nosnap"), ck, ["id"], "seq"
        )


def test_streaming_scd2_matches_sequential_batch(spark, tmp_path):
    """streaming/scd2.py run_scd2_stream: two landed snapshot files fold
    into the versioned history one micro-batch at a time; the final
    history equals applying batch scd2_apply sequentially at versions
    1, 2; replay-safety comes from versioned reads (<= batch_id)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from emf_spark.datax.diff import scd2_apply
    from emf_spark.streaming import scd2

    hist0 = spark.createDataFrame(
        [(1, "a", 0, None), (2, "b", 0, None)],
        "id bigint, name string, valid_from bigint, valid_to bigint",
    )
    hdir, feed, ck = (str(tmp_path / d) for d in ("hist", "feed", "ck"))
    scd2.init_history(hist0, hdir)

    snaps = [
        [(1, "a"), (2, "B"), (3, "c")],     # 2 changed, 3 added
        [(2, "B"), (3, "c2")],              # 1 deleted, 3 changed
    ]
    for i, rows in enumerate(snaps):
        os.makedirs(feed, exist_ok=True)
        ids, names = zip(*rows)
        p = f"{feed}/s{i}.parquet"
        pq.write_table(
            pa.table({"id": pa.array(ids, pa.int64()),
                      "name": pa.array(names, pa.string())}), p)
        os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))

    q = scd2.run_scd2_stream(spark, feed, hdir, ck, ["id"])
    q.awaitTermination(300)

    from emf_spark.streaming.cdc import _versions

    assert _versions(spark, hdir) == [0, 1, 2]
    got = sorted(map(tuple, scd2.current_history(spark, hdir)
                     .select("id", "name", "valid_from", "valid_to")
                     .collect()))
    ref = hist0
    for i, rows in enumerate(snaps):
        snap_df = spark.createDataFrame(rows, "id bigint, name string")
        ref = scd2_apply(ref, snap_df, ["id"], version=i + 1)
    want = sorted(map(tuple, ref.select(
        "id", "name", "valid_from", "valid_to").collect()))
    assert got == want
    # spot semantics: key 1 closed at v2, key 3 has two rows
    assert (1, "a", 0, 2) in got
    assert [(t[1], t[2], t[3]) for t in got if t[0] == 3] == \
        [("c", 1, 2), ("c2", 2, None)]

    # missing bootstrap raises
    import pytest as _pytest

    with _pytest.raises(ValueError, match="bootstrap"):
        scd2.run_scd2_stream(
            spark, feed, str(tmp_path / "nohist"), ck, ["id"]
        )


def test_streaming_snapshot_diff_publishes_per_batch_deltas(spark, tmp_path):
    """streaming/scd2.py run_snapshot_diff_stream: each landed snapshot
    publishes its delta vs the predecessor, batch_id-partitioned; the
    deltas equal batch snapshot_diff over consecutive snapshots."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from emf_spark.datax.diff import snapshot_diff
    from emf_spark.streaming import scd2

    s0 = spark.createDataFrame(
        [(1, "a"), (2, "b")], "id bigint, name string")
    store, feed, delta, ck = (
        str(tmp_path / d) for d in ("store", "feed", "delta", "ck"))
    scd2.init_prev_snapshot(s0, store)

    snaps = [
        [(1, "a"), (2, "B"), (3, "c")],
        [(2, "B"), (3, "c2")],
    ]
    for i, rows in enumerate(snaps):
        os.makedirs(feed, exist_ok=True)
        ids, names = zip(*rows)
        p = f"{feed}/s{i}.parquet"
        pq.write_table(
            pa.table({"id": pa.array(ids, pa.int64()),
                      "name": pa.array(names, pa.string())}), p)
        os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))

    q = scd2.run_snapshot_diff_stream(
        spark, feed, store, delta, ck, ["id"])
    q.awaitTermination(300)

    got = spark.read.parquet(delta)
    by_batch = {
        b: sorted((r["id"], r["status"])
                  for r in got.filter(F.col("batch_id") == b).collect())
        for b in (0, 1)
    }
    frames = [s0] + [
        spark.createDataFrame(rows, "id bigint, name string")
        for rows in snaps
    ]
    for b in (0, 1):
        want = sorted(
            (r["id"], r["status"])
            for r in snapshot_diff(frames[b], frames[b + 1], ["id"]).collect()
        )
        assert by_batch[b] == want
    assert by_batch[0] == [(2, "changed"), (3, "added")]
    assert by_batch[1] == [(1, "removed"), (3, "changed")]
    # the store's head equals the last snapshot (next batch's baseline)
    from emf_spark.streaming.cdc import _versions

    assert _versions(spark, store) == [0, 1, 2]


def test_streaming_rate_limit_matches_batch_and_drops_stragglers(spark, tmp_path):
    """streaming/ratelimit.py: mtime-ordered micro-batches throttle
    identically to the batch operator on ordered input; an event for a
    window below the retained horizon is dropped (kept=0), never
    re-admitted."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from emf_spark.datax.timeseries import rate_limit
    from emf_spark.streaming.ratelimit import streaming_rate_limit

    T0 = 1_700_000_000  # window-aligned epoch seconds
    batches = [
        # b0: user u floods window 0 (4 events, max 2), user v quiet
        [("u", T0 + 1, 1), ("u", T0 + 2, 2), ("u", T0 + 3, 3),
         ("u", T0 + 4, 4), ("v", T0 + 5, 20)],
        # b1: u again in window 0 (still throttled) and window 1 (reset)
        [("u", T0 + 6, 5), ("u", T0 + 3600, 6), ("u", T0 + 3601, 7)],
    ]
    ind = str(tmp_path / "rl_in")
    for i, rows in enumerate(batches):
        os.makedirs(ind, exist_ok=True)
        ks, ts, ids = zip(*rows)
        pq.write_table(
            pa.table({
                "user": pa.array(ks, pa.string()),
                "ts": pa.array(
                    [t * 1_000_000 for t in ts], pa.timestamp("us")),
                "event_id": pa.array(ids, pa.int64()),
            }),
            f"{ind}/b{i}.parquet",
        )
        os.utime(f"{ind}/b{i}.parquet", (T0 + i, T0 + i))

    schema = spark.read.parquet(ind).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(ind)
    )
    out = str(tmp_path / "rl_out")
    q = (
        streaming_rate_limit(stream, ["user"], "ts", "event_id", 2, 3600)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", out + "_ck")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {r["event_id"]: r["kept"]
           for r in spark.read.parquet(out).collect()}

    ref = {r["event_id"]: r["kept"] for r in rate_limit(
        spark.read.parquet(ind), ["user"], "ts", "event_id", 2, 3600
    ).collect()}
    assert got == ref  # ordered arrival => stream == batch
    assert got[1] == 1 and got[2] == 1 and got[3] == 0 and got[4] == 0
    assert got[5] == 0        # window 0 still throttled across batches
    assert got[6] == 1 and got[7] == 1  # fresh window resets

    # straggler below the horizon: tiny keep_windows, late window event
    from datetime import datetime, timezone

    late = spark.createDataFrame(
        [("u", datetime.fromtimestamp(T0 + 7200, tz=timezone.utc), 30),
         ("u", datetime.fromtimestamp(T0 + 10800, tz=timezone.utc), 31),
         ("u", datetime.fromtimestamp(T0, tz=timezone.utc), 32)],
        "user string, ts timestamp, event_id bigint",
    )
    from emf_spark.streaming.ratelimit import _throttle_fn
    import pandas as pd

    fn = _throttle_fn(2, 1, ["user"], "event_id")

    class FakeState:
        exists = False
        def update(self, v):
            self.v = v
            self.exists = True
        @property
        def get(self):
            return self.v

    st = FakeState()
    b1 = pd.DataFrame({
        "_ts": [T0 + 7200, T0 + 10800],  # seconds, the operator's unit
        "_tie": [30, 31],
        "_w": [T0 + 7200, T0 + 10800],
    })
    res1 = next(fn(("u",), iter([b1]), st))
    kept = dict(zip(res1["event_id"], res1["kept"]))
    assert kept[30] == 1 and kept[31] == 1
    # keep_windows=1: only T0+10800 is retained now; a LATER batch
    # carrying a window below that horizon is dropped, not re-admitted
    b2 = pd.DataFrame({"_ts": [T0], "_tie": [32], "_w": [T0]})
    res2 = next(fn(("u",), iter([b2]), st))
    assert dict(zip(res2["event_id"], res2["kept"]))[32] == 0


def test_streaming_rate_limit_subsecond_matches_batch(spark, tmp_path):
    """ADVICE r4 (medium): the batch operator ranks by SECOND-truncated
    ts then tiebreak; the stream must use the same ordering key — with
    sub-second timestamps whose micros order contradicts the tiebreak
    order, a micros-ordered stream keeps the WRONG event."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from emf_spark.datax.timeseries import rate_limit
    from emf_spark.streaming.ratelimit import streaming_rate_limit

    T0 = 1_700_000_000
    # same second, micros DESC vs tiebreak ASC: batch keeps id 1
    rows_us = [(T0 * 10**6 + 900_000, 1), (T0 * 10**6 + 100_000, 2),
               (T0 * 10**6 + 500_000, 3)]
    ind = str(tmp_path / "rl_sub_in")
    os.makedirs(ind, exist_ok=True)
    pq.write_table(
        pa.table({
            "user": pa.array(["u"] * 3, pa.string()),
            "ts": pa.array([t for t, _ in rows_us], pa.timestamp("us")),
            "event_id": pa.array([i for _, i in rows_us], pa.int64()),
        }),
        f"{ind}/b0.parquet",
    )
    schema = spark.read.parquet(ind).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(ind)
    )
    out = str(tmp_path / "rl_sub_out")
    q = (
        streaming_rate_limit(stream, ["user"], "ts", "event_id", 1, 3600)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", out + "_ck")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {r["event_id"]: r["kept"]
           for r in spark.read.parquet(out).collect()}
    ref = {r["event_id"]: r["kept"] for r in rate_limit(
        spark.read.parquet(ind), ["user"], "ts", "event_id", 1, 3600
    ).collect()}
    assert got == ref == {1: 1, 2: 0, 3: 0}


def test_streaming_quality_gate_monitors_and_fails(spark, tmp_path):
    """streaming/quality.py: verdict rows per (constraint, batch);
    fail_on_violation kills the stream AFTER the evidence is written."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest
    from pyspark.sql.streaming import StreamingQueryException

    from emf_spark.streaming.quality import run_quality_monitor

    ind = str(tmp_path / "qin")
    os.makedirs(ind)
    good = [(1, 10.0), (2, 20.0), (3, 30.0)]
    bad = [(4, 40.0), (4, 999.0)]  # dup id + out-of-range value
    for i, rows in enumerate([good, bad]):
        ids, vs = zip(*rows)
        pq.write_table(
            pa.table({"id": pa.array(ids, pa.int64()),
                      "v": pa.array(vs, pa.float64())}),
            f"{ind}/b{i}.parquet",
        )
        os.utime(f"{ind}/b{i}.parquet", (1_700_000_000 + i,) * 2)
    cons = [("unique", "id"), ("range", "v", 0, 100)]

    # monitor mode: both batches' verdicts recorded, stream survives
    out1 = str(tmp_path / "mon")
    q = run_quality_monitor(spark, ind, out1, cons,
                            max_files_per_trigger=1)
    q.awaitTermination(300)
    v = spark.read.parquet(f"{out1}/verdicts")
    rows = {(r["batch_id"], r["check"]): r["passed"] for r in v.collect()}
    assert rows[(0, "unique")] and rows[(0, "range")]
    assert not rows[(1, "unique")] and not rows[(1, "range")]

    # gate mode: stream dies on the bad batch, evidence already on disk
    out2 = str(tmp_path / "gate")
    q2 = run_quality_monitor(spark, ind, out2, cons,
                             fail_on_violation=True,
                             max_files_per_trigger=1)
    with pytest.raises(StreamingQueryException, match="quality gate failed"):
        q2.awaitTermination(300)
    v2 = spark.read.parquet(f"{out2}/verdicts")
    assert v2.filter("batch_id = 1 AND NOT passed").count() == 2


def test_streaming_heavy_hitters_exact_when_capacity_suffices(spark, tmp_path):
    """Space-Saving with capacity >= per-shard distinct keys IS the
    exact count table: after two micro-batches, each shard's latest
    emission equals the batch groupBy count over the full input, with
    err = 0 everywhere; checkpoint resume with no new files emits
    nothing."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from emf_spark.streaming.heavy import streaming_heavy_hitters

    keys = [f"k{i % 7}" for i in range(40)] + ["k0"] * 10
    batches = [keys[:25], keys[25:]]
    ind = str(tmp_path / "in")
    os.makedirs(ind, exist_ok=True)
    for i, b in enumerate(batches):
        pq.write_table(pa.table({"key": pa.array(b, pa.string())}),
                       f"{ind}/b{i}.parquet")
        os.utime(f"{ind}/b{i}.parquet", (1_700_000_000 + i,) * 2)

    stream = (
        spark.readStream.schema("key string")
        .option("maxFilesPerTrigger", 1)
        .parquet(ind)
    )
    out = str(tmp_path / "out")
    q = (
        streaming_heavy_hitters(stream, "key", n_shards=4, capacity=16,
                                emit_top=16)
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    emitted = spark.read.parquet(out).collect()
    latest_seq = {}
    for r in emitted:
        latest_seq[r["shard"]] = max(latest_seq.get(r["shard"], 0),
                                     r["batch_seq"])
    final = {
        r["key"]: (r["est"], r["err"])
        for r in emitted
        if r["batch_seq"] == latest_seq[r["shard"]]
    }
    from collections import Counter

    true = Counter(keys)
    assert final == {k: (c, 0) for k, c in true.items()}

    n = spark.read.parquet(out).count()
    q2 = (
        streaming_heavy_hitters(stream, "key", n_shards=4, capacity=16,
                                emit_top=16)
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(300)
    assert spark.read.parquet(out).count() == n


def test_streaming_heavy_hitters_bounds_under_eviction(spark, tmp_path):
    """Over-capacity shards keep the Space-Saving guarantees: at most
    `capacity` entries survive per shard, every surviving estimate
    satisfies est - err <= true <= est, and the stream's genuinely
    heavy key is present with its exact count (it was never evicted)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from emf_spark.streaming.heavy import streaming_heavy_hitters

    # one shard (n_shards=1) so eviction pressure is guaranteed:
    # 12 distinct keys into capacity 4; "hot" dominates
    keys = (["hot"] * 30
            + [f"c{i}" for i in range(11) for _ in range(2)])
    ind = str(tmp_path / "in")
    os.makedirs(ind, exist_ok=True)
    pq.write_table(pa.table({"key": pa.array(keys, pa.string())}),
                   f"{ind}/b0.parquet")

    stream = (
        spark.readStream.schema("key string")
        .option("maxFilesPerTrigger", 1)
        .parquet(ind)
    )
    out = str(tmp_path / "out")
    q = (
        streaming_heavy_hitters(stream, "key", n_shards=1, capacity=4,
                                emit_top=4)
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    from collections import Counter

    true = Counter(keys)
    rows = spark.read.parquet(out).collect()
    assert 0 < len(rows) <= 4
    assert {r["key"] for r in rows} >= {"hot"}
    for r in rows:
        t = true[r["key"]]
        assert r["est"] >= t, r
        assert r["est"] - r["err"] <= t, r
    hot = next(r for r in rows if r["key"] == "hot")
    assert (hot["est"], hot["err"]) == (30, 0)


def test_streaming_template_mining_matches_batch(spark, tmp_path):
    """Cross-micro-batch template consensus: after two micro-batches,
    folding each branch's max-batch_seq row by template equals the
    batch mine_templates over the full input — including a position
    that is constant within batch 1 but wildcarded only once batch 2
    disagrees; checkpoint re-run emits nothing new."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from emf_spark.operators.templates import mine_templates
    from emf_spark.streaming.templates import streaming_mine_templates

    b0 = [
        "INFO user u1 logged in",
        "INFO user u2 logged in",          # pos 4 'in' constant so far
        "WARN disk sda1 nearly full",
        "ERROR code 500 on /api/x1",
    ]
    b1 = [
        "INFO user u3 logged out",         # now pos 4 must wildcard
        "WARN disk sdb2 nearly full",
        "ERROR code 404 on /api/y2",
        "restart",
    ]
    ind = str(tmp_path / "in")
    os.makedirs(ind, exist_ok=True)
    for i, b in enumerate((b0, b1)):
        pq.write_table(
            pa.table({"line": pa.array(b, pa.string())}),
            f"{ind}/b{i}.parquet",
        )
        os.utime(f"{ind}/b{i}.parquet", (1_700_000_000 + i,) * 2)

    stream = (
        spark.readStream.schema("line string")
        .option("maxFilesPerTrigger", 1)
        .parquet(ind)
    )
    out = str(tmp_path / "out")

    def run():
        q = (
            streaming_mine_templates(stream)
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    run()
    emitted = spark.read.parquet(out).collect()
    # batch-1 snapshot: the INFO branch's pos-4 is still the literal
    mid = [r for r in emitted
           if r["head"] == "INFO" and r["batch_seq"] == 1]
    assert mid and mid[0]["template"] == "INFO user <*> logged in"

    final = {}
    for r in emitted:
        k = (r["n"], r["head"])
        if k not in final or r["batch_seq"] > final[k]["batch_seq"]:
            final[k] = r
    got = {}
    for r in final.values():
        c, g = got.get(r["template"], (0, 0))
        got[r["template"]] = (c + r["n_lines"], g + 1)

    bdf = spark.createDataFrame([(l,) for l in b0 + b1], ["line"])
    want = {
        r["template"]: (r["n_lines"], r["n_groups"])
        for r in mine_templates(bdf).collect()
    }
    assert got == want
    assert got["INFO user <*> logged <*>"] == (3, 1)

    n = spark.read.parquet(out).count()
    run()
    assert spark.read.parquet(out).count() == n


def test_streaming_hll_matches_batch_bit_for_bit(spark, tmp_path):
    """Cross-micro-batch HLL register fold: after two micro-batches
    (values deliberately split out of order and overlapping), each
    group's max-batch_seq row equals batch hll_distinct over the full
    input bit-for-bit on hll_sum_scaled/hll_zero_regs/hll_raw, and
    within 1e-9 on hll_estimate's ln branch; checkpoint re-run emits
    nothing new."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from emf_spark.datax.sketches import hll_distinct
    from emf_spark.streaming.sketches import streaming_hll_distinct

    rows = [("g1", f"u{i % 37}") for i in range(100)] + [
        ("g2", f"v{i}") for i in range(250)
    ]
    # out-of-order, overlapping split: batch parity must not depend on it
    b0, b1 = rows[1::2], rows[0::2]

    ind = str(tmp_path / "in")
    os.makedirs(ind, exist_ok=True)
    for i, b in enumerate((b0, b1)):
        g, v = zip(*b)
        pq.write_table(
            pa.table({"grp": pa.array(g), "val": pa.array(v)}),
            f"{ind}/b{i}.parquet",
        )
        os.utime(f"{ind}/b{i}.parquet", (1_700_000_000 + i,) * 2)

    stream = (
        spark.readStream.schema("grp string, val string")
        .option("maxFilesPerTrigger", 1)
        .parquet(ind)
    )
    out = str(tmp_path / "out")

    def run():
        q = (
            streaming_hll_distinct(stream, "val", ["grp"])
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    run()
    emitted = spark.read.parquet(out).collect()
    assert len(emitted) == 4  # 2 groups x 2 batches
    final = {}
    for r in emitted:
        if r["grp"] not in final or r["batch_seq"] > final[r["grp"]]["batch_seq"]:
            final[r["grp"]] = r

    bdf = spark.createDataFrame(rows, "grp string, val string")
    want = {r["grp"]: r for r in
            hll_distinct(bdf, "val", ["grp"]).collect()}
    for g in ("g1", "g2"):
        for c in ("hll_sum_scaled", "hll_zero_regs", "hll_raw"):
            assert final[g][c] == want[g][c], (g, c)
        assert abs(final[g]["hll_estimate"] - want[g]["hll_estimate"]) < 1e-9
    # sanity: estimates near true cardinalities (37 and 250)
    assert 25 < final["g1"]["hll_estimate"] < 50
    assert 200 < final["g2"]["hll_estimate"] < 310

    n = spark.read.parquet(out).count()
    run()
    assert spark.read.parquet(out).count() == n


def test_streaming_drift_monitor_matches_batch(spark, tmp_path):
    """Versioned drift monitor: after two micro-batches the latest
    drift partition is row-identical to batch distribution_drift
    (reference, everything ingested) — including a category the stream
    introduces that the reference never saw; checkpoint re-run writes
    no new versions."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from emf_spark.datax.quality import distribution_drift
    from emf_spark.streaming.drift import (
        current_drift,
        init_reference,
        run_drift_monitor,
    )

    ref_rows = ["a"] * 6 + ["b"] * 3 + ["gone"]
    b0 = ["a"] * 2 + ["b"] * 2
    b1 = ["a"] * 1 + ["b"] * 4 + ["new"]

    ref = spark.createDataFrame([(c,) for c in ref_rows], ["c"])
    store = str(tmp_path / "store")
    init_reference(ref, "c", store)

    ind = str(tmp_path / "in")
    os.makedirs(ind, exist_ok=True)
    for i, b in enumerate((b0, b1)):
        pq.write_table(pa.table({"c": pa.array(b)}), f"{ind}/b{i}.parquet")
        os.utime(f"{ind}/b{i}.parquet", (1_700_000_000 + i,) * 2)

    drift_dir = str(tmp_path / "drift")

    def run():
        q = run_drift_monitor(
            spark, ind, store, drift_dir, str(tmp_path / "ckpt"), "c",
            max_files_per_trigger=1,
        )
        q.awaitTermination(300)

    run()
    got = sorted(
        tuple(r) for r in current_drift(spark, store, drift_dir).collect()
    )
    want = sorted(
        tuple(r)
        for r in distribution_drift(
            ref, spark.createDataFrame([(c,) for c in b0 + b1], ["c"]), "c"
        ).collect()
    )
    assert got == want
    # the stream-only category is present with n_ref = 0
    assert any(r[0] == "new" and r[1] == 0 for r in got)
    # mid-stream snapshot exists: batch 0's verdict vs ref only
    mid = spark.read.parquet(f"{drift_dir}/batch_id=0").collect()
    assert {r["category"] for r in mid} == {"a", "b", "gone"}

    from emf_spark.streaming.cdc import _versions
    n_versions = len(_versions(spark, f"{store}/cum"))
    run()
    assert len(_versions(spark, f"{store}/cum")) == n_versions


def test_streaming_cusum_matches_batch_and_resumes(spark, tmp_path):
    """streaming/cusum.py: two event-time-ordered micro-batches of a
    drifting two-series stream; the concatenated per-sample emissions
    are row-identical to the batch timeseries.cusum over the full
    input (closed form on both sides, O(1) state carrying it across
    the batch boundary); checkpoint re-run emits nothing."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from emf_spark.datax.timeseries import cusum
    from emf_spark.streaming.cusum import streaming_cusum

    base = 1_700_000_000_000_000  # micros
    rows = []
    for i in range(40):
        u = i % 2
        # series 0 drifts +30 after i>=20; series 1 drifts -30; one NULL
        v = None if i == 7 else (
            100.0 + (30.0 if u == 0 and i >= 20 else 0.0)
            - (30.0 if u == 1 and i >= 20 else 0.0) + (i % 3) * 0.5)
        rows.append((i, u, base + i * 60_000_000, v))
    batches = [rows[:20], rows[20:]]

    ind = str(tmp_path / "in")
    os.makedirs(ind, exist_ok=True)
    for i, b in enumerate(batches):
        ids, us, tss, vs = zip(*b)
        pq.write_table(
            pa.table({
                "event_id": pa.array(ids, pa.int64()),
                "user_id": pa.array(us, pa.int64()),
                "ts": pa.array(list(tss), pa.timestamp("us")),
                "value": pa.array(vs, pa.float64()),
            }),
            f"{ind}/b{i}.parquet",
        )
        os.utime(f"{ind}/b{i}.parquet", (1_700_000_000 + i,) * 2)

    stream = (
        spark.readStream.schema(
            "event_id bigint, user_id bigint, ts timestamp, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(ind)
    )
    out = str(tmp_path / "out")
    args = dict(target_cents=10000, slack_cents=100, threshold_cents=20000)
    q = (
        streaming_cusum(stream, ["user_id"], "ts", "value", "event_id", **args)
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    got = {
        (r["user_id"], r["tiebreak"]): (
            r["cusum_hi_cents"], r["cusum_lo_cents"],
            r["alarm_hi"], r["alarm_lo"])
        for r in spark.read.parquet(out).collect()
    }
    assert len(got) == 39  # 40 rows minus the NULL sample

    bdf = spark.createDataFrame(
        [(i, u, __import__("datetime").datetime.utcfromtimestamp(t / 1e6), v)
         for i, u, t, v in rows],
        "event_id bigint, user_id bigint, ts timestamp, value double",
    )
    want = {
        (r["user_id"], r["event_id"]): (
            r["cusum_hi_cents"], r["cusum_lo_cents"],
            r["alarm_hi"], r["alarm_lo"])
        for r in cusum(bdf, ["user_id"], "ts", "value", "event_id",
                       **args).collect()
    }
    assert got == want
    # the drift actually alarmed on both sides of the batch boundary
    assert any(v[2] for k, v in got.items() if k[0] == 0)
    assert any(v[3] for k, v in got.items() if k[0] == 1)

    n = spark.read.parquet(out).count()
    q2 = (
        streaming_cusum(stream, ["user_id"], "ts", "value", "event_id", **args)
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(300)
    assert spark.read.parquet(out).count() == n
