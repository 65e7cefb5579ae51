"""Structured Streaming front-end: micro-batch foreachBatch aggregation
(the reference's ticker semantics) and the exact re-merge of its
partial events."""

from __future__ import annotations

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
    res = pipeline.run(spark, stream_input, batch_out)
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
    res = pipeline.run(spark, stream_input, batch_out)
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
    pipeline.run(spark, stream_input, batch_out, key_by_namespace=True)
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


def test_microbatch_releases_cached_parse(spark, stream_input, tmp_path):
    """Each micro-batch checkpoints its staged rows to parquet and
    persists nothing: a drained query leaves no persisted RDD behind."""
    spark.catalog.clearCache()
    before = _persistent_rdd_ids(spark)
    q = sjob.run_microbatch(spark, stream_input, str(tmp_path / "out"))
    assert q.awaitTermination(300)
    assert q.exception() is None
    assert _persistent_rdd_ids(spark) == before


def test_microbatch_legs_read_the_staged_checkpoint(spark, stream_input, tmp_path):
    """The micro-batch's errors and events writes scan its parquet
    checkpoint (``out/staged``) instead of detokenizing and parsing
    again: neither execution runs the detokenize UDF."""
    from tests.test_plans import _executions_of, _group_jobs, _job_group

    out = str(tmp_path / "out")
    with _job_group(spark, tmp_path.name):
        sjob._aggregate_batch(_staged(spark, stream_input), out, 0)
    plans = {
        ex.description(): ex.physicalPlanDescription()
        for ex in _executions_of(spark, _group_jobs(spark, tmp_path.name))
    }
    assert {"staged", "errors", "events"} <= set(plans), sorted(plans)
    for leg in ("errors", "events"):
        assert f"{out}/staged]" in plans[leg], plans[leg]
        assert "ArrowEvalPython" not in plans[leg], plans[leg]


@pytest.mark.parametrize("failing", ["errors", "events"])
def test_microbatch_leg_failure_waits_for_the_other_leg(
    spark, stream_input, tmp_path, monkeypatch, failing
):
    """The errors and events legs run concurrently: a failure in either
    is raised from the micro-batch only after the other leg finished,
    and the batch leaves no persisted RDD."""
    from pyspark.sql.readwriter import DataFrameWriter

    real_parquet = DataFrameWriter.parquet
    finished = []

    def write(self, path, *args, **kwargs):
        if path.endswith("staged"):  # the checkpoint both legs read
            return real_parquet(self, path, *args, **kwargs)
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
