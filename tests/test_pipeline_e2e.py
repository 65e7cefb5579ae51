"""End-to-end parity: full pipeline over the adversarial fixture corpus
vs the pure-python oracle (FIXTURES.md §6), mirroring the reference's
integration checks (mock-cloudwatch-server/main.go:142-172) plus the
north-rule invariants: per-sink aggregate counts, merged histogram
value-counts, token-array equality on every routed row."""

from __future__ import annotations

import json
import os
import sys
import threading
import time

import pytest
from pyspark.sql import functions as F

from emf_spark import fixtures, pipeline

from tests import oracle

N = 2000
SINK_OF = {r[0]: r[1] for r in fixtures.SOURCE_LOOKUP_ROWS}


@pytest.fixture(scope="module")
def run(spark, corpus_path, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("out"))
    res = pipeline.run(spark, corpus_path, out)
    return res, out


@pytest.fixture(scope="module")
def oracle_events():
    recs = [
        (doc_id, js, SINK_OF[src])
        for doc_id, js, src, _ts in fixtures.gen_records(N)
    ]
    groups = oracle.aggregate(recs)
    return groups, oracle.reduced_events(groups)


def test_routed_token_equality(spark, run, corpus_path):
    """North rule: routed rows carry the exact input token arrays."""
    _res, out = run
    routed = spark.read.parquet(f"{out}/routed")
    inp = spark.read.parquet(corpus_path).select(
        "doc_id", F.col("tokens").alias("tokens_in")
    )
    joined = routed.join(inp, "doc_id")
    assert joined.count() == routed.count()
    mismatches = joined.filter(F.col("tokens") != F.col("tokens_in")).count()
    assert mismatches == 0


def test_routed_sink_assignment(spark, run):
    _res, out = run
    routed = spark.read.parquet(f"{out}/routed")
    bad = routed.filter(
        F.col("sink")
        != F.when(F.col("source") == "app-a", "cloudwatch")
        .when(F.col("source") == "app-b", "cloudwatch")
        .when(F.col("source") == "app-c", "file")
        .otherwise("archive")
    ).count()
    assert bad == 0


def test_error_side_output(spark, run):
    """P1 malformed slice: 2% of corpus, all three reject reasons."""
    _res, out = run
    errors = spark.read.parquet(f"{out}/errors")
    reasons = {r["error"]: r["cnt"] for r in errors.groupBy("error").agg(F.count("*").alias("cnt")).collect()}
    assert sum(reasons.values()) == 2 * N // 100
    assert len(reasons) == 3


def test_group_keys_match_oracle(spark, run, oracle_events):
    _res, out = run
    groups, _events = oracle_events
    ev = spark.read.parquet(f"{out}/events")
    got = {
        (r["sink"], r["window_start"], r["dim_hash"])
        for r in ev.select("sink", "window_start", "dim_hash").collect()
    }
    assert got == set(groups)


def test_histograms_match_oracle(spark, run, oracle_events):
    """Merged value-count parity per (sink, window, dim_hash, metric)."""
    _res, out = run
    groups, events = oracle_events
    ev = spark.read.parquet(f"{out}/events").collect()
    checked = 0
    for row in ev:
        key = (row["sink"], row["window_start"], row["dim_hash"])
        exp = events[key]
        got_metrics = {m["metric_name"]: m for m in row["metrics"]}
        exp_fields = exp["metrics"]
        assert set(got_metrics) == set(exp_fields), key
        for name, stats in exp_fields.items():
            g = got_metrics[name]
            if isinstance(stats, dict):
                assert g["values"] == pytest.approx(stats["Values"]), (key, name)
                assert list(g["counts"]) == stats["Counts"], (key, name)
                assert g["min"] == pytest.approx(stats["Min"])
                assert g["max"] == pytest.approx(stats["Max"])
                assert g["sum"] == pytest.approx(stats["Sum"])
            else:  # A10 single-value scalar
                assert list(g["values"]) == pytest.approx([stats]), (key, name)
            checked += 1
    assert checked > 50


def test_metadata_match_oracle(spark, run, oracle_events):
    """A4 first-wins dims, A5 last-wins ts, A6 intended CWM union."""
    _res, out = run
    groups, events = oracle_events
    ev = spark.read.parquet(f"{out}/events").collect()
    for row in ev:
        key = (row["sink"], row["window_start"], row["dim_hash"])
        exp = events[key]
        assert dict(row["dimensions"]) == exp["dimensions"], key
        assert row["timestamp"] == exp["timestamp"], key
        got_cwm = [
            {
                "Namespace": p["Namespace"],
                "Dimensions": [list(s) for s in p["Dimensions"]],
                "Metrics": [{"Name": m["Name"], "Unit": m["Unit"]} for m in p["Metrics"]],
            }
            for p in (row["cw_metrics"] or [])
        ]
        assert got_cwm == exp["cw_metrics"], key


def test_event_json_shape(spark, run, oracle_events):
    """F7 spec-correct flattened EMF + A10 scalar collapse in JSON."""
    _res, out = run
    ev = spark.read.parquet(f"{out}/events").limit(500).collect()
    for row in ev:
        obj = json.loads(row["event_json"])
        assert "_aws" in obj and "Timestamp" in obj["_aws"]
        # mock-server-style check (mock-cloudwatch-server/main.go:142-172):
        # every referenced dimension is present as a field
        for p in obj["_aws"]["CloudWatchMetrics"]:
            for dset in p["Dimensions"]:
                for d in dset:
                    assert d in obj, (row["dim_hash"], d)
        for m in row["metrics"]:
            v = obj[m["metric_name"]]
            if len(m["values"]) == 1:
                assert isinstance(v, (int, float))  # A10 bare scalar
            else:
                assert set(v) == {"Values", "Counts", "Min", "Max", "Sum"}


def test_per_sink_compression_stats(spark, run, oracle_events):
    """A11: per-sink input record counts vs oracle."""
    res, _out = run
    groups, _events = oracle_events
    stats = {r["sink"]: r for r in res.stats.collect()}
    exp_records = {}
    for (sink, _w, _h), g in groups.items():
        exp_records[sink] = exp_records.get(sink, 0) + g["records"]
    for sink, r in stats.items():
        assert r["records_in"] == exp_records[sink], sink
        assert r["events_out"] < r["records_in"]  # it actually aggregates


def test_namespace_keyed_mode_matches_oracle(spark, corpus_path):
    """North-rule keying ((sink, window, namespace, dim_hash)) over the
    full adversarial corpus vs the python oracle in the same mode
    (VERDICT r1 item 6): group keys, per-metric value-count maps,
    record counts, and per-namespace cw_metrics all agree."""
    tok = spark.read.parquet(corpus_path)
    res = pipeline.build_events(spark, tok, key_by_namespace=True)
    ev = res.events.collect()

    recs = [
        (doc_id, js, SINK_OF[src])
        for doc_id, js, src, _ts in fixtures.gen_records(N)
    ]
    groups = oracle.aggregate(recs, key_by_namespace=True)

    got = {
        (r["sink"], r["window_start"], r["namespace"], r["dim_hash"]): r
        for r in ev
    }
    assert set(got) == set(groups)
    for key, g in groups.items():
        r = got[key]
        assert r["records"] == g["records"], key
        assert dict(r["dimensions"]) == g["dimensions"], key
        # per-metric exact value->count maps (pre-reduce invariant)
        exp_names = sorted(n for n, vc in g["metrics"].items() if vc)
        got_names = sorted(m["metric_name"] for m in r["metrics"])
        assert got_names == exp_names, key
        # cw_metrics carry ONLY the key namespace's projections
        for p in r["cw_metrics"]:
            assert p["Namespace"] == key[2], key
        exp_ns = {p["Namespace"] for p in g["cw_metrics"]}
        assert {p["Namespace"] for p in r["cw_metrics"]} == exp_ns, key


def test_namespace_keyed_histograms_match_oracle(spark, corpus_path):
    """Pre-reduce exact (value -> count) maps agree per namespace-keyed
    group and metric."""
    from emf_spark.operators import aggregate as agg, parse as parse_op
    from emf_spark.operators import enrich as enrich_op
    from emf_spark.tokenizer import with_payload

    tok = spark.read.parquet(corpus_path)
    parsed = parse_op.parse_emf(with_payload(tok)).filter(F.col("valid"))
    enriched = enrich_op.enrich(parsed, fixtures.lookup_df(spark))
    windowed = agg.with_window(enriched)
    obs = agg.explode_observations(windowed, key_by_namespace=True)
    p1 = obs.groupBy(
        "sink", "window_start", "namespace", "dim_hash", "metric_name", "v"
    ).agg(F.sum("c").alias("c"))
    got = {}
    for r in p1.collect():
        key = (r["sink"], r["window_start"], r["namespace"], r["dim_hash"])
        got.setdefault(key, {}).setdefault(r["metric_name"], {})[r["v"]] = r["c"]

    recs = [
        (doc_id, js, SINK_OF[src])
        for doc_id, js, src, _ts in fixtures.gen_records(N)
    ]
    groups = oracle.aggregate(recs, key_by_namespace=True)
    exp = {
        key: {n: dict(vc) for n, vc in g["metrics"].items() if vc}
        for key, g in groups.items()
    }
    exp = {k: v for k, v in exp.items() if v}
    assert got == exp


@pytest.mark.parametrize("key_by_namespace", [False, True])
def test_build_events_matches_run_events(spark, corpus_path, tmp_path, key_by_namespace):
    """The no-write path and the batch path are one composition: the
    events build_events plans hold exactly the rows run writes."""
    out = str(tmp_path / "run")
    pipeline.run(spark, corpus_path, out, key_by_namespace=key_by_namespace)
    cols = ["sink", "window_start"] + (["namespace"] if key_by_namespace else [])
    cols += ["dim_hash", "event_json"]
    written = spark.read.parquet(f"{out}/events").select(*cols)
    planned = (
        pipeline.build_events(
            spark, spark.read.parquet(corpus_path), key_by_namespace=key_by_namespace
        )
        .events.filter(~F.col("dropped_oversize"))
        .select(*cols)
    )
    assert written.count() > 0
    assert written.exceptAll(planned).count() == 0
    assert planned.exceptAll(written).count() == 0


@pytest.mark.parametrize(
    "failing, resumable",
    [
        pytest.param("errors", False, id="errors"),
        pytest.param("stats", False, id="stats"),
        pytest.param("events", True, id="events-resumable"),
    ],
)
def test_run_releases_caches_when_a_write_fails(
    spark, corpus_path, tmp_path, monkeypatch, failing, resumable
):
    """A write that raises (in a concurrent leg, or the last one) still
    leaves no persisted frame behind: neither the events cache nor the
    resumable write's pending cells."""
    from pyspark.sql.readwriter import DataFrameWriter

    real_parquet = DataFrameWriter.parquet

    def failing_write(self, path, *args, **kwargs):
        if path.endswith(failing):
            raise OSError("injected write failure")
        return real_parquet(self, path, *args, **kwargs)

    spark.catalog.clearCache()
    before = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    monkeypatch.setattr(DataFrameWriter, "parquet", failing_write)
    with pytest.raises(OSError, match="injected"):
        pipeline.run(spark, corpus_path, str(tmp_path / "out"), resumable=resumable)
    assert set(spark.sparkContext._jsc.getPersistentRDDs().keySet()) == before


def _hostile_record(svc: str, name: str, value, ts: int = fixtures.BASE_TS) -> dict:
    return {
        "_aws": {
            "Timestamp": ts,
            "CloudWatchMetrics": [
                {
                    "Namespace": "Hostile",
                    "Dimensions": [["Svc"]],
                    "Metrics": [{"Name": name}, {"Name": "Ok"}],
                }
            ],
        },
        "Svc": svc,
        name: value,
        "Ok": 1.0,
    }


HOSTILE_RECORDS = [
    # out-of-range counts: CAST_OVERFLOW under ANSI at a plain cast
    _hostile_record("a", "Big", {"Values": [1], "Counts": [1e30]}),
    _hostile_record("b", "Big", {"Min": 2, "Max": 2, "Count": 1e30}),
    _hostile_record("b", "Neg", {"Values": [1, 2], "Counts": [-1, 2]}),
    # in-range counts whose sums overflow a long: per value, per metric
    # and per SEH bucket
    _hostile_record("c", "Sum", {"Values": [3.0], "Counts": [9e18]}),
    _hostile_record("c", "Sum", {"Values": [3.0], "Counts": [9e18]}),
    _hostile_record("d", "Sum", {"Values": [3.0, 4.0], "Counts": [9e18, 9e18]}),
    _hostile_record("e", "Seh", {"Values": [10.0, 10.01, 10.02], "Counts": [9e18, 9e18, 1]}),
]


def _assert_events_match_oracle(rows, groups):
    got = {(r["sink"], r["window_start"], r["dim_hash"]): r for r in rows}
    assert set(got) == set(groups)
    for key, g in groups.items():
        metrics = {m["metric_name"]: m for m in got[key]["metrics"]}
        assert set(metrics) == {n for n, vc in g["metrics"].items() if vc}, key
        for name, m in metrics.items():
            vc = dict(g["metrics"][name])
            exp = oracle.reduce_histogram(vc)
            assert list(m["values"]) == pytest.approx(exp["Values"]), (key, name)
            assert list(m["counts"]) == exp["Counts"], (key, name)
            assert (m["min"], m["max"]) == (exp["Min"], exp["Max"]), (key, name)
            assert m["sum"] == pytest.approx(exp["Sum"]), (key, name)
            assert m["count"] == min(sum(vc.values()), oracle.LONG_MAX), (key, name)


def test_hostile_counts_complete_and_match_oracle(spark, tmp_path):
    """Out-of-range or negative counts drop their value, and count sums
    saturate at 2^63-1 (SURVEY.md §7.4): under ANSI no count fails the
    job, in batch, pipeline.run or a micro-batch."""
    from emf_spark.streaming import job as sjob
    from emf_spark.tokenizer import tokenize_bytes

    docs = [
        (f"h{i}", json.dumps(r, separators=(",", ":")))
        for i, r in enumerate(HOSTILE_RECORDS)
    ]
    src = str(tmp_path / "in")
    spark.createDataFrame(
        [(d, tokenize_bytes(js), len(js), "app-a") for d, js in docs],
        "doc_id string, tokens array<int>, n_tok int, source string",
    ).coalesce(1).write.parquet(src)
    groups = oracle.aggregate([(d, js, SINK_OF["app-a"]) for d, js in docs])
    counts = [c for g in groups.values() for vc in g["metrics"].values() for c in vc.values()]
    assert oracle.LONG_MAX in counts  # the saturating sums are exercised

    built = pipeline.build_events(spark, spark.read.parquet(src))
    _assert_events_match_oracle(built.events.collect(), groups)

    pipeline.run(spark, src, str(tmp_path / "batch"))
    _assert_events_match_oracle(
        spark.read.parquet(str(tmp_path / "batch" / "events")).collect(), groups
    )

    out = str(tmp_path / "stream")
    q = sjob.run_microbatch(spark, src, out)
    assert q.awaitTermination(300)
    assert q.exception() is None
    _assert_events_match_oracle(spark.read.parquet(f"{out}/events").collect(), groups)


def test_run_legs_waits_for_every_leg_and_reraises(spark):
    """run_legs under more legs than cores and a short switch interval:
    every leg runs to the end, each result is kept under its name, and
    the first failure is raised only after all legs finished."""
    done, lock = [], threading.Lock()

    def leg(i):
        def body():
            time.sleep(0.01 * (i % 5))
            with lock:
                done.append(i)
            if i == 3:
                raise ValueError("leg 3")
            return i * i

        return body

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        legs = {f"leg{i}": leg(i) for i in range(4 * (os.cpu_count() or 1))}
        ok = {k: v for k, v in legs.items() if k != "leg3"}
        assert pipeline.run_legs(**ok) == {k: int(k[3:]) ** 2 for k in ok}
        done.clear()
        with pytest.raises(ValueError, match="leg 3"):
            pipeline.run_legs(**legs)
        assert sorted(done) == list(range(len(legs)))
    finally:
        sys.setswitchinterval(old)


def _sorted_rows(df) -> list[str]:
    """Every row as JSON with its columns in name order, sorted: a
    comparison that ignores row order and partitioning."""
    return sorted(
        r[0] for r in df.select(F.to_json(F.struct(*sorted(df.columns)))).collect()
    )


@pytest.mark.parametrize("key_by_namespace", [False, True])
def test_run_outputs_do_not_depend_on_input_layout(spark, tmp_path, key_by_namespace):
    """AQE picks pipeline.run's partition counts from the data, so its
    outputs must not depend on them: the same 600 records in 1 file and
    in 6 files give identical events, errors, stats and routed tokens."""
    import pyarrow.parquet as pq

    table = fixtures.corpus_table(600)
    outputs = []
    for files in (1, 6):
        src, out = tmp_path / f"in{files}", str(tmp_path / f"out{files}")
        src.mkdir()
        step = len(table) // files
        for i in range(files):
            pq.write_table(table.slice(i * step, step), str(src / f"part-{i}.parquet"))
        res = pipeline.run(spark, str(src), out, key_by_namespace=key_by_namespace)
        outputs.append({
            "events": _sorted_rows(spark.read.parquet(f"{out}/events")),
            "errors": _sorted_rows(spark.read.parquet(f"{out}/errors")),
            "stats": _sorted_rows(res.stats),
            "routed": _sorted_rows(spark.read.parquet(f"{out}/routed").select("doc_id", "tokens")),
        })
    one, six = outputs
    assert len(one["routed"]) + len(one["errors"]) == 600
    assert one["events"] and one["errors"] and one["stats"]
    for name in one:
        assert one[name] == six[name], name


def test_routed_rows_are_the_valid_rows_even_when_ids_repeat(spark, tmp_path):
    """Routing is per record (SURVEY.md §7.4): a malformed record that
    reuses a valid record's doc_id drops only itself, so the routed ids,
    as a multiset, are the valid staged rows' ids."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = fixtures.corpus_table(200)
    valid_id = table["doc_id"][50].as_py()  # an ordinary, valid record
    bad = b"{not json"
    extra = pa.table(
        {
            "doc_id": pa.array([valid_id], pa.string()),
            "tokens": pa.array([list(bad)], pa.list_(pa.int32())),
            "n_tok": pa.array([len(bad)], pa.int32()),
            "source": pa.array(["app-a"], pa.string()),
        }
    )
    src = tmp_path / "in"
    src.mkdir()
    pq.write_table(pa.concat_tables([table, extra]), str(src / "part-0.parquet"))
    out = str(tmp_path / "out")
    res = pipeline.run(spark, str(src), out)

    routed = spark.read.parquet(f"{out}/routed")
    staged = spark.read.parquet(f"{out}/staged").filter(F.col("valid"))
    assert valid_id in {r[0] for r in staged.select("doc_id").collect()}
    assert sorted(r[0] for r in routed.select("doc_id").collect()) == sorted(
        r[0] for r in staged.select("doc_id").collect()
    )
    assert routed.count() == res.parsed.count()
    assert spark.read.parquet(f"{out}/errors").filter(
        F.col("doc_id") == valid_id
    ).count() == 1
