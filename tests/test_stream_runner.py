"""The stream runner (``emf_spark/streaming/runner.py``): every streaming
entry point resumes as a no-op on its own checkpoint, every versioned
store refuses to stream without its bootstrap, and no module under
``emf_spark/streaming`` wires a query by hand."""

from __future__ import annotations

import glob
import os
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from emf_spark import fixtures
from emf_spark.streaming import cdc, drift, job, quality, scd2, stateful

STREAMING = Path(__file__).resolve().parent.parent / "emf_spark" / "streaming"

# query wiring that only the runner may do
WIRING = (
    ".writeStream",
    "readStream",
    "applyInPandasWithState",
    "GroupStateTimeout",
    "partitionOverwriteMode",
    "_versions(",
)


@pytest.fixture(autouse=True)
def _stop_streams(spark):
    yield
    for q in spark.streams.active:
        q.stop()


def test_only_the_runner_wires_queries():
    hand_wired = {
        p.name: [w for w in WIRING if w in p.read_text()]
        for p in sorted(STREAMING.glob("*.py"))
        if p.name != "runner.py"
    }
    assert {k: v for k, v in hand_wired.items() if v} == {}
    runner = (STREAMING / "runner.py").read_text()
    assert [w for w in WIRING if w not in runner] == []


def _write_files(d: str, tables: list[dict]) -> str:
    """One parquet file per table, with increasing mtimes: the file
    source orders micro-batches by modification time."""
    os.makedirs(d, exist_ok=True)
    for i, cols in enumerate(tables):
        p = f"{d}/b{i}.parquet"
        pq.write_table(pa.table(cols), p)
        os.utime(p, (1_700_000_000 + i,) * 2)
    return d


@pytest.fixture(scope="module")
def emf_files(spark, tmp_path_factory):
    """Two tokenized EMF files, one micro-batch each at one file per
    trigger."""
    d = tmp_path_factory.mktemp("runner_emf")
    src = str(d / "corpus.parquet")
    fixtures.write_corpus(src, 200)
    out = str(d / "in")
    spark.read.parquet(src).repartitionByRange(2, F.col("doc_id")).write.parquet(out)
    for i, p in enumerate(sorted(glob.glob(f"{out}/part-*"))):
        os.utime(p, (1_700_000_000 + i,) * 2)
    return out


def _snapshots(d: str) -> str:
    return _write_files(d, [
        {"id": pa.array([1, 2, 3], pa.int64()), "name": ["a", "B", "c"]},
        {"id": pa.array([2, 3], pa.int64()), "name": ["B", "c2"]},
    ])


def _counts(spark, emf, t):
    return (lambda: job.run_eventtime_counts(spark, emf, f"{t}/out", max_files_per_trigger=1),
            [f"{t}/out/counts"])


def _sessions(spark, emf, t):
    return (lambda: job.run_eventtime_sessions(spark, emf, f"{t}/out", max_files_per_trigger=1),
            [f"{t}/out/sessions"])


def _stateful(spark, emf, t):
    return (lambda: stateful.run_stateful(spark, emf, f"{t}/out", max_files_per_trigger=1),
            [f"{t}/out/totals"])


def _quality(spark, emf, t):
    ind = _write_files(f"{t}/in", [
        {"id": pa.array([1, 2, 3], pa.int64()), "v": [10.0, 20.0, 30.0]},
        {"id": pa.array([4, 4], pa.int64()), "v": [40.0, 999.0]},
    ])
    cons = [("unique", "id"), ("range", "v", 0, 100)]
    return (lambda: quality.run_quality_monitor(spark, ind, f"{t}/out", cons,
                                                max_files_per_trigger=1),
            [f"{t}/out/verdicts"])


def _drift(spark, emf, t):
    ind = _write_files(f"{t}/in", [{"c": ["a", "a", "b"]}, {"c": ["b", "new"]}])
    drift.init_reference(spark.createDataFrame([("a",), ("b",), ("gone",)], ["c"]), "c",
                         f"{t}/store")
    return (lambda: drift.run_drift_monitor(spark, ind, f"{t}/store", f"{t}/drift",
                                            f"{t}/ck", "c", max_files_per_trigger=1),
            [f"{t}/store/cum", f"{t}/drift"])


def _scd2(spark, emf, t):
    feed = _snapshots(f"{t}/in")
    scd2.init_history(spark.createDataFrame(
        [(1, "a", 0, None)], "id bigint, name string, valid_from bigint, valid_to bigint"),
        f"{t}/hist")
    return (lambda: scd2.run_scd2_stream(spark, feed, f"{t}/hist", f"{t}/ck", ["id"]),
            [f"{t}/hist"])


def _snapshot_diff(spark, emf, t):
    feed = _snapshots(f"{t}/in")
    scd2.init_prev_snapshot(spark.createDataFrame([(1, "a")], "id bigint, name string"),
                            f"{t}/store")
    return (lambda: scd2.run_snapshot_diff_stream(spark, feed, f"{t}/store", f"{t}/delta",
                                                  f"{t}/ck", ["id"]),
            [f"{t}/store", f"{t}/delta"])


def _rows(spark, path) -> list[str]:
    df = spark.read.parquet(path)
    cols = sorted(df.columns)
    return sorted(repr(tuple(r[c] for c in cols)) for r in df.collect())


@pytest.mark.parametrize(
    "entry",
    [_counts, _sessions, _stateful, _quality, _drift, _scd2, _snapshot_diff],
    ids=lambda f: f.__name__.lstrip("_"),
)
def test_second_start_on_same_checkpoint_is_a_noop(spark, emf_files, tmp_path, entry):
    """A second start with no new files drains, reads nothing and
    leaves every output as the first start wrote it."""
    start, outputs = entry(spark, emf_files, str(tmp_path))
    q1 = start()
    assert q1.awaitTermination(300)
    assert sum(p["numInputRows"] for p in q1.recentProgress) > 0
    before = [_rows(spark, p) for p in outputs]

    q2 = start()
    assert q2.awaitTermination(300)
    assert {p["numInputRows"] for p in q2.recentProgress} <= {0}
    assert [_rows(spark, p) for p in outputs] == before


@pytest.mark.parametrize(
    "run",
    [
        lambda s, t: cdc.run_cdc_merge(s, f"{t}/feed", f"{t}/store", f"{t}/ck", ["id"], "seq"),
        lambda s, t: drift.run_drift_monitor(s, f"{t}/feed", f"{t}/store", f"{t}/drift",
                                             f"{t}/ck", "c"),
        lambda s, t: scd2.run_scd2_stream(s, f"{t}/feed", f"{t}/store", f"{t}/ck", ["id"]),
        lambda s, t: scd2.run_snapshot_diff_stream(s, f"{t}/feed", f"{t}/store",
                                                   f"{t}/delta", f"{t}/ck", ["id"]),
    ],
    ids=["cdc", "drift", "scd2", "snapshot_diff"],
)
def test_versioned_store_requires_bootstrap(spark, tmp_path, run):
    """Streaming into a versioned store that has no v=0 raises before
    any query starts."""
    with pytest.raises(ValueError, match="bootstrap missing"):
        run(spark, str(tmp_path))
    assert spark.streams.active == []
    assert not os.path.exists(tmp_path / "ck")
