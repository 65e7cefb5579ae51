"""The stream query (``emf_spark/streaming/job.py``): the micro-batch
ticker resumes as a no-op on its own checkpoint, and no other module
under ``emf_spark/streaming`` wires a query by hand."""

from __future__ import annotations

import glob
import os
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from emf_spark import fixtures
from emf_spark.streaming import job

STREAMING = Path(__file__).resolve().parent.parent / "emf_spark" / "streaming"

# query wiring that only job.py may do
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
        if p.name != "job.py"
    }
    assert {k: v for k, v in hand_wired.items() if v} == {}
    wiring = (STREAMING / "job.py").read_text()
    assert [w for w in WIRING if w in wiring] == [
        ".writeStream",
        "readStream",
        "partitionOverwriteMode",
    ]


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


def _microbatch(spark, emf, t):
    return (lambda: job.run_microbatch(spark, emf, f"{t}/out", max_files_per_trigger=1),
            [f"{t}/out/events", f"{t}/out/errors"])


def _rows(spark, path) -> list[str]:
    df = spark.read.parquet(path)
    cols = sorted(df.columns)
    return sorted(repr(tuple(r[c] for c in cols)) for r in df.collect())


@pytest.mark.parametrize(
    "entry",
    [_microbatch],
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
    assert all(before)

    q2 = start()
    assert q2.awaitTermination(300)
    assert {p["numInputRows"] for p in q2.recentProgress} <= {0}
    assert [_rows(spark, p) for p in outputs] == before
