"""Checkpoint-resume via lineage manifests (BASELINE.md resumability
target: re-run after a kill completes remaining cells only)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from emf_spark import pipeline
from emf_spark.operators import lineage


@pytest.fixture(scope="module")
def events(spark, corpus_path):
    res = pipeline.build_events(spark, spark.read.parquet(corpus_path))
    ev = res.events.persist()
    ev.count()
    yield ev
    ev.unpersist()


def test_resume_completes_remaining_cells(spark, events, tmp_path):
    out = str(tmp_path / "resume")
    windows = sorted(r[0] for r in events.select("window_start").distinct().collect())
    assert len(windows) >= 3

    # "killed" first run: only the first window's cells got written
    partial = events.filter(F.col("window_start") == windows[0])
    r1 = lineage.write_events_resumable(spark, partial, out)
    assert r1["written_rows"] == partial.count()

    # resume over the FULL dataset: writes everything except window 0
    r2 = lineage.write_events_resumable(spark, events, out)
    assert r2["written_rows"] == events.count() - partial.count()

    # final state == single-shot full write
    got = spark.read.parquet(f"{out}/events")
    assert got.count() == events.filter(~F.col("dropped_oversize")).count()
    # no duplicated cells
    dup = (
        got.groupBy("sink", "window_start", "dim_hash")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert dup == 0


def test_crash_between_write_and_manifest_does_not_duplicate(spark, events, tmp_path):
    """Crash window: events written but the manifest row never landed.
    The resume re-runs those cells; the cell-partitioned dynamic
    overwrite makes that idempotent instead of append-duplicating
    (review finding)."""
    import shutil

    out = str(tmp_path / "crashwin")
    lineage.write_events_resumable(spark, events, out)
    n1 = spark.read.parquet(f"{out}/events").count()
    # simulate the crash: the event write survived, the manifest didn't
    shutil.rmtree(f"{out}/_manifest")
    r = lineage.write_events_resumable(spark, events, out)
    assert r["written_rows"] == events.filter(~F.col("dropped_oversize")).count()
    assert spark.read.parquet(f"{out}/events").count() == n1  # no dupes


def test_second_resume_is_noop(spark, events, tmp_path):
    out = str(tmp_path / "noop")
    lineage.write_events_resumable(spark, events, out)
    r = lineage.write_events_resumable(spark, events, out)
    assert r["written_rows"] == 0


def test_manifest_metrics(spark, events, tmp_path):
    out = str(tmp_path / "metrics")
    lineage.write_events_resumable(spark, events, out)
    m = lineage.Manifest(spark, out).read().collect()
    assert all(r["status"] == "done" for r in m)
    assert sum(r["rows_out"] for r in m) == events.count()
    assert all(r["bytes_out"] > 0 for r in m)
    assert all(r["finished_at"] >= r["started_at"] for r in m)
    cells = {(r["sink"], r["window_start"]) for r in m}
    expect = {
        (r["sink"], r["window_start"])
        for r in events.select("sink", "window_start").distinct().collect()
    }
    assert cells == expect


def test_manifest_exists_is_scheme_aware(spark, events, tmp_path):
    # VERDICT r1 item 9: exists() must go through Hadoop FS, not os.path,
    # so scheme-qualified paths (file:/, s3a:/, ...) resolve correctly
    out = str(tmp_path / "scheme")
    lineage.write_events_resumable(spark, events, out)
    qualified = lineage.Manifest(spark, "file://" + out)
    assert qualified.exists()  # os.path.exists('file://...') would be False
    assert qualified.read().count() > 0
    missing = lineage.Manifest(spark, "file://" + str(tmp_path / "nope"))
    assert not missing.exists()


def test_cli_resumable_writes_events_once(spark, tmp_path, corpus_path):
    """Review finding: --resumable used to write every event TWICE
    (pipeline's own events write + the manifest append to the same
    path)."""
    from emf_spark import cli

    out = str(tmp_path / "resumable_once")
    rc = cli.main(["--input", corpus_path, "--out", out, "--resumable"])
    assert rc == 0
    ev = spark.read.parquet(f"{out}/events")
    key = ["sink", "window_start", "dim_hash"]
    dups = ev.groupBy(*key).count().filter(F.col("count") > 1).count()
    assert dups == 0
    assert ev.count() > 0
