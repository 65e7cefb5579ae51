"""Spark session and workload calls shared by the untraced and traced runs."""

from __future__ import annotations

import os
import shutil
import subprocess
import time
from pathlib import Path

STREAM_TIMEOUT_S = 150


class Session:
    """A SparkSession whose scratch, warehouse, temp files and (when
    ``event_log`` is set) event log all live under ``work``, and whose
    JVM is shut down and waited for by ``close``."""

    def __init__(self, work: Path, event_log: Path | None = None):
        from emf_spark.session import get_spark

        tmp = work / "tmp"
        for d in (tmp, work / "spark-local"):
            d.mkdir(parents=True, exist_ok=True)
        os.environ["TMPDIR"] = str(tmp)
        os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
        conf = {
            "spark.driver.memory": "2g",
            # a fixed heap and young generation: peak RSS then follows the
            # program's live data, not the collector's heap-sizing choices
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms2g -Xmn512m"
            ),
            "spark.local.dir": str(work / "spark-local"),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if event_log is not None:
            event_log.mkdir(parents=True, exist_ok=True)
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.dir"] = event_log.as_uri()
            conf["spark.eventLog.compress"] = "false"
            conf["spark.eventLog.rolling.enabled"] = "false"
            # task metrics stay; their duplicate accumulator lists go
            conf["spark.eventLog.includeTaskMetricsAccumulators"] = "false"
        self.cpus = len(os.sched_getaffinity(0))
        self.spark = get_spark("perfbench", cpus=self.cpus, extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")

    def jvm_pid(self) -> int | None:
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        return proc.pid if proc is not None else None

    def close(self) -> None:
        """Stop the SparkSession, then shut the JVM down and wait for it."""
        from pyspark import SparkContext

        self.spark.stop()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def peak_rss_mb(pids) -> float:
    """Σ VmHWM (peak resident set) over ``pids``, in MB."""
    total = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1])
    return total / 1024


# -- timing --------------------------------------------------------------


def _cpu_ticks() -> list[int]:
    """user nice system idle iowait irq softirq steal, summed over CPUs."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


class Stopwatch:
    """Wall time of a block, and ``seconds``: the same with the share the
    hypervisor stole from this machine's CPUs over it taken out. On a
    shared host the steal share moves from minute to minute (0-25% was
    seen while this benchmark was tuned) and a CPU-bound call's wall
    time stretches with it; on a dedicated machine ``seconds == wall``."""

    def __enter__(self):
        self._ticks = _cpu_ticks()
        self._t = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.wall = time.perf_counter() - self._t
        d = [b - a for a, b in zip(self._ticks, _cpu_ticks())]
        self.steal = d[7] / max(sum(d), 1)
        self.seconds = self.wall * (1 - self.steal)
        return False


# -- the workload calls --------------------------------------------------


def batch_call(spark, input_dir: str, out_dir: str):
    """pipeline.run + stats.collect(); -> (Stopwatch, stats rows)."""
    from emf_spark import pipeline

    shutil.rmtree(out_dir, ignore_errors=True)
    with Stopwatch() as sw:
        res = pipeline.run(spark, input_dir, out_dir)
        stats = res.stats.collect()
    return sw, stats


def stream_call(spark, input_dir: str, out_dir: str):
    """run_microbatch drained with availableNow, one file per trigger.
    -> (Stopwatch, drained, stopped, progress of the batches that read
    input)."""
    from emf_spark.streaming import job

    shutil.rmtree(out_dir, ignore_errors=True)
    with Stopwatch() as sw:
        q = job.run_microbatch(spark, input_dir, out_dir, max_files_per_trigger=1)
        drained = q.awaitTermination(STREAM_TIMEOUT_S)
    progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
    q.stop()
    return sw, bool(drained), not q.isActive, progress


def run_checked(sess, wl, inputs, out_dir: str, chk):
    """One timed workload call, then its output checks (untimed).
    -> (Stopwatch, [per-batch ms, steal share taken out])."""
    from checks import check_batch, check_stream

    spark = sess.spark
    if wl.kind == "batch":
        sw, stats = batch_call(spark, inputs.input_dir, out_dir)
        check_batch(chk, out_dir, inputs.input_dir, stats, inputs.expect)
        return sw, [sw.seconds * 1000]
    sw, drained, stopped, progress = stream_call(spark, inputs.input_dir, out_dir)
    check_stream(chk, out_dir, inputs.expect, drained, stopped, len(progress), wl.files)
    return sw, [p["durationMs"]["triggerExecution"] * (1 - sw.steal) for p in progress]


def setup(wl, tiny, work: Path, event_log: Path | None = None):
    """SparkSession start + one cold pass of the workload's call on the
    tiny input. -> (session, start Stopwatch, set-up Stopwatch)."""
    with Stopwatch() as sw:
        with Stopwatch() as start:
            sess = Session(work, event_log)
        out = str(work / "out" / "warmup")
        if wl.kind == "batch":
            batch_call(sess.spark, tiny.input_dir, out)
        else:
            _sw, drained, _stopped, _p = stream_call(sess.spark, tiny.input_dir, out)
            if not drained:
                raise RuntimeError("warm-up stream did not drain")
    return sess, start, sw
