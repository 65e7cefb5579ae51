"""The traced run: a per-layer ledger of one workload.

Spans are recorded from this file only, around the benchmark's own calls
into each layer's public functions; nothing inside ``emf_spark`` is
instrumented. A layer's self time comes from cumulative prefixes of the
same composition ``pipeline.run`` uses, each forced to Spark's ``noop``
sink: the difference between consecutive prefixes is the time the added
layer costs (``SELF_TIMES``). Write layers are timed around the write
call itself, minus the prefix that feeds them. Counts come from
``DataFrame.observe`` on the prefix frames, and stage metrics from the
Spark event log that only the traced session enables, attributed to the
span during which each stage was submitted.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time
from contextlib import contextmanager
from pathlib import Path

# (metric, prefixes added, prefixes subtracted): self time of a layer
# from the cumulative times of the noop-forced prefixes (``cum``).
# assemble joins two branches that share the staged scan, so both
# branch prefixes come off and the shared scan goes back on once.
SELF_TIMES = [
    ("pipeline.scan_s", ["scan"], []),
    ("tokenizer.detok_s", ["detok"], ["scan"]),
    ("parse.s", ["parse"], ["detok"]),
    ("enrich.s", ["enrich"], ["parse"]),
    ("pipeline.staged_write_s", ["staged_write"], ["enrich"]),
    ("pipeline.staged_scan_s", ["staged_scan"], []),
    ("aggregate.explode_s", ["explode"], ["staged_scan"]),
    ("aggregate.hist_s", ["hist"], ["explode"]),
    ("aggregate.meta_s", ["meta"], ["staged_scan"]),
    ("aggregate.assemble_s", ["assemble", "staged_scan"], ["hist", "meta"]),
    ("output.events_json_s", ["events_json"], ["assemble"]),
    ("output.write_events_s", ["write_events"], ["events_json"]),
    ("output.stats_s", ["stats"], []),
    ("route.write_s", ["route_write"], []),
]


def self_times(cum: dict) -> dict:
    """Per-layer self seconds from cumulative prefix seconds."""
    return {
        metric: sum(cum[p] for p in plus) - sum(cum[p] for p in minus)
        for metric, plus, minus in SELF_TIMES
    }


class Tracer:
    """In-memory spans: (id, name, start, end, parent, run id)."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "start": time.time(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def find(self, name: str) -> dict:
        return next(s for s in self.spans if s["name"] == name)


def du_mb(path: str) -> float:
    total = 0
    for d, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total / 1e6


# -- event log -------------------------------------------------------------


def read_event_log(event_dir: Path):
    """-> (jobs [submit_ms], stages [{submit_ms, tasks, cpu_s, gc_s,
    shuffle_write_mb, spill_mb}]) from the (uncompressed) event log."""
    jobs, stages, per_stage = [], {}, {}
    for f in sorted(event_dir.iterdir()):
        if f.name.startswith("."):  # checksum side files
            continue
        with open(f) as fh:
            for line in fh:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    jobs.append(e["Submission Time"])
                elif kind == "SparkListenerStageCompleted":
                    info = e["Stage Info"]
                    stages[(info["Stage ID"], info["Stage Attempt ID"])] = info.get("Submission Time")
                elif kind == "SparkListenerTaskEnd":
                    m = e.get("Task Metrics") or {}
                    acc = per_stage.setdefault(
                        (e["Stage ID"], e["Stage Attempt ID"]), [0, 0.0, 0.0, 0.0, 0.0]
                    )
                    acc[0] += 1
                    acc[1] += m.get("Executor CPU Time", 0) / 1e9
                    acc[2] += m.get("JVM GC Time", 0) / 1e3
                    acc[3] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / 1e6
                    acc[4] += m.get("Disk Bytes Spilled", 0) / 1e6
    out = []
    for key, submit in stages.items():
        tasks, cpu, gc, shuffle, spill = per_stage.get(key, [0, 0.0, 0.0, 0.0, 0.0])
        if submit is not None:
            out.append({"submit_ms": submit, "tasks": tasks, "cpu_s": cpu, "gc_s": gc,
                        "shuffle_write_mb": shuffle, "spill_mb": spill})
    return jobs, out


def within(span: dict, ms) -> bool:
    return span["start"] * 1000 <= ms <= span["end"] * 1000


def engine_counters(span: dict, jobs, stages) -> dict:
    ss = [s for s in stages if within(span, s["submit_ms"])]
    return {
        "jobs": sum(1 for j in jobs if within(span, j)),
        "stages": len(ss),
        "tasks": sum(s["tasks"] for s in ss),
        "cpu_s": sum(s["cpu_s"] for s in ss),
        "gc_s": sum(s["gc_s"] for s in ss),
        "shuffle_write_mb": sum(s["shuffle_write_mb"] for s in ss),
        "spill_mb": sum(s["spill_mb"] for s in ss),
    }


# -- the layer chains ---------------------------------------------------------


def layer_chains(spark, tr: Tracer, input_dir: str, out: str):
    """Time every cumulative prefix once; each span covers building the
    frame (analysis) and running it. -> (cum seconds, counts)."""
    from pyspark.sql import Observation, functions as F

    from emf_spark import fixtures, pipeline
    from emf_spark.operators import aggregate as agg
    from emf_spark.operators import enrich as enrich_op
    from emf_spark.operators import output as output_op
    from emf_spark.operators import parse as parse_op
    from emf_spark.operators import route as route_op
    from emf_spark.tokenizer import with_payload
    from harness import Stopwatch

    lookup = fixtures.lookup_df(spark)
    cum, counts = {}, {}

    def timed(name, action):
        with tr.span(name), Stopwatch() as sw:
            result = action()
        cum[name] = sw.seconds
        return result

    def prefix(name, build, *exprs):
        """Force ``build()`` to the noop sink; -> its observed row count
        and ``exprs``. Every prefix carries the same counter, so it
        cancels out of the differences."""
        ob = Observation(name)

        def run():
            df = build().observe(ob, F.count(F.lit(1)).alias("rows"), *exprs)
            df.write.format("noop").mode("overwrite").save()

        timed(name, run)
        return ob.get

    def tokenized():
        # pipeline.run fans a small scan out to 2x the cores before parsing
        df = spark.read.parquet(input_dir)
        target = spark.sparkContext.defaultParallelism * 2
        return df.repartition(target) if df.rdd.getNumPartitions() < target else df

    def parsed():
        return parse_op.parse_emf(with_payload(tokenized()))

    def staged_frame():
        enriched = enrich_op.enrich(parsed(), lookup)
        return agg.with_window(enriched, agg.WINDOW_MS).select(*pipeline.STAGED_COLS)

    prefix("scan", tokenized)
    got = prefix("detok", lambda: with_payload(tokenized()),
                 F.sum(F.octet_length("payload")).alias("bytes"))
    counts["payload_bytes"] = got["bytes"]
    got = prefix("parse", parsed, F.sum(F.col("valid").cast("long")).alias("valid"))
    counts["records"], counts["valid"] = got["rows"], got["valid"]
    prefix("enrich", staged_frame)
    staged_path = os.path.join(out, "staged")
    timed("staged_write", lambda: staged_frame().write.mode("overwrite").parquet(staged_path))
    counts["staged_mb"] = du_mb(staged_path)

    def valid():
        return spark.read.parquet(staged_path).filter(F.col("valid"))

    def hist():
        return agg.aggregate_histograms(agg.explode_observations(valid()))

    def groups():
        return agg.assemble_groups(hist(), agg.aggregate_metadata(valid()))

    prefix("staged_scan", valid)
    counts["observations"] = prefix("explode", lambda: agg.explode_observations(valid()))["rows"]
    counts["hist_rows"] = prefix("hist", hist)["rows"]
    prefix("meta", lambda: agg.aggregate_metadata(valid()))
    counts["groups"] = prefix("assemble", groups)["rows"]
    prefix("events_json", lambda: output_op.events_json(groups()))
    # pipeline.run persists the events it writes twice (parquet + JSONL)
    events = output_op.events_json(groups()).persist()
    timed("write_events", lambda: output_op.write_events(events, out))
    counts["stats"] = timed("stats", lambda: output_op.compression_stats(events).collect())
    events.unpersist()

    route = Observation("route")

    def write_routed():
        bad_ids = spark.read.parquet(staged_path).filter(~F.col("valid")).select("doc_id")
        routed = enrich_op.enrich(
            tokenized().join(F.broadcast(bad_ids), "doc_id", "left_anti"), lookup
        ).observe(route, F.count(F.lit(1)).alias("rows"))
        route_op.write_routed(routed, out)

    timed("route_write", write_routed)
    counts["route_rows"] = route.get["rows"]
    counts["routed_mb"] = du_mb(os.path.join(out, "routed"))
    return cum, counts


# -- the traced run -------------------------------------------------------------


def untraced_rate(wl, seed: int, records_per_file: int, seconds: float, chk) -> float:
    """records_per_s of the untraced benchmark on the same workload, seed
    and size, run to completion in a child process (and so in a JVM of
    its own) before the traced session starts. Its checks count in
    ``chk``."""
    run_py = Path(__file__).with_name("run.py")
    p = subprocess.run(
        [sys.executable, str(run_py), "--workload", wl.name, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0", "--records", str(records_per_file)],
        cwd=run_py.parent.parent, capture_output=True, text=True, timeout=170,
    )
    if p.returncode != 0:
        raise RuntimeError(f"untraced run failed ({p.returncode}): {p.stderr[-2000:]}")
    out = json.loads(p.stdout.strip().splitlines()[-1])
    chk.attempted += out["attempted"]
    chk.failed += out["failed"]
    if out["failed"]:
        chk.failures.append(f"untraced run: {out['failed']} checks failed; {p.stderr[-1000:]}")
    return out["metrics"]["records_per_s"]["value"]


def traced_run(wl, inputs, tiny, work: Path, trace_dir: Path, seed: int, seconds: float):
    """The ``--trace 1`` run. -> (Checker, per-layer metrics, info); the
    spans and metrics also go to ``trace_dir/<run id>.json``.

    First the untraced benchmark runs in a child process, for the
    baseline of ``trace.overhead_pct``. Then the traced session starts,
    with the same set-up, so its first call meets the JIT state the
    untraced call met. It makes the workload's own call, calls the other
    entry point once, and runs the layer chains last."""
    import harness
    from checks import Checker, check_batch, check_stream

    tr = Tracer(f"{wl.name}-s{seed}-{os.getpid()}")
    chk = Checker()
    event_dir = work / "eventlog"
    with tr.span("untraced"):
        base_rate = untraced_rate(wl, seed, inputs.records // wl.files, seconds, chk)
    with tr.span("session"):
        sess, start, setup = harness.setup(wl, tiny, work, event_dir)
    spark = sess.spark
    try:
        def batch():
            out = str(work / "out" / "traced")
            with tr.span("pipeline.run") as sp:
                sw, stats = harness.batch_call(spark, inputs.input_dir, out)
            check_batch(chk, out, inputs.input_dir, stats, inputs.expect)
            return sp, sw.seconds

        def stream(inp, files):
            out = str(work / "out" / "traced_stream")
            with tr.span("streaming.job") as sp:
                sw, drained, stopped, progress = harness.stream_call(spark, inp.input_dir, out)
            check_stream(chk, out, inp.expect, drained, stopped, len(progress), files)
            return sp, sw.seconds, progress

        # a batch workload's stream leg drains the tiny input: the
        # stream.* metrics are per-batch fixed costs, and draining the
        # whole batch input as one micro-batch would double the run
        if wl.kind == "batch":
            sp_batch, wall_s = batch()
            sp_stream, stream_s, progress = stream(tiny, 1)
        else:
            sp_stream, stream_s, progress = stream(inputs, wl.files)
            sp_batch, wall_s = batch()

        with tr.span("layers"):
            cum, counts = layer_chains(spark, tr, inputs.input_dir, str(work / "layers"))
        call_span, call_s = (sp_batch, wall_s) if wl.kind == "batch" else (sp_stream, stream_s)
        rss = harness.peak_rss_mb([os.getpid(), sess.jvm_pid()])
    finally:
        sess.close()

    jobs, stages = read_event_log(event_dir)
    engine = engine_counters(call_span, jobs, stages)
    agg_engine = engine_counters(tr.find("assemble"), jobs, stages)
    stream_jobs = engine_counters(sp_stream, jobs, stages)["jobs"]
    selfs = self_times(cum)
    st = counts["stats"]
    records_in = sum(r["records_in"] for r in st)
    bytes_in = sum(r["bytes_in"] for r in st)
    events_out = sum(r["events_out"] for r in st)
    bytes_out = sum(r["bytes_out"] for r in st)
    batches = max(len(progress), 1)
    trig = [p["durationMs"]["triggerExecution"] for p in progress] or [0]
    add = [p["durationMs"].get("addBatch", 0) for p in progress] or [0]
    m = {
        "session.start_s": (start.seconds, "s"),
        "session.warmup_s": (setup.seconds - start.seconds, "s"),
        "pipeline.input_mb": (du_mb(inputs.input_dir), "MB"),
        "tokenizer.payload_mb": (counts["payload_bytes"] / 1e6, "MB"),
        "parse.records": (counts["records"], "count"),
        "parse.valid": (counts["valid"], "count"),
        "parse.errors": (counts["records"] - counts["valid"], "count"),
        "parse.valid_ratio": (counts["valid"] / max(counts["records"], 1), "ratio"),
        "pipeline.staged_mb": (counts["staged_mb"], "MB"),
        "route.rows": (counts["route_rows"], "count"),
        "route.written_mb": (counts["routed_mb"], "MB"),
        "aggregate.observations": (counts["observations"], "count"),
        "aggregate.hist_rows": (counts["hist_rows"], "count"),
        "aggregate.groups": (counts["groups"], "count"),
        "aggregate.shuffle_mb": (agg_engine["shuffle_write_mb"], "MB"),
        "aggregate.spill_mb": (agg_engine["spill_mb"], "MB"),
        "output.events_out": (events_out, "count"),
        "output.bytes_out_mb": (bytes_out / 1e6, "MB"),
        "output.dropped_oversize": (sum(r["dropped_oversize"] for r in st), "count"),
        "output.records_ratio": (events_out / max(records_in, 1), "ratio"),
        "output.bytes_ratio": (bytes_out / max(bytes_in, 1), "ratio"),
        "stream.batches": (len(progress), "count"),
        "stream.rows_per_batch": (
            (inputs.records if wl.kind == "stream" else tiny.records) / batches, "count"),
        "stream.add_batch_ms_p50": (statistics.median(add), "ms"),
        "stream.trigger_overhead_ms_p50": (
            statistics.median(t - a for t, a in zip(trig, add)), "ms"),
        "stream.jobs_per_batch": (stream_jobs / batches, "count"),
        "spark.jobs": (engine["jobs"], "count"),
        "spark.stages": (engine["stages"], "count"),
        "spark.tasks": (engine["tasks"], "count"),
        "spark.executor_cpu_s": (engine["cpu_s"], "s"),
        "spark.gc_s": (engine["gc_s"], "s"),
        "spark.shuffle_write_mb": (engine["shuffle_write_mb"], "MB"),
        "pipeline.wall_s": (wall_s, "s"),
        "trace.coverage": (sum(selfs.values()) / wall_s, "ratio"),
        # traced ÷ untraced records_per_s − 1: negative when tracing slows the call
        "trace.overhead_pct": (100 * ((inputs.records / call_s) / base_rate - 1), "%"),
        "trace.peak_rss_mb": (rss, "MB"),
    }
    m.update({k: (v, "s") for k, v in selfs.items()})

    trace_dir.mkdir(parents=True, exist_ok=True)
    path = trace_dir / f"{tr.run_id}.json"
    path.write_text(json.dumps({
        "run": tr.run_id,
        "workload": wl.name,
        "seed": seed,
        "spans": tr.spans,
        "cumulative_s": cum,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in m.items()},
    }, indent=1))
    return chk, m, {"trace_file": str(path)}
