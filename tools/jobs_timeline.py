"""Print the Spark jobs of one call, in submission order, from an event log.

    python3 tools/jobs_timeline.py EVENT_LOG [--group GROUP]

``EVENT_LOG`` is an uncompressed Spark event log (a file, or a rolling
log's directory), or a directory of them (the newest is read). Enable it
on the session with
``spark.eventLog.enabled=true``, ``spark.eventLog.dir=<dir>`` and
``spark.eventLog.compress=false``; stop the session before reading.

A call is the set of jobs of one job group: tag a batch call with
``sparkContext.setJobGroup(...)``; a streaming query tags its jobs with
its run id. ``--group`` defaults to the group of the last job in the log,
so a script whose last call is the warm one needs no flag.

One line per job: its start offset (ms), the gap since the latest end of
the call's earlier jobs (negative: it overlaps a job still running), its
duration, the stages that ran and their tasks, and its job description
(``pipeline.run_legs`` names each leg's jobs). For a streaming query the
offsets count from the trigger start and the query's progress is
printed too, so the time before the first job shows the driver's work
inside ``addBatch``. A summary counts the call's tasks, and the jobs
and tasks per description.
"""

from __future__ import annotations

import argparse
import json
from collections import Counter
from datetime import datetime
from pathlib import Path

PROGRESS = "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent"


def log_files(path: Path) -> list[Path]:
    """The event log's files in write order: ``path`` itself, or the
    newest log under a directory; a rolling log is a directory of
    ``events_<n>_...`` files."""
    if path.is_dir():
        path = max((f for f in path.iterdir() if not f.name.startswith(".")),
                   key=lambda f: f.stat().st_mtime)
    if not path.is_dir():
        return [path]
    rolled = [f for f in path.iterdir() if f.name.startswith("events_")]
    return sorted(rolled, key=lambda f: int(f.name.split("_")[1]))


def events(files: list[Path]):
    for f in files:
        with open(f) as fh:
            yield from map(json.loads, fh)


def read_jobs(files: list[Path]) -> tuple[list[dict], list[dict]]:
    """-> (jobs in submission order, streaming progress records)."""
    jobs, ran, tasks, progress = {}, set(), {}, []
    for e in events(files):
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            jobs[e["Job ID"]] = {
                "id": e["Job ID"],
                "start": e["Submission Time"],
                "end": None,
                "stage_ids": e["Stage IDs"],
                "group": props.get("spark.jobGroup.id"),
                # a streaming batch's description ends "batch = <id>"
                "desc": ((props.get("spark.job.description") or "").strip()
                         .splitlines() or ["-"])[-1],
            }
        elif kind == "SparkListenerJobEnd":
            jobs[e["Job ID"]]["end"] = e["Completion Time"]
        elif kind == "SparkListenerStageSubmitted":
            info = e["Stage Info"]
            ran.add(info["Stage ID"])
            tasks[info["Stage ID"]] = info["Number of Tasks"]
        elif kind == PROGRESS:
            progress.append(e["progress"])
    for j in jobs.values():
        j["stages"] = [s for s in j["stage_ids"] if s in ran]
        j["tasks"] = sum(tasks[s] for s in j["stages"])
    return sorted(jobs.values(), key=lambda j: (j["start"], j["id"])), progress


def rows_of(progress: dict) -> int:
    return sum(src["numInputRows"] for src in progress["sources"])


def epoch_ms(timestamp: str) -> int:
    return int(datetime.fromisoformat(timestamp.replace("Z", "+00:00")).timestamp() * 1000)


def timeline(jobs: list[dict], origin: int) -> list[str]:
    lines = [f"{'job':>5} {'start':>7} {'gap':>6} {'ms':>6} {'stages':>6} {'tasks':>5}  description"]
    latest_end = None
    for j in jobs:
        gap = "" if latest_end is None else j["start"] - latest_end
        dur = "" if j["end"] is None else j["end"] - j["start"]
        lines.append(
            f"{j['id']:>5} {j['start'] - origin:>7} {gap:>6} {dur:>6} "
            f"{len(j['stages']):>6} {j['tasks']:>5}  {j['desc']}"
        )
        if j["end"] is not None:
            latest_end = j["end"] if latest_end is None else max(latest_end, j["end"])
    return lines


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("event_log", type=Path)
    ap.add_argument("--group", help="job group of the call (default: the last job's)")
    args = ap.parse_args()
    jobs, progress = read_jobs(log_files(args.event_log))
    group = args.group or jobs[-1]["group"]
    jobs = [j for j in jobs if j["group"] == group]
    if not jobs:
        raise SystemExit(f"no jobs in group {group!r}")
    batches = [p for p in progress if p["runId"] == group and rows_of(p) > 0]
    origin = epoch_ms(batches[0]["timestamp"]) if batches else jobs[0]["start"]
    print(f"group {group}: {len(jobs)} jobs")
    for p in batches:
        trigger = epoch_ms(p["timestamp"])
        first = min((j["start"] for j in jobs if j["start"] >= trigger), default=trigger)
        d = p["durationMs"]
        print(
            f"batch {p['batchId']}: {rows_of(p)} rows at +{trigger - origin} ms, "
            f"triggerExecution {d.get('triggerExecution')} ms, addBatch "
            f"{d.get('addBatch')} ms, first job {first - trigger} ms after the trigger"
        )
    print("\n".join(timeline(jobs, origin)))
    end = max(j["end"] or j["start"] for j in jobs)
    per_desc, tasks = Counter(j["desc"] for j in jobs), Counter()
    for j in jobs:
        tasks[j["desc"]] += j["tasks"]
    print(f"span {end - jobs[0]['start']} ms; {sum(tasks.values())} tasks; "
          "jobs/tasks per description: "
          + ", ".join(f"{d} {n}/{tasks[d]}" for d, n in per_desc.items()))


if __name__ == "__main__":
    main()
