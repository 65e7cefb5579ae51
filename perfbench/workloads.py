"""Seeded benchmark inputs and their oracle expectations.

Every workload is a directory of tokenized EMF parquet files made by
``emf_spark.fixtures`` (the reference test-generator event mix plus the
FIXTURES.md adversarial slices: 2% malformed, a 30% hot dimension set,
the SEH branch cases). The expected output of each input comes from
``tests/oracle.py`` run over the same generated records. Both are
cached under the work directory, keyed by (workload, seed, size), so a
repeated seed pays for neither and no timed region ever does.
"""

from __future__ import annotations

import json
import os
import pickle
import shutil
from collections import Counter
from dataclasses import dataclass

from emf_spark import fixtures
from tests import oracle

SINK_OF = {r[0]: r[1] for r in fixtures.SOURCE_LOOKUP_ROWS}

# oracle.parse_record's rejection messages -> the engine's error column
# (operators/parse.py parse_emf)
ERROR_REASON = {
    "no aws metadata": "no aws metadata found in record",
    "no timestamp": "no timestamp found in aws data",
    "timestamp not int": "no timestamp found in aws data",
    "no CloudWatchMetrics": "no CloudWatchMetrics key found",
}

# one fixed one-file input, whatever the seed: every run's cold warm-up
# pass, and the stream leg of a batch workload's traced run
TINY_RECORDS = 200
TINY_SEED = 0


@dataclass(frozen=True)
class Workload:
    name: str
    kind: str  # "batch": pipeline.run; "stream": streaming.job.run_microbatch
    files: int
    records_per_file: int


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "emf_mix",
            "batch",
            files=1,
            records_per_file=3_000,
        ),
        Workload(
            "emf_stream",
            "stream",
            files=1,
            records_per_file=500,
        ),
    )
}


@dataclass
class Inputs:
    input_dir: str
    records: int
    expect: dict


def file_seed(seed: int, k: int) -> int:
    """Generator seed of file ``k``; distinct files get distinct doc ids."""
    return seed * 1000 + k


def expectations(records) -> dict:
    """Oracle view of ``records`` [(doc_id, json, source)]: reduced events
    per (sink, window_start, dim_hash), records per group and per sink,
    rejected records by engine error reason, and the rejected doc ids."""
    errors, rejected = Counter(), []
    for doc_id, js, _src in records:
        try:
            oracle.parse_record(json.loads(js))
        except ValueError as e:
            msg = str(e)
            errors[ERROR_REASON.get(msg, "unparseable record")] += 1
            rejected.append(doc_id)
    groups = oracle.aggregate(
        [(doc_id, js, SINK_OF[src]) for doc_id, js, src in records]
    )
    by_sink = Counter()
    for (sink, _w, _h), g in groups.items():
        by_sink[sink] += g["records"]
    return {
        "events": oracle.reduced_events(groups),
        "valid_by_sink": dict(by_sink),
        "errors": dict(errors),
        "rejected": rejected,
        "records": len(records),
    }


def _build(dest: str, files: int, n: int, seed: int) -> None:
    tmp = dest + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "input"))
    records = []
    for k in range(files):
        s = file_seed(seed, k)
        fixtures.write_corpus(os.path.join(tmp, "input", f"part-{k:03d}.parquet"), n, seed=s)
        records += [(d, js, src) for d, js, src, _ts in fixtures.gen_records(n, seed=s)]
    with open(os.path.join(tmp, "expect.pkl"), "wb") as f:
        pickle.dump(expectations(records), f)
    shutil.rmtree(dest, ignore_errors=True)
    os.rename(tmp, dest)


def prepare(cache_dir: str, tag: str, files: int, n: int, seed: int) -> Inputs:
    """Generate (or reuse) ``files`` x ``n`` records for ``seed``."""
    dest = os.path.join(cache_dir, f"{tag}-s{seed}-{files}x{n}")
    if not os.path.exists(os.path.join(dest, "expect.pkl")):
        _build(dest, files, n, seed)
    with open(os.path.join(dest, "expect.pkl"), "rb") as f:
        expect = pickle.load(f)
    return Inputs(os.path.join(dest, "input"), files * n, expect)
