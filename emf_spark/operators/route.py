"""S6/§2.10 fan-out routing: one pass, per-sink physical layout.

The reference dispatches every flush to exactly one configured sink
(flush/flusher.go:13-25). The north rule requires fan-out to per-sink
tables. We write ONCE with ``partitionBy("sink")`` — a single scan and
zero shuffle produce one directory (≈ Iceberg partition) per sink;
reading ``routed/sink=<name>`` back scans that one partition. Per-sink
row-level invariant: routed rows carry the original ``tokens``
untouched (north-rule token-array equality).

``pipeline.STAGED_COLS`` starts with ``ROUTED_COLS``, so ``pipeline.run``
routes the valid side of its one staged pass: per record, not per
``doc_id`` (SURVEY.md §7.4).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

ROUTED_COLS = [
    "doc_id",
    "tokens",
    "n_tok",
    "source",
    "sink",
    "log_group_name",
    "log_stream_name",
    "env",
]


def write_routed(df: DataFrame, out_dir: str) -> str:
    """Fan-out write of ``ROUTED_COLS``, partitioned by sink."""
    path = os.path.join(out_dir, "routed")
    df.select(*ROUTED_COLS).write.mode("overwrite").partitionBy("sink").parquet(path)
    return path

