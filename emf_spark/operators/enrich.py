"""J3 enrichment: broadcast lookup on ``source`` (SURVEY.md §2.4).

The reference's closest analog is the static sink dispatch
(flush/flusher.go:13-25); the north rule generalizes it to a per-record
attribute lookup. The lookup side is dimension-table-small, so this is
an explicit ``broadcast()`` hash join — zero shuffle on the fact side
regardless of input scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def enrich(df: DataFrame, lookup: DataFrame, default_sink: str = "archive") -> DataFrame:
    """Left-join enrichment attributes; unknown sources route to
    ``default_sink`` (the reference errors when no sink is configured,
    flush/flusher.go:22-24 — we side-route instead of failing the job)."""
    out = df.join(F.broadcast(lookup), "source", "left")
    return out.withColumn("sink", F.coalesce(F.col("sink"), F.lit(default_sink)))


