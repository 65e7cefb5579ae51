"""As-of (point-in-time) join — the classic time-series operator Spark
lacks natively, built as a composition of existing DataFrame ops.

Semantics (matched to DuckDB's ``ASOF JOIN ... ON l.k = r.k AND
l.ts >= r.ts``, which the driver oracle uses): every left row picks the
LATEST right row of the same key with ``right_ts <= left_ts``
(inclusive); left rows with no prior right row keep nulls.

Scale shape — the union+window-fill plan, NOT a join:

  union(left tagged 1, right tagged 0)
    └─ one shuffle on key, one per-partition sort on (ts, tag)
    └─ last(right_payload, ignorenulls) over
       (partitionBy key, rowsBetween unbounded..current)
    └─ filter back to left rows

No row explosion ever (an equi-join + filter + row_number re-ranking
materializes |left| x |right-per-key| intermediates; this stays
|left| + |right|), hot keys cost one sorted partition, and the window
is whole-stage-codegen'd. Right-side payload rides as ONE struct column
so the fill is a single ``last`` regardless of payload width.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    prefix: str = "",
) -> DataFrame:
    """Left as-of join: all of ``left``'s columns plus the other
    ``right`` columns from the latest ``right`` row with
    ``right_ts <= left_ts`` per ``key`` (null when no such row). ``prefix`` prefixes the appended
    right columns to dodge collisions."""
    value_cols = [c for c in right.columns if c not in (key, right_ts)]
    for c in ("_k", "_t", "_rv", "_src", "_rv_f"):
        if c in left.columns:
            raise ValueError(f"left column {c!r} collides with asof internals")
    clash = [c for c in value_cols if (prefix + c) in left.columns]
    if clash:
        raise ValueError(
            f"right value columns {clash} collide with left columns — "
            "pass a prefix"
        )
    rv_t = right.select(F.struct(*value_cols).alias("_rv")).schema["_rv"].dataType
    # a NULL right timestamp can match no `right_ts <= left_ts`
    # predicate, but Spark sorts it NULLS FIRST — it would become the
    # fill value for every otherwise-unmatched left row (the DuckDB
    # oracle's l.ts >= r.ts yields NULL columns there; review finding)
    r = right.filter(F.col(right_ts).isNotNull()).select(
        F.col(key).alias("_k"),
        F.col(right_ts).cast("double").alias("_t"),
        F.struct(*value_cols).alias("_rv"),
        F.lit(0).alias("_src"),
    )
    l = left.select(
        "*",
        F.col(key).alias("_k"),
        F.col(left_ts).cast("double").alias("_t"),
        F.lit(None).cast(rv_t).alias("_rv"),
        F.lit(1).alias("_src"),
    )
    unioned = l.unionByName(r, allowMissingColumns=True)
    # right rows sort BEFORE left rows at an equal timestamp (_src 0 < 1)
    # => the boundary is inclusive, like DuckDB's l.ts >= r.ts. The
    # payload-hash key makes DUPLICATE (key, ts) right rows resolve
    # deterministically (highest hash wins) instead of by physical
    # order — prefer unique (key, ts) on the right; the tiebreak only
    # guarantees run-to-run stability, not a semantic choice.
    w = (
        Window.partitionBy("_k")
        .orderBy("_t", "_src", F.xxhash64("_rv"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = unioned.withColumn(
        "_rv_f", F.last("_rv", ignorenulls=True).over(w)
    ).filter(F.col("_src") == 1)
    out = filled.select(
        *left.columns,
        *[
            F.col("_rv_f")[c].alias(prefix + c)
            for c in value_cols
        ],
    )
    return out
