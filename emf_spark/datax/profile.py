"""Column profiling: the ``ANALYZE TABLE``-shaped pass every pipeline
runs before trusting a new data drop — per-column row/null/distinct
counts and min/max, as data (one row per column) rather than logs.

One scan, one aggregate: all per-column measures land in a single
``agg(...)`` (Catalyst plans the multi-``count_distinct`` via one
Expand — cols x rows map-side rows, still a single shuffle of partial
aggregates), producing ONE driver-size row that a projection explodes
into the long (column, stats) form. Nothing is collected; adding a
column adds expressions, not passes.

min/max are emitted as strings so heterogeneous column types share one
output schema — callers profiling float columns should note engine
string-rendering of doubles differs across systems (the oracle-checked
driver query profiles integer/string columns, where rendering is
universal).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def profile(df: DataFrame, cols: list[str]) -> DataFrame:
    """Rows ``(column, n_rows, n_nulls, n_distinct, min_repr,
    max_repr)`` for each named column: exact distincts (NULL excluded,
    SQL semantics), min/max cast to string, all from one aggregate
    over one scan."""
    if not cols:
        raise ValueError("cols must be non-empty")
    aggs = [F.count(F.lit(1)).alias("_n")]
    for c in cols:
        aggs += [
            F.count(F.col(c)).alias(f"_nn_{c}"),
            F.countDistinct(F.col(c)).alias(f"_nd_{c}"),
            F.min(F.col(c)).cast("string").alias(f"_mn_{c}"),
            F.max(F.col(c)).cast("string").alias(f"_mx_{c}"),
        ]
    one = df.agg(*aggs)
    per_col = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                F.col("_n").alias("n_rows"),
                (F.col("_n") - F.col(f"_nn_{c}")).alias("n_nulls"),
                F.col(f"_nd_{c}").alias("n_distinct"),
                F.col(f"_mn_{c}").alias("min_repr"),
                F.col(f"_mx_{c}").alias("max_repr"),
            )
            for c in cols
        ]
    )
    return one.select(F.explode(per_col).alias("_p")).select("_p.*")


def mode_per_group(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
) -> DataFrame:
    """Most frequent ``value_col`` per group (majority label — the
    label-consolidation step of weak supervision / multi-annotator
    training sets). Deterministic tie-break: among equally frequent
    values the LEXICOGRAPHICALLY LARGEST wins (struct-max order).

    Plan: two algebraic aggregates, no window. The first counts
    (group, value) pairs map-side-combinably; the second struct-max
    collapses each group's candidate values. Both shuffles are keyed
    on (subsets of) the group columns, so a hot group costs one
    reducer O(distinct values in that group) — never O(rows).
    NULL values are ignored (never elected mode); all-NULL groups
    drop out, matching the SQL oracle's WHERE value IS NOT NULL.
    """
    if not group_cols:
        raise ValueError("mode_per_group needs at least one group column")
    pair = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(*group_cols, value_col)
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    best = pair.groupBy(*group_cols).agg(
        F.max(F.struct(F.col("_c"), F.col(value_col))).alias("_b")
    )
    return best.select(
        *group_cols,
        F.col(f"_b.{value_col}").alias("mode_value"),
        F.col("_b._c").alias("mode_count"),
    )


def numeric_histogram(
    df: DataFrame,
    col: str,
    lo: float,
    hi: float,
    bins: int = 20,
) -> DataFrame:
    """Equi-width histogram over caller-declared bounds — the
    distribution half of profile() (min/max/distinct say nothing about
    shape). Declared bounds keep it ONE pass (a data-derived range
    needs a pre-scan; callers that want that compose with profile()).
    Returns (bin, lo, hi, cnt) with bin in [0, bins); values outside
    the bounds clamp into the edge bins (they are evidence, not noise);
    nulls are excluded. One map-side-combinable aggregate over <= bins
    groups — shuffle bytes are O(bins) per task regardless of input."""
    if bins < 1:
        raise ValueError("bins must be >= 1")
    if not (hi > lo):
        raise ValueError("hi must be > lo")
    width = (hi - lo) / bins
    b = F.least(
        F.greatest(
            F.floor((F.col(col) - F.lit(lo)) / F.lit(width)), F.lit(0)
        ),
        F.lit(bins - 1),
    ).cast("int")
    return (
        df.filter(F.col(col).isNotNull())
        .groupBy(b.alias("bin"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "bin",
            (F.lit(lo) + F.col("bin") * F.lit(width)).alias("lo"),
            (F.lit(lo) + (F.col("bin") + 1) * F.lit(width)).alias("hi"),
            "cnt",
        )
    )
