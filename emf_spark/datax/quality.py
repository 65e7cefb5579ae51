"""Declarative data-quality constraint checking (Deequ-style).

A 100 TB ingest gate wants MANY assertions — completeness, uniqueness,
ranges, domain membership — evaluated in ONE pass over the data, not
one job per check (the pattern of AWS Deequ / Great Expectations,
re-expressed as a single Catalyst aggregate). Every constraint
compiles to an algebraic aggregate expression; the whole suite is one
`df.agg(...)` (count-distincts share a single Expand, like
datax/profile.py) exploded to one result row per constraint.

Exactness contract: metrics are reported as integer NUMERATOR /
DENOMINATOR pairs, never floats, and thresholds are rationals
(num, den) compared as ``metric_num * t_den >= t_num * metric_den`` in
int64 — so the pass/fail verdicts and every reported number replay
bit-for-bit in an external SQL engine.

Constraint forms (tuples, first element is the kind):
  ("completeness", col, t_num, t_den) — non-null fraction >= t
  ("unique", col)                     — distinct == non-null count
  ("range", col, lo, hi)              — every non-null value in [lo, hi]
  ("values_in", col, values)          — every non-null value in set
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def check_constraints(
    df: DataFrame, constraints: list[tuple]
) -> DataFrame:
    """Evaluate ``constraints`` in one aggregate pass. Returns one row
    per constraint: (check, column, metric_num, metric_den, passed).

    metric_num / metric_den per kind:
      completeness: non-null count / total rows
      unique:       distinct count / non-null count
      range:        in-range count / non-null count
      values_in:    member count / non-null count
    """
    if not constraints:
        raise ValueError("check_constraints needs at least one constraint")
    aggs = [F.count(F.lit(1)).alias("_n")]
    specs = []  # (check, column, num_field, den_field, pass_builder)
    for i, c in enumerate(constraints):
        kind = c[0]
        col = c[1]
        nn = f"_nn{i}"
        aggs.append(F.count(F.col(col)).alias(nn))
        if kind == "completeness":
            _, _, tn, td = c
            if not (0 <= tn and 0 < td):
                raise ValueError(f"bad threshold {tn}/{td}")
            specs.append((kind, col, nn, "_n",
                          lambda n, d, tn=tn, td=td: n * td >= tn * d))
        elif kind == "unique":
            nd = f"_nd{i}"
            aggs.append(F.countDistinct(F.col(col)).alias(nd))
            specs.append((kind, col, nd, nn, lambda n, d: n == d))
        elif kind == "range":
            _, _, lo, hi = c
            nr = f"_nr{i}"
            aggs.append(
                F.count(
                    F.when(
                        F.col(col).between(F.lit(lo), F.lit(hi)), F.lit(1)
                    )
                ).alias(nr)
            )
            specs.append((kind, col, nr, nn, lambda n, d: n == d))
        elif kind == "values_in":
            _, _, values = c
            nv = f"_nv{i}"
            aggs.append(
                F.count(F.when(F.col(col).isin(list(values)), F.lit(1))).alias(nv)
            )
            specs.append((kind, col, nv, nn, lambda n, d: n == d))
        else:
            raise ValueError(f"unknown constraint kind {kind!r}")
    one = df.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(kind).alias("check"),
                F.lit(col).alias("column"),
                F.col(num).cast("bigint").alias("metric_num"),
                F.col(den).cast("bigint").alias("metric_den"),
                ok(F.col(num), F.col(den)).alias("passed"),
            )
            for kind, col, num, den, ok in specs
        ]
    )
    return one.select(F.explode(rows).alias("_r")).select("_r.*")


def distribution_drift(
    ref: DataFrame,
    cur: DataFrame,
    cat_col: str,
) -> DataFrame:
    """Categorical distribution drift between a REFERENCE window and a
    CURRENT window — the feature/label drift monitor of a training
    pipeline (the job PSI/KL usually do), kept integer-exact: for each
    category, ``drift_ppm = |n_ref*T_cur - n_cur*T_ref| * 1e6 div
    (T_ref*T_cur)`` is the absolute rate difference |p_ref - p_cur| in
    parts per million (cross-multiplied so no float ever forms), and
    ``sign`` is +1 where the category GREW, -1 where it shrank, 0 flat.
    Half the ppm column's sum is the total-variation distance — the
    drift scalar with an exact integer form, which PSI/KL (logs) lack;
    alert thresholds compare integers.

    Returns one row per category seen in EITHER window:
    ``(category, n_ref, n_cur, drift_ppm, sign)``; categories absent
    from a window count 0 there (maximal drift for that mass). NULL
    categories are a category.

    Scale shape: one map-combinable count aggregate per side, a
    full-outer equi-join on the (tiny, |categories|-row) collapsed
    frames, and the two 1-row total scalars as sanctioned broadcasts.
    An EMPTY window makes the ppm denominator zero — ANSI mode throws
    loudly (a drift monitor with no reference or no current data is
    misconfigured, not zero-drift).
    The bigint product n*T needs n*T*1e6 < ~9e18; beyond ~3e6-row
    windows per side swap the ppm literal for a DECIMAL(38) cast
    (ANSI throws loudly at the boundary).
    """

    def counts(df: DataFrame, n: str) -> DataFrame:
        return df.groupBy(F.col(cat_col).alias("category")).agg(
            F.count(F.lit(1)).alias(n)
        )

    a, b = counts(ref, "n_ref"), counts(cur, "n_cur")
    # an empty side coalesces its total to 0, so the ppm division throws
    ta = a.agg(F.coalesce(F.sum("n_ref"), F.lit(0)).alias("t_ref"))
    tb = b.agg(F.coalesce(F.sum("n_cur"), F.lit(0)).alias("t_cur"))
    return (
        # null-safe join key: a NULL category must meet ITSELF across
        # windows, not split into two one-sided rows
        a.join(b, a["category"].eqNullSafe(b["category"]), "full_outer")
        .select(
            F.coalesce(a["category"], b["category"]).alias("category"),
            F.coalesce(a["n_ref"], F.lit(0)).alias("n_ref"),
            F.coalesce(b["n_cur"], F.lit(0)).alias("n_cur"),
        )
        .crossJoin(ta)
        .crossJoin(tb)
        .select(
            "category",
            "n_ref",
            "n_cur",
            F.expr(
                "(abs(n_ref * t_cur - n_cur * t_ref) * 1000000)"
                " div (t_ref * t_cur)"
            ).alias("drift_ppm"),
            F.signum(
                (F.col("n_cur") * F.col("t_ref")
                 - F.col("n_ref") * F.col("t_cur")).cast("double")
            ).cast("int").alias("sign"),
        )
        .orderBy("category")
    )
