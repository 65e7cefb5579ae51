"""Ordered event-funnel analysis (sequential pattern matching).

Computes, per analysis unit (arbitrary key columns, e.g. ``user_id`` or
``(user_id, day)``), the earliest timestamp at which each step of an
ordered funnel was reached, where step *k* must occur strictly (or
weakly, ``strict=False``) after the unit's step *k-1* time. This is the
"time-ordered conversion" primitive behind product funnels
(view -> click -> purchase) and pipeline-stage SLA tracking; the
reference engine has no equivalent, so semantics here are the standard
first-touch funnel definition.

Scale posture (100 TB): each step costs one key-partitioned groupBy of
the step's *filtered* events plus one equi-join back on the same unit
key — never a window over the whole stream, never a cross product.
Steps are few (< 10 in practice), so the plan is O(steps) shuffles all
on one key; the exchange is reused across steps, and each successive
step's right side only shrinks (units that converted so far). The
summary is a single 1-row aggregate unpivoted with ``stack`` — no
driver-side collect.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, functions as F


def funnel_times(
    events: DataFrame,
    steps: Sequence[str],
    key_cols: Sequence[str],
    strict: bool = True,
) -> DataFrame:
    """Per-unit earliest ``ts`` at which each funnel step (an
    ``event_type``) was reached, in order.

    Returns one row per unit that reached step 1, with columns
    ``t_1 .. t_n`` (``t_k`` null when step k was never reached after
    ``t_{k-1}``). ``strict=True`` requires ``ts > t_{k-1}``; with
    ``strict=False`` a same-timestamp later step counts (``>=``).
    """
    if not steps:
        raise ValueError("funnel needs at least one step")
    keys = list(key_cols)
    out = (
        events.filter(F.col("event_type") == steps[0])
        .groupBy(*keys)
        .agg(F.min("ts").alias("t_1"))
    )
    for i, step in enumerate(steps[1:], start=2):
        prev = f"t_{i - 1}"
        after = F.col("ts") > F.col(prev) if strict else F.col("ts") >= F.col(prev)
        nxt = (
            events.filter(F.col("event_type") == step)
            .join(out.select(*keys, prev), on=keys)
            .filter(after)
            .groupBy(*keys)
            .agg(F.min("ts").alias(f"t_{i}"))
        )
        out = out.join(nxt, on=keys, how="left")
    return out


def funnel_summary(times: DataFrame, steps: Sequence[str]) -> DataFrame:
    """Long-form (step, step_name, units, conv_rate) from funnel_times.

    ``units`` counts units whose ``t_k`` is non-null; ``conv_rate`` is
    units / step-1 units rounded to 6 dp. Entirely in-plan: one 1-row
    aggregate, unpivoted with ``stack`` — no collect.
    """
    n = len(steps)
    counts = times.agg(
        *[F.count(f"t_{i}").alias(f"s{i}") for i in range(1, n + 1)]
    )
    # unpivot via explode(array(struct(...))) rather than interpolating
    # step names into a stack() selectExpr: names are DATA (lit), so a
    # quote or SQL fragment in a step name (reachable from the CLI
    # --steps flag) cannot break or inject into the plan (ADVICE r3)
    rows = F.explode(
        F.array(*[
            F.struct(
                F.lit(i).cast("bigint").alias("step"),
                F.lit(steps[i - 1]).alias("step_name"),
                F.col(f"s{i}").alias("units"),
            )
            for i in range(1, n + 1)
        ])
    ).alias("_r")
    return counts.select(rows, "s1").select(
        "_r.step", "_r.step_name", "_r.units", "s1"
    ).select(
        "step",
        "step_name",
        "units",
        # try_divide: when NO unit reached step 1 (s1=0) the rate is
        # null instead of an ANSI DIVIDE_BY_ZERO crash (review finding)
        F.round(F.try_divide(F.col("units"), F.col("s1")), 6).alias("conv_rate"),
    )


def cohort_retention(
    events: DataFrame,
    period: str = "week",
) -> DataFrame:
    """Cohort retention matrix: users (``user_id``) cohort by the period
    of their FIRST event; each later period they are active increments that
    (cohort, periods-since) cell — the classic product-analytics
    retention triangle. Returns (cohort, period_n, active_users,
    cohort_size, retention) with retention = active/size as the one
    final double division (engine-portable).

    Scale shape: one per-user min aggregate (map-side combinable) and
    one distinct over (user, period) — both shuffle on the user key,
    so the join between them reuses the exchange; the retention
    aggregate then runs over (cohort, period_n) cardinality rows
    (weeks², not events), and cohort sizes broadcast back onto the
    matrix. No window over the event stream anywhere; every step is an
    algebraic aggregate. period_n is an exact integer (period-aligned
    timestamps divide evenly), so no float date math leaks in."""
    per = {"week": 7, "day": 1}
    if period not in per:
        raise ValueError(f"period must be one of {sorted(per)}")
    u, t = F.col("user_id"), F.col("ts")
    first = events.filter(u.isNotNull() & t.isNotNull()).groupBy(
        u.alias("_u")
    ).agg(F.min(F.date_trunc(period, t)).alias("cohort"))
    active = (
        events.filter(u.isNotNull() & t.isNotNull())
        .select(u.alias("_u"), F.date_trunc(period, t).alias("_p"))
        .distinct()
    )
    cells = active.join(first, "_u").select(
        "_u",
        "cohort",
        F.expr(f"datediff(_p, cohort) div {per[period]}")
        .cast("int")
        .alias("period_n"),
    )
    matrix = cells.groupBy("cohort", "period_n").agg(
        F.count(F.lit(1)).alias("active_users")
    )
    sizes = first.groupBy("cohort").agg(F.count(F.lit(1)).alias("cohort_size"))
    return matrix.join(F.broadcast(sizes), "cohort").select(
        "cohort",
        "period_n",
        "active_users",
        "cohort_size",
        (F.col("active_users").cast("double") / F.col("cohort_size")).alias(
            "retention"
        ),
    )


def rolling_active_users(
    events: DataFrame,
    window_days: int = 7,
) -> DataFrame:
    """Daily active users plus EXACT trailing-window distinct users
    (the DAU/WAU pair): (day, dau, rolling_users). Rolling distinct
    does not decompose algebraically, so the standard exact form is
    used: each active (user, day) contributes membership to the
    ``window_days`` windows it falls in — a bounded explode (x window
    size) followed by a distinct and a count, never a per-day re-scan
    of the stream and never a distinct-over-window sort. Days with no
    activity emit no row (they'd be zero).

    Scale: the (user, day) distinct collapses the stream first (the
    only event-cardinality shuffle); the explode multiplies the
    DISTINCT user-day table by window_days, not the raw events."""
    if window_days < 1:
        raise ValueError("window_days must be >= 1")
    u, t = F.col("user_id"), F.col("ts")
    ud = (
        events.filter(u.isNotNull() & t.isNotNull())
        .select(u.alias("_u"), F.to_date(t).alias("_d"))
        .distinct()
    )
    dau = ud.groupBy(F.col("_d").alias("day")).agg(
        F.count(F.lit(1)).alias("dau")
    )
    member = ud.select(
        "_u",
        F.explode(
            F.sequence(F.col("_d"), F.date_add(F.col("_d"), window_days - 1))
        ).alias("day"),
    ).distinct()
    roll = member.groupBy("day").agg(F.count(F.lit(1)).alias("rolling_users"))
    # inner join: a window day only counts if it has own-day activity
    # (trailing windows of silent days are rarely asked for, and the
    # join keeps the output day set identical to DAU's)
    return dau.join(roll, "day").select("day", "dau", "rolling_users")


def value_outliers(
    events: DataFrame,
    z: int = 2,
    scale: int = 100,
) -> DataFrame:
    """Per-group z-score outliers with ZERO float operations: flag rows
    where (x - mean)^2 > z^2 * variance, evaluated as the equivalent
    integer inequality (x*n - S)^2 > z^2 * (SS*n - S^2) over
    round(value*scale) bigints — population mean/variance multiplied
    through by n^2, so the verdict is exact int64 arithmetic with no
    division, no sqrt, and no cross-engine float risk. Returns the
    flagged rows (id, group, value, side +/-1).

    Scale shape: one algebraic (n, S, SS) aggregate per group
    (map-side combinable), broadcast back onto the stream, one
    comparison per row. Overflow envelope: |x*n - S| <= 2*max|x|*n, so
    the square stays in int64 while max|x|*n*scale < ~1.5e9 — at
    larger volumes raise the aggregate to DECIMAL(38) or pre-aggregate
    per partition; the driver-query sizes sit far inside."""
    g, v = F.col("event_type"), F.col("value")
    x = F.round(v.cast("double") * scale, 0).cast("bigint")
    stats = (
        events.filter(v.isNotNull())
        .select(g.alias("_g"), x.alias("_x"))
        .groupBy("_g")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum("_x").alias("_s"),
            F.sum(F.col("_x") * F.col("_x")).alias("_ss"),
        )
    )
    joined = events.filter(v.isNotNull()).join(
        F.broadcast(stats), g.eqNullSafe(F.col("_g"))
    )
    dev = x * F.col("_n") - F.col("_s")
    var_n2 = F.col("_ss") * F.col("_n") - F.col("_s") * F.col("_s")
    return (
        joined.filter(dev * dev > F.lit(z * z) * var_n2)
        .select(
            F.col("event_id"),
            g.alias("grp"),
            v.alias("value"),
            F.when(dev > 0, F.lit(1)).otherwise(F.lit(-1)).alias("side"),
        )
    )

def attribution_report(
    events: DataFrame,
    conv_type: str,
    touch_types: Sequence[str],
    window_sec: int = 86_400,
) -> DataFrame:
    """Multi-touch marketing attribution: for every conversion event
    (``event_type == conv_type``), credit the touch events of
    ``touch_types`` the same user produced in the ``window_sec``
    seconds strictly BEFORE the conversion (end-exclusive: a touch at
    the conversion's own second does not count). Returns one row per
    touch type with the three standard models side by side:

    - ``first_touch`` / ``last_touch``: conversions whose
      earliest/latest in-window touch has this type (ties broken by
      event id — deterministic),
    - ``linear_micro``: sum over credited touches of
      ``1_000_000 // n_touches`` micro-credits (integer floor-div, so
      the equal-split model is bit-portable across engines — no float
      shares).

    Plan shape: conversions become intervals ``[ep - window, ep)`` and
    touches points, matched by :func:`~emf_spark.operators.ranges.range_join`
    — a bucketed EQUI-join on (user, time-bucket), never an inequality
    nested loop. First/last ride ONE algebraic aggregate per conversion
    (lexicographic struct min/max — the A4/A5 pattern), and the three
    models merge on a frame bounded by ``len(touch_types)`` rows.
    At 100 TB: cost is |touches| + |convs| * (window/bucket) rows into
    one hash join, partial-aggregated per conversion; no window over
    users, no driver-side state.
    """
    from emf_spark.operators.ranges import range_join

    ep = F.unix_timestamp(F.col("ts")).cast("bigint")
    base = events.select(
        F.col("user_id").alias("u"),
        F.col("event_id").alias("eid"),
        F.col("event_type").alias("etype"),
        ep.alias("ep"),
    )
    conv = base.filter(F.col("etype") == conv_type).select(
        "u",
        F.col("eid").alias("conv_id"),
        (F.col("ep") - F.lit(window_sec)).cast("double").alias("w_start"),
        F.col("ep").cast("double").alias("w_end"),
    )
    touch = base.filter(F.col("etype").isin(list(touch_types))).select(
        "u",
        F.col("eid").alias("touch_id"),
        F.col("etype").alias("ttype"),
        F.col("ep").cast("double").alias("tep"),
    )
    j = range_join(
        touch, conv, ts_col="tep", start_col="w_start", end_col="w_end",
        keys=["u"], bucket=float(window_sec),
    )
    per_conv = j.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.min(F.struct("tep", "touch_id", "ttype"))["ttype"].alias("first_type"),
        F.max(F.struct("tep", "touch_id", "ttype"))["ttype"].alias("last_type"),
    )
    first = per_conv.groupBy(F.col("first_type").alias("ttype")).agg(
        F.count(F.lit(1)).alias("first_touch")
    )
    last = per_conv.groupBy(F.col("last_type").alias("ttype")).agg(
        F.count(F.lit(1)).alias("last_touch")
    )
    linear = (
        j.join(per_conv.select("conv_id", "n"), "conv_id")
        .groupBy("ttype")
        .agg(F.sum(F.expr("1000000 div n")).alias("linear_micro"))
    )
    return (
        linear.join(first, "ttype", "left")
        .join(last, "ttype", "left")
        .select(
            "ttype",
            F.coalesce("first_touch", F.lit(0)).alias("first_touch"),
            F.coalesce("last_touch", F.lit(0)).alias("last_touch"),
            "linear_micro",
        )
    )
