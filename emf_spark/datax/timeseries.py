"""Telemetry time-series operators: reset-aware counter increase
(the PromQL ``increase()`` primitive), gap-fill resampling with
forward fill, exponentially-weighted smoothing on an integer lattice,
and multi-window SLO burn-rate flags.

These are the read-side queries every log/metric pipeline runs over
what the EMF aggregation path writes (counters, gauges, error events),
so they live beside the dedup/quality datax ops as first-class
components. Reference analog: the aggregator's count/sum accumulation
per flush window (fluent-bit-emf/aggregator.go) is the WRITE side of
exactly these counters.

Design rules shared by every function here:

- **Integer lattice, exact oracles.** Gauge doubles are scaled to
  integer cents (``round(value * 100)`` → BIGINT) at the boundary,
  every subsequent step is integer arithmetic, and at most one final
  double division happens after aggregation — so DuckDB replays every
  row bit-for-bit and the driver's zero-tolerance hash compare holds.
- **Deterministic order.** Every window orders by ``(ts, tiebreak)``
  with a caller-named unique tiebreak column; two samples can share a
  timestamp without making lag/last_value run-dependent.
- **Per-series windows only.** All windows partition by the series
  key; nothing ever funnels the whole stream through one partition.
  A million series parallelize across executors; a single series'
  samples co-locate, which is the correct (and unavoidable) unit of
  sequential work for lag/ffill semantics. Grid generation is
  ``sequence()`` off a per-series min/max AGGREGATE — O(series) rows
  exploded to O(series x buckets), never a driver-side loop.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window


def _scaled(value_col: str) -> Column:
    """Gauge double -> integer cents. ``round`` half-up on the
    scaled double is IEEE-portable for 2-decimal fixtures; callers
    with adversarial decimals should pre-scale upstream."""
    return F.round(F.col(value_col) * 100).cast("long")


def counter_increase(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    value_col: str,
    tiebreak_col: str,
) -> DataFrame:
    """Per-series reset-aware counter increase — PromQL ``increase()``
    over the full input range. For consecutive samples ``prev -> cur``
    (ordered by ``(ts, tiebreak)``): if ``cur >= prev`` the counter
    grew by ``cur - prev``; if ``cur < prev`` the counter RESET
    (process restart) and the growth since the reset is ``cur`` itself
    (counters restart from 0). The first sample contributes nothing —
    growth before the range started is unknowable.

    Returns one row per series: ``(*key_cols, samples, resets,
    increase_units, last_units)`` — all BIGINT in integer cents.

    Scale shape: one window partitioned by the series key (per-series
    lag is the semantic unit of work), then a map-side-combinable
    aggregate on the same key — AQE reuses the window's hash
    partitioning, so the whole operator is a single shuffle."""
    w = Window.partitionBy(*key_cols).orderBy(ts_col, tiebreak_col)
    v = _scaled(value_col)
    prev = F.lag(v).over(w)
    inc = (
        F.when(prev.isNull(), F.lit(0))
        .when(v >= prev, v - prev)
        .otherwise(v)
    )
    reset = F.when(prev.isNotNull() & (v < prev), 1).otherwise(0)
    return (
        df.select(*key_cols, F.col(ts_col), F.col(tiebreak_col),
                  inc.alias("_inc"), reset.alias("_rst"), v.alias("_v"))
        .groupBy(*key_cols)
        .agg(
            F.count(F.lit(1)).alias("samples"),
            F.sum("_rst").alias("resets"),
            F.sum("_inc").alias("increase_units"),
            F.max(
                F.struct(F.col(ts_col), F.col(tiebreak_col),
                         F.col("_v").alias("_v"))
            ).getField("_v").alias("last_units"),
        )
    )


def resample_ffill(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    value_col: str,
    tiebreak_col: str,
    step_seconds: int,
) -> DataFrame:
    """Gap-fill each series onto a regular ``step_seconds`` grid and
    forward-fill missing buckets from the last observed value. Grid
    spans each series' own ``[floor(min ts), floor(max ts)]`` bucket
    range; within a bucket the LAST observation by ``(ts, tiebreak)``
    wins; buckets before a series' first observation cannot occur by
    construction (the grid starts at the first observed bucket).

    Returns ``(*key_cols, bucket_start:long epoch-seconds,
    value_units:long, filled:int)`` — ``filled=1`` marks rows whose
    value was carried forward rather than observed.

    Scale shape: bucket-last is an algebraic struct-max aggregate
    (map-side combinable); the grid explodes off a per-series min/max
    aggregate (O(series) rows in, O(series x buckets) out — never a
    driver loop); the fill join is an equi-join on (key, bucket) and
    the ffill window partitions by series. Bucket count per series is
    bounded by range/step — choose ``step_seconds`` so that bound
    holds (document: a 1-year span at 1s steps is 31M rows per series;
    that is a caller bug, not an engine surprise)."""
    if step_seconds <= 0:
        raise ValueError("step_seconds must be positive")
    u = F.unix_timestamp(F.col(ts_col))  # BIGINT; % stays integer-exact
    bucket = u - u % step_seconds
    obs = df.select(
        *key_cols,
        bucket.alias("bucket_start"),
        F.struct(
            F.col(ts_col), F.col(tiebreak_col),
            _scaled(value_col).alias("_v"),
        ).alias("_p"),
    )
    last_per_bucket = (
        obs.groupBy(*key_cols, "bucket_start")
        .agg(F.max("_p").getField("_v").alias("_obs"))
    )
    grid = (
        obs.groupBy(*key_cols)
        .agg(F.min("bucket_start").alias("_lo"), F.max("bucket_start").alias("_hi"))
        .select(
            *key_cols,
            F.explode(
                F.sequence(F.col("_lo"), F.col("_hi"), F.lit(step_seconds))
            ).alias("bucket_start"),
        )
    )
    w = (
        Window.partitionBy(*key_cols)
        .orderBy("bucket_start")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(last_per_bucket, [*key_cols, "bucket_start"], "left")
        .select(
            *key_cols,
            "bucket_start",
            F.last("_obs", ignorenulls=True).over(w).alias("value_units"),
            F.when(F.col("_obs").isNull(), 1).otherwise(0).alias("filled"),
        )
    )


def ewma(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    value_col: str,
    tiebreak_col: str,
    alpha_num: int,
    alpha_den: int,
) -> DataFrame:
    """Exponentially-weighted moving average per series, final value
    only, on the integer lattice: ``s_0 = x_0``; ``s_t = (alpha_num *
    x_t + (alpha_den - alpha_num) * s_{t-1}) div alpha_den`` with
    truncating integer division — every step exact, so any engine
    folding the same ordered list reproduces the identical BIGINT.

    Returns ``(*key_cols, samples, ewma_units)``.

    The fold runs over ``sort_array(collect_list(...))`` per series —
    a deliberate semantic choice, not a scale accident: EWMA is a
    sequential recurrence, so one series is irreducibly one task's
    work, exactly like the ffill window above. The collected array is
    bounded by samples-per-series. Requires nonnegative
    values (lattice trunc-div is engine-portable only away from the
    sign boundary) — enforced with a filter documented to the caller."""
    if not (0 < alpha_num < alpha_den):
        raise ValueError("need 0 < alpha_num < alpha_den")
    pts = df.filter(F.col(value_col) >= 0).select(
        *key_cols,
        F.struct(
            F.col(ts_col), F.col(tiebreak_col),
            _scaled(value_col).alias("_v"),
        ).alias("_p"),
    )
    a, b, d = alpha_num, alpha_den - alpha_num, alpha_den
    # acc < 0 is the "no sample yet" sentinel; first sample seeds s_0.
    # (e - e % d) / d is exact (numerator is a multiple of d and well
    # under 2^53 for cent-scaled telemetry), then cast back to long.
    def step(acc, p):
        e = F.lit(a) * p.getField("_v") + F.lit(b) * acc
        return F.when(acc < 0, p.getField("_v")).otherwise(
            ((e - e % F.lit(d)) / F.lit(d)).cast("long")
        )

    return (
        pts.groupBy(*key_cols)
        .agg(F.sort_array(F.collect_list("_p")).alias("_ps"))
        .select(
            *key_cols,
            F.size("_ps").alias("samples"),
            F.aggregate("_ps", F.lit(-1).cast("long"), step).alias("ewma_units"),
        )
    )


def burn_rate(
    df: DataFrame,
    ts_col: str,
    error_pred: Column,
    short_seconds: int,
    long_seconds: int,
) -> DataFrame:
    """Multi-window SLO burn-rate flags: bucket events into SHORT
    windows, compare each short window's error ratio against the
    enclosing LONG window's ratio, and flag short windows burning
    twice as fast — the standard paging rule (short
    window confirms the long window's budget burn is current).

    Ratios stay exact: basis-point BIGINTs via ``errors * 10000 div
    total`` (truncating); the flag compares ``short_bp >
    2 * long_bp`` in integers. Returns one row per short
    bucket: ``(bucket_start, total, errors, short_bp, long_bp,
    burning)``.

    Scale shape: two algebraic COUNT aggregates (short keyed by short
    bucket, long by long bucket) — both map-side combinable — and one
    equi-join from short to its enclosing long bucket. The long side
    is tiny (range/long_seconds rows) and broadcasts."""
    if short_seconds <= 0 or long_seconds % short_seconds != 0:
        raise ValueError("long_seconds must be a positive multiple of short_seconds")
    u = F.unix_timestamp(F.col(ts_col))  # BIGINT; % stays integer-exact
    sb = u - u % short_seconds
    base = df.select(
        sb.alias("bucket_start"),
        (sb - sb % long_seconds).alias("_lb"),
        F.when(error_pred, 1).otherwise(0).alias("_err"),
    )
    short = base.groupBy("bucket_start", "_lb").agg(
        F.count(F.lit(1)).alias("total"), F.sum("_err").alias("errors")
    )
    long_ = base.groupBy("_lb").agg(
        F.count(F.lit(1)).alias("_lt"), F.sum("_err").alias("_le")
    )
    bp = lambda e, t: ((e * 10000 - (e * 10000) % t) / t).cast("long")
    return (
        short.join(F.broadcast(long_), "_lb")
        .select(
            "bucket_start", "total", "errors",
            bp(F.col("errors"), F.col("total")).alias("short_bp"),
            bp(F.col("_le"), F.col("_lt")).alias("long_bp"),
            F.when(
                bp(F.col("errors"), F.col("total"))
                > 2 * bp(F.col("_le"), F.col("_lt")),
                1,
            ).otherwise(0).alias("burning"),
        )
    )


def mad_anomalies(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
    threshold_x: int = 3,
) -> DataFrame:
    """Robust per-series anomaly detection: a sample is anomalous when
    ``|x - median| > threshold_x * MAD`` (MAD = median absolute
    deviation) — the outlier rule that, unlike z-scores, is not itself
    dragged by the outliers it hunts. Returns one row per series:
    ``(*key_cols, samples, med_units, mad_units, anomalies)``.

    Exactness: values on the integer-cent lattice; medians use exact
    interpolation (``a + (b-a)*0.5``), so on integer inputs every
    median/MAD is a whole or half unit — double-exact and
    engine-portable (DuckDB's quantile_cont computes the identical
    value); the comparison therefore needs no tolerance.

    Scale shape: ONE exchange total — both whole-partition percentile
    windows and the final aggregate share the series-key hash
    partitioning, so Catalyst plans window -> window -> partial-free
    agg without re-shuffling. Per-series data co-locates (required by
    median semantics); millions of series parallelize."""
    if threshold_x <= 0:
        raise ValueError("threshold_x must be positive")
    wk = Window.partitionBy(*key_cols)
    v = _scaled(value_col)
    med = F.percentile(F.col("_v"), F.lit(0.5)).over(wk)
    dev = F.abs(F.col("_v") - F.col("_med"))
    mad = F.percentile(F.col("_dev"), F.lit(0.5)).over(wk)
    return (
        df.select(*key_cols, v.alias("_v"))
        .withColumn("_med", med)
        .withColumn("_dev", dev)
        .withColumn("_mad", mad)
        .groupBy(*key_cols)
        .agg(
            F.count(F.lit(1)).alias("samples"),
            F.min("_med").alias("med_units"),
            F.min("_mad").alias("mad_units"),
            F.sum(
                F.when(
                    F.col("_dev") > threshold_x * F.col("_mad"), 1
                ).otherwise(0)
            ).alias("anomalies"),
        )
    )


def ohlc_bars(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    value_col: str,
    tiebreak_col: str,
    step_seconds: int,
) -> DataFrame:
    """Open/high/low/close candle bars per series per time bucket — the
    downsampling shape every telemetry store renders charts from.
    Open/close are SELECTED raw values (first/last observation by
    ``(ts, tiebreak)`` — no arithmetic, so doubles stay bit-exact
    cross-engine), high/low are min/max, n counts observations.

    Scale shape: one hash aggregate keyed (series, bucket), all five
    outputs algebraic (first/last via lexicographic struct-min/max, the
    A4/A5 first-wins/last-wins pattern), map-side combinable — ONE
    shuffle, no window, no sort."""
    if step_seconds < 1:
        raise ValueError("step_seconds must be >= 1")
    epoch = F.unix_timestamp(F.col(ts_col))
    bucket = (F.floor(epoch / step_seconds) * step_seconds).cast("bigint")
    pick = F.struct(
        epoch.alias("_e"),
        F.col(tiebreak_col).alias("_t"),
        F.col(value_col).alias("_v"),
    )
    return (
        df.groupBy(*key_cols, bucket.alias("bucket_start"))
        .agg(
            F.min(pick)["_v"].alias("open"),
            F.max(pick)["_v"].alias("close"),
            F.max(F.col(value_col)).alias("high"),
            F.min(F.col(value_col)).alias("low"),
            F.count(F.lit(1)).alias("n"),
        )
    )


def rate_limit(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    tiebreak_col: str,
    max_per_window: int,
    step_seconds: int,
) -> DataFrame:
    """Per-key rate limiting: keep the first ``max_per_window`` events
    (by ``(ts, tiebreak)``) of every (keys..., window) cell and mark
    the rest — the log-pipeline throttle that caps a hot key's volume
    without touching quiet keys. Returns the input plus ``kept`` (int
    0/1); filter kept=1 downstream (the mark stays queryable for
    drop-rate dashboards).

    Scale shape: one rank window keyed (keys, bucket) ordered by (ts,
    tiebreak) — a single hash Exchange; the per-cell sort is bounded by
    the cell's own row count and spills. A skew-hot key is exactly the
    case the operator exists for: its cell sorts once, then all but
    max_per_window rows leave the pipeline."""
    from pyspark.sql.window import Window

    if max_per_window < 1:
        raise ValueError("max_per_window must be >= 1")
    if step_seconds < 1:
        raise ValueError("step_seconds must be >= 1")
    for c in ("kept", "window_start", "_rl_bucket"):
        if c in df.columns:
            raise ValueError(f"column {c!r} collides with rate_limit outputs")
    epoch = F.unix_timestamp(F.col(ts_col))
    bucket = (F.floor(epoch / step_seconds) * step_seconds).cast("bigint")
    w = Window.partitionBy(
        *key_cols, F.col("_rl_bucket")
    ).orderBy(epoch.asc(), F.col(tiebreak_col).asc())
    return (
        df.withColumn("_rl_bucket", bucket)
        .withColumn(
            "kept",
            F.when(F.row_number().over(w) <= max_per_window, 1).otherwise(0),
        )
        .withColumnRenamed("_rl_bucket", "window_start")
    )


def apdex(
    df: DataFrame,
    threshold_cents: int = 5000,
    window_seconds: int = 3600,
) -> DataFrame:
    """Apdex score per group and time window — the standard
    user-satisfaction SLO over a latency stream: ``satisfied`` =
    latency <= T, ``tolerating`` = T < latency <= 4T, ``frustrated``
    beyond; Apdex = (satisfied + tolerating/2) / total. The score
    stays integer-exact in parts-per-million — ``apdex_ppm =
    (1e6 * (2*sat + tol)) div (2*total)`` — so the classic
    half-weight never touches a float and the verdict is bit-portable
    across engines. Latencies (``value``) compare in integer cents,
    same convention as the rest of this module; rows group by
    ``event_type`` and a window over ``ts``.

    Returns one row per (group, window): group cols, ``bucket_start``
    (epoch seconds), ``total/satisfied/tolerating/frustrated`` counts,
    ``apdex_ppm``. NULL latencies are excluded (they are missing
    measurements, not slow ones).

    Scale shape: ONE map-side-combinable count aggregate keyed by
    (group, bucket) — a single exchange; no joins, no windows. At
    100 TB the key space is |groups| x |buckets|, naturally wide; a
    single hot service-hour degrades to one reducer only after the
    map-side combine has already collapsed it per-partition.
    """
    if threshold_cents <= 0 or window_seconds <= 0:
        raise ValueError("threshold_cents and window_seconds must be > 0")
    u = F.unix_timestamp(F.col("ts"))
    x = _scaled("value")
    t = F.lit(threshold_cents)
    return (
        df.filter(F.col("value").isNotNull())
        .groupBy(
            "event_type", (u - u % window_seconds).alias("bucket_start")
        )
        .agg(
            F.count(F.lit(1)).alias("total"),
            F.sum(F.when(x <= t, 1).otherwise(0)).alias("satisfied"),
            F.sum(
                F.when((x > t) & (x <= t * 4), 1).otherwise(0)
            ).alias("tolerating"),
            F.sum(F.when(x > t * 4, 1).otherwise(0)).alias("frustrated"),
        )
        .select(
            "event_type", "bucket_start", "total", "satisfied",
            "tolerating", "frustrated",
            F.expr(
                "(1000000 * (2 * satisfied + tolerating)) div (2 * total)"
            ).alias("apdex_ppm"),
        )
    )


def cusum(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    value_col: str,
    tiebreak_col: str,
    target_cents: int,
    slack_cents: int,
    threshold_cents: int,
) -> DataFrame:
    """Two-sided CUSUM change-point detector (Page 1954) per series —
    the sequential drift alarm SRE runbooks reach for when a latency or
    error-rate mean SHIFTS and stays shifted, which threshold alerts on
    single samples miss and windowed means answer a full window late.

    Textbook recursion (one-sided upper): ``S_0 = 0; S_n = max(0,
    S_{n-1} + (x_n - target - slack))``, alarm when ``S_n >=
    threshold``; the lower side mirrors with ``(target - slack) -
    x_n``. The recursion looks inherently sequential, but it has a
    CLOSED FORM over prefix sums: with ``d_i = x_i - (target+slack)``
    and ``P_n = sum(d_1..d_n)``,

        ``S_n = P_n - min(0, min_{j<=n} P_j)``

    (the running minimum absorbs every reset-to-zero), so the whole
    detector is two LINEAR window functions — a running sum and a
    running min over the same (series, order) window — never an
    iterative loop. Everything stays on the integer-cent lattice
    (``round(value*100)``), so DuckDB replays it bit-for-bit.

    Returns the series keys + ``(ts, tiebreak)`` + ``cusum_hi_cents``
    / ``cusum_lo_cents`` (the running statistics, always >= 0) and
    ``alarm_hi`` / ``alarm_lo`` (int 0/1, statistic >= threshold).
    NULL values are excluded up front (missing samples, not evidence
    of drift — and they would poison every later prefix sum).

    Scale shape: both running aggregates share one window spec
    (partition by series, order by (ts, tiebreak), rows unbounded
    preceding), so Catalyst plans a SINGLE Window node — one hash
    Exchange on the series key + one per-series sort, same cost as any
    lag/ffill op here; a million series parallelize, and per-series
    work is the unavoidable sequential unit. No joins, no collect.
    """
    if threshold_cents < 1:
        raise ValueError("threshold_cents must be >= 1")
    if slack_cents < 0:
        raise ValueError("slack_cents must be >= 0")
    for c in ("cusum_hi_cents", "cusum_lo_cents", "alarm_hi", "alarm_lo"):
        if c in df.columns:
            raise ValueError(f"column {c!r} collides with cusum outputs")
    x = _scaled(value_col)
    d_hi = x - F.lit(target_cents + slack_cents)
    d_lo = F.lit(target_cents - slack_cents) - x
    w = (
        Window.partitionBy(*key_cols)
        .orderBy(F.col(ts_col).asc(), F.col(tiebreak_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # Spark rejects nested window expressions; compute prefix sums in a
    # first projection, running mins over them in a second — same
    # window spec both times, so still ONE Exchange + ONE sort.
    out = (
        df.filter(F.col(value_col).isNotNull())
        .withColumn("_p_hi", F.sum(d_hi).over(w))
        .withColumn("_p_lo", F.sum(d_lo).over(w))
    )
    s_hi = F.col("_p_hi") - F.least(F.lit(0), F.min("_p_hi").over(w))
    s_lo = F.col("_p_lo") - F.least(F.lit(0), F.min("_p_lo").over(w))
    return (
        out.withColumn("cusum_hi_cents", s_hi)
        .withColumn("cusum_lo_cents", s_lo)
        .withColumn(
            "alarm_hi",
            F.when(F.col("cusum_hi_cents") >= threshold_cents, 1).otherwise(0),
        )
        .withColumn(
            "alarm_lo",
            F.when(F.col("cusum_lo_cents") >= threshold_cents, 1).otherwise(0),
        )
        .drop("_p_hi", "_p_lo")
    )


def histogram_quantile(
    df: DataFrame,
    key_cols: list[str],
    le_col: str,
    cum_col: str,
    q_num: int,
    q_den: int,
) -> DataFrame:
    """PromQL's ``histogram_quantile`` over pre-aggregated CUMULATIVE
    bucket counts — the read-side op for every scrape-style histogram
    (and for what the EMF SEH path writes once bucketized): per series,
    find the first bucket whose cumulative count reaches rank
    ``q*total`` and interpolate linearly inside it.

    The quantile ``q = q_num/q_den`` stays RATIONAL: bucket selection
    compares ``cum*q_den >= q_num*total`` (cross-multiplied, no float)
    and the interpolation

        ``prev_le + (le-prev_le) * (rank-prev_cum) / (cum-prev_cum)``

    is emitted in integer MICRO-units of the ``le`` lattice:
    ``quantile_micro = prev_le*1e6 + ((le-prev_le) * 1_000_000 *
    (q_num*total - q_den*prev_cum)) div (q_den*(cum-prev_cum))`` — all
    BIGINT, truncating div on non-negative operands, so DuckDB replays
    it bit-for-bit. Headroom: the interpolation product needs
    ``bucket_width * 1e6 * q_den * bucket_count`` < 2^63 (ANSI mode
    RAISES on overflow rather than silently wrapping) — at width 1000
    and q_den 100 that is ~9e10 samples per single bucket, far beyond
    any real per-series histogram.

    Semantics pinned to PromQL's: the virtual bucket below the first
    ``le`` starts at 0 (``prev_le``/``prev_cum`` default 0); the last
    bucket must cover the distribution (the producer's +Inf bucket —
    pass its finite stand-in); an all-zero series yields no row
    (excluded explicitly — PromQL returns NaN there, and rank 0 would
    otherwise select an empty bucket and divide by zero). Cumulative counts must be
    non-decreasing in ``le``: a violation RAISES in-plan, riding the
    ``cum`` value every downstream comparison evaluates, so malformed
    producer data cannot silently yield a wrong quantile.

    Scale shape: one Exchange on the series key feeding a lag window
    and a partition-max (same partitioning, one sort), then a
    map-combinable struct-min aggregate picks the target bucket — no
    joins, no second shuffle of the bucket stream, O(series) output.
    """
    if q_den < 1 or q_num < 1 or q_num > q_den:
        raise ValueError("quantile must satisfy 0 < q_num/q_den <= 1")
    for c in ("le", "quantile_micro"):
        if c in key_cols:
            raise ValueError(f"key column {c!r} collides with outputs")
    wo = Window.partitionBy(*key_cols).orderBy(F.col(le_col).asc())
    wp = Window.partitionBy(*key_cols)
    le = F.col(le_col).cast("bigint")
    cum = F.col(cum_col).cast("bigint")
    staged = df.select(
        *key_cols,
        le.alias("_hq_le"),
        cum.alias("_hq_cum"),
        F.coalesce(F.lag(le).over(wo), F.lit(0)).alias("_hq_ple"),
        F.coalesce(F.lag(cum).over(wo), F.lit(0)).alias("_hq_pcum"),
        F.max(cum).over(wp).alias("_hq_total"),
    )
    cum_g = F.when(
        F.col("_hq_cum") < F.col("_hq_pcum"),
        F.raise_error(
            F.concat(
                F.lit("histogram_quantile: cumulative counts decrease at le="),
                F.col("_hq_le").cast("string"),
            )
        ).cast("bigint"),
    ).otherwise(F.col("_hq_cum"))
    cand = staged.select(
        *key_cols, "_hq_le", "_hq_ple", "_hq_pcum", "_hq_total",
        cum_g.alias("_hq_cum"),
    ).filter(
        (F.col("_hq_total") > 0)
        & (F.col("_hq_cum") * q_den >= F.lit(q_num) * F.col("_hq_total"))
    )
    pick = F.min(
        F.struct(
            F.col("_hq_le").alias("le"),
            F.col("_hq_ple").alias("ple"),
            F.col("_hq_pcum").alias("pcum"),
            F.col("_hq_cum").alias("cum"),
            F.col("_hq_total").alias("total"),
        )
    ).alias("_p")
    out = cand.groupBy(*key_cols).agg(pick)
    p = F.col("_p")
    quantile = p["ple"] * 1_000_000 + F.expr(
        f"((_p.le - _p.ple) * 1000000 * ({q_num} * _p.total - {q_den} * _p.pcum)) "
        f"div ({q_den} * (_p.cum - _p.pcum))"
    )
    return out.select(
        *key_cols,
        p["le"].alias("le"),
        quantile.cast("bigint").alias("quantile_micro"),
    )


def seasonal_baseline(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    step_seconds: int,
    season_seconds: int,
    threshold_ppm: int,
    min_history: int = 2,
) -> DataFrame:
    """Seasonal-naive volume-anomaly detection — the log-pipeline alarm
    for "this Tuesday 3pm is 4x every other Tuesday 3pm", which global
    thresholds (mad_anomalies) and unconditioned drift (distribution_
    drift) both miss because volume is PERIODIC: each time bucket is
    compared only against PRIOR buckets in the same seasonal slot
    (slot = position of the bucket inside the ``season_seconds``
    cycle, e.g. hour-of-week for step=3600, season=604800).

    Per (series, bucket): ``n`` (event count), ``baseline_n`` (how many
    prior same-slot buckets exist), ``ratio_ppm`` = current/mean-prior
    in parts-per-million computed by cross-multiplied integer division
    ``(1e6 * n * baseline_n) div baseline_sum`` (NULL until any
    history), and ``anomalous`` (int 0/1) = ratio >= threshold_ppm AND
    baseline_n >= min_history — early slots with thin history never
    alarm. All integer, DuckDB-replayable bit-for-bit.

    Only OBSERVED buckets appear: a zero-event bucket contributes no
    row and no baseline sample. Pipelines alarming on silence should
    densify first (resample_ffill) — absence-of-logs is a different
    detector with a different false-positive profile.

    Scale shape: ONE map-combinable count aggregate keyed
    (series, bucket) collapses the event stream, then one window
    partitioned (series, slot) ordered by bucket with an
    unbounded-preceding-to-1-preceding frame computes the running
    prior sum/count — two exchanges total, both over the already
    collapsed O(series x buckets) frame, never the raw stream; no
    joins, no collect."""
    if step_seconds < 1 or season_seconds < step_seconds:
        raise ValueError("need step_seconds >= 1 and season_seconds >= step_seconds")
    if season_seconds % step_seconds != 0:
        raise ValueError("season_seconds must be a multiple of step_seconds")
    if threshold_ppm < 1 or min_history < 1:
        raise ValueError("threshold_ppm and min_history must be >= 1")
    u = F.unix_timestamp(F.col(ts_col))
    bucket = (u - u % step_seconds).alias("bucket_start")
    counts = df.groupBy(*key_cols, bucket).agg(F.count(F.lit(1)).alias("n"))
    slot = (F.col("bucket_start") % season_seconds).alias("slot")
    w = (
        Window.partitionBy(*key_cols, "slot")
        .orderBy(F.col("bucket_start").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    staged = counts.select(
        *key_cols, "bucket_start", "n", slot
    ).select(
        *key_cols, "bucket_start", "slot", "n",
        F.coalesce(F.count("n").over(w), F.lit(0)).alias("baseline_n"),
        F.coalesce(F.sum("n").over(w), F.lit(0)).alias("baseline_sum"),
    )
    ratio = F.when(
        F.col("baseline_n") > 0,
        F.expr("(1000000 * n * baseline_n) div baseline_sum"),
    )
    return staged.select(
        *key_cols, "bucket_start", "slot", "n", "baseline_n",
        ratio.cast("bigint").alias("ratio_ppm"),
        F.when(
            (F.col("baseline_n") >= min_history)
            & (ratio >= threshold_ppm),
            1,
        ).otherwise(0).alias("anomalous"),
    )


def flag_episodes(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    tiebreak_col: str,
    flag_col: str,
) -> DataFrame:
    """Collapse a per-sample 0/1 flag stream (cusum/seasonal alarms,
    threshold breaches) into EPISODES — maximal runs of consecutive
    flagged samples per series — the alert-dedup step that pages once
    per incident instead of once per sample. NULL flags count as 0.

    Per episode: ``(*key_cols, episode, n_samples, start_ts, end_ts,
    start_tie, end_tie)`` — ``episode`` numbers 1..k per series in
    time order; start/end are the FIRST/LAST flagged sample by
    ``(ts, tiebreak)`` (the tiebreak of the first row, not min(tie) —
    a later row can carry a smaller tiebreak).

    Scale shape: episode identity is a rising-edge running sum —
    ``edge = flag & !lag(flag)`` then ``sum(edge)`` over the same
    (series, (ts, tiebreak)) window spec — so both passes share ONE
    Exchange + one per-series sort (the cusum plan shape), followed by
    a map-combinable struct-min/max aggregate per (series, episode).
    No joins; unflagged samples drop before the aggregate."""
    w = Window.partitionBy(*key_cols).orderBy(
        F.col("_fe_ts").asc(), F.col("_fe_tie").asc()
    )
    wr = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    flag = F.coalesce(F.col(flag_col).cast("int"), F.lit(0))
    u = F.unix_timestamp(F.col(ts_col))
    staged = df.select(
        *key_cols,
        u.alias("_fe_ts"),
        F.col(tiebreak_col).alias("_fe_tie"),
        flag.alias("_fe_f"),
    ).withColumn(
        "_fe_edge",
        F.when(
            (F.col("_fe_f") == 1)
            & (F.coalesce(F.lag("_fe_f").over(w), F.lit(0)) == 0),
            1,
        ).otherwise(0),
    ).withColumn("_fe_ep", F.sum("_fe_edge").over(wr))
    first = F.min(F.struct(F.col("_fe_ts"), F.col("_fe_tie"))).alias("_s")
    last = F.max(F.struct(F.col("_fe_ts"), F.col("_fe_tie"))).alias("_e")
    return (
        staged.filter(F.col("_fe_f") == 1)
        .groupBy(*key_cols, F.col("_fe_ep").alias("episode"))
        .agg(F.count(F.lit(1)).alias("n_samples"), first, last)
        .select(
            *key_cols, "episode", "n_samples",
            F.col("_s")["_fe_ts"].alias("start_ts"),
            F.col("_e")["_fe_ts"].alias("end_ts"),
            F.col("_s")["_fe_tie"].alias("start_tie"),
            F.col("_e")["_fe_tie"].alias("end_tie"),
        )
    )
