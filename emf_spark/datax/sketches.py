"""Deterministic cardinality sketches.

KMV (k-minimum-values): hash every value uniformly into [0, 1); keep
the k smallest distinct hashes per group; estimate
``distinct ≈ (k - 1) / kth_min``. Standard error ~ 1/sqrt(k-2).

Why KMV here instead of Spark's built-in `approx_count_distinct`: the
estimate is a pure deterministic function of the value set and the
hash, so an external engine (the DuckDB oracle) reproduces it
BIT-FOR-BIT — binary-blob HLL sketch libraries differ across engines
and can't be oracle-checked. Same shuffle shape: per-group state is k
values, map-side combinable (min-k of a union = min-k of min-k's).
`hll_distinct` below applies the same explicit-register treatment to
HyperLogLog itself (pure aggs, no window — the better shape when only
the cardinality, not the k-th hash, is needed).

At 100 TB: groupBy carries a bounded sort_array(collect_set)[:k]? No —
collect_set is unbounded. The bounded plan used here: distinct hashes
first (map-side combine on (group, hash)), then the k-th smallest via
window row_number — post-distinct cardinality flows through the sort,
never raw rows. For extreme-cardinality groups swap the exact distinct
for a pre-bucketed min per (group, hash % m) — not needed below 10^9
distinct per group.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

# 56-bit hash space (md5-prefix, DuckDB-portable — see dedup.portable_hash56)
_SPACE = float(1 << 56)


def kmv_distinct(
    df: DataFrame,
    value_col: str,
    group_cols: list[str] | None = None,
    k: int = 64,
) -> DataFrame:
    """Per-group KMV distinct-count estimate:
    (group_cols..., kmv_estimate:double, exactish:boolean).

    Groups with fewer than k distinct values report the EXACT distinct
    count (the sketch is lossless below its capacity) with
    ``exactish=true``. NULL values are excluded (COUNT DISTINCT
    semantics — and a null hash would otherwise rank NULLS FIRST in
    Spark but NULLS LAST in an external SQL engine, breaking the
    bit-for-bit oracle claim; review finding).

    Scale shape: grouped mode partitions the rank window by the group
    key. UNGROUPED mode is two-phase (VERDICT r3): phase 1 keeps the
    k smallest hashes per ``(hash % m)`` bucket (window partitioned by
    bucket — parallel), phase 2 ranks globally over the surviving
    <= m*k rows (single partition by construction, but over a BOUNDED
    frame — the same justified narrow final window as vocab_topk).
    min-k of a union == min-k of per-bucket min-k's, so the estimate is
    bit-identical to the one-window form and the oracle is unchanged."""
    from emf_spark.datax.dedup import portable_hash56

    groups = group_cols or []
    hi = portable_hash56(F.col(value_col).cast("string"))
    hashes = (
        df.filter(F.col(value_col).isNotNull())
        .select(*groups, (hi / F.lit(_SPACE)).alias("_h"), (hi % 64).alias("_b"))
        .distinct()
    )
    if groups:
        w = Window.partitionBy(*groups).orderBy("_h")
        ranked = hashes.withColumn("_r", F.row_number().over(w))
    else:
        pre = Window.partitionBy("_b").orderBy("_h")
        survivors = (
            hashes.withColumn("_pr", F.row_number().over(pre))
            .filter(F.col("_pr") <= k)
        )
        ranked = survivors.withColumn(
            "_r", F.row_number().over(Window.orderBy("_h"))
        )
    ranked = ranked.filter(F.col("_r") <= k)
    per = ranked.groupBy(*groups).agg(
        F.max("_r").alias("_n"), F.max("_h").alias("_kth")
    )
    est = (
        F.when(F.col("_n") < k, F.col("_n").cast("double"))
        .otherwise((F.lit(float(k - 1))) / F.col("_kth"))
    )
    return per.select(
        *groups,
        F.round(est, 4).alias("kmv_estimate"),
        (F.col("_n") < k).alias("exactish"),
    )


def _cms_bucket_py(term: str, d: int, width: int) -> int:
    """Python replica of the engine's CMS bucket formula (md5-derived
    portable_hash56 % width) — used only to key tiny literal probe
    frames, identical by construction to the Column expression."""
    import hashlib

    return int(hashlib.md5(f"cms{d}:{term}".encode()).hexdigest()[:14], 16) % width


def cms_build(
    df: DataFrame, value_col: str, depth: int = 4, width: int = 256
) -> DataFrame:
    """Count-min sketch of a value column: rows (d, bucket, cnt) —
    depth x width cells, cell = count of values hashing into it under
    hash function d.

    Like KMV, the whole sketch is a deterministic function of the
    multiset and the (md5-derived) hash family, so an external SQL
    engine reproduces every cell bit-for-bit — which is why this is a
    hand-rolled CMS and not a binary-blob sketch library. Scale shape:
    one explode (x depth) + one groupBy on (d, bucket) — at most
    depth*width result rows regardless of input size, and the count
    partial-aggregates map-side, so the shuffle carries at most
    depth*width rows PER TASK, not per input row."""
    from emf_spark.datax.dedup import portable_hash56

    entries = [
        F.struct(
            F.lit(d).alias("d"),
            (
                portable_hash56(
                    F.concat(F.lit(f"cms{d}:"), F.col(value_col).cast("string"))
                )
                % width
            ).alias("bucket"),
        )
        for d in range(depth)
    ]
    return (
        df.filter(F.col(value_col).isNotNull())
        .select(F.explode(F.array(*entries)).alias("s"))
        .groupBy(F.col("s.d").alias("d"), F.col("s.bucket").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_estimate(
    sketch: DataFrame,
    terms: list[str],
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Point-query the sketch: (term, cms_count) with
    cms_count = min over d of the term's cell — the classic
    overestimate-only bound (cms_count >= true count, equal when no
    collision). The probe frame is depth*|terms| literal rows; the
    sketch (<= depth*width rows) broadcasts, so estimation is
    shuffle-free beyond the tiny final groupBy."""
    spark = sketch.sparkSession
    probes = spark.createDataFrame(
        [(t, d, _cms_bucket_py(t, d, width)) for t in terms for d in range(depth)],
        "term string, d int, bucket bigint",
    )
    joined = probes.join(F.broadcast(sketch), ["d", "bucket"], "left")
    return joined.groupBy("term").agg(
        F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("cms_count")
    )


def _hll_alpha(m: int) -> float:
    """Flajolet et al. 2007 bias constant for m registers."""
    return {16: 0.673, 32: 0.697, 64: 0.709}.get(m, 0.7213 / (1 + 1.079 / m))


def hll_distinct(
    df: DataFrame,
    value_col: str,
    group_cols: list[str] | None = None,
    p: int = 8,
) -> DataFrame:
    """Per-group HyperLogLog distinct-count estimate built from explicit
    integer registers: (group_cols..., hll_sum_scaled:bigint,
    hll_zero_regs:bigint, hll_raw:double, hll_estimate:double).

    Complements kmv_distinct with the strictly better scale shape: the
    whole sketch is TWO chained algebraic aggregations (per-register max,
    then per-group sum) — no distinct pass, no rank window anywhere, and
    both aggs partial-combine map-side, so the shuffle carries at most
    m registers per (group, task) regardless of input size. That is the
    same shuffle bound as Spark's own approx_count_distinct; the reason
    for hand-rolling is the same as KMV's (module docstring): every
    register is a deterministic function of the value set under the
    md5-derived portable hash, so an external SQL engine reproduces
    `hll_sum_scaled` / `hll_zero_regs` / `hll_raw` bit-for-bit.

    Register math (m = 2^p registers over the 56-bit hash):
    bucket = h mod m, w = h div m (a (56-p)-bit word), rank =
    (56-p) + 1 - bitlen(w) (leading zeros + 1; w = 0 ranks 56-p+1).
    The harmonic sum is kept EXACT by integer-scaling: with
    S = sum over all m registers of 2^(SCALE - M_j), SCALE = 56-p+1,
    empty registers (M_j = 0) contribute 2^SCALE via the zero-register
    count — max S = m * 2^SCALE < 2^63 for p >= 2. The raw estimate
    alpha_m * m^2 * 2^SCALE / S then needs exactly ONE double division
    by design (the numerator is a Python-folded literal), which IEEE
    754 makes engine-portable. `hll_estimate` additionally applies the
    standard small-range linear-counting correction m*ln(m/V) when
    raw <= 2.5m and V > 0 — ln is NOT guaranteed bit-portable across
    engines, so oracle-checked queries should compare the raw columns
    and leave `hll_estimate` to tolerance-based tests.

    Standard error ~ 1.04/sqrt(m) (8.5% at the default p=8; raise p
    for tighter bounds — the shuffle bound scales with m)."""
    from emf_spark.datax.dedup import portable_hash56

    if not 2 <= p <= 16:
        raise ValueError(f"p must be in [2, 16], got {p}")
    groups = group_cols or []
    m = 1 << p
    scale = 56 - p + 1
    w = F.shiftright(F.col("_h"), p)
    rank = F.when(w == 0, F.lit(scale)).otherwise(
        F.lit(scale) - F.length(F.conv(w.cast("string"), 10, 2))
    )
    regs = (
        df.filter(F.col(value_col).isNotNull())
        .select(*groups, portable_hash56(F.col(value_col).cast("string")).alias("_h"))
        .select(*groups, (F.col("_h") % m).alias("_b"), rank.alias("_r"))
        .groupBy(*groups, "_b")
        .agg(F.max("_r").alias("_reg"))
    )
    per = regs.groupBy(*groups).agg(
        F.sum(F.expr(f"shiftleft(1L, {scale} - _reg)")).alias("_s_present"),
        F.count(F.lit(1)).alias("_n_regs"),
    )
    zero = (F.lit(m) - F.col("_n_regs")).cast("long")
    s_all = (F.col("_s_present") + zero * F.lit(1 << scale)).cast("long")
    numer = _hll_alpha(m) * m * m * float(1 << scale)  # folded in Python
    raw = F.lit(numer) / s_all.cast("double")
    corrected = F.when(
        (raw <= F.lit(2.5 * m)) & (zero > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / zero.cast("double")),
    ).otherwise(raw)
    return per.select(
        *groups,
        s_all.alias("hll_sum_scaled"),
        zero.alias("hll_zero_regs"),
        raw.alias("hll_raw"),
        corrected.alias("hll_estimate"),
    )


def bloom_build(
    df: DataFrame, value_col: str, m_bits: int = 4096, depth: int = 4
) -> DataFrame:
    """Bloom filter over a value column as an explicit SET-BIT table:
    rows (pos:bigint), pos = portable_hash56('bf<d>:' || value) % m_bits
    for each of ``depth`` salted hash functions. Like the CMS/KMV/HLL
    sketches, the filter is a deterministic function of the value set
    and the md5 hash family, so an external engine reproduces every bit
    — which is why this is explicit rows and not Spark's opaque
    bloom_filter_agg binary.

    Scale shape: explode (x depth) + DISTINCT capped at m_bits rows out
    regardless of input size (map-side partial distinct absorbs heavy
    hitters). The result is broadcastable by construction (m_bits
    rows max), which is the point: a many-GB build side collapses to a
    kilobyte-scale runtime filter for probe-side pruning."""
    from emf_spark.datax.dedup import portable_hash56

    if m_bits < 1 or depth < 1:
        raise ValueError("m_bits >= 1 and depth >= 1 required")
    entries = [
        (
            portable_hash56(
                F.concat(F.lit(f"bf{d}:"), F.col(value_col).cast("string"))
            )
            % m_bits
        ).alias(f"p{d}")
        for d in range(depth)
    ]
    return (
        df.filter(F.col(value_col).isNotNull())
        .select(F.explode(F.array(*entries)).alias("pos"))
        .distinct()
    )


def bloom_probe(
    probe: DataFrame,
    bloom: DataFrame,
    value_col: str,
    m_bits: int = 4096,
    depth: int = 4,
) -> DataFrame:
    """Add ``might_contain`` to ``probe``: true iff ALL ``depth`` bit
    positions of the value are set in ``bloom`` (no false negatives;
    false positives at the classic (1-e^(-dn/m))^d rate). Membership is
    evaluated once per DISTINCT probe value — d positions, one
    broadcast join against the <= m_bits set-bit rows, count == depth —
    then broadcast back onto the probe rows, so the probe stream is
    never shuffled: the pre-filter pattern for selective joins where
    the exact build side is too big to broadcast but its bloom is
    not."""
    from emf_spark.datax.dedup import portable_hash56

    vals = probe.filter(F.col(value_col).isNotNull()).select(
        F.col(value_col).alias("_v")
    ).distinct()
    entries = [
        (
            portable_hash56(F.concat(F.lit(f"bf{d}:"), F.col("_v").cast("string")))
            % m_bits
        ).alias(f"p{d}")
        for d in range(depth)
    ]
    hit = (
        vals.select("_v", F.explode(F.array(*entries)).alias("pos"))
        .join(F.broadcast(bloom), "pos")
        .groupBy("_v")
        .agg(F.count(F.lit(1)).alias("_hits"))
    )
    member = vals.join(hit, "_v", "left").select(
        "_v",
        (F.coalesce(F.col("_hits"), F.lit(0)) == depth).alias("might_contain"),
    )
    return probe.join(
        F.broadcast(member),
        F.col(value_col).eqNullSafe(F.col("_v")),
        "left",
    ).drop("_v").withColumn(
        "might_contain", F.coalesce(F.col("might_contain"), F.lit(False))
    )
