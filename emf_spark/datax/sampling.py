"""Dataset sampling/splitting/packing for training-data pipelines.

- hash_split: deterministic train/val/test assignment by a portable
  content/id hash — reproducible across engines and runs, no RNG state,
  no shuffle (a pure projection; at cluster scale the split column
  becomes a partition key).
- stratified_fractions: per-stratum deterministic subsampling (e.g.
  downsample a dominant language) via the same hash.
- pack_sequences: greedy token-budget packing of sequences into
  fixed-capacity bins per source — the LLM-context packing analog of
  the PutLogEvents batch plan, and the same provably-bounded integer
  unit-cost running total (operators/output.plan_cw_batches).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from emf_spark.datax.dedup import portable_hash56

# uniform-in-[0,1) hash fraction both Spark and DuckDB compute
# bit-identically: portable 56-bit md5 hash / 2^56
_DENOM56 = float(1 << 56)


def hash_fraction(col: F.Column, salt: str = "") -> F.Column:
    """Deterministic uniform fraction in [0,1) from a column value."""
    return portable_hash56(F.concat(col.cast("string"), F.lit(salt))) / F.lit(_DENOM56)


def hash_split(
    df: DataFrame,
    val_frac: float = 0.1,
    test_frac: float = 0.1,
    salt: str = "split",
) -> DataFrame:
    """Assign 'train'/'val'/'test' deterministically by id hash."""
    frac = hash_fraction(F.col("doc_id"), salt)
    split = (
        F.when(frac < test_frac, "test")
        .when(frac < test_frac + val_frac, "val")
        .otherwise("train")
    )
    return df.withColumn("split", split)


def stratified_fractions(
    df: DataFrame,
    fractions: dict[str, float],
) -> DataFrame:
    """Keep a deterministic per-stratum fraction of rows (hash-gated, so
    re-runs and engines agree row-for-row; no sampleBy RNG)."""
    frac = hash_fraction(F.col("doc_id"), "strat")
    keep_frac = F.lit(1.0)
    for stratum, f in sorted(fractions.items()):
        keep_frac = F.when(F.col("lang") == stratum, F.lit(f)).otherwise(keep_frac)
    return df.filter(frac < keep_frac)


def tail_sample(
    df: DataFrame,
    trace_cols: list[str],
    interesting: F.Column,
    base_rate: float = 0.01,
    salt: str = "tail",
) -> DataFrame:
    """Tail-based trace sampling — the OpenTelemetry tail-sampler
    policy as a batch operator: keep EVERY row of a trace whose
    completed shape is interesting (an error span, a slow total, a
    fan-out explosion — whatever ``interesting`` says), plus a
    deterministic ``base_rate`` hash fraction of the boring traces so
    downstream rate estimates stay unbiased. The decision needs the
    whole trace, which is exactly why head sampling (hash-gate the
    row) can't express it and why this is a grouped op.

    ``interesting`` is an AGGREGATE Column evaluated per trace (e.g.
    ``F.max((F.col("status") == "error").cast("int")) == 1``); it may
    evaluate to NULL (e.g. a max over all-NULL latencies), which
    counts as not-interesting. ``base_rate`` traces are chosen by the
    portable 56-bit md5 hash of the joined trace key + salt — no RNG,
    re-runs and external engines agree trace-for-trace.

    Returns the kept rows with ``keep_reason`` appended
    ('interesting' wins over 'sampled'). Rows whose trace key is NULL
    in any component still group and join (null-safe equi-join).

    Plan shape: ONE map-combinable aggregate collapses the stream to a
    per-trace decision frame, then ONE equi-join on the trace key
    brings decisions back — both shuffles keyed by trace, no windows,
    no UDFs. At 10^12 rows the decision frame is |traces| rows; AQE
    broadcasts it when small, shuffle-joins co-keyed when not.
    """
    if not trace_cols:
        raise ValueError("trace_cols must be non-empty")
    if not 0.0 <= base_rate <= 1.0:
        raise ValueError(f"base_rate must be in [0, 1], got {base_rate}")
    for c in ("_interesting", "_keyfrac", "keep_reason"):
        if c in df.columns:
            raise ValueError(f"column '{c}' collides with tail_sample internals")
    frac = hash_fraction(
        F.concat_ws("\x1f", *[F.col(c).cast("string") for c in trace_cols]), salt
    )
    dec = (
        df.groupBy(*trace_cols)
        .agg(interesting.cast("boolean").alias("_interesting"))
        .withColumn(
            "keep_reason",
            F.when(F.col("_interesting"), F.lit("interesting")).otherwise(
                F.when(frac < F.lit(base_rate), F.lit("sampled"))
            ),
        )
        .filter(F.col("keep_reason").isNotNull())
        .drop("_interesting")
    )
    # dec derives from df, so joining on df[c] == dec[c] is the classic
    # ambiguous self-join; rename the decision frame's key columns to
    # make the join condition unambiguous by construction
    renamed = dec.select(
        *[F.col(c).alias(f"_k{i}") for i, c in enumerate(trace_cols)],
        "keep_reason",
    )
    cond = [
        F.col(c).eqNullSafe(F.col(f"_k{i}")) for i, c in enumerate(trace_cols)
    ]
    return (
        df.join(renamed, cond, "inner")
        .drop(*[f"_k{i}" for i in range(len(trace_cols))])
    )


def pack_sequences(
    df: DataFrame,
    max_tokens: int,
    tokens_col: str = "n_tok",
    order_cols: list[str] | None = None,
    group_col: str = "source",
    max_seqs: int | None = None,
    max_seq_tokens: int | None = None,
) -> DataFrame:
    """Assign every sequence a ``pack_id`` per ``group_col`` such that no
    pack exceeds ``max_tokens`` total tokens (and optionally ``max_seqs``
    sequences) — context-window packing for training shards.

    Same provably-bounded plan as plan_cw_batches: one integer unit-cost
    running total over a deterministic order (unit = max(n_tok * C, B'),
    pack = cum_before div B'*C with B' = max_tokens - max_seq_tokens
    headroom), one shuffle per group. Sequences longer than
    ``max_seq_tokens`` (default max_tokens // 2) must be filtered/split
    upstream — they are flagged ``oversize`` here, assigned pack -1."""
    from pyspark.sql.window import Window

    order_cols = order_cols or ["doc_id"]
    max_seq_tokens = max_seq_tokens or max_tokens // 2
    budget = max_tokens - max_seq_tokens
    if budget <= 0:
        raise ValueError("max_seq_tokens must be smaller than max_tokens")
    cap = max_seqs or (1 << 20)
    denom = budget * cap
    w = Window.partitionBy(group_col).orderBy(*order_cols)
    oversize = F.col(tokens_col) > max_seq_tokens
    unit = F.when(oversize, F.lit(0)).otherwise(
        F.greatest(
            F.col(tokens_col).cast("bigint") * F.lit(cap),
            F.lit(budget).cast("bigint"),
        )
    )
    return (
        df.withColumn("_unit", unit)
        .withColumn("_cum_before", F.sum("_unit").over(w) - F.col("_unit"))
        .withColumn(
            "pack_id",
            F.when(oversize, F.lit(-1)).otherwise(
                F.expr(f"_cum_before div {denom}L")
            ).cast("int"),
        )
        .drop("_unit", "_cum_before")
    )


from pyspark.sql.window import Window


def balanced_sample(
    df: DataFrame,
    class_col: str,
    n_per_class: int,
    salt: str = "",
    est_counts: dict[str, int] | None = None,
) -> DataFrame:
    """Deterministic class-balanced downsample: at most ``n_per_class``
    rows per class, chosen by the smallest md5-derived hash fraction of
    (doc_id, salt) — i.e. a uniform pseudo-random sample that is
    reproducible row-for-row in any engine (no RNG, no
    partition-order dependence; tie-break on id). The dataset-balancing
    primitive: cap head classes, keep tail classes whole.

    Scale shape: one shuffle on ``class_col`` for the rank window. A
    skewed head class concentrates its rows on one reducer; pass
    ``est_counts`` (class -> estimated row count, e.g. from a prior
    KMV/approx pass) and rows of classes estimated LARGER than
    ``4 * n_per_class`` are pre-filtered to
    ``hash_fraction < 4 * n / est`` BEFORE the exact rank — a billion-
    row head class then ranks only ~4n survivors instead of 1e9 rows.
    Output is row-identical to the plain path provided the estimate is
    not wildly high: expected survivors are ``4n * true/est``, so any
    UNDER-estimate is always safe (more survivors), and over-estimates
    up to ~2x the true count keep >= 2n expected survivors — the
    chance the true n-th smallest hash exceeds the gate is then
    exp(-Theta(n)) (Chernoff), negligible for n >= 10. Estimates from
    a count/approx pass are within a few percent, far inside that
    envelope. Classes absent from ``est_counts`` take the exact path
    unchanged."""
    h = hash_fraction(F.col("doc_id").cast("string"), salt)
    if est_counts:
        gate = None
        for cls, est in est_counts.items():
            if est > 4 * n_per_class:
                cond = (F.col(class_col) == cls) & (
                    h >= F.lit(4.0 * n_per_class / est)
                )
                gate = cond if gate is None else (gate | cond)
        if gate is not None:
            # NULL-safe negation: for a NULL class the equality is NULL,
            # and filter(~NULL) would silently DROP those rows — the
            # plain path keeps them as their own window partition
            df = df.filter(~F.coalesce(gate, F.lit(False)))
    w = Window.partitionBy(class_col).orderBy(h.asc(), F.col("doc_id").asc())
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= n_per_class)
        .drop("_rk")
    )


def temperature_mix(
    df: DataFrame,
    target_rows: int,
    class_col: str = "source",
    alpha: float = 0.5,
    salt: str = "mix",
) -> DataFrame:
    """Temperature-weighted data mixing: resample so class (source /
    domain / language) s contributes ~ ``target_rows * c_s^alpha /
    sum(c^alpha)`` rows — the standard multilingual/domain re-balancing
    rule (alpha=1 keeps natural proportions, alpha=0 is uniform across
    classes, alpha~0.3-0.7 up-weights tails). Rows are kept by the
    deterministic hash gate ``hash_fraction(doc_id, salt) < f_s`` with
    ``f_s = min(1, target * w_s / c_s)`` — reproducible row-for-row in
    any engine, no RNG. Classes whose quota exceeds their size keep
    every row (this is a downsampling mixer; epoch-style upsampling is
    a repeat factor, not a sample).

    Scale shape: one tiny per-class count aggregate (map-side
    combinable), the class-weight normalization as a window over the
    |classes|-row count frame (bounded single partition — the
    vocab_topk justification), and a BROADCAST equi-join of the
    per-class fraction back onto the stream; the fact table is never
    shuffled. NULL classes mix as their own class (null-safe join).

    Portability note: ``alpha=0.5`` (the default) computes weights via
    IEEE-exact ``sqrt``, so the kept row set is bit-reproducible in an
    external SQL engine; other alphas go through ``pow``, which is not
    guaranteed correctly-rounded everywhere — fine for production, but
    oracle-checked queries should stick to 0.5/1.0."""
    if target_rows <= 0:
        raise ValueError("target_rows must be positive")
    counts = df.groupBy(F.col(class_col).alias("_cls")).agg(
        F.count(F.lit(1)).alias("_cnt")
    )
    c = F.col("_cnt").cast("double")
    if alpha == 0.5:
        powc = F.sqrt(c)
    elif alpha == 1.0:
        powc = c
    elif alpha == 0.0:
        powc = F.lit(1.0)
    else:
        powc = F.pow(c, F.lit(float(alpha)))
    allw = Window.partitionBy()
    fr = (
        counts.withColumn("_pw", powc)
        .withColumn("_f", F.least(
            F.lit(1.0),
            F.lit(float(target_rows)) * F.col("_pw")
            / F.sum("_pw").over(allw) / c,
        ))
        .select("_cls", "_f")
    )
    gate = hash_fraction(F.col("doc_id").cast("string"), salt) < F.col("_f")
    return (
        df.join(F.broadcast(fr), F.col(class_col).eqNullSafe(F.col("_cls")))
        .filter(gate)
        .drop("_cls", "_f")
    )


def priority_sample(
    df: DataFrame,
    k: int,
    weight_col: str,
    id_col: str = "doc_id",
    salt: str = "prio",
) -> DataFrame:
    """Deterministic weight-proportional sample without replacement:
    the k rows with the largest priority ``w_i / u_i``, where u_i is
    the row's uniform hash fraction (Duffield/Lund/Thorup priority
    sampling; inclusion probability ~ w_i / tau). Hash-derived u makes
    the selected set a pure function of (ids, weights, salt) — same
    rows in any engine, any run, any partitioning. Rows with NULL or
    non-positive weight are excluded (they can never be sampled).

    Scale shape: a pure projection followed by ORDER BY + LIMIT, which
    Spark executes as TakeOrderedAndProject — per-partition top-k then
    a k-row merge, never a global sort shuffle. Priorities divide the
    weight by ``(h+1)/2^56`` as one IEEE-portable double division
    (+1 so a zero hash cannot divide by zero); ties break on id."""
    if k <= 0:
        raise ValueError("k must be positive")
    h = portable_hash56(
        F.concat(F.col(id_col).cast("string"), F.lit(salt))
    )
    prio = (
        F.col(weight_col).cast("double") / (h + F.lit(1)).cast("double")
    ) * F.lit(_DENOM56)
    return (
        df.filter(F.col(weight_col).isNotNull() & (F.col(weight_col) > 0))
        .withColumn("priority", prio)
        .orderBy(F.col("priority").desc(), F.col(id_col).asc())
        .limit(k)
    )


def importance_votes(
    df: DataFrame,
    is_target_col: str,
    n_buckets: int = 4096,
    word_hash=None,
) -> DataFrame:
    """DSIR-style data-selection scores (Xie et al. 2023): measure how
    target-like every document's hashed n-gram profile is, against the
    split given by boolean ``is_target_col`` (True rows define the
    target distribution, the rest the raw distribution). The paper
    weighs each hashed gram by log(p_target[b] / p_raw[b]); this
    operator keeps each gram's SIGN of that log-likelihood ratio and
    sums votes — sign(log(pt/pr)) equals the sign of the
    cross-multiplied Laplace-smoothed count comparison

        (cT[b]+1) * (NR+m)  vs  (cR[b]+1) * (NT+m)

    which is pure int64, so the scores replay bit-for-bit in an
    external engine where ``ln`` itself does not (the HLL oracle
    lesson). Returns one row per input row: (doc_id, n_grams, votes),
    votes = #target-leaning grams − #raw-leaning grams, counted PER
    OCCURRENCE like the paper, over 2-word grams; docs shorter than 2
    words score 0.

    Scale shape: DSIR is inherently two-pass — estimate the bucket
    distributions, then score. Pass 1 is ONE map-side-combinable
    bucket aggregate collapsing the corpus to <= m rows (collected:
    the vote table is driver-sized by construction); pass 2 broadcasts
    the m-row vote table onto the gram rows and the per-doc sum reuses
    the rolling-hash path's id partitioning. Persist the gram frame
    between passes when the corpus scan dominates (at 100 TB it
    does). Cross-multiplication overflows
    int64 past ~3e9 total grams per side; at that scale pre-divide the
    counts (or lift to decimal) — the VOTES stay stable because only
    the comparison's sign matters.
    """
    from emf_spark.datax.dedup import shingle_hash_rows

    if n_buckets < 2:
        raise ValueError("n_buckets must be >= 2")
    flags = df.select(
        F.col("doc_id").alias("id"),
        F.col(is_target_col).cast("boolean").alias("_t"),
    )
    grams = (
        shingle_hash_rows(df, k=2, word_hash=word_hash)
        .withColumn("_b", F.pmod(F.col("h"), F.lit(n_buckets)))
        .join(flags, "id")
        # both passes read the gram rows; the estimate pass's collect
        # materializes the cache so the score pass skips re-hashing
        .persist()
    )
    # the bucket table is <= n_buckets rows by construction: collect it
    # and build the vote table driver-side (keeps the plan equi-join
    # only — an in-plan 1-row totals join would be a nested-loop
    # broadcast, the shape the plan tests ban for pair generators)
    counts = grams.groupBy("_b").agg(
        F.sum(F.when(F.col("_t"), 1).otherwise(0)).alias("_ct"),
        F.sum(F.when(~F.col("_t"), 1).otherwise(0)).alias("_cr"),
    ).collect()
    nt = sum(r["_ct"] for r in counts)
    nr = sum(r["_cr"] for r in counts)
    vote_rows = []
    for r in counts:
        lhs = (r["_ct"] + 1) * (nr + n_buckets)
        rhs = (r["_cr"] + 1) * (nt + n_buckets)
        vote_rows.append(
            (r["_b"], 1 if lhs > rhs else (-1 if lhs < rhs else 0))
        )
    # buckets no gram ever hit cannot appear in `grams` either — the
    # join below never needs their (zero-count) votes
    votes = df.sparkSession.createDataFrame(
        vote_rows, "_b bigint, _vote int"
    )
    per = (
        grams.join(F.broadcast(votes), "_b")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum("_vote").alias("votes"),
        )
        # eager localCheckpoint is pass 2's terminal action over the
        # cached gram frame: materialize the per-doc rows (one per doc,
        # tiny next to the grams), then release the cache — without
        # this the persist pins executor storage for the whole session
        # (ADVICE r4, low)
        .localCheckpoint(eager=True)
    )
    grams.unpersist()
    return (
        df.select(F.col("doc_id").alias("id"))
        .join(per, "id", "left")
        .select(
            F.col("id").alias("doc_id"),
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            F.coalesce("votes", F.lit(0).cast("bigint")).alias("votes"),
        )
    )
