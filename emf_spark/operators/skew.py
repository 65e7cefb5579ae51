"""Skew-salted equi-join — spread a hot join key across ``n_salt``
reducers instead of funneling it through one.

The north-rule pipeline calls for explicit skew handling: a shuffled
join partitions BOTH sides by the join key, so a key holding 10% of a
100 TB fact stream lands 10 TB on one task. AQE's skew-join split
(``spark.sql.adaptive.skewJoin``) fixes the SORT-side imbalance at
runtime; this operator is the PLAN-level fix for when you know the
skew up front (or the build side must replicate anyway): the big side
gets a per-row salt in ``[0, n_salt)``, the small side is replicated
once per salt value, and the join runs on ``(keys..., _salt)`` — the
hot key's rows now hash to ``n_salt`` distinct reducers.

Cost model (the reason this is not free): the right side shuffles
``n_salt`` x its size. Use it when |right| x n_salt << |left-hot-key
partition savings| — i.e. a genuinely medium right side (too big to
broadcast, far smaller than the fact). With ``hot_keys`` given, only
the listed keys replicate (everything else keeps salt 0), which drops
the replication cost to n_salt x |right ∩ hot| rows — the shape
Spark's own AQE `OptimizeSkewedJoin` produces, but deterministic and
available to non-AQE plans (e.g. under a streaming micro-batch where
AQE is off).

The salt never appears in the output and never affects results: every
left row meets exactly the right rows with its key (proved by the
parity pytest and the ``events_salted_join`` driver oracle, a plain
join).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

_SALT = "_salt"


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    n_salt: int = 8,
    how: str = "inner",
    hot_keys: list | None = None,
) -> DataFrame:
    """Equi-join ``left`` (big, possibly skewed) with ``right`` on the
    ``on`` columns, salted so hot keys spread over ``n_salt`` reducers.

    ``how``: ``inner`` or ``left`` (right/full would need the right
    side de-replicated afterwards — refuse rather than mis-count).
    ``hot_keys``: optional list of values of ``on[0]`` (single-key mode
    only) to salt; other keys keep salt 0 and the right side does not
    replicate for them.
    """
    if how not in ("inner", "left"):
        raise ValueError(f"salted_join supports inner/left, got {how!r}")
    if n_salt < 1:
        raise ValueError("n_salt must be >= 1")
    if not on:
        raise ValueError("salted_join needs at least one join column")
    if _SALT in left.columns or _SALT in right.columns:
        raise ValueError(f"column {_SALT!r} collides with salted_join internals")
    if hot_keys is not None and len(on) != 1:
        raise ValueError("hot_keys mode supports a single join column")

    # The salt must vary WITHIN a key (a key-only hash would send every
    # row of the hot key to one reducer again), so it hashes the whole
    # row. Full-duplicate rows share a salt — harmless, they'd co-group
    # under any scheme that keeps the join semantics deterministic.
    row_salt = F.pmod(F.xxhash64(F.struct(*left.columns)), F.lit(n_salt))

    if hot_keys is None:
        lt = left.withColumn(_SALT, row_salt.cast("int"))
        rt = right.withColumn(
            _SALT, F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1)))
        )
    else:
        key = on[0]
        is_hot_l = F.col(key).isin(hot_keys)
        lt = left.withColumn(
            _SALT, F.when(is_hot_l, row_salt).otherwise(F.lit(0)).cast("int")
        )
        is_hot_r = F.col(key).isin(hot_keys)
        hi = F.when(is_hot_r, F.lit(n_salt - 1)).otherwise(F.lit(0))
        rt = right.withColumn(_SALT, F.explode(F.sequence(F.lit(0), hi)))

    return lt.join(rt, on + [_SALT], how).drop(_SALT)


def _skew_profile_plan(counts: DataFrame, key_cols: list[str],
                       top: int, total: int) -> DataFrame:
    """The lazy report plan over the keyed count frame — split out so
    the plan tests can pin TakeOrderedAndProject (never a global sort)
    on exactly the plan the public function executes."""
    # integer DIV: Spark's DIV == DuckDB's // on bigint (the
    # epoch_shuffle lesson — float division flips boundary values)
    share = (
        F.expr(f"cnt * 10000 DIV {int(total)}").cast("bigint")
        if total else F.lit(0).cast("bigint")
    )
    return (
        counts.select(*key_cols, "cnt", share.alias("share_bp"))
        .orderBy(F.col("cnt").desc(), *[F.col(c).asc() for c in key_cols])
        .limit(top)
    )


def skew_profile(
    df: DataFrame,
    key_cols: list[str],
    top: int = 20,
) -> DataFrame:
    """Key-skew report: the ``top`` heaviest key values with row counts
    and their share of the table in exact basis points — the
    measurement that decides between a plain shuffled join, salting
    (salted_join above), and a broadcast. Returns (key_cols..., cnt,
    share_bp) ordered heaviest-first with deterministic key tie-break,
    MATERIALIZED (<= top rows) so the internal cache is released before
    returning instead of pinning executor storage for the session
    (ADVICE r4).

    Scale shape: one map-side-combinable count aggregate (the key
    cardinality, not the table, crosses the wire), TakeOrderedAndProject
    cuts to ``top`` — never a global sort (pinned on _skew_profile_plan);
    the total for the share division is the count aggregate's own sum,
    taken driver-side as a second action over the tiny keyed frame
    (persisted so the input scan runs once)."""
    if top < 1:
        raise ValueError("top must be >= 1")
    counts = df.groupBy(*key_cols).agg(
        F.count(F.lit(1)).alias("cnt")
    ).persist()
    total = counts.agg(F.sum("cnt")).collect()[0][0] or 0
    out = _skew_profile_plan(counts, key_cols, top, total).localCheckpoint(
        eager=True
    )
    counts.unpersist()
    return out
