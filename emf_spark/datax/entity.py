"""Entity resolution: blocked fuzzy matching.

The canonical record-linkage shape — never all-pairs: candidates are
generated by an EQUI-join on a caller-supplied blocking key (a
noise-surviving fragment of the record: a name substring, a phonetic
code, a sorted-token prefix), refined by edit distance, and reduced to
the best match per left record with an algebraic struct-min (map-side
combinable — no window, no shuffle beyond the candidate join's own).

At 100 TB the blocking key IS the scale contract: candidate volume is
sum of |block_L| x |block_R| per key, so a good key bounds block sizes
and the join stays a plain shuffled (or broadcast, if one side is a
small master list) hash join. A degenerate key (one giant block) is a
caller bug this operator surfaces rather than hides — there is
deliberately no unblocked mode.

``levenshtein`` runs JVM-side (whole-stage codegen); the same function
exists in DuckDB with identical classic edit-distance semantics, so
match decisions are exactly oracle-reproducible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def fuzzy_match(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    left_name: str,
    right_id: str,
    right_name: str,
    block_col: str,
    max_dist: int,
) -> DataFrame:
    """Best fuzzy match per left record: rows ``(left_id, right_id,
    dist)`` where ``dist = levenshtein(left_name, right_name) <=
    max_dist``, candidates limited to equal ``block_col`` values, ties
    broken by smallest ``right_id`` (then name, for non-unique ids) so
    the winner is a pure function of the data. Left records with no
    candidate inside ``max_dist`` are absent (anti-join semantics the
    caller can recover with a left join). When both sides use the same
    id column name (self-matching a single master list), the right
    column comes back as ``<right_id>_matched``."""
    if max_dist < 0:
        raise ValueError("max_dist must be >= 0")
    right_out = right_id if right_id != left_id else f"{right_id}_matched"
    l = left.select(
        F.col(left_id).alias("_lid"),
        F.col(left_name).alias("_ln"),
        F.col(block_col).alias("_bk"),
    ).filter(F.col("_bk").isNotNull())
    r = right.select(
        F.col(right_id).alias("_rid"),
        F.col(right_name).alias("_rn"),
        F.col(block_col).alias("_bk"),
    ).filter(F.col("_bk").isNotNull())
    from emf_spark.datax.dedup import _let

    # BOUNDED levenshtein: the 3-arg form early-exits once the distance
    # exceeds max_dist (returning -1), O(max_dist * len) per pair
    # instead of O(len^2) — measured 4.8s -> 3.2s on the 1.5M-candidate
    # block join at sf0.1. The distance is let-bound so the qualifying
    # test and the struct payload share ONE evaluation, and the filter
    # folds into the aggregate (min skips the non-qualifying NULLs;
    # left records with no candidate drop via the _best NULL filter —
    # the same anti-join semantics as the old pre-aggregate filter).
    best = _let(
        F.levenshtein(F.col("_ln"), F.col("_rn"), max_dist),
        lambda d: F.when(
            d >= 0,
            F.struct(
                d.alias("dist"),
                F.col("_rid").alias("rid"),
                F.col("_rn").alias("rn"),
            ),
        ),
    )
    return (
        l.join(r, "_bk")
        .groupBy(F.col("_lid").alias(left_id))
        .agg(F.min(best).alias("_best"))
        .filter(F.col("_best").isNotNull())
        .select(
            left_id,
            F.col("_best.rid").alias(right_out),
            F.col("_best.dist").alias("dist"),
        )
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    key_col: str,
    id_col: str = "id",
    window: int = 3,
) -> DataFrame:
    """Sorted-neighborhood method (Hernandez & Stolfo 1995) candidate
    generation: order the table by (``key_col``, id) and
    pair every row with its next ``window-1`` neighbors — (window-1)*n
    candidate pairs total, the classic alternative to hash blocking
    when near-duplicates share an ORDERABLE key (names, balances,
    timestamps) rather than an exact one.

    Distributed shape: the global order comes from ordering.global_index
    (value-range buckets + in-bucket ranks + broadcast offsets — never a
    single-partition window), then neighbors materialize as an
    EQUI-join: each row explodes to window-1 probe indexes (idx+1 ..
    idx+window-1) and hash-joins the index column. No sort-merge of the
    whole table, no inequality join, no cartesian. ``key_col`` must be
    numeric (global_index's contract) — for string keys pass a numeric
    proxy of a fixed-length prefix.

    Returns (id_a, id_b, key_a, key_b, gap) where gap = idx_b - idx_a
    in [1, window-1]; refine with a similarity predicate downstream
    (levenshtein, abs diff, ...). Null keys cannot be ordered and are
    excluded (documented, matching ER practice)."""
    if window < 2:
        raise ValueError("window must be >= 2")
    from emf_spark.datax.ordering import global_index

    base = df.filter(F.col(key_col).isNotNull())
    idx = global_index(base, key_col, tiebreak=[id_col], out_col="_sni").select(
        F.col(id_col).alias("_id"), F.col(key_col).alias("_k"), "_sni"
    )
    probes = idx.select(
        F.col("_id").alias("id_a"), F.col("_k").alias("key_a"),
        F.col("_sni").alias("_ia"),
        F.explode(
            F.sequence(F.col("_sni") + 1, F.col("_sni") + window - 1)
        ).alias("_sni"),
    )
    return (
        probes.join(idx, "_sni")
        .select(
            "id_a",
            F.col("_id").alias("id_b"),
            "key_a",
            F.col("_k").alias("key_b"),
            (F.col("_sni") - F.col("_ia")).cast("int").alias("gap"),
        )
    )
