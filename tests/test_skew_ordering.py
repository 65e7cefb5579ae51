"""salted_join / global_index / epoch_shuffle / k_anonymity /
mode_per_group — parity with the naive single-reducer forms plus the
plan shapes that make them scale."""

from __future__ import annotations

import pytest
from pyspark.sql import Window, functions as F

from emf_spark.datax.ordering import epoch_shuffle, global_index
from emf_spark.datax.pii import k_anonymity
from emf_spark.datax.profile import mode_per_group
from emf_spark.operators.skew import salted_join


def _rows(df, *cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


# ---------------------------------------------------------------- salted join


@pytest.fixture(scope="module")
def skewed(spark):
    # 90% of left rows carry key 7 (the hot key); right is 3 rows/key
    left = spark.range(2000).select(
        F.when(F.col("id") % 10 < 9, F.lit(7))
        .otherwise(F.col("id") % 50)
        .alias("k"),
        F.col("id").alias("lid"),
    )
    right = spark.range(150).select(
        (F.col("id") % 50).alias("k"), F.col("id").alias("rid")
    )
    return left, right


def test_salted_join_inner_matches_plain(spark, skewed):
    left, right = skewed
    got = salted_join(left, right, ["k"], n_salt=8)
    want = left.join(right, ["k"])
    assert _rows(got, "k", "lid", "rid") == _rows(want, "k", "lid", "rid")


def test_salted_join_left_matches_plain(spark, skewed):
    left, right = skewed
    # restrict right so some left keys go unmatched
    r2 = right.filter(F.col("k") < 20)
    got = salted_join(left, r2, ["k"], n_salt=4, how="left")
    want = left.join(r2, ["k"], "left")
    assert _rows(got, "k", "lid", "rid") == _rows(want, "k", "lid", "rid")


def test_salted_join_hot_keys_mode(spark, skewed):
    left, right = skewed
    got = salted_join(left, right, ["k"], n_salt=8, hot_keys=[7])
    want = left.join(right, ["k"])
    assert _rows(got, "k", "lid", "rid") == _rows(want, "k", "lid", "rid")


def test_salted_join_spreads_hot_key(spark, skewed):
    """The point of the salt: the hot key's rows occupy >1 salt value
    (and would therefore hash to multiple reducers)."""
    left, right = skewed
    lt = left.withColumn(
        "_salt", F.pmod(F.xxhash64(F.struct(*left.columns)), F.lit(8))
    )
    n = lt.filter(F.col("k") == 7).select("_salt").distinct().count()
    assert n == 8


def test_salted_join_plan_is_shuffled_equi_join(spark, skewed):
    left, right = skewed
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = (
            salted_join(left, right, ["k"], n_salt=8)
            ._jdf.queryExecution().executedPlan().toString()
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # join keys carry the salt — the skew-spreading mechanism itself
    assert "_salt" in plan


def test_salted_join_guards(spark, skewed):
    left, right = skewed
    with pytest.raises(ValueError, match="inner/left"):
        salted_join(left, right, ["k"], how="right")
    with pytest.raises(ValueError, match="n_salt"):
        salted_join(left, right, ["k"], n_salt=0)
    with pytest.raises(ValueError, match="single join column"):
        salted_join(left, right, ["k", "lid"], hot_keys=[7])
    with pytest.raises(ValueError, match="collides"):
        salted_join(left.withColumn("_salt", F.lit(1)), right, ["k"])


# --------------------------------------------------------------- global_index


def test_global_index_matches_window(spark):
    # clustered + duplicate keys: most rows pile into few value-range
    # buckets, with a tiebreak making the order total
    df = spark.range(5000).select(
        F.when(F.col("id") % 7 == 0, F.lit(42))
        .otherwise(F.col("id") % 90)
        .alias("key"),
        F.col("id").alias("tb"),
    )
    got = global_index(df, "key", tiebreak=["tb"], n_buckets=16)
    w = Window.orderBy(F.col("key").asc(), F.col("tb").asc())
    want = df.withColumn("row_idx", (F.row_number().over(w) - 1).cast("bigint"))
    assert _rows(got, "key", "tb", "row_idx") == _rows(want, "key", "tb", "row_idx")


def test_global_index_null_keys_sort_first(spark):
    # NULL keys must match the window form's ASC-nulls-first order
    # (ADVICE r4: F.least ignores NULLs and silently routed them to the
    # LAST bucket, landing their indexes mid-sequence)
    df = spark.range(200).select(
        F.when(F.col("id") % 5 == 0, F.lit(None)).otherwise(F.col("id") % 37)
        .cast("bigint").alias("key"),
        F.col("id").alias("tb"),
    )
    got = global_index(df, "key", tiebreak=["tb"], n_buckets=8)
    w = Window.orderBy(F.col("key").asc(), F.col("tb").asc())
    want = df.withColumn("row_idx", (F.row_number().over(w) - 1).cast("bigint"))

    def by_idx(frame):  # tuples contain None — sort on the total key
        return sorted(
            (tuple(r) for r in frame.select("key", "tb", "row_idx").collect()),
            key=lambda t: t[2],
        )

    assert by_idx(got) == by_idx(want)
    # all-NULL keys: indexed purely by tiebreak, not NULL indexes
    allnull = spark.range(6).select(
        F.lit(None).cast("bigint").alias("key"), F.col("id").alias("tb")
    )
    got2 = _rows(global_index(allnull, "key", tiebreak=["tb"]), "tb", "row_idx")
    assert got2 == [(i, i) for i in range(6)]


def test_global_index_single_value_and_empty(spark):
    one = spark.range(10).select(F.lit(5).alias("key"), F.col("id").alias("tb"))
    got = _rows(global_index(one, "key", tiebreak=["tb"]), "tb", "row_idx")
    assert got == [(i, i) for i in range(10)]
    empty = one.filter(F.lit(False))
    assert global_index(empty, "key").count() == 0


def test_global_index_collision_guard(spark):
    df = spark.range(3).select(F.col("id").alias("key"), F.lit(1).alias("_gb"))
    with pytest.raises(ValueError, match="collides"):
        global_index(df, "key")


# -------------------------------------------------------------- epoch_shuffle


def test_epoch_shuffle_is_global_permutation(spark):
    from emf_spark.datax.dedup import portable_hash56

    df = spark.range(3000).select(F.col("id").alias("doc_id"))
    out = epoch_shuffle(df, "doc_id", epoch=1, n_shards=8)
    # (shard, pos) order == (hash, id) order: the shards are RANGES of
    # the hash space, so concatenating them replays the permutation
    got = [
        r["doc_id"]
        for r in out.orderBy("shard", "pos").select("doc_id").collect()
    ]
    want = [
        r["doc_id"]
        for r in df.withColumn(
            "h",
            portable_hash56(F.concat(F.col("doc_id").cast("string"), F.lit(":1"))),
        )
        .orderBy("h", "doc_id")
        .select("doc_id")
        .collect()
    ]
    assert got == want
    # positions are contiguous 0..n-1 within every shard
    bad = out.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n"), F.max("pos").alias("mx"), F.min("pos").alias("mn")
    ).filter((F.col("mx") != F.col("n") - 1) | (F.col("mn") != 0))
    assert bad.count() == 0


def test_epoch_shuffle_epochs_differ_and_determinism(spark):
    df = spark.range(500).select(F.col("id").alias("doc_id"))
    e1 = _rows(epoch_shuffle(df, "doc_id", 1, 4), "doc_id", "shard", "pos")
    e1b = _rows(epoch_shuffle(df, "doc_id", 1, 4), "doc_id", "shard", "pos")
    e2 = _rows(epoch_shuffle(df, "doc_id", 2, 4), "doc_id", "shard", "pos")
    assert e1 == e1b
    assert e1 != e2
    with pytest.raises(ValueError, match="n_shards"):
        epoch_shuffle(df, "doc_id", 1, 0)


# ---------------------------------------------------------------- k_anonymity


def test_k_anonymity_flags_small_cohorts(spark):
    rows = (
        [("a", "x")] * 5 + [("a", "y")] * 2 + [(None, "x")] * 3 + [(None, None)]
    )
    df = spark.createDataFrame(
        [(i, *r) for i, r in enumerate(rows)], "id int, q1 string, q2 string"
    )
    out = k_anonymity(df, ["q1", "q2"], k=3)
    got = {r["id"]: (r["group_size"], r["suppressed"]) for r in out.collect()}
    assert len(got) == len(rows)  # null cohorts joined back, nothing lost
    for i, (q1, q2) in enumerate(rows):
        size = sum(1 for r in rows if r == (q1, q2))
        assert got[i] == (size, size < 3), (i, q1, q2)
    with pytest.raises(ValueError, match="k must be"):
        k_anonymity(df, ["q1"], 0)
    with pytest.raises(ValueError, match="collides"):
        k_anonymity(df.withColumn("suppressed", F.lit(True)), ["q1"], 2)


# -------------------------------------------------------------- mode_per_group


def test_mode_per_group_tiebreak_and_nulls(spark):
    df = spark.createDataFrame(
        [
            (1, "b"), (1, "b"), (1, "a"),      # clear winner b
            (2, "a"), (2, "c"),                # tie -> larger value c
            (3, None), (3, None), (3, "z"),    # nulls never elected
            (4, None),                         # all-null group drops
        ],
        "g int, v string",
    )
    out = {r["g"]: (r["mode_value"], r["mode_count"])
           for r in mode_per_group(df, ["g"], "v").collect()}
    assert out == {1: ("b", 2), 2: ("c", 1), 3: ("z", 1)}
    with pytest.raises(ValueError, match="group column"):
        mode_per_group(df, [], "v")


def test_skew_profile_shares_and_order(spark):
    import pytest as _pytest

    from emf_spark.operators.skew import skew_profile

    # 60 rows of key 'hot', 30 of 'warm', 10 of 'cold'
    rows = [("hot",)] * 60 + [("warm",)] * 30 + [("cold",)] * 10
    df = spark.createDataFrame(rows, "k string")
    out = [(r["k"], r["cnt"], r["share_bp"])
           for r in skew_profile(df, ["k"], top=2).collect()]
    assert out == [("hot", 60, 6000), ("warm", 30, 3000)]
    # the public function materializes (so it can release its cache);
    # pin the no-global-sort shape on the lazy plan it executes
    from emf_spark.operators.skew import _skew_profile_plan

    counts = df.groupBy("k").agg(F.count(F.lit(1)).alias("cnt"))
    plan_rows = _skew_profile_plan(counts, ["k"], 2, 100)
    assert "TakeOrderedAndProject" in plan_rows._jdf.queryExecution()\
        .executedPlan().toString()
    with _pytest.raises(ValueError, match="top"):
        skew_profile(df, ["k"], top=0)


# ------------------------------------------------- equidepth_boundaries
def test_equidepth_boundaries_brute_force(spark):
    """Boundaries equal the brute-force sorted order statistics at
    rank ceil(k*N/B) - 1, ties included; nulls excluded from N; empty
    input yields an empty frame; n_bins guard raises."""
    import math

    import pytest as _pytest

    from emf_spark.datax.ordering import equidepth_boundaries

    vals = [0.01, 0.01, 0.01, 0.02, 0.05, 0.05, 1.00, 2.50, 2.50,
            2.50, 2.50, 3.00, 9.99, None]
    df = spark.createDataFrame([(v,) for v in vals], "value double")
    n_bins = 4
    units = sorted(round(v * 100) for v in vals if v is not None)
    want = [
        (k, units[math.ceil(k * len(units) / n_bins) - 1])
        for k in range(1, n_bins)
    ]
    got = [
        (r["bin"], r["boundary_units"])
        for r in equidepth_boundaries(df, n_bins=n_bins).collect()
    ]
    assert got == want
    # tie stress: every row identical -> every boundary is that value
    same = spark.createDataFrame([(7.00,)] * 9, "value double")
    assert [r["boundary_units"]
            for r in equidepth_boundaries(same, n_bins=3).collect()] == [700, 700]

    empty = spark.createDataFrame([(None,)], "value double")
    assert equidepth_boundaries(empty, n_bins=3).count() == 0

    with _pytest.raises(ValueError):
        equidepth_boundaries(df, n_bins=1)
