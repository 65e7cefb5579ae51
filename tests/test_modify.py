"""Record-mutation rules (operators/modify.py) — Fluent Bit modify/
nest/lift semantics over map<string,string> record columns."""

import pytest
from pyspark.sql import functions as F

from emf_spark.operators.modify import canonical_kv, records_modify


def _run(spark, rec: dict | None, rules: list[dict]) -> dict | None:
    df = spark.createDataFrame([(rec,)], "record map<string,string>")
    out = records_modify(df, "record", rules).collect()[0]["record"]
    return dict(out) if out is not None else None


def test_set_overwrites_and_adds(spark):
    got = _run(spark, {"a": "1"}, [{"op": "set", "key": "a", "value": "2"},
                                   {"op": "set", "key": "b", "value": "3"}])
    assert got == {"a": "2", "b": "3"}


def test_remove_variants(spark):
    rec = {"a": "1", "tmp_x": "2", "tmp_y": "3", "zz9": "4"}
    assert _run(spark, rec, [{"op": "remove", "key": "a"}]) == {
        "tmp_x": "2", "tmp_y": "3", "zz9": "4"}
    assert _run(spark, rec, [{"op": "remove_wildcard", "prefix": "tmp_"}]) == {
        "a": "1", "zz9": "4"}
    assert _run(spark, rec, [{"op": "remove_regex", "pattern": "^z+[0-9]$"}]) == {
        "a": "1", "tmp_x": "2", "tmp_y": "3"}


def test_rename_soft_blocked_when_target_exists(spark):
    # rename only fires when old exists AND new does not (filter docs)
    got = _run(spark, {"a": "1", "b": "2"},
               [{"op": "rename", "old": "a", "new": "b"}])
    assert got == {"a": "1", "b": "2"}
    got = _run(spark, {"a": "1"}, [{"op": "rename", "old": "a", "new": "b"}])
    assert got == {"b": "1"}
    # missing old -> no-op (no NULL-valued key fabricated)
    got = _run(spark, {"x": "1"}, [{"op": "rename", "old": "a", "new": "b"}])
    assert got == {"x": "1"}


def test_hard_rename_overwrites(spark):
    got = _run(spark, {"a": "1", "b": "2"},
               [{"op": "hard_rename", "old": "a", "new": "b"}])
    assert got == {"b": "1"}


def test_copy_soft_and_hard(spark):
    got = _run(spark, {"a": "1", "b": "2"},
               [{"op": "copy", "old": "a", "new": "b"}])
    assert got == {"a": "1", "b": "2"}  # blocked
    got = _run(spark, {"a": "1", "b": "2"},
               [{"op": "hard_copy", "old": "a", "new": "b"}])
    assert got == {"a": "1", "b": "1"}


def test_nest_and_lift_roundtrip(spark):
    rec = {"tmp_x": "1", "tmp_y": "2", "keep": "3"}
    nested = _run(spark, rec, [{"op": "nest", "prefix": "tmp_", "under": "m"}])
    assert nested == {"m.tmp_x": "1", "m.tmp_y": "2", "keep": "3"}
    back = _run(spark, nested, [{"op": "lift", "under": "m"}])
    assert back == rec


def test_conditions_all_must_hold(spark):
    rules = [{"op": "set", "key": "hit", "value": "y",
              "when": [("key_exists", "a"), ("key_value_equals", "b", "2")]}]
    assert "hit" in _run(spark, {"a": "1", "b": "2"}, rules)
    assert "hit" not in _run(spark, {"a": "1", "b": "X"}, rules)
    assert "hit" not in _run(spark, {"b": "2"}, rules)


def test_condition_kinds(spark):
    rec = {"meta.x": "v42"}
    for cond, want in [
        (("no_key", "zzz"), True),
        (("no_key", "meta.x"), False),
        (("key_value_matches", "meta.x", "^v[0-9]+$"), True),
        (("key_value_matches", "absent", ".*"), False),  # missing key: false
        (("a_key_matches", r"^meta\."), True),
        (("a_key_matches", r"^nope\."), False),
    ]:
        got = _run(spark, rec,
                   [{"op": "set", "key": "hit", "value": "y", "when": [cond]}])
        assert ("hit" in got) is want, cond


def test_rules_apply_in_order_set_visible_to_later_rules(spark):
    got = _run(spark, {}, [
        {"op": "set", "key": "a", "value": "1"},
        {"op": "set", "key": "b", "value": "y",
         "when": [("key_value_equals", "a", "1")]},
    ])
    assert got == {"a": "1", "b": "y"}


def test_null_record_passthrough(spark):
    assert _run(spark, None, [{"op": "set", "key": "a", "value": "1"}]) is None


def test_unknown_op_and_condition_fail_at_compile_time(spark):
    df = spark.createDataFrame([({"a": "1"},)], "record map<string,string>")
    with pytest.raises(ValueError, match="unknown modify op"):
        records_modify(df, "record", [{"op": "frobnicate"}])
    with pytest.raises(ValueError, match="unknown modify condition"):
        records_modify(df, "record", [{"op": "set", "key": "a", "value": "1",
                                       "when": [("sometimes", "a")]}])


def test_canonical_kv_sorted_and_separator_safe(spark):
    # values may contain '=' and ',' — the control-byte separators keep
    # the serialization unambiguous
    df = spark.createDataFrame(
        [({"b": "x=1,y=2", "a": "2"},)], "record map<string,string>")
    got = df.select(canonical_kv(F.col("record")).alias("s")).collect()[0]["s"]
    assert got == "a\x1f2\x1eb\x1fx=1,y=2"


def test_chain_is_single_narrow_projection(spark):
    """The whole rule chain compiles to one Project over the scan:
    no Exchange, no Generate (explode), no Python eval in the plan."""
    df = spark.range(10).select(
        F.create_map(F.lit("tmp_k"), F.col("id").cast("string")).alias("r"))
    rules = [
        {"op": "set", "key": "s", "value": "1"},
        {"op": "rename", "old": "tmp_k", "new": "k"},
        {"op": "nest", "prefix": "k", "under": "m"},
        {"op": "lift", "under": "m"},
        {"op": "remove_wildcard", "prefix": "zz"},
    ]
    plan = records_modify(df, "r", rules)._jdf.queryExecution().executedPlan().toString()
    for bad in ("Exchange", "Generate", "BatchEvalPython", "ArrowEvalPython"):
        assert bad not in plan, plan


def test_chain_cost_linear_in_rule_count(spark):
    """Regression pin for the r5 Catalyst expression-tree blowup: a
    rename/copy rule references its input 4-6x, so compiling the whole
    chain into one Column multiplies the tree ~5x PER RULE (a 14-rule
    chain would build a ~5^14-node py4j expression — unrunnable).
    records_modify applies one projection per rule instead; the
    optimized plan must stay small (CollapseProject must not re-inline
    the non-cheap map expressions) and the chain must run instantly."""
    import time

    df = spark.range(1000).select(
        "id",
        F.create_map(F.lit("k0"), F.col("id").cast("string")).alias("r"),
    )
    # 14 alternating rename/copy rules — the worst-case fanout ops
    rules = []
    for i in range(7):
        rules.append({"op": "rename", "old": f"k{i}", "new": f"k{i + 1}"})
        rules.append({"op": "copy", "old": f"k{i + 1}", "new": f"c{i}"})
    t0 = time.time()
    out = records_modify(df, "r", rules)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    n = out.count()
    wall = time.time() - t0
    assert n == 1000
    # geometric compilation would exceed both bounds by orders of magnitude
    assert len(plan) < 60_000, f"optimized plan re-inlined: {len(plan)} chars"
    assert wall < 60, f"14-rule chain took {wall:.1f}s"
    got = dict(out.collect()[0]["r"])
    assert got["k7"] == "0" and all(got[f"c{i}"] == "0" for i in range(7))
