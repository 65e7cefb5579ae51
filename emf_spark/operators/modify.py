"""Record-mutation rules — Fluent Bit's ``modify`` filter (set/rename/
copy/remove with conditions) plus the flat-record form of its ``nest``/
``lift`` filters, over ``map<string,string>`` record columns.

The reference plugin consumes records a modify stage upstream already
shaped (its parse stage hard-codes the key layout it expects,
emf/emf.go parse path); this operator is that upstream stage: the
generic key-surgery layer every Fluent Bit pipeline runs before
routing. Rule list and semantics mirror the public filter docs:

* ``set(key, value)``            — add or overwrite
* ``remove(key)`` / ``remove_wildcard(prefix)`` / ``remove_regex(re)``
* ``rename(old, new)``           — only when ``old`` exists and ``new``
  does not; ``hard_rename`` overwrites ``new``
* ``copy(old, new)`` / ``hard_copy(old, new)`` — same pair for copies
* ``nest(prefix_match, under)``  — keys matching ``prefix_match`` get
  re-keyed ``under + '.' + key`` (the flat-map rendering of nest);
  ``lift(under)`` strips ``under + '.'`` back off
* every rule takes ``when=[...]`` conditions, ALL of which must hold:
  ``key_exists``, ``no_key``, ``key_value_equals``,
  ``key_value_matches`` (RE2-style regex on the value),
  ``a_key_matches`` (regex on any key)

Execution model — the part that matters at scale: each rule becomes
ONE narrow projection built from ``map_filter`` / ``map_concat`` /
``transform_keys`` / ``map_contains_key`` higher-order functions, and
``records_modify`` chains one projection PER RULE so every stage's
input is a named attribute evaluated once per row. No explode, no
re-aggregate, no UDF, no shuffle — the chain pipelines inside a single
whole-stage-codegen span and its cost is LINEAR in rule count.

(Why not one nested Column for the whole chain: a rename/copy rule
references its input 4-6× — ``has_old``, ``no_new``, the value lookup,
both CASE branches — so substituting the previous rule's full
expression at every reference grows the Catalyst tree ~5× per rule.
A 7-rule chain compiled that way evaluated thousands of duplicated map
ops per row and benched at ~5.8k rows/s where its single-pass peers on
the same scan run 5-14× faster. Catalyst's CollapseProject deliberately
does NOT re-inline non-cheap expressions referenced more than once, so
the per-rule projection chain stays linear after optimization —
pinned by tests/test_modify.py::test_chain_cost_linear_in_rule_count.)

Determinism notes: NULL records pass through NULL (no fabrication);
rules apply strictly in list order (a ``set`` is visible to every later
rule); ``nest``/``lift`` key collisions raise loudly (Spark's duplicate
-map-key EXCEPTION policy) instead of silently last-winning.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

_CONDS = {
    "key_exists",
    "no_key",
    "key_value_equals",
    "key_value_matches",
    "a_key_matches",
}
_OPS = {
    "set",
    "remove",
    "remove_wildcard",
    "remove_regex",
    "rename",
    "hard_rename",
    "copy",
    "hard_copy",
    "nest",
    "lift",
}


def _cond(m: Column, cond: tuple) -> Column:
    op = cond[0]
    if op not in _CONDS:
        raise ValueError(f"unknown modify condition {op!r}")
    if op == "key_exists":
        return F.map_contains_key(m, F.lit(cond[1]))
    if op == "no_key":
        return ~F.map_contains_key(m, F.lit(cond[1]))
    if op == "key_value_equals":
        # missing key -> NULL comparison -> condition false (matches
        # the filter's "key must exist and equal" reading)
        return F.try_element_at(m, F.lit(cond[1])) == F.lit(cond[2])
    if op == "key_value_matches":
        return F.coalesce(
            F.try_element_at(m, F.lit(cond[1])).rlike(cond[2]), F.lit(False)
        )
    return F.exists(F.map_keys(m), lambda k: k.rlike(cond[1]))


def _one(key: Column | str, val: Column) -> Column:
    k = F.lit(key) if isinstance(key, str) else key
    return F.create_map(k, val)


def _drop(m: Column, *keys: str) -> Column:
    ks = list(keys)
    return F.map_filter(m, lambda k, v: ~k.isin(*ks) if len(ks) > 1 else k != ks[0])


def _apply(m: Column, rule: dict) -> Column:
    op = rule["op"]
    if op not in _OPS:
        raise ValueError(f"unknown modify op {op!r}")
    if op == "set":
        return F.map_concat(
            _drop(m, rule["key"]), _one(rule["key"], F.lit(rule["value"]))
        )
    if op == "remove":
        return _drop(m, rule["key"])
    if op == "remove_wildcard":
        return F.map_filter(m, lambda k, v: ~k.startswith(rule["prefix"]))
    if op == "remove_regex":
        return F.map_filter(m, lambda k, v: ~k.rlike(rule["pattern"]))
    if op in ("rename", "hard_rename", "copy", "hard_copy"):
        old, new = rule["old"], rule["new"]
        has_old = F.map_contains_key(m, F.lit(old))
        no_new = ~F.map_contains_key(m, F.lit(new))
        val = F.try_element_at(m, F.lit(old))
        if op == "rename":
            return F.when(
                has_old & no_new, F.map_concat(_drop(m, old), _one(new, val))
            ).otherwise(m)
        if op == "hard_rename":
            return F.when(
                has_old, F.map_concat(_drop(m, old, new), _one(new, val))
            ).otherwise(m)
        if op == "copy":
            return F.when(has_old & no_new, F.map_concat(m, _one(new, val))).otherwise(m)
        return F.when(
            has_old, F.map_concat(_drop(m, new), _one(new, val))
        ).otherwise(m)
    if op == "nest":
        pref, under = rule["prefix"], rule["under"]
        return F.transform_keys(
            m,
            lambda k, v: F.when(
                k.startswith(pref), F.concat(F.lit(under + "."), k)
            ).otherwise(k),
        )
    # lift
    under = rule["under"] + "."
    n = len(under) + 1
    return F.transform_keys(
        m,
        lambda k, v: F.when(
            k.startswith(under), k.substr(F.lit(n), F.length(k))
        ).otherwise(k),
    )


def _validate(rules: list[dict]) -> None:
    """Eager driver-side validation so a typo'd rule fails at build
    time, not mid-job."""
    for r in rules:
        if r["op"] not in _OPS:
            raise ValueError(f"unknown modify op {r['op']!r}")
        for c in r.get("when", ()):
            if c[0] not in _CONDS:
                raise ValueError(f"unknown modify condition {c[0]!r}")


def _apply_one(m: Column, r: dict) -> Column:
    """One rule (incl. its ``when`` gate) over an input map column."""
    applied = _apply(m, r)
    conds = r.get("when", ())
    if conds:
        gate = _cond(m, conds[0])
        for c in conds[1:]:
            gate = gate & _cond(m, c)
        applied = F.when(gate, applied).otherwise(m)
    return applied


def records_modify(df: DataFrame, col: str, rules: list[dict]) -> DataFrame:
    """Apply a modify chain to ``df[col]`` in place, ONE projection per
    rule: each stage's input is a named attribute evaluated once per
    row, so plan size and per-row cost are linear in rule count (the
    single-Column form duplicates the whole upstream tree at every
    reference — module docstring). NULL records pass through NULL
    without an explicit guard because every per-rule building block
    (map_concat/map_filter/transform_keys and all gate conditions) is
    NULL-propagating — pinned by test_null_record_passthrough."""
    _validate(rules)
    for r in rules:
        df = df.withColumn(col, _apply_one(F.col(col), r))
    return df


def canonical_kv(m: Column) -> Column:
    """Deterministic serialization of a record map: entries rendered
    ``key<US>value`` (0x1f), sorted, joined with <RS> (0x1e) — stable
    across engines and partitionings, safe for hash compares (record
    values may themselves contain '=' or ','; they cannot contain the
    separators, which are reserved control bytes)."""
    return F.array_join(
        F.array_sort(
            F.transform(
                F.map_entries(m),
                lambda e: F.concat(e["key"], F.lit("\x1f"), e["value"]),
            )
        ),
        "\x1e",
    )
