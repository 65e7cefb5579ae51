"""PII detection / redaction over text columns.

A training-data pipeline scrubs personally-identifiable substrings
before anything else touches the text (reference scope analog: the
reference strips non-metric fields at parse time, `fluent-bit-emf/emf/
metric.go:146-176` — this is the text-corpus counterpart of that
"drop what must not flow downstream" stage). Everything here is
Catalyst `regexp_count` / `regexp_replace` — JVM regex, codegen'd, no
UDF — and every pattern is written in the Java-regex ∩ RE2 common
subset (no lookaround, no backreferences) so an external DuckDB oracle
can run the exact same patterns.

Semantics: patterns apply IN ORDER; each stage counts its matches on
the text as redacted so far, then replaces them with the stage's
`<TOKEN>`. Ordering is part of the contract (e.g. SSNs and card
numbers are consumed before the looser phone pattern can see their
digit runs), and progressive counting keeps `n_<type>` equal to the
number of substitutions actually made.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# (name, regex, replacement) — ORDER IS SEMANTIC (see module doc).
# The leading \(? in the phone pattern sits OUTSIDE the \b because
# "(" is not a word character — a boundary between space and "(" never
# matches, which would silently skip every parenthesized area code.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9_.+-]+@[A-Za-z0-9-]+(?:\.[A-Za-z0-9-]+)+", "<EMAIL>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("card", r"\b\d{4}[ -]\d{4}[ -]\d{4}[ -]\d{4}\b", "<CARD>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    ("phone", r"\(?\b\d{3}\)?[ -]\d{3}[ -]\d{4}\b", "<PHONE>"),
]


def pii_scrub(
    df: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Redact PII and attach per-type match counts.

    Adds ``text_redacted`` (the fully redacted text) and one
    ``n_{name}`` int column per ``PII_PATTERNS`` entry. One narrow
    Project per stage, no shuffle — at 100 TB this is a pure map over
    the scan, and the regexes stay inside whole-stage codegen."""
    cur = F.col(text_col)
    counts = []
    for name, pat, repl in PII_PATTERNS:
        counts.append(F.regexp_count(cur, F.lit(pat)).alias(f"n_{name}"))
        cur = F.regexp_replace(cur, pat, repl)
    return df.select("*", *counts, cur.alias("text_redacted"))


def sql_scrub_exprs(text_expr: str) -> tuple[str, dict[str, str]]:
    """DuckDB-SQL expressions reproducing :func:`pii_scrub` exactly:
    (redacted_text_expr, {name: count_expr}). Counts nest the previous
    stages' regexp_replace, mirroring the progressive semantics; the
    'g' flag matches Spark's replace-all default. Single quotes in the
    pattern would need escaping — none of the shipped patterns use
    them, asserted here."""
    cur = text_expr
    counts: dict[str, str] = {}
    for name, pat, repl in PII_PATTERNS:
        assert "'" not in pat and "'" not in repl
        counts[name] = f"len(regexp_extract_all({cur}, '{pat}'))"
        cur = f"regexp_replace({cur}, '{pat}', '{repl}', 'g')"
    return cur, counts


def k_anonymity(
    df: DataFrame,
    quasi_cols: list[str],
    k: int,
) -> DataFrame:
    """k-anonymity suppression flag: a row is ``suppressed`` when its
    quasi-identifier combination is shared by fewer than ``k`` rows —
    releasing it would single out < k individuals. (Sweeney 2002; the
    release-side counterpart of :func:`pii_scrub`'s substring pass.)

    Plan: one map-side-combinable count over the quasi columns, joined
    back on the same keys. Both sides shuffle on identical keys, so at
    scale AQE plans this as one exchange-reusing shuffled join; the
    counts side has one row per DISTINCT quasi combination (usually
    orders of magnitude smaller than the data — often broadcastable,
    which Catalyst decides from its size). NULL quasi values group as
    their own cohort (null-safe key compare), matching the SQL
    GROUP BY treatment an auditor would run.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    if not quasi_cols:
        raise ValueError("k_anonymity needs at least one quasi column")
    for c in ("suppressed", "group_size"):
        if c in df.columns:
            raise ValueError(f"column {c!r} collides with k_anonymity outputs")
    # rename the count side's keys up front — a self-join against an
    # aggregate of the same frame trips Spark's ambiguous-attribute
    # resolution if both sides keep the original names
    counts = df.groupBy(*quasi_cols).agg(F.count(F.lit(1)).alias("group_size"))
    renamed = counts.select(
        *[F.col(c).alias(f"_ka_{c}") for c in quasi_cols], "group_size"
    )
    # null-safe equi-join: NULL quasi values must meet their own count
    cond = None
    for c in quasi_cols:
        eq = F.col(c).eqNullSafe(F.col(f"_ka_{c}"))
        cond = eq if cond is None else cond & eq
    joined = df.join(renamed, cond).drop(*[f"_ka_{c}" for c in quasi_cols])
    return joined.withColumn("suppressed", F.col("group_size") < F.lit(k))
