"""Log template mining — the Drain family (He et al., ICWS 2017
"Drain: An Online Log Parsing Approach with Fixed Depth Tree"),
reformulated as a deterministic two-pass batch consensus.

The reference engine stops at grok extraction (user supplies the
pattern); template MINING discovers the patterns: cluster raw log
lines into templates where variable fields become a wildcard, and
report line counts per template. Drain's online tree is inherently
sequential (insert order matters); the distributed reformulation here
keeps its two structural ideas — branch by token COUNT, then by the
leading token — and replaces the online similarity merge with an
exact per-position consensus over each branch:

1. normalize whitespace, pre-mask any token containing a digit to the
   wildcard (Drain's standard preprocessing — ids, ips, sizes, times),
2. group lines by ``(n_tokens, first_token)`` — the fixed-depth
   prefix-tree branch,
3. per (group, position): if every line agrees on the token it stays,
   else it becomes the wildcard (min==max check — cheaper than a
   distinct count and identical semantics),
4. rebuild each group's template in position order and sum line
   counts over groups that collapse to the same template string.

Unlike online Drain the result is INSERT-ORDER-FREE (pure aggregate
semantics ⇒ bit-stable across partitionings and engines), which is
what makes an exact cross-engine oracle possible.

Scale shape: two map-combinable shuffles — (group, pos) token
consensus and the per-group rebuild — plus a final template-keyed
count merge. The exploded token stream is |tokens| rows, the rebuild's
collect_list is bounded by MAX LINE LENGTH (positions per group = n),
never by corpus size; no window over the corpus, no driver collect.
At 100 TB this partitions on (n_tokens, head-token) — naturally
high-cardinality for real log mixes; a single dominant template is a
dominant (group, pos) KEY SET (n distinct positions), not one key, so
the consensus shuffle self-spreads across n reducers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

WILDCARD = "<*>"


def mine_templates(
    df: DataFrame,
    min_count: int = 1,
) -> DataFrame:
    """Mine log templates from the raw lines in column ``line``.

    Returns ``(template string, n_lines bigint, n_groups bigint)``
    where ``n_groups`` counts the distinct ``(n_tokens, head)``
    branches that collapsed to the template (>1 means the pre-mask
    already unified the head token). Ordered ``n_lines desc,
    template`` — a total order, so downstream limits are
    deterministic. Blank/whitespace-only lines are dropped.
    """
    if min_count < 1:
        raise ValueError("min_count must be >= 1")
    norm = F.regexp_replace(F.trim(F.col("line")), r"\s+", " ")
    base = (
        df.select(norm.alias("m"))
        .filter(F.length("m") > 0)
        .select(
            F.split(
                F.regexp_replace("m", r"[^ ]*[0-9][^ ]*", WILDCARD), " "
            ).alias("ws")
        )
        .select(
            F.size("ws").alias("n"),
            F.col("ws").getItem(0).alias("head"),
            "ws",
        )
    )
    tok = base.select("n", "head", F.posexplode("ws").alias("pos", "w"))
    cons = tok.groupBy("n", "head", "pos").agg(
        F.min("w").alias("lo"),
        F.max("w").alias("hi"),
        F.count(F.lit(1)).alias("c_tok"),
    )
    grp = (
        cons.select(
            "n",
            "head",
            "pos",
            F.when(F.col("lo") == F.col("hi"), F.col("lo"))
            .otherwise(F.lit(WILDCARD))
            .alias("tt"),
            "c_tok",
        )
        .groupBy("n", "head")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tt"))),
                    lambda s: s["tt"],
                ),
                " ",
            ).alias("template"),
            # every line contributes exactly one token at pos 0, so the
            # pos-0 token count IS the group's line count
            F.max(F.when(F.col("pos") == 0, F.col("c_tok"))).alias("cnt"),
        )
    )
    return (
        grp.groupBy("template")
        .agg(
            F.sum("cnt").alias("n_lines"),
            F.count(F.lit(1)).alias("n_groups"),
        )
        .filter(F.col("n_lines") >= min_count)
        .orderBy(F.col("n_lines").desc(), "template")
    )
