"""CIDR longest-prefix-match enrichment — the GeoIP / network-allocation
lookup stage of a log pipeline (Fluent Bit ships it as the ``geoip2``
filter; the reference plugin's enrichment surface is the static sink
dispatch, flush/flusher.go:13-25 — this is the per-record generalization
the north rule asks for: attribute lookup keyed by a packet/source
address instead of a tag).

Semantics: each fact row carries an IPv4 address as a plain int64 in
``[0, 2^32)``; the dimension side is a set of CIDR blocks
``(net, prefix_len, attrs...)``. A row is enriched with the attributes
of the MOST SPECIFIC (longest-prefix) block containing its address —
routing-table semantics. Rows matching no block keep NULL attributes;
NULL addresses match nothing.

Scale shape — the part that matters at 100 TB:

* CIDR blocks are mathematically laminar (any two blocks are nested or
  disjoint — a block is an aligned dyadic interval), so the LPM winner
  at any address is the innermost covering block. We exploit that by
  COMPILING the block set, dim-side, into DISJOINT winner intervals
  (``flatten_cidrs``): boundary points -> elementary intervals ->
  innermost covering block per interval. All of this touches only the
  dimension table (broadcast-sized by precondition; the one ORDER BY
  window in the compile runs over that small table, never the facts).
* The fact-side hot path is then a single BROADCAST equi-join on a
  coarse address bucket with the exact range predicate as a join
  residual. Because the compiled intervals are disjoint, every address
  matches AT MOST ONE row — no fan-out, no post-join aggregate, no
  shuffle of the fact table at all. Cost is one broadcast hash probe
  per row regardless of how deeply the operator's blocks nest.

Contrast with the naive plan (fact x blocks range join + per-row argmax
over matches): that pays a fan-out proportional to nesting depth PLUS a
full shuffle of the matched facts for the argmax. Compiling the dim
side buys both back for a few thousand driver-free rows of work.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

_RESERVED = ("_cidr_lo", "_cidr_hi", "_cidr_b", "_cidr_pick")


def _guarded_prefix() -> F.Column:
    """prefix_len outside [0, 32] is a corrupt dimension row — fail the
    job loudly (an out-of-range shift would otherwise silently wrap)."""
    p = F.col("prefix_len").cast("int")
    return F.when((p >= 0) & (p <= 32), p).otherwise(
        F.raise_error(
            F.concat(
                F.lit("cidr: prefix_len out of [0,32]: "),
                F.col("prefix_len").cast("string"),
            )
        ).cast("int")
    )


def flatten_cidrs(cidrs: DataFrame) -> DataFrame:
    """Compile (possibly nested) CIDR blocks into DISJOINT intervals
    ``(_cidr_lo, _cidr_hi, matched_prefix_len, attrs...)`` where each
    interval carries its longest-prefix winner's attributes.

    Dim-side only. Steps (all exact int64 arithmetic):

    1. canonicalize: ``lo = net - net % 2^(32-p)`` (host bits cleared,
       so callers may pass any address inside the block), ``hi = lo +
       2^(32-p) - 1``.
    2. boundary points = every ``lo`` and ``hi + 1``; consecutive
       points delimit ELEMENTARY intervals none of which straddles any
       block edge.
    3. every elementary interval joins the blocks covering its start
       point (cover start <=> cover whole interval, by construction);
       blocks explode to coarse /16 buckets so this is an equi-join on
       the start bucket, not an inequality join.
    4. winner per interval = max(struct(prefix_len, lo, attrs)) — the
       innermost block (laminar family: larger lo among covering blocks
       <=> more deeply nested; prefix_len leads so identical-lo
       parent/child resolves to the child; attrs last makes duplicate
       blocks with differing attributes deterministic instead of
       arbitrary). Uncovered gaps drop out via the inner join.

    The ORDER BY window in step 2 is global over the BOUNDARY table —
    2 x |blocks| rows, dimension-sized by this operator's precondition
    (the compiled result must broadcast). Facts never see a window.
    """
    attrs = [c for c in cidrs.columns if c not in ("net", "prefix_len")]
    bad = [c for c in cidrs.columns if c in _RESERVED]
    if bad:
        raise ValueError(f"cidr columns {bad} collide with cidr_enrich internals")

    p = _guarded_prefix()
    size = F.expr("shiftleft(cast(1 as bigint), 32 - cast(prefix_len as int))")
    net = F.col("net").cast("long")
    lo = (net - net % size).alias("_cidr_lo")
    blocks = cidrs.select(
        lo,
        p.alias("matched_prefix_len"),
        *[F.col(c) for c in attrs],
    ).withColumn(
        "_cidr_hi",
        F.col("_cidr_lo")
        + F.expr("shiftleft(cast(1 as bigint), 32 - matched_prefix_len)")
        - F.lit(1).cast("long"),
    )

    pts = (
        blocks.select(F.col("_cidr_lo").alias("_p"))
        .unionByName(blocks.select((F.col("_cidr_hi") + 1).alias("_p")))
        .distinct()
    )
    w = Window.orderBy("_p")
    elem = (
        pts.select(
            F.col("_p").alias("_cidr_lo"),
            (F.lead("_p").over(w) - 1).alias("_cidr_hi"),
        )
        .filter(F.col("_cidr_hi").isNotNull())
    )

    # equi-join elementary intervals to covering blocks on the START
    # /16 bucket: a covering block's bucket span always contains the
    # interval's start bucket, and each block contributes one row per
    # bucket, so every (interval, covering block) pair matches exactly
    # once — no dedupe needed.
    bspan = blocks.withColumn(
        "_cidr_b",
        F.explode(
            F.sequence(
                F.expr("_cidr_lo div 65536"), F.expr("_cidr_hi div 65536")
            )
        ),
    ).withColumnRenamed("_cidr_lo", "_blk_lo").withColumnRenamed(
        "_cidr_hi", "_blk_hi"
    )
    cand = elem.withColumn("_cidr_b", F.expr("_cidr_lo div 65536")).join(
        F.broadcast(bspan), "_cidr_b"
    ).filter(
        (F.col("_blk_lo") <= F.col("_cidr_lo"))
        & (F.col("_blk_hi") >= F.col("_cidr_hi"))
    )
    winner = cand.groupBy("_cidr_lo", "_cidr_hi").agg(
        F.max(
            F.struct(
                F.col("matched_prefix_len"),
                F.col("_blk_lo"),
                *[F.col(c) for c in attrs],
            )
        ).alias("_cidr_pick")
    )
    return winner.select(
        "_cidr_lo",
        "_cidr_hi",
        F.col("_cidr_pick.matched_prefix_len").alias("matched_prefix_len"),
        *[F.col(f"_cidr_pick.{c}").alias(c) for c in attrs],
    )


def cidr_enrich(
    facts: DataFrame,
    cidrs: DataFrame,
    ip_col: str = "ip",
) -> DataFrame:
    """Enrich ``facts`` with the attributes of the longest-prefix CIDR
    block containing ``ip_col`` (int64 IPv4). Left semantics: every
    fact row survives; no match / NULL ip => NULL attributes and NULL
    ``matched_prefix_len``. Addresses outside ``[0, 2^32)`` fail the
    job in-plan (corrupt facts should be loud, and the guard rides the
    join key so column pruning can't drop it).

    Plan: broadcast hash LEFT join on the /16 bucket with the disjoint
    interval bounds as residual predicates — at most one match per row
    by construction, zero fact-side shuffle, zero post-aggregate.
    """
    flat = flatten_cidrs(cidrs)
    out_cols = [c for c in flat.columns if c not in ("_cidr_lo", "_cidr_hi")]
    clash = [c for c in out_cols if c in facts.columns]
    if clash:
        raise ValueError(
            f"cidr attribute columns {clash} collide with fact columns — "
            "rename one side (the output carries both)"
        )
    if any(c in facts.columns for c in _RESERVED):
        raise ValueError("fact columns collide with cidr_enrich internals")

    ip = F.col(ip_col).cast("long")
    bucket = F.when(ip.isNull(), F.lit(None).cast("long")).when(
        (ip >= 0) & (ip < F.lit(4294967296)), F.expr(f"{ip_col} div 65536")
    ).otherwise(
        F.raise_error(
            F.concat(F.lit("cidr_enrich: ip out of [0, 2^32): "), ip.cast("string"))
        ).cast("long")
    )
    probe = facts.withColumn("_cidr_b", bucket)
    flat_b = flat.withColumn(
        "_cidr_b",
        F.explode(
            F.sequence(F.expr("_cidr_lo div 65536"), F.expr("_cidr_hi div 65536"))
        ),
    )
    joined = probe.join(
        F.broadcast(flat_b),
        on=(probe["_cidr_b"] == flat_b["_cidr_b"])
        & (ip >= flat_b["_cidr_lo"])
        & (ip <= flat_b["_cidr_hi"]),
        how="left",
    )
    return joined.select(*facts.columns, *out_cols)
