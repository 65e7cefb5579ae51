"""Graph analytics on the integer lattice.

``pagerank_exact``: dampened PageRank with ALL arithmetic in int64 —
ranks scale by 1e9, per-edge contributions and the damping step use
truncate-toward-zero integer division (Spark ``div`` == DuckDB ``//``
on bigint), so the full iterative computation is deterministic (no
float sum-order effects) and an external SQL engine replays every
iteration bit-for-bit. The same exactness treatment as
similarity.kmeans_exact; connected components live in
datax/dedup.dedup_clusters.

Scale shape per iteration: one shuffle join of the rank vector onto
edges keyed by src (the rank vector is node-cardinality; at 100 TB of
edges pre-partition both by the node key and the Exchange disappears),
one map-side-combinable inflow aggregate keyed by dst, one left join
back onto the node list (zero in-degree nodes keep the damping floor).
Lineage is cut per iteration with localCheckpoint, the dedup_clusters
lesson (4^k plan growth otherwise). Nothing ever collects to the
driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

PR_SCALE = 10**9


def pagerank_exact(
    edges: DataFrame,
    iters: int = 3,
    damping_pct: int = 85,
) -> DataFrame:
    """(node, rank) over the ``src``/``dst`` edges after ``iters``
    dampened PageRank rounds, rank an int64 in units of 1e-9 (sum over
    nodes ~ N * 1e9, the unnormalized
    convention). Damping is expressed in integer percent so the update
    rule is pure int64: rank' = (100-d)% * SCALE // 100 +
    d% * inflow // 100, inflow = sum over in-edges of
    rank_src // out_degree(src).

    Dangling nodes are NOT redistributed — callers wanting the classic
    redistribution should add self-loops (or reverse edges) upstream;
    keeping the operator free of a whole-graph scalar broadcast is
    deliberate (a 1-row nested-loop join per iteration is the kind of
    plan wart the rest of this repo pins against)."""
    if not 0 <= damping_pct <= 100:
        raise ValueError("damping_pct must be in [0, 100]")
    if iters < 0:
        raise ValueError("iters must be >= 0")
    e = edges.select(F.col("src").alias("_s"), F.col("dst").alias("_d")).distinct()
    # LAZY localCheckpoints: nodes/ed are read every round and the
    # labels every following round, but materializing them eagerly ran
    # one blocking job per checkpoint — rank build time was dominated
    # by those serialized jobs, not by the joins (measured 14.4s -> 8.0s
    # cold / 1.5s warm at sf0.1 for iters=2 with lazy checkpoints and no
    # per-round cut). Lineage still cannot blow up: each round's plan
    # references the previous round once (linear growth), and every
    # ``checkpoint_every`` rounds the chain is cut when the consuming
    # job runs.
    checkpoint_every = 4
    nodes = (
        e.select(F.col("_s").alias("node"))
        .unionByName(e.select(F.col("_d").alias("node")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    deg = e.groupBy("_s").agg(F.count(F.lit(1)).alias("_deg"))
    ed = e.join(deg, "_s").localCheckpoint(eager=False)
    floor = (100 - damping_pct) * PR_SCALE // 100
    ranks = nodes.select("node", F.lit(PR_SCALE).cast("bigint").alias("rank"))
    for i in range(iters):
        inflow = (
            ed.join(ranks.withColumnRenamed("node", "_s"), "_s")
            .select("_d", F.expr("rank div _deg").alias("_c"))
            .groupBy("_d")
            .agg(F.sum("_c").alias("_in"))
        )
        ranks = (
            nodes.join(inflow.withColumnRenamed("_d", "node"), "node", "left")
            .select(
                "node",
                (
                    F.lit(floor).cast("bigint")
                    + F.expr(
                        f"({damping_pct} * coalesce(_in, 0L)) div 100"
                    )
                ).alias("rank"),
            )
        )
        if (i + 1) % checkpoint_every == 0 and (i + 1) < iters:
            ranks = ranks.localCheckpoint(eager=False)
    return ranks


def triangle_count(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Per-node triangle counts over the UNDIRECTED simple graph induced
    by ``edges`` (direction, duplicates, and self-loops ignored):
    returns ``(node, triangles)`` for every node on >= 1 triangle, each
    triangle credited once to each of its three corners.

    Scale shape — degree-ordered orientation (the Cohen / Schank-Wagner
    MapReduce-era trick every distributed engine uses): orient each
    undirected edge from its lower endpoint to its higher endpoint
    under the total order ``(degree, node)``, so every node's
    out-degree is O(sqrt(m)) and the wedge self-join materializes
    sum-of-C(outdeg, 2) rows instead of sum-of-C(deg, 2) — on a
    power-law graph the difference between a bounded shuffle and a
    hub-node explosion. Each triangle {a < b < c} (in orientation
    order) is then counted exactly once as the wedge (a->b, a->c)
    closed by the oriented edge (b->c); the closing step is a plain
    equi-join on (b, c), never a filter over a cartesian. Three
    shuffles total (degree agg, wedge join, closing join) plus the
    final per-node aggregate; nothing collects to the driver.

    Determinism: pure set semantics end to end — no floats, no
    ordering sensitivity — so an external SQL engine reproduces the
    exact counts (oracle: same orientation via DuckDB row-value
    comparison ``(d, n) < (d, n)``)."""
    e = (
        edges.select(F.col(src_col).alias("_a"), F.col(dst_col).alias("_b"))
        .filter(F.col("_a").isNotNull() & F.col("_b").isNotNull())
        .filter(F.col("_a") != F.col("_b"))
        .select(
            F.least("_a", "_b").alias("_u"), F.greatest("_a", "_b").alias("_v")
        )
        .distinct()
    )
    und = e.unionByName(
        e.select(F.col("_v").alias("_u"), F.col("_u").alias("_v"))
    )
    deg = und.groupBy(F.col("_u").alias("_n")).agg(
        F.count(F.lit(1)).alias("_d")
    )
    # Orient each canonical edge by (degree, node); carry no payload.
    with_deg = (
        e.join(deg.select(F.col("_n").alias("_u"), F.col("_d").alias("_du")),
               "_u")
        .join(deg.select(F.col("_n").alias("_v"), F.col("_d").alias("_dv")),
              "_v")
    )
    u_first = (F.col("_du") < F.col("_dv")) | (
        (F.col("_du") == F.col("_dv")) & (F.col("_u") < F.col("_v"))
    )
    # lazy checkpoint: the three downstream references (both wedge
    # sides + the closing join) resolve to ONE materialization inside
    # the consuming job; eager ran the whole edge build as its own
    # blocking job first (same finding as pagerank_exact)
    oriented = with_deg.select(
        F.when(u_first, F.col("_u")).otherwise(F.col("_v")).alias("_s"),
        F.when(u_first, F.col("_v")).otherwise(F.col("_u")).alias("_t"),
    ).localCheckpoint(eager=False)
    e1 = oriented.select(F.col("_s").alias("_wa"), F.col("_t").alias("_wb"))
    e2 = oriented.select(F.col("_s").alias("_wa"), F.col("_t").alias("_wc"))
    wedges = e1.join(e2, "_wa").filter(F.col("_wb") != F.col("_wc"))
    closed = wedges.join(
        oriented,
        (F.col("_wb") == F.col("_s")) & (F.col("_wc") == F.col("_t")),
    )
    return (
        closed.select(
            F.explode(F.array("_wa", "_wb", "_wc")).alias("node")
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
