"""Snapshot diff: what changed between two versions of a keyed table.

The incremental-publish primitive of a data pipeline: given yesterday's
and today's snapshot of a keyed dataset, emit (key, status) with status
in {added, removed, changed} — the delta feed downstream consumers (or
an incremental dedup/index refresh, see dedup.minhash_incremental)
actually want, instead of a full re-read.

Scale shape: ONE full-outer shuffle join on the key (both sides shuffle
once; a side stored bucketed on the key with Spark's ``bucketBy`` drops
its Exchange). Change detection hashes the compared columns to one
64-bit value per side BEFORE the join, so the shuffle carries (key,
hash), never the full row payload.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
) -> DataFrame:
    """(key_cols..., status) for every key present in either snapshot
    whose row was added, removed, or changed; unchanged keys are
    dropped. The compared columns are every non-key column both sides
    share (order-insensitive by sorted name)."""
    shared = set(old.columns) & set(new.columns)
    compare_cols = sorted(shared - set(key_cols))

    def keyed(df: DataFrame, tag: str) -> DataFrame:
        # xxhash64 over the compared columns in a FIXED order. Spark's
        # hash functions SKIP null inputs (a null does not advance the
        # hash state), so (a=null,b='x') and (a='x',b=null) would
        # collide; interleaving a non-nullable is-null flag per column
        # makes the encoding injective again (pinned by pytest)
        parts: list[F.Column] = []
        for c in compare_cols:
            parts.append(F.col(c).isNull())
            parts.append(F.col(c))
        if not parts:
            # membership-only diff (no shared non-key columns):
            # xxhash64() with zero args fails analysis; a constant hash
            # makes every matched key "unchanged", leaving added/removed
            parts = [F.lit(0)]
        return df.select(*key_cols, F.xxhash64(*parts).alias(f"_h_{tag}"))

    o = keyed(old, "o")
    n = keyed(new, "n")
    j = o.join(n, key_cols, "full_outer")
    status = (
        F.when(F.col("_h_o").isNull(), F.lit("added"))
        .when(F.col("_h_n").isNull(), F.lit("removed"))
        .when(F.col("_h_o") != F.col("_h_n"), F.lit("changed"))
    )
    return (
        j.withColumn("status", status)
        .filter(F.col("status").isNotNull())
        .select(*key_cols, "status")
    )


def scd2_apply(
    history: DataFrame,
    snapshot: DataFrame,
    key_cols: list[str],
    version: int,
) -> DataFrame:
    """Apply a new full snapshot to an SCD type-2 history table and
    return the UPDATED history — the table-maintenance step downstream
    of snapshot_diff. History rows carry (key..., attrs...,
    valid_from, valid_to); a row is OPEN while valid_to IS NULL.
    Against the new snapshot (key..., attrs...) at ``version``:

    - unchanged open rows pass through untouched,
    - changed keys close the old row (valid_to = version) AND open a
      new one (valid_from = version),
    - keys only in the snapshot open a new row,
    - open keys missing from the snapshot close (deletion tracking),
    - already-closed history is a pure passthrough (never joined).

    Scale shape: ONE full-outer shuffle join on the key between the
    OPEN slice and the snapshot — closed history (the bulk of a mature
    SCD2 table) unions around the join untouched, so cost tracks the
    live key count, not table history. Change detection compares one
    null-flag-interleaved xxhash64 per side (the snapshot_diff
    encoding); each joined row emits its 0-2 output rows through a
    single explode(array(...)) pass — the join output is traversed
    once, never re-filtered per case. Idempotent: re-applying the same
    snapshot at the same version is a no-op (re-run safe)."""
    shared = set(history.columns) & set(snapshot.columns)
    attr_cols = sorted(shared - set(key_cols))

    def chash(prefix: str) -> F.Column:
        parts: list[F.Column] = []
        for c in attr_cols:
            parts.append(F.col(f"{prefix}{c}").isNull())
            parts.append(F.col(f"{prefix}{c}"))
        return F.xxhash64(*parts) if parts else F.lit(0)

    open_ = history.filter(F.col("valid_to").isNull())
    closed = history.filter(F.col("valid_to").isNotNull())

    o = open_.select(
        *key_cols,
        *[F.col(c).alias(f"_o_{c}") for c in attr_cols],
        F.col("valid_from").alias("_o_from"),
        F.lit(True).alias("_in_o"),
    ).withColumn("_ho", chash("_o_"))
    n = snapshot.select(
        *key_cols,
        *[F.col(c).alias(f"_n_{c}") for c in attr_cols],
        F.lit(True).alias("_in_n"),
    ).withColumn("_hn", chash("_n_"))

    j = o.join(n, key_cols, "full_outer")
    in_o = F.col("_in_o").isNotNull()
    in_n = F.col("_in_n").isNotNull()
    same = F.col("_ho") == F.col("_hn")
    ver = F.lit(version).cast("bigint")

    def row(prefix: str, vfrom: F.Column, vto: F.Column) -> F.Column:
        return F.struct(
            *[F.col(f"{prefix}{c}").alias(c) for c in attr_cols],
            vfrom.cast("bigint").alias("valid_from"),
            vto.cast("bigint").alias("valid_to"),
        )

    null_b = F.lit(None).cast("bigint")
    emitted = (
        j.select(
            *key_cols,
            F.explode(
                F.array(
                    # unchanged open row passes through
                    F.when(in_o & in_n & same, row("_o_", F.col("_o_from"), null_b)),
                    # close the old row (changed or deleted)
                    F.when(in_o & (~in_n | ~same), row("_o_", F.col("_o_from"), ver)),
                    # open the new row (changed or added)
                    F.when(in_n & (~in_o | ~same), row("_n_", ver, null_b)),
                )
            ).alias("_r"),
        )
        .filter(F.col("_r").isNotNull())
        .select(*key_cols, "_r.*")
    )
    out_cols = [*key_cols, *attr_cols, "valid_from", "valid_to"]
    return closed.select(*out_cols).unionByName(emitted.select(*out_cols))


def apply_changes(
    base: DataFrame,
    changes: DataFrame,
    key_cols: list[str],
    seq_col: str,
) -> DataFrame:
    """CDC merge — the Delta/Iceberg MERGE pattern as a pure DataFrame
    program: fold a change feed into a keyed snapshot and return the
    new snapshot. Change rows carry the FULL new row (not per-column
    patches): ``key_cols + [seq_col, "op"]`` plus every other column
    of ``base``, with op
    'I' (insert), 'U' (upsert), or 'D' (delete the key); any other op
    value fails the job in-plan via raise_error — no separate
    validation pass over the feed. Latest change per key wins: max
    (seq, op, payload...) struct, so ties on seq break 'U' > 'I' > 'D'
    then by payload — feeds SHOULD keep (key, seq) unique, in which
    case the tie path never evaluates. 'I' and 'U' are deliberately
    interchangeable (both upsert): CDC feeds routinely replay an
    insert for a key that already exists after a compaction, and
    failing there would make the merge non-idempotent.

    Scale shape: one keyed aggregate collapses the feed to its latest
    row per key (map-side combinable — a day's feed usually dwarfs its
    key count), then ONE full-outer shuffle join against the snapshot;
    both shuffles share the key, and with the snapshot bucketed on the
    key (Spark's ``bucketBy``) the snapshot side's Exchange
    disappears. Deletes filter post-join; nothing collects.

    Idempotent: re-applying an already-applied feed yields the same
    snapshot (U/I rows rewrite identical payloads, D keys are already
    gone)."""
    payload_cols = [c for c in base.columns if c not in key_cols]
    missing = [c for c in key_cols + [seq_col, "op"] + payload_cols
               if c not in changes.columns]
    if missing:
        raise ValueError(f"changes is missing columns {missing}")
    opv = F.when(F.col("op").isin("I", "U", "D"), F.col("op")).otherwise(
        F.raise_error(
            F.concat(F.lit("apply_changes: bad op value "),
                     F.coalesce(F.col("op"), F.lit("NULL")))
        )
    )
    latest = (
        changes.groupBy(*key_cols)
        .agg(
            F.max(
                F.struct(
                    F.col(seq_col).alias("_s"),
                    opv.alias("_o"),
                    *[F.col(c).alias(c) for c in payload_cols],
                )
            ).alias("_m")
        )
        .select(
            *key_cols,
            F.col("_m._o").alias("_op"),
            *[F.col(f"_m.{c}").alias(f"_new_{c}") for c in payload_cols],
        )
    )
    joined = base.join(latest, key_cols, "full_outer")
    kept = joined.filter(F.col("_op").isNull() | (F.col("_op") != "D"))
    return kept.select(
        *key_cols,
        *[
            F.when(F.col("_op").isNotNull(), F.col(f"_new_{c}"))
            .otherwise(F.col(c))
            .alias(c)
            for c in payload_cols
        ],
    )
