"""Composite document quality filter — the keep/drop gate of a
training-data pipeline (C4/Gopher-style rule stack), composed from the
textstats primitives.

Rules apply in a FIXED order and the first failing rule names the
``reason`` (deterministic attribution — a doc failing two rules always
reports the same one):

  too_short -> too_long -> dup_words -> dup_lines ->
  repetitive_bigram -> low_quality -> keep

Everything is one narrow projection over the scan plus
repetition_stats' single id-shuffle; the verdict adds no shuffle of its
own, so filtering 100 TB costs exactly one pass + one id-partitioned
aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from emf_spark.datax.textstats import repetition_stats


def quality_filter(
    df: DataFrame,
    min_words: int = 5,
    max_words: int = 100_000,
    max_dup_word_frac: float = 0.4,
    max_dup_line_frac: float = 0.5,
    max_top_bigram_frac: float = 0.2,
    min_quality: float = 0.1,
    word_hash=None,
) -> DataFrame:
    """Input columns + ``reason`` (first failing rule or 'keep') +
    ``keep`` boolean. Ratio signals are rounded to 6 dp BEFORE the
    threshold compare so verdicts are reproducible across engines
    (an unrounded double at the threshold would flip on the last
    ulp).

    ``min_quality`` gates on a DELIBERATELY simple monotone metric,
    ``uniq_ratio * min(len/200, 1)`` over the normalized words
    (distinctness damped for very short docs), because the gate needs
    a first-fail attribution chain where each rule tests ONE signal; a
    weighted blend of length and stopword terms would double-count the
    rules above it."""
    from emf_spark.datax.dedup import normalized

    words = F.split(normalized(F.col("text")), " ")
    n_words = F.size(words)
    quality = F.round(
        (F.size(F.array_distinct(words)) / n_words)
        * F.least(F.length("text") / F.lit(200.0), F.lit(1.0)),
        6,
    )
    rep = repetition_stats(df, word_hash=word_hash)
    j = df.join(rep.select("doc_id", "dup_word_frac", "dup_line_frac",
                           "top_bigram_frac"), "doc_id")
    # NULL text must not fall through the rule chain: every predicate
    # below evaluates to NULL on it (never true), and the otherwise()
    # would wave a garbage document through the gate (review finding)
    reason = (
        F.when(
            F.col("text").isNull() | (F.trim(F.col("text")) == ""),
            "empty",
        )
        .when(n_words < min_words, "too_short")
        .when(n_words > max_words, "too_long")
        .when(F.col("dup_word_frac") > max_dup_word_frac, "dup_words")
        .when(F.col("dup_line_frac") > max_dup_line_frac, "dup_lines")
        .when(F.col("top_bigram_frac") > max_top_bigram_frac, "repetitive_bigram")
        .when(quality < min_quality, "low_quality")
        .otherwise("keep")
    )
    return j.withColumn("reason", reason).withColumn(
        "keep", F.col("reason") == "keep"
    )
