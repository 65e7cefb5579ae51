"""Text analysis for training-data pipelines: language-ID (stopword
n-gram heuristic), quality scoring, token counting (whitespace + a
BPE-ish regex), and document fingerprinting (rolling-hash winnowing).
All Catalyst expressions; no Python in the row path."""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# Tiny built-in stopword markers per language (public common words).
LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "is"],
    "es": ["el", "la", "de", "que", "los"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "et", "les", "des"],
}

# BPE-ish token regex: word pieces, numbers, punctuation runs — a public
# approximation of byte-pair pre-tokenization (GPT-2-style splitting).
BPE_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+"


def token_counts(df: DataFrame) -> DataFrame:
    """Whitespace tokens and BPE-ish regex tokens per document."""
    words = F.split(F.trim(F.col("text")), r"\s+")
    bpe = F.regexp_extract_all(F.col("text"), F.lit(BPE_RE), 0)
    return df.withColumns(
        {
            "n_words": F.size(words),
            "n_bpe_tokens": F.size(bpe),
            "n_bytes": F.octet_length("text"),
        }
    )


def lang_scores(text: F.Column) -> F.Column:
    """map<lang, marker-hit-ratio> over the marker lists."""
    words = F.split(F.lower(text), r"\s+")

    def marker_ratio(markers: list[str]) -> F.Column:
        marker_arr = F.array(*[F.lit(m) for m in markers])
        hits = F.size(F.filter(words, lambda w: F.array_contains(marker_arr, w)))
        return hits / F.greatest(F.size(words), F.lit(1))

    entries = [
        F.struct(F.lit(lang).alias("key"), marker_ratio(markers).alias("value"))
        for lang, markers in LANG_MARKERS.items()
    ]
    return F.map_from_entries(F.array(*entries))


def lang_id(df: DataFrame) -> DataFrame:
    """Predicted language = argmax marker ratio, 'unk' when all zero."""
    scores = lang_scores(F.col("text"))
    entries = F.map_entries(scores)
    best = F.aggregate(
        entries,
        F.struct(F.lit("unk").alias("key"), F.lit(0.0).alias("value")),
        lambda acc, e: F.when(e["value"] > acc["value"], e).otherwise(acc),
    )
    return df.withColumn("pred_lang", best["key"]).withColumn(
        "lang_score", F.round(best["value"], 6)
    )


def quality_score(df: DataFrame) -> DataFrame:
    """Composite quality in [0,1]: length band, word-uniqueness,
    alpha ratio, stopword presence — the usual cheap pretraining filters."""
    text = F.col("text")
    words = F.split(F.lower(F.trim(text)), r"\s+")
    n_words = F.greatest(F.size(words), F.lit(1))
    uniq_ratio = F.size(F.array_distinct(words)) / n_words
    alpha_ratio = (
        F.length(F.regexp_replace(text, r"[^A-Za-z ]", "")) / F.greatest(F.length(text), F.lit(1))
    )
    len_band = F.least(F.length(text) / F.lit(500.0), F.lit(1.0))
    all_markers = sorted({m for ms in LANG_MARKERS.values() for m in ms})
    stop_hits = F.size(
        F.array_intersect(words, F.array(*[F.lit(m) for m in all_markers]))
    )
    stop_band = F.least(stop_hits.cast("double") / F.lit(3.0), F.lit(1.0))
    score = F.round(
        0.3 * uniq_ratio + 0.3 * alpha_ratio + 0.2 * len_band + 0.2 * stop_band, 6
    )
    return df.withColumn("quality", score)


def fingerprint(df: DataFrame, portable: bool = False) -> DataFrame:
    """Winnowing-style document fingerprint: 5-word rolling shingle
    hashes -> keep the 8 smallest DISTINCT (a deterministic min-k
    sketch; two docs sharing most content share most of the sketch).

    Hot path: dedup.shingle_hash_rows (words hashed once, window-lead
    combine — the array-HOF form re-hashes per element reference,
    measured 30x slower with the portable md5 hash), collect_set +
    sort + slice per doc (reuses the rows' id partitioning), then one
    join back onto df. ``portable=True`` swaps in the md5-based word
    hash so a DuckDB oracle reproduces the sketch bit-exactly. Docs
    shorter than 5 words sketch to the empty list (key = md5(''))."""
    from emf_spark.datax.dedup import portable_word_hash, shingle_hash_rows

    rows = shingle_hash_rows(
        df, k=5, word_hash=portable_word_hash if portable else None
    )
    sk = rows.groupBy("id").agg(
        F.slice(F.array_sort(F.collect_set("h")), 1, 8).alias("_fp")
    )
    out = df.join(sk.withColumnRenamed("id", "doc_id"), "doc_id", "left")
    fp = F.coalesce(F.col("_fp"), F.array().cast("array<bigint>"))
    return (
        out.withColumn("fingerprint", fp)
        .drop("_fp")
        .withColumn(
            "fingerprint_key",
            F.md5(
                F.concat_ws(
                    ",", F.transform(F.col("fingerprint"), lambda h: h.cast("string"))
                )
            ),
        )
    )


def repetition_stats(df: DataFrame, word_hash=None) -> DataFrame:
    """Gopher/MassiveText-style repetition signals per document:

    - ``dup_word_frac``: 1 - distinct words / words (a high value means
      the doc repeats itself)
    - ``dup_line_frac``: 1 - distinct lines / lines (boilerplate pages
      repeat whole lines; single-line docs score 0)
    - ``top_bigram_frac``: occurrences of the most frequent word bigram
      / total bigrams (docs shorter than 2 words -> 0)

    All Catalyst: words/lines stay array-level; bigrams ride the shared
    rolling-poly shingle rows (hashed once per word, one shuffle on id).
    """
    from emf_spark.datax.dedup import normalized, shingle_hash_rows

    words = F.split(normalized(F.col("text")), " ")
    lines = F.filter(
        F.split(F.col("text"), "\n"), lambda l: F.trim(l) != ""
    )
    base = df.select(
        F.col("doc_id").alias("id"),
        F.round(
            F.when(
                F.size(words) > 0,
                1 - F.size(F.array_distinct(words)) / F.size(words),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("dup_word_frac"),
        F.round(
            F.when(
                F.size(lines) > 0,
                1 - F.size(F.array_distinct(lines)) / F.size(lines),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("dup_line_frac"),
    )
    bi = shingle_hash_rows(df, k=2, word_hash=word_hash)
    per = bi.groupBy("id", "h").agg(F.count(F.lit(1)).alias("c"))
    top = per.groupBy("id").agg(
        F.round(F.max("c") / F.sum("c"), 6).alias("top_bigram_frac")
    )
    return (
        base.join(top, "id", "left")
        .withColumn("top_bigram_frac", F.coalesce("top_bigram_frac", F.lit(0.0)))
        .withColumnRenamed("id", "doc_id")
    )


def bm25_vs_terms(df: DataFrame, terms: DataFrame) -> DataFrame:
    """Okapi BM25 score of every document against a bag of query terms
    (``terms``: one column ``term``). Classic retrieval scoring —
    idf(t) = ln(1 + (N - df + 0.5)/(df + 0.5)),
    tf-part = tf*(k1+1) / (tf + k1*(1 - b + b*len/avglen)), with
    k1 = 1.2 and b = 0.75.

    Fully in-plan: N and avg doc length ride along as a 1-row broadcast
    (no driver-side action); terms join is a broadcast semi-filter.
    Per-doc summation over term contributions is ORDER-DETERMINISTIC
    (contributions sorted by term, left-fold double add) so an external
    engine summing in the same order reproduces the score bit-for-bit.
    Returns (doc_id, bm25) for docs matching >= 1 term."""
    from emf_spark.datax.dedup import normalized

    words = df.select(
        F.col("doc_id").alias("id"),
        F.split(normalized(F.col("text")), " ").alias("w"),
    ).select("id", F.size("w").alias("dl"), F.explode("w").alias("term"))
    corpus = words.groupBy().agg(
        F.count_distinct("id").alias("n_docs"),
        (F.count(F.lit(1)) / F.count_distinct("id")).alias("avgdl"),
    )
    tf = words.join(F.broadcast(terms.select("term").distinct()), "term").groupBy(
        "id", "term"
    ).agg(F.count(F.lit(1)).alias("tf"), F.first("dl").alias("dl"))
    dfreq = tf.groupBy("term").agg(F.count_distinct("id").alias("df"))
    contrib = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(corpus))
        .withColumn(
            "c",
            F.log(
                F.lit(1.0)
                + (F.col("n_docs") - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5))
            )
            * (F.col("tf") * F.lit(2.2))
            / (
                F.col("tf")
                + F.lit(1.2)
                * (F.lit(0.25) + F.lit(0.75) * F.col("dl") / F.col("avgdl"))
            ),
        )
    )
    # deterministic fold: sort contributions by term, sum left-to-right
    return (
        contrib.groupBy("id")
        .agg(
            F.aggregate(
                F.sort_array(F.collect_list(F.struct("term", "c"))),
                F.lit(0.0),
                lambda acc, x: acc + x["c"],
            ).alias("bm25")
        )
        .select(F.col("id").alias("doc_id"), F.round("bm25", 6).alias("bm25"))
    )


URL_RE = r"https?://[^\s]+"
# domain = authority up to the first '/', ':' (port) or end
DOMAIN_RE = r"https?://([^/\s:]+)"


def url_domain_stats(
    df: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Per-domain URL statistics: (domain, n_urls, n_docs).

    URL extraction is one `regexp_extract_all` + explode (rows-form, no
    arrays survive the shuffle); the aggregation shuffles once on
    `domain` — at 100 TB that key is low-cardinality-skewed (a handful
    of CDN domains dominate real corpora), but both aggregates here are
    algebraic (count, count_distinct partial-aggregates map-side), so
    the skew cost is a map-side combine, not a single hot reducer
    holding raw rows."""
    urls = df.select(
        F.col("doc_id").alias("_doc"),
        F.explode(
            F.regexp_extract_all(F.col(text_col), F.lit(URL_RE), 0)
        ).alias("url"),
    )
    return (
        urls.select(
            "_doc", F.regexp_extract("url", DOMAIN_RE, 1).alias("domain")
        )
        .groupBy("domain")
        .agg(
            F.count(F.lit(1)).alias("n_urls"),
            F.count_distinct("_doc").alias("n_docs"),
        )
    )


def vocab_topk(
    df: DataFrame, text_col: str = "text", k: int = 50
) -> DataFrame:
    """Corpus vocabulary: top-k tokens by frequency (rank, token, cnt).

    The tokenizer-building primitive: lowercase, split on
    non-[a-z0-9'], explode, count, deterministic top-k (count desc,
    token asc — ties must not depend on partition layout; token is
    unique after the aggregate so the ordering is total). The global
    top-k is limit-then-rank (the repo's rank.top_ranked shape):
    ``orderBy().limit(k)`` plans TakeOrderedAndProject — per-partition
    top-k plus a k-row merge — so no single task ever sees the full
    vocab frequency frame; the row_number window then runs over <= k
    surviving rows instead of the whole vocabulary."""
    toks = df.select(
        F.explode(
            F.split(F.lower(F.col(text_col)), r"[^a-z0-9']+")
        ).alias("token")
    ).filter(F.col("token") != "")
    counts = toks.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    from pyspark.sql.window import Window

    order = [F.col("cnt").desc(), F.col("token").asc()]
    w = Window.orderBy(*order)
    return (
        counts.orderBy(*order)
        .limit(k)
        .withColumn("rank", F.row_number().over(w))
        .select("rank", "token", "cnt")
    )


def bigram_lm_score(df: DataFrame) -> DataFrame:
    """Per-document fluency under the corpus's own bigram MLE model:
    the mean conditional probability p(w_i | w_{i-1}) = c2(w1,w2) /
    c1(w1-as-prefix) over the doc's bigram positions. Low scores flag
    word-salad / boilerplate-shuffled text — the language-model leg of
    training-data quality scoring (cheap stand-in for perplexity that
    needs no log, so the cross-engine compare stays exact).

    Determinism: each term is integer-scaled (round(1e6 * p) as bigint)
    BEFORE the per-doc sum, so the fold is order-independent; exactly
    one double division happens after aggregation. Docs with < 2 words
    have no bigrams and are absent from the output.

    Scale posture: bigram explode is map-side; the model is one
    groupBy on the bigram key plus a vocab-cardinality prefix rollup;
    scoring re-joins doc-bigrams to the model on the same (w1, w2) key
    (co-partitioned, no cross product), then one groupBy doc. All
    shuffles are on bigram/doc keys — nothing is corpus² anywhere.
    """
    from emf_spark.datax.dedup import normalized

    w = F.split(normalized(F.col("text")), " ")
    n = F.size(w)
    pairs = F.when(
        n >= 2,
        F.arrays_zip(
            F.slice(w, 1, n - 1).alias("w1"),
            F.slice(w, 2, n - 1).alias("w2"),
        ),
    ).otherwise(F.array())
    big = df.select(
        "doc_id", F.explode(pairs).alias("p")
    ).select("doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    model = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    prefix = model.groupBy("w1").agg(F.sum("c2").alias("c1"))
    scored = (
        big.join(model, ["w1", "w2"])
        .join(prefix, "w1")
        .select(
            "doc_id",
            F.round(F.lit(1_000_000) * F.col("c2") / F.col("c1"))
            .cast("bigint")
            .alias("p_e6"),
        )
    )
    # no final ROUND: both engines hold the identical integer sum, so a
    # single IEEE division yields a bit-identical double — rounding to
    # N dp would re-introduce half-tie divergence (HALF_UP vs half-even)
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        (F.sum("p_e6") / (F.lit(1_000_000.0) * F.count(F.lit(1)))).alias(
            "fluency"
        ),
    )


def bpe_train(
    df: DataFrame,
    n_merges: int = 50,
    min_pair_count: int = 2,
):
    """Byte-pair-encoding merge training over a corpus: returns
    (merges, vocab_df) where ``merges`` is the ordered list of merged
    symbol pairs and ``vocab_df`` the word-frequency table with each
    word's final symbol sequence.

    Distributed shape: the corpus collapses to the WORD-FREQUENCY
    table first (one shuffle over the corpus — the only
    corpus-cardinality step; vocabulary is ~1e6 rows even at 100 TB of
    text). Every merge iteration then runs on the vocab table alone:
    one weighted pair-count aggregate (map-side combinable), one tiny
    driver-side argmax (count desc, pair asc — deterministic
    tie-break), one Catalyst left-to-right merge scan per word
    (aggregate HOF), with a per-iteration localCheckpoint cutting the
    iterative lineage exactly like dedup_clusters. Stops early when no
    pair reaches ``min_pair_count``."""
    toks = df.select(
        F.explode(
            F.split(F.lower(F.col("text")), r"[^a-z0-9']+")
        ).alias("word")
    ).filter(F.col("word") != "")
    vocab = (
        toks.groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select("word", "cnt", F.split("word", "").alias("syms"))
        .localCheckpoint(eager=True)
    )
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        idx = F.when(
            F.size("syms") >= 2, F.sequence(F.lit(0), F.size("syms") - 2)
        ).otherwise(F.array().cast("array<int>"))
        pairs = vocab.select(
            "cnt",
            F.explode(
                F.transform(
                    idx,
                    lambda i: F.struct(
                        F.element_at("syms", i + 1).alias("a"),
                        F.element_at("syms", i + 2).alias("b"),
                    ),
                )
            ).alias("p"),
        )
        top = (
            pairs.groupBy("p.a", "p.b")
            .agg(F.sum("cnt").alias("n"))
            .orderBy(F.col("n").desc(), F.col("a").asc(), F.col("b").asc())
            .limit(1)
            .collect()
        )
        if not top or top[0]["n"] < min_pair_count:
            break
        a, b = top[0]["a"], top[0]["b"]
        merges.append((a, b))
        # left-to-right scan: merge each adjacent (a, b) once; the
        # merged token never chain-merges within the same iteration
        # (classic BPE). try_element_at: NULL (not ANSI throw) on the
        # empty accumulator.
        merged = F.aggregate(
            "syms",
            F.array().cast("array<string>"),
            lambda acc, s: F.when(
                (F.try_element_at(acc, F.lit(-1)) == F.lit(a))
                & (s == F.lit(b)),
                F.concat(
                    F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(a + b))
                ),
            ).otherwise(F.concat(acc, F.array(s))),
        )
        vocab = vocab.withColumn("syms", merged).localCheckpoint(eager=True)
    return merges, vocab


def inverted_index(
    df: DataFrame,
    max_postings: int = 20,
    min_df: int = 1,
) -> DataFrame:
    """Build a bounded inverted index over the corpus: one row per
    token with (token, df:bigint, total_tf:bigint, postings:string),
    postings = the first ``max_postings`` docs by id rendered as
    'doc:tf doc:tf ...' — the retrieval-index primitive behind search /
    RAG-corpus preparation, with the posting LIST capped so a stopword
    can never materialize a corpus-sized array on one executor.

    Scale shape: tokenize + explode (same split as vocab_topk), then a
    (token, doc) tf aggregate whose map-side partial combine absorbs
    stopword skew; document-frequency / total-tf stats come off that
    aggregate algebraically (never the raw token stream). The posting
    cap is a row_number window per token over the tf AGGREGATE — a
    disk-spillable sort of (token, doc) pairs, after which collect_list
    touches at most ``max_postings`` rows per token. Stats join
    postings per token (both sides already partitioned by token from
    their parent aggregates — AQE reuses the exchange)."""
    from pyspark.sql.window import Window

    if max_postings <= 0:
        raise ValueError("max_postings must be positive")
    toks = df.select(
        F.col("doc_id").alias("_doc"),
        F.explode(
            F.split(F.lower(F.col("text")), r"[^a-z0-9']+")
        ).alias("token"),
    ).filter(F.col("token") != "")
    tf = toks.groupBy("token", "_doc").agg(F.count(F.lit(1)).alias("_tf"))
    stats = tf.groupBy("token").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum("_tf").alias("total_tf"),
    )
    w = Window.partitionBy("token").orderBy("_doc")
    capped = tf.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") <= max_postings
    )
    postings = capped.groupBy("token").agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("_doc", "_tf"))),
                lambda s: F.concat_ws(":", s["_doc"], s["_tf"]),
            ),
            " ",
        ).alias("postings")
    )
    out = stats.join(postings, "token")
    if min_df > 1:
        out = out.filter(F.col("df") >= min_df)
    return out.select("token", "df", "total_tf", "postings")


_BPE_SYM_RE = r"^[a-z0-9']+$"


def _validate_merges(merges: list[tuple[str, str]]) -> None:
    import re as _re

    for a, b in merges:
        if not (_re.match(_BPE_SYM_RE, a) and _re.match(_BPE_SYM_RE, b)):
            raise ValueError(f"merge symbols must match {_BPE_SYM_RE}: {(a, b)}")


def bpe_apply(merges: list[tuple[str, str]]):
    """Return a Column->Column function applying an ordered BPE merge
    list to a lowercase word, yielding its symbol array — the ENCODE
    half of bpe_train, as a pure Catalyst expression chain (no Python
    in the row path, no UDF).

    The scan is expressed as string rewriting: symbols join on DOUBLE
    spaces ('  a  b  c  '), and each merge rule is ONE global
    regexp_replace of ' a  b ' with ' ab ' — a non-overlapping
    left-to-right pass that consumes one boundary space per side, so
    adjacent matches share the double boundary exactly once and the
    merged token never chain-merges within its own rule (the classic
    single-pass-per-rule BPE semantics, bit-identical to bpe_train's
    aggregate-HOF scan AND replicable in any regex engine — no
    lookarounds, so RE2 oracles work). Symbols are [a-z0-9']+ (the
    vocab tokenizer's alphabet), so patterns need no regex escaping —
    validated loudly."""
    _validate_merges(merges)

    def encode(word: F.Column) -> F.Column:
        s = F.concat(F.lit("  "), F.regexp_replace(word, "(.)", "$1  "))
        for a, b in merges:
            s = F.regexp_replace(s, f" {a}  {b} ", f" {a}{b} ")
        return F.split(F.trim(s), "  ")

    return encode


def bpe_encode_corpus(
    df: DataFrame,
    merges: list[tuple[str, str]],
) -> DataFrame:
    """Corpus token-frequency table under an ordered BPE merge list:
    (token, cnt) for every symbol the encoded corpus contains.

    Scale shape: the corpus collapses to the word-frequency table
    first (the one corpus-cardinality shuffle, map-side combinable);
    encoding then runs ONCE PER DISTINCT WORD as a chained Catalyst
    expression over the vocab table (~1e6 rows at 100 TB of text),
    never per occurrence; the final (token, weighted cnt) aggregate is
    vocab-cardinality."""
    toks = df.select(
        F.explode(
            F.split(F.lower(F.col("text")), r"[^a-z0-9']+")
        ).alias("word")
    ).filter(F.col("word") != "")
    vocab = toks.groupBy("word").agg(F.count(F.lit(1)).alias("_cnt"))
    enc = bpe_apply(merges)
    return (
        vocab.select(F.explode(enc(F.col("word"))).alias("token"), "_cnt")
        .groupBy("token")
        .agg(F.sum("_cnt").alias("cnt"))
    )


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 128,
    stride: int | None = None,
    min_tokens: int = 1,
) -> DataFrame:
    """Split documents into fixed-size overlapping token windows — the
    RAG/context-window chunking primitive: (id, chunk_id, chunk,
    n_tokens, start_tok). Chunks start every ``stride`` tokens
    (default = chunk_tokens, i.e. disjoint), carry up to
    ``chunk_tokens`` whitespace tokens re-joined with single spaces,
    and tails shorter than ``min_tokens`` are dropped. A trailing
    window that would only repeat the previous chunk's suffix is still
    emitted when it starts before the text ends (standard sliding
    chunking; dedup afterwards if undesired).

    Pure Catalyst: split -> sequence of starts -> per-start
    slice/array_join, one explode — no UDF, no shuffle (a chunker is a
    map; at 100 TB the explode multiplies rows by ~n_tok/stride inside
    the scan stage and flows straight into the next operator's
    partitioning)."""
    if chunk_tokens < 1:
        raise ValueError("chunk_tokens must be >= 1")
    stride = chunk_tokens if stride is None else stride
    if stride < 1:
        raise ValueError("stride must be >= 1")
    words = F.split(
        F.regexp_replace(F.trim(F.col("text")), r"\s+", " "), " "
    )
    n = F.size(words)
    # blank/whitespace-only text splits to [''] (size 1) — emit nothing
    has_text = F.length(F.trim(F.col("text"))) > 0
    starts = F.when(
        has_text & (n >= 1), F.sequence(F.lit(0), n - 1, F.lit(stride))
    ).otherwise(F.array().cast("array<int>"))
    chunks = F.transform(
        starts,
        lambda s, i: F.struct(
            i.alias("chunk_id"),
            s.alias("start_tok"),
            F.array_join(
                F.slice(words, s + 1, chunk_tokens), " "
            ).alias("chunk"),
            F.least(n - s, F.lit(chunk_tokens)).alias("n_tokens"),
        ),
    )
    return (
        df.select(F.col("doc_id"), F.explode(chunks).alias("_c"))
        .select("doc_id", "_c.chunk_id", "_c.start_tok", "_c.chunk", "_c.n_tokens")
        .filter(F.col("n_tokens") >= min_tokens)
    )


# Latin accent fold map: 1:1 char translation, so translate() applies it
# identically in Spark and any engine with SQL translate (the subset an
# ASCII-first pipeline actually meets; full NFKC needs ICU, out of scope)
_FOLD_SRC = "àáâãäåèéêëìíîïòóôõöùúûüçñýÀÁÂÃÄÅÈÉÊËÌÍÎÏÒÓÔÕÖÙÚÛÜÇÑÝ"
_FOLD_DST = "aaaaaaeeeeiiiiooooouuuucnyAAAAAAEEEEIIIIOOOOOUUUUCNY"


def ascii_fold(df: DataFrame, text_col: str = "text",
               out_col: str | None = None) -> DataFrame:
    """Fold common Latin accents to ASCII — the canonicalization step
    before exact/fuzzy matching of names and text keys ('José' ==
    'Jose'). A pure 1:1 translate: zero-shuffle map, length-preserving,
    and engine-portable (SQL translate applies the identical map), so
    folded outputs are oracle-checkable byte-for-byte. Deliberately NOT
    unicode normalization (no ICU in a JVM-only plan) — the map covers
    the Latin-1/Latin-Extended accents; anything else passes through
    untouched."""
    return df.withColumn(
        out_col or text_col,
        F.translate(F.col(text_col), _FOLD_SRC, _FOLD_DST),
    )


def collocations(
    df: DataFrame,
    window: int = 3,
    min_count: int = 5,
    top: int = 50,
) -> DataFrame:
    """Collocation mining: ordered word pairs (w1 before w2) whose
    positions are at most ``window`` apart within a document, scored by
    an integer-exact association lift —
    ``score_ppm = (1e6 * c_ab * T) div (c_a * c_b)`` where c_ab is the
    pair's co-occurrence count, c_a/c_b are corpus token counts, and T
    is the corpus token total (the un-normalized PMI exponent in parts
    per million; floor-div keeps it bit-portable across engines — no
    log, no float). Returns the ``top`` pairs by (c_ab desc, w1, w2):
    a total order, so the limit is deterministic.

    Plan shape: posexplode the token stream once; each token emits its
    ``window`` forward target positions, so pairing is a plain
    EQUI-join on (doc, position) — never an inequality join. Unigram
    counts and T are map-combinable aggregates; the tiny T scalar rides
    a cross-join broadcast of one row. At 100 TB the pair stream is
    |tokens| x window rows into a hash join keyed by (doc, pos) —
    embarrassingly partitionable; the bigint product 1e6*c_ab*T needs
    c_ab*T < ~9e12, so at trillion-token scale swap the ppm literal for
    a DECIMAL(38) cast (ANSI mode will THROW on overflow rather than
    corrupt, so the boundary is loud).
    """
    if window < 1:
        raise ValueError("window must be >= 1")
    from emf_spark.datax.dedup import normalized

    words = F.split(normalized(F.col("text")), " ")
    tok = (
        df.select(F.col("doc_id").alias("id"), words.alias("ws"))
        .filter(F.length(F.array_join("ws", "")) > 0)
        .select("id", F.posexplode("ws").alias("pos", "w"))
    )
    uni = tok.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    total = tok.agg(F.count(F.lit(1)).alias("t"))
    a = tok.select(
        "id",
        F.col("w").alias("w1"),
        F.explode(
            F.sequence(F.col("pos") + 1, F.col("pos") + window)
        ).alias("pos"),
    )
    pairs = (
        a.join(tok.select("id", "pos", F.col("w").alias("w2")), ["id", "pos"])
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .filter(F.col("c_ab") >= min_count)
    )
    scored = (
        pairs.join(uni.select(F.col("w").alias("w1"), F.col("c").alias("c_a")), "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("c").alias("c_b")), "w2")
        .crossJoin(total)
        .select(
            "w1",
            "w2",
            "c_ab",
            F.expr("(1000000 * c_ab * t) div (c_a * c_b)").alias("score_ppm"),
        )
    )
    return scored.orderBy(
        F.col("c_ab").desc(), F.col("w1"), F.col("w2")
    ).limit(top)


def keywords(
    df: DataFrame,
    top: int = 5,
) -> DataFrame:
    """Per-document keyword extraction: top-``top`` tokens per doc by
    an integer-exact tf-idf lift — ``score_ppm =
    (1e6 * tf * n_docs) div (doc_freq * doc_len)``, i.e. the token's
    in-doc rate times the corpus inverse document frequency, in parts
    per million with floor-div (no log, no float, bit-portable — the
    raw lift is the standard "relevance lift" statistic; it weighs
    rarity linearly where classic tf-idf weighs it logarithmically,
    a deliberate trade for cross-engine exactness).
    Ties break (score desc, token asc) under row_number — a total
    order, so the per-doc cut is deterministic.

    Returns ``(doc_id, w, tf, doc_freq, score_ppm)`` ordered by
    (doc_id, score desc, w). Empty/whitespace docs contribute nothing.

    Scale shape: two map-combinable aggregates ((doc, w) tf and
    per-doc length), a doc-frequency rollup of the ALREADY-collapsed
    tf frame, equi-joins keyed by doc and by token, the 1-row n_docs
    scalar broadcast, and a row_number window PARTITIONED BY DOC —
    never a global window. The bigint product 1e6*tf*n_docs needs
    tf*n_docs < ~9e12; at 10B+ docs swap the ppm literal for a
    DECIMAL(38) cast (ANSI mode throws loudly at the boundary).
    """
    if top < 1:
        raise ValueError("top must be >= 1")
    from pyspark.sql import Window

    from emf_spark.datax.dedup import normalized

    words = F.split(normalized(F.col("text")), " ")
    tok = (
        df.select("doc_id", words.alias("ws"))
        .filter(F.length(F.array_join("ws", "")) > 0)
        .select("doc_id", F.explode("ws").alias("w"))
    )
    tf = tok.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("tf"))
    dlen = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dlen"))
    dfreq = tf.groupBy("w").agg(F.count(F.lit(1)).alias("doc_freq"))
    ndocs = dlen.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dlen, "doc_id")
        .join(dfreq, "w")
        .crossJoin(ndocs)
        .select(
            "doc_id", "w", "tf", "doc_freq",
            F.expr(
                "(1000000 * tf * n_docs) div (doc_freq * dlen)"
            ).alias("score_ppm"),
        )
    )
    rk = Window.partitionBy("doc_id").orderBy(
        F.col("score_ppm").desc(), "w"
    )
    return (
        scored.withColumn("_rk", F.row_number().over(rk))
        .filter(F.col("_rk") <= top)
        .drop("_rk")
        .orderBy("doc_id", F.col("score_ppm").desc(), "w")
    )
