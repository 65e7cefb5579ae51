"""PII scrub + URL/vocab text ops (datax/pii.py, textstats additions)."""

from __future__ import annotations

from pyspark.sql import functions as F

from emf_spark.datax.pii import PII_PATTERNS, pii_scrub
from emf_spark.datax.textstats import url_domain_stats, vocab_topk


def test_pii_scrub_each_type(spark):
    df = spark.createDataFrame(
        [
            ("mail bob.smith+x@sub.example.co.uk now",),
            ("from 192.168.1.254 port 80",),
            ("card 4000 1234 5678 9010 on file",),
            ("ssn 123-45-6789 leaked",),
            ("call (555) 867-5309 or 555 123-4567",),
        ],
        ["text"],
    )
    out = pii_scrub(df).collect()
    red = {r["text_redacted"] for r in out}
    assert "mail <EMAIL> now" in red
    assert "from <IP> port 80" in red
    assert "card <CARD> on file" in red
    assert "ssn <SSN> leaked" in red
    # paren-form phone MUST match: \(? sits outside \b (a boundary
    # between space and "(" never fires; regression for that subtlety)
    assert "call <PHONE> or <PHONE>" in red
    totals = {
        name: sum(r[f"n_{name}"] for r in out)
        for name, _, _ in PII_PATTERNS
    }
    assert totals == {"email": 1, "ipv4": 1, "card": 1, "ssn": 1, "phone": 2}


def test_pii_scrub_order_is_semantic(spark):
    # an SSN and a card must be consumed BEFORE the looser phone
    # pattern can see their digit runs; counts are progressive
    df = spark.createDataFrame(
        [("123-45-6789 and 4000 1234 5678 9010",)], ["text"]
    )
    r = pii_scrub(df).collect()[0]
    assert r["text_redacted"] == "<SSN> and <CARD>"
    assert (r["n_ssn"], r["n_card"], r["n_phone"]) == (1, 1, 0)


def test_pii_scrub_no_pii_passthrough(spark):
    df = spark.createDataFrame([("just words here",), ("",)], ["text"])
    rows = pii_scrub(df).collect()
    for r in rows:
        assert r["text_redacted"] == r["text"]
        assert all(r[f"n_{n}"] == 0 for n, _, _ in PII_PATTERNS)


def test_url_domain_stats(spark):
    df = spark.createDataFrame(
        [
            (1, "see https://a.example.org/x and https://a.example.org/y"),
            (2, "also http://b.example.net:8080/z https://a.example.org/w"),
            (3, "no urls at all"),
        ],
        ["doc_id", "text"],
    )
    rows = {
        r["domain"]: (r["n_urls"], r["n_docs"])
        for r in url_domain_stats(df).collect()
    }
    # port is NOT part of the domain; doc counts are distinct
    assert rows == {"a.example.org": (3, 2), "b.example.net": (1, 1)}


def test_vocab_topk_deterministic_ties(spark):
    df = spark.createDataFrame(
        [("b a! a c,b?c d",), ("d e",)], ["text"]
    )
    rows = vocab_topk(df, k=4).collect()
    # a,b,c,d all have cnt 2 -> tie-break token asc; e (cnt 1) misses k=4
    assert [(r["rank"], r["token"], r["cnt"]) for r in rows] == [
        (1, "a", 2), (2, "b", 2), (3, "c", 2), (4, "d", 2),
    ]


def test_cms_overestimates_never_under(spark):
    from emf_spark.datax.sketches import cms_build, cms_estimate

    vals = [("a",)] * 7 + [("b",)] * 3 + [("c",)] * 1
    df = spark.createDataFrame(vals, ["v"])
    # tight sketch: collisions likely -> estimate >= exact always
    sk = cms_build(df, "v", depth=3, width=2)
    est = {r["term"]: r["cms_count"] for r in
           cms_estimate(sk, ["a", "b", "c", "missing"], depth=3, width=2).collect()}
    assert est["a"] >= 7 and est["b"] >= 3 and est["c"] >= 1
    assert est["missing"] >= 0
    # wide sketch: no collisions -> exact, and absent term is exactly 0
    sk2 = cms_build(df, "v", depth=4, width=4096)
    est2 = {r["term"]: r["cms_count"] for r in
            cms_estimate(sk2, ["a", "b", "c", "missing"], depth=4, width=4096).collect()}
    assert est2 == {"a": 7, "b": 3, "c": 1, "missing": 0}


def test_pii_scrub_equals_python_re_oracle(spark):
    """Property test: the Spark scrubber must equal a pure-Python
    re-based oracle applying the same patterns in the same progressive
    order, on adversarial text mixing PII fragments and near-misses."""
    import random
    import re as _re

    rng = random.Random(99)
    frags = [
        "a@b.co", "x.y+z@mail.example.org", "@", "a@b", "10.0.0.1",
        "999.1.2.3", "1.2.3.4.5", "123-45-6789", "123-456-789",
        "(555) 123-4567", "555 123-4567", "555)123-4567",
        "4000 1234 5678 9010", "4000-1234-5678-9010", "4000 1234 5678",
        "word", "w0rd", "-", "(", ")", "12", "1234", ".",
    ]
    texts = [
        " ".join(rng.choice(frags) for _ in range(rng.randrange(0, 8)))
        for _ in range(120)
    ]

    def oracle(t: str):
        counts, cur = {}, t
        for name, pat, repl in PII_PATTERNS:
            counts[name] = len(_re.findall(pat, cur))
            cur = _re.sub(pat, repl, cur)
        return cur, counts

    df = spark.createDataFrame([(t,) for t in texts], ["text"])
    got = pii_scrub(df).collect()
    for r in got:
        want_red, want_counts = oracle(r["text"])
        assert r["text_redacted"] == want_red, r["text"]
        for name in want_counts:
            assert r[f"n_{name}"] == want_counts[name], (r["text"], name)


def test_snapshot_diff_null_positions_and_statuses(spark):
    from emf_spark.datax.diff import snapshot_diff

    old = spark.createDataFrame(
        [(1, None, "b"), (2, "x", "y"), (3, "k", "l")],
        ["id", "a", "b"],
    )
    new = spark.createDataFrame(
        [(1, "b", None), (2, "x", "y"), (4, "n", "m")],
        ["id", "a", "b"],
    )
    got = {r["id"]: r["status"] for r in snapshot_diff(old, new, ["id"]).collect()}
    # id 1: (null,'b') vs ('b',null) MUST read as changed (nulls are
    # position-sensitive in the compare hash); id 2 unchanged -> absent
    assert got == {1: "changed", 3: "removed", 4: "added"}


def test_quality_filter_every_reason_and_order(spark):
    from emf_spark.datax.filtering import quality_filter

    docs = [
        (1, "one two three"),                                   # too_short (n<5)
        (2, " ".join(f"w{i}" for i in range(30))),              # keep
        (3, "a a a a a a a a a a"),                             # dup_words
        (4, "l1 x y z q\nl1 x y z q\nl1 x y z q\nl2 a b c d"), # dup_lines? words dup too -> order check
        (5, "ab " * 9 + "tail"),                                # dup_words fires before bigram
    ]
    f = quality_filter(
        spark.createDataFrame(docs, ["doc_id", "text"]),
        min_words=5, max_words=1000, max_dup_word_frac=0.6,
        max_dup_line_frac=0.5, max_top_bigram_frac=0.3, min_quality=0.01,
    )
    got = {r["doc_id"]: r["reason"] for r in f.collect()}
    assert got[1] == "too_short"
    assert got[2] == "keep"
    assert got[3] == "dup_words"
    # doc 4: dup_word_frac = 1 - 10/20 = 0.5, dup_line_frac = 1 - 2/4
    # = 0.5, top bigram 3/19 — under every threshold here
    assert got[4] == "keep"
    assert got[5] == "dup_words"
    # both dup_words (0.5 > 0.45) and dup_lines (0.5 > 0.4) fail ->
    # dup_words wins: the FIXED rule order is part of the contract
    f2a = quality_filter(
        spark.createDataFrame([docs[3]], ["doc_id", "text"]),
        min_words=5, max_words=1000, max_dup_word_frac=0.45,
        max_dup_line_frac=0.4, max_top_bigram_frac=0.9, min_quality=0.01,
    )
    assert f2a.collect()[0]["reason"] == "dup_words"
    # word rule out of the way -> dup_lines surfaces
    f2 = quality_filter(
        spark.createDataFrame([docs[3]], ["doc_id", "text"]),
        min_words=5, max_words=1000, max_dup_word_frac=1.1,
        max_dup_line_frac=0.4, max_top_bigram_frac=0.9, min_quality=0.01,
    )
    assert f2.collect()[0]["reason"] == "dup_lines"
    # repetitive_bigram: the repeated PAIR dominates (3 of 7 bigrams);
    # word-dup rule disabled so the bigram rule attributes
    f3 = quality_filter(
        spark.createDataFrame(
            [(9, "red car red car red car blue bike")],
            ["doc_id", "text"],
        ),
        min_words=5, max_words=1000, max_dup_word_frac=1.1,
        max_dup_line_frac=1.1, max_top_bigram_frac=0.2, min_quality=0.01,
    )
    assert f3.collect()[0]["reason"] == "repetitive_bigram"
    # low_quality: short text -> length ratio shrinks quality
    f4 = quality_filter(
        spark.createDataFrame([(10, "aa bb cc dd ee")], ["doc_id", "text"]),
        min_words=5, max_words=1000, max_dup_word_frac=1.1,
        max_dup_line_frac=1.1, max_top_bigram_frac=1.1, min_quality=0.5,
    )
    assert f4.collect()[0]["reason"] == "low_quality"


def test_quality_filter_null_and_empty_text_rejected(spark):
    from emf_spark.datax.filtering import quality_filter

    df = spark.createDataFrame(
        [(1, None), (2, "   "), (3, "enough words to pass the gate now")],
        "doc_id bigint, text string",
    )
    got = {r["doc_id"]: r["reason"] for r in quality_filter(
        df, min_words=3, max_words=100, max_dup_word_frac=1.1,
        max_dup_line_frac=1.1, max_top_bigram_frac=1.1, min_quality=0.0,
    ).collect()}
    assert got[1] == "empty" and got[2] == "empty" and got[3] == "keep"


def _py_bpe(texts, n_merges, min_count):
    """Sequential BPE reference (THE one copy both parity tests use —
    a tie-break or min_count tweak must land exactly once)."""
    import re
    from collections import Counter

    words = Counter()
    for t in texts:
        for w in re.split(r"[^a-z0-9']+", t.lower()):
            if w:
                words[w] += 1
    vocab = {w: list(w) for w in words}
    merges = []
    for _ in range(n_merges):
        pc = Counter()
        for w, syms in vocab.items():
            for x, y in zip(syms, syms[1:]):
                pc[(x, y)] += words[w]
        if not pc:
            break
        best = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        if best[1] < min_count:
            break
        a, b = best[0]
        merges.append((a, b))
        for w, syms in vocab.items():
            out = []
            for s in syms:
                if out and out[-1] == a and s == b:
                    out[-1] = a + b
                else:
                    out.append(s)
            vocab[w] = out
    return merges, vocab


def test_bpe_train_matches_python_reference(spark):
    """Distributed BPE == the classic sequential algorithm (same
    deterministic tie-break), merge-for-merge and symbol-for-symbol."""
    from collections import Counter

    from emf_spark.datax.textstats import bpe_train

    texts = [
        "low lower lowest low low",
        "new newer newest new wider wide",
        "low wide lower new",
    ]


    want_merges, want_vocab = _py_bpe(texts, 12, 2)
    df = spark.createDataFrame([(t,) for t in texts], ["text"])
    got_merges, got_vocab_df = bpe_train(df, n_merges=12, min_pair_count=2)
    assert got_merges == want_merges
    got_vocab = {r["word"]: list(r["syms"]) for r in got_vocab_df.collect()}
    assert got_vocab == want_vocab


def test_bpe_train_random_corpora_fuzz(spark):
    """BPE fuzz: 6 random corpora (short alphabet -> heavy ties) must
    match the sequential reference merge-for-merge — the tie-break
    (count desc, pair asc) is where a distributed argmax diverges
    first."""
    import random
    import re
    from collections import Counter

    from emf_spark.datax.textstats import bpe_train


    rng = random.Random(7)
    for trial in range(6):
        texts = [
            "".join(rng.choice("ab c") for _ in range(rng.randrange(5, 40)))
            for _ in range(rng.randrange(2, 6))
        ]
        want, _ = _py_bpe(texts, 8, 1)
        got, _ = bpe_train(
            spark.createDataFrame([(t,) for t in texts], ["text"]),
            n_merges=8,
            min_pair_count=1,
        )
        assert got == want, (trial, texts, got, want)


def _py_bpe_encode(word, merges):
    """Sequential ENCODE reference: one left-to-right pass per rule."""
    syms = list(word)
    for a, b in merges:
        out = []
        for s in syms:
            if out and out[-1] == a and s == b:
                out[-1] = a + b
            else:
                out.append(s)
        syms = out
    return syms


def test_bpe_apply_matches_sequential_reference(spark):
    """The regexp-rewrite encode == the classic per-rule scan on the
    adversarial shapes (chained same-symbol runs, multi-char symbols,
    rules referencing earlier merges)."""
    import pytest as _pytest

    from emf_spark.datax.textstats import bpe_apply

    merges = [("a", "a"), ("aa", "a"), ("b", "c"), ("a", "bc"),
              ("aa", "aa"), ("e", "r"), ("er", "er")]
    words = ["aaa", "aaaa", "aaaaa", "aaaaaaaa", "abc", "aabc", "bcbc",
             "abcabc", "erer", "ererer", "xyz", "a", "don't"]
    enc = bpe_apply(merges)
    df = spark.createDataFrame([(w,) for w in words], ["word"])
    got = {r["word"]: list(r["enc"])
           for r in df.select("word", enc(F.col("word")).alias("enc")).collect()}
    for w in words:
        assert got[w] == _py_bpe_encode(w, merges), w
    with _pytest.raises(ValueError):
        bpe_apply([("a b", "c")])
    with _pytest.raises(ValueError):
        bpe_apply([("a", "B")])


def test_bpe_encode_reproduces_training_segmentation(spark):
    """Lifecycle equivalence: applying the TRAINED merge list to each
    raw word reproduces bpe_train's final symbol table exactly — the
    encode half and the train half implement the same scan."""
    from emf_spark.datax.textstats import bpe_apply, bpe_train

    texts = [
        "low lower lowest low low",
        "new newer newest new wider wide",
        "low wide lower new",
    ]
    df = spark.createDataFrame([(t,) for t in texts], ["text"])
    merges, vocab_df = bpe_train(df, n_merges=10, min_pair_count=2)
    enc = bpe_apply(merges)
    rows = vocab_df.select(
        "word", "syms", enc(F.col("word")).alias("re_enc")
    ).collect()
    assert rows
    for r in rows:
        assert list(r["re_enc"]) == list(r["syms"]), r["word"]


def test_snapshot_diff_random_frames_fuzz(spark):
    """snapshot_diff == brute-force row comparison on random keyed
    frames with nulls and multi-column keys."""
    import random

    from emf_spark.datax.diff import snapshot_diff

    rng = random.Random(31)

    def frame():
        rows = {}
        for _ in range(rng.randrange(5, 25)):
            k = (rng.randrange(5), rng.randrange(3))
            rows[k] = (
                rng.choice([None, "x", "y", "z"]),
                rng.choice([None, 1, 2]),
            )
        return rows

    for trial in range(6):
        o, n = frame(), frame()
        want = {}
        for k in o.keys() | n.keys():
            if k not in n:
                want[k] = "removed"
            elif k not in o:
                want[k] = "added"
            elif o[k] != n[k]:
                want[k] = "changed"
        odf = spark.createDataFrame(
            [(k1, k2, a, b) for (k1, k2), (a, b) in o.items()],
            "k1 int, k2 int, a string, b int",
        )
        ndf = spark.createDataFrame(
            [(k1, k2, a, b) for (k1, k2), (a, b) in n.items()],
            "k1 int, k2 int, a string, b int",
        )
        got = {
            (r["k1"], r["k2"]): r["status"]
            for r in snapshot_diff(odf, ndf, ["k1", "k2"]).collect()
        }
        assert got == want, (trial, got, want)
