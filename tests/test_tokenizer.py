"""Tokenization contract (FIXTURES.md §1): token id = UTF-8 byte,
detokenize == bytes(tokens), invertible."""

from __future__ import annotations

import json

from hypothesis import given, settings, strategies as st

from emf_spark.tokenizer import detokenize_bytes, tokenize_bytes


@given(st.text(max_size=200))
@settings(max_examples=200, deadline=None)
def test_roundtrip_property(s):
    assert detokenize_bytes(tokenize_bytes(s)) == s


def test_tokens_are_bytes():
    toks = tokenize_bytes('{"a":1}')
    assert toks == list(b'{"a":1}')
    assert all(0 <= t <= 255 for t in toks)


def test_detokenize_udf(spark):
    from emf_spark.tokenizer import with_payload

    rows = [("d1", tokenize_bytes('{"x": 1}')), ("d2", tokenize_bytes("héllo ☃"))]
    df = spark.createDataFrame(rows, "doc_id string, tokens array<int>")
    out = {r["doc_id"]: r["payload"] for r in with_payload(df).collect()}
    assert out == {"d1": '{"x": 1}', "d2": "héllo ☃"}


def test_fixture_corpus_tokens_invert(corpus_path, spark):
    df = spark.read.parquet(corpus_path)
    rows = df.limit(50).collect()
    for r in rows:
        js = detokenize_bytes(r["tokens"])
        json.loads(js)  # every payload is valid JSON text
        assert r["n_tok"] == len(r["tokens"])


def test_null_token_element_yields_empty_payload(spark):
    """A token array containing a NULL element decodes to '' (the
    malformed marker the parse stage rejects), never platform-dependent
    NaN->uint8 garbage (review finding); pure-python oracle agrees."""
    from emf_spark.operators import parse as parse_op
    from emf_spark.tokenizer import with_payload

    rows = [
        ("good", tokenize_bytes('{"x": 1}')),
        ("holed", [72, None, 105]),
        ("nullarr", None),
    ]
    df = spark.createDataFrame(rows, "doc_id string, tokens array<int>")
    out = {r["doc_id"]: r["payload"] for r in with_payload(df).collect()}
    assert out["good"] == '{"x": 1}'
    assert out["holed"] == ""
    assert out["nullarr"] is None
    assert detokenize_bytes([72, None, 105]) == ""
    # and the parse stage routes the holed row to the errors side
    parsed = parse_op.parse_emf(
        with_payload(df.filter("doc_id = 'holed'"))
    ).collect()[0]
    assert parsed["valid"] is False


def _detok_rows(rows):
    import pandas as pd

    from emf_spark.tokenizer import _detok_batch

    return list(_detok_batch(pd.Series(rows, dtype=object)))


def test_detok_batch_utf8_split_across_rows():
    """A multi-byte character split over two rows validates as one batch
    buffer but not per row: each row decodes on its own, with
    errors="replace", as the pure-python contract does."""
    rows = [[0xC3], [0xA9], list("ok".encode())]
    assert _detok_rows(rows) == ["�", "�", "ok"]
    assert _detok_rows(rows) == [detokenize_bytes(t) for t in rows]


def _chopped(b):
    """One encoded text cut into rows at arbitrary byte positions, so
    characters split across row boundaries."""
    return st.lists(st.integers(0, len(b)), max_size=3).map(
        lambda cuts: [b[i:j] for i, j in zip([0, *sorted(cuts)], [*sorted(cuts), len(b)])]
    )


_ROW = st.one_of(
    st.none(),
    st.lists(st.one_of(st.integers(0, 255), st.none()), max_size=12),
    st.lists(st.integers(0, 255), max_size=12),
)


@given(
    st.lists(
        st.one_of(
            _ROW.map(lambda r: [r]),
            st.text(min_size=1, max_size=6).map(tokenize_bytes).flatmap(_chopped),
        ),
        max_size=10,
    ).map(lambda groups: [r for g in groups for r in g])
)
@settings(max_examples=300, deadline=None)
def test_detok_batch_matches_pure_python(rows):
    expect = [None if t is None else detokenize_bytes(t) for t in rows]
    assert _detok_rows(rows) == expect
