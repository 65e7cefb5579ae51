"""logfmt / LTSV parsers (operators/kvparse.py)."""

import pytest
from pyspark.sql import functions as F

from emf_spark.operators.kvparse import (
    logfmt_records,
    ltsv_records,
    parse_logfmt,
    parse_ltsv,
)


def _one(spark, line, fn, **kw):
    df = spark.createDataFrame([(line,)], "line string")
    out = fn(df, "line", **kw).collect()[0]["record"]
    return dict(out) if out is not None else None


def test_logfmt_grammar(spark):
    got = _one(
        spark,
        'svc=auth msg="boom id=42 \\"x\\" \\\\end" n=7 empty= flag dup=a dup=b',
        logfmt_records,
    )
    assert got == {
        "svc": "auth",
        "msg": 'boom id=42 "x" \\end',  # unquoted, unescaped
        "n": "7",
        "empty": "",      # explicit empty value
        "flag": "true",   # bare key -> boolean flag
        "dup": "b",       # last wins
    }


def test_logfmt_skips_junk_and_edge_lines(spark):
    assert _one(spark, "!! ?? ==", logfmt_records) == {}
    assert _one(spark, "", logfmt_records) == {}
    assert _one(spark, None, logfmt_records) is None
    # junk between pairs is skipped, pairs still parse
    assert _one(spark, "@@ a=1 %% b=2", logfmt_records) == {"a": "1", "b": "2"}


def test_logfmt_bare_value_charset(spark):
    # bare values run to whitespace; keys allow . - / _
    got = _one(spark, "a.b=x-y k_2=v/w path=/x?q=1", logfmt_records)
    assert got == {"a.b": "x-y", "k_2": "v/w", "path": "/x?q=1"}


def test_logfmt_unterminated_quote_keeps_raw(spark):
    # an unterminated quote is bare-matched by the scanner; the raw
    # value must be kept as-is instead of silently dropping its first
    # and last characters (r5 advisory: the unquote branch now requires
    # a CLOSING quote)
    assert _one(spark, 'a=1 k="abc', logfmt_records) == {"a": "1", "k": '"abc'}
    assert _one(spark, 'k="', logfmt_records) == {"k": '"'}
    # in `k="a\"` the last quote is escaped, so the scanner's quoted
    # form does not match and the value is bare-matched: it stays raw
    assert _one(spark, 'k="a\\"', logfmt_records) == {"k": '"a\\"'}
    assert _one(spark, 'k="a\\" b=1', logfmt_records) == {"k": '"a\\"', "b": "1"}
    # an escaped backslash before the last quote leaves it closing
    assert _one(spark, 'k="a\\\\" b=1', logfmt_records) == {"k": "a\\", "b": "1"}


def test_ltsv_grammar(spark):
    got = _one(spark, "host:h1\treq:GET /x?a:b\tskipme\tdup:1\tdup:2", ltsv_records)
    assert got == {"host": "h1", "req": "GET /x?a:b", "dup": "2"}
    assert _one(spark, "", ltsv_records) == {}
    assert _one(spark, None, ltsv_records) is None


def test_kvparse_plan_is_narrow_projection(spark):
    df = spark.range(5).select(F.concat(F.lit("k="), F.col("id")).alias("line"))
    plan = (
        df.select(parse_logfmt(F.col("line")).alias("m"))
        ._jdf.queryExecution().executedPlan().toString()
    )
    for bad in ("Exchange", "Generate", "BatchEvalPython", "ArrowEvalPython"):
        assert bad not in plan, plan
    plan2 = (
        df.withColumn("m", parse_ltsv("line"))
        ._jdf.queryExecution().executedPlan().toString()
    )
    for bad in ("Exchange", "Generate", "BatchEvalPython", "ArrowEvalPython"):
        assert bad not in plan2, plan2
