"""Key-value line parsers — Fluent Bit's ``logfmt`` and ``ltsv``
parsers as compiled Catalyst expressions over string columns.

The reference plugin consumes records a parser stage upstream already
decoded (its input is Fluent Bit's msgpack record stream; the
``logfmt``/``ltsv`` parsers in fluent-bit's parser family are the
stage that turns raw log lines into those records, upstream of
emf/emf.go's parse path). grok (operators/grok.py) covers the regex
family; this module covers the two structured-text families.

Grammar (logfmt, the Heroku dialect the Fluent Bit parser follows):

* ``key=value`` — bare values run to the next whitespace
* ``key="quoted value"`` — quoted values may contain whitespace, ``=``
  and ``\\"`` / ``\\\\`` escapes (unescaped on output)
* ``key=`` — explicit empty-string value
* ``key`` (no ``=``) — boolean flag, parsed as ``"true"``
* duplicate keys — LAST wins (stream-processing convention: later
  writes shadow earlier ones)
* bytes between pairs that match no key syntax are skipped, same as
  the reference parser's scanner

Execution model: ONE regexp scan of the line (a single
``regexp_extract_all`` over group 0 — the key cannot contain ``=``, so
each full match re-splits on its FIRST ``=`` with plain string ops;
the earlier two-aligned-scans form ran the same regex twice per line
and benched 2.8x its LTSV sibling on identical rows), folded into a
last-wins map with ``aggregate`` over the (tiny, per-line) pair array.
No explode, no UDF, no shuffle: a narrow projection that pipelines
inside the scan's codegen stage, so at 100 TB it costs only the scan
it rides on. NULL lines parse to NULL; pair-free lines parse to an
empty map.

LTSV (Labeled Tab-Separated Values): tab-separated ``label:value``
fields, first ``:`` splits, same last-wins fold; fields with no ``:``
are skipped.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

# a quoted value: quotes around non-quote/non-backslash chars or escapes
_LOGFMT_QUOTED = r'"(?:[^"\\]|\\.)*"'
# key, then optionally '=' + (quoted-with-escapes | bare-non-space)
_LOGFMT_PAIR = rf'([A-Za-z_][A-Za-z0-9_.\-/]*)(=({_LOGFMT_QUOTED}|[^\s]*))?'


def _last_wins(entries: Column) -> Column:
    """Fold an array<struct<k,v>> into a map where later entries shadow
    earlier ones. O(pairs^2) per record — pairs per log line are tiny
    and bounded by line length; stays a pure expression (no UDF)."""
    return F.aggregate(
        entries,
        F.create_map().cast("map<string,string>"),
        lambda acc, e: F.map_concat(
            F.map_filter(acc, lambda k, v: k != e["k"]),
            F.create_map(e["k"], e["v"]),
        ),
    )


def parse_logfmt(line: Column) -> Column:
    """Parse a logfmt line into ``map<string,string>`` (see module
    docstring for the grammar). Pure-expression: ONE regexp scan (full
    matches) + per-match first-'=' split + an in-row fold."""
    ms = F.regexp_extract_all(line, F.lit(_LOGFMT_PAIR), 0)

    def pair(m: Column) -> Column:
        # key = text before the first '=' (the key charset excludes
        # '='); substring_index returns the whole match for a bare
        # flag, which IS the key in that case
        return F.struct(
            F.substring_index(m, "=", 1).alias("k"),
            _decode_logfmt_value(m).alias("v"),
        )

    pairs = F.transform(ms, pair)
    return F.when(line.isNull(), F.lit(None).cast("map<string,string>")).otherwise(
        _last_wins(pairs)
    )


def _decode_logfmt_value(m: Column) -> Column:
    """``m`` is one full key[=value] match: no '=' => bare flag
    ("true"); trailing '=' => empty string; '="..."' => unquote +
    unescape (only when the value is a whole quoted value of the
    scanner's own grammar — an unterminated '"v...' or a '"v\\"'
    whose last quote is escaped was bare-matched and is kept raw
    instead of silently losing its first and last characters);
    '=v' => v."""
    pos = F.instr(m, "=")
    v = m.substr(pos + 1, F.length(m))
    quoted = v.rlike(rf"\A{_LOGFMT_QUOTED}\z")
    unquoted = F.regexp_replace(
        v.substr(F.lit(2), F.length(v) - 2), r"\\(.)", "$1"
    )
    return (
        F.when(pos == 0, F.lit("true"))
        .when(quoted, unquoted)
        .otherwise(v)
    )


def parse_ltsv(line_col: str) -> Column:
    """Parse an LTSV line (tab-separated ``label:value``) into
    ``map<string,string>``. First ``:`` splits (values may contain
    ``:``); colon-less fields are skipped; duplicate labels last-win;
    NULL lines parse to NULL. Takes the COLUMN NAME (the in-row fold
    needs a SQL-visible reference)."""
    pairs = F.expr(
        f"transform(filter(split({line_col}, '\t'), f -> instr(f, ':') > 0), "
        "f -> struct(substring_index(f, ':', 1) as k, "
        "substring(f, instr(f, ':') + 1) as v))"
    )
    line = F.col(line_col)
    return F.when(line.isNull(), F.lit(None).cast("map<string,string>")).otherwise(
        _last_wins(pairs)
    )


