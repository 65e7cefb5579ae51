"""Token <-> bytes contract (FIXTURES.md §1).

Token id = UTF-8 byte value (vocab 256). ``detokenize(tokens) ==
bytes(tokens)`` — deterministic and invertible, which makes the
north-rule invariant "exact token-array equality on every routed row"
checkable by construction.

The detokenize UDF is the ONLY Python on the pipeline's hot path
(mandated by BASELINE.json input_hint: vectorized Arrow UDFs, no
per-row Python). It is implemented against the Arrow buffers directly:
one ``bytes()`` copy of the flattened values buffer per batch plus a
zero-copy offset slice per row — no per-element Python loop.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, IntegerType, StringType


def tokenize_bytes(s: str | bytes) -> list[int]:
    """Pure-python tokenizer used by fixture generation (driver side)."""
    if isinstance(s, str):
        s = s.encode("utf-8")
    return list(s)


def detokenize_bytes(tokens) -> str:
    """Pure-python inverse, for tests/oracle. A NULL element makes the
    whole payload empty (the malformed-record marker) — same contract
    as _detok_batch."""
    if any(t is None for t in tokens):
        return ""
    return bytes(int(t) & 0xFF for t in tokens).decode("utf-8", errors="replace")


def _detok_batch(series: pd.Series) -> pd.Series:
    """Vectorized batch detokenize: pandas Series of int arrays -> str.

    A row whose token ARRAY contains a null element decodes to the
    empty string — a deterministic malformed-record marker that the
    parse stage rejects into the errors side-output. (Without the
    guard, Arrow converts int-with-null to float64 NaN and
    astype(uint8) of NaN is UNDEFINED — silent platform-dependent
    payload corruption; review finding.)"""
    arr = pa.array(series, type=pa.list_(pa.int32()))
    if isinstance(arr, pa.ChunkedArray):  # pragma: no cover
        arr = arr.combine_chunks()
    vals = arr.values
    offsets = arr.offsets.to_numpy(zero_copy_only=False)
    if arr.null_count == 0 and vals.null_count == 0 and arr.offset == 0:
        # Zero-alloc-per-row fast path: narrow the int32 token buffer
        # to bytes once (vectorized), strict-validate the WHOLE batch
        # as UTF-8 in one C pass, and when it validates build the Arrow
        # string column directly over the original list offsets —
        # no per-row Python str objects anywhere (guide-§4.2 re-slice:
        # same data buffer, new offsets interpretation).
        flat = vals.to_numpy(zero_copy_only=False).astype(np.uint8)
        # The whole-buffer check cannot see row boundaries: a character
        # split across rows ([0xC3], [0xA9]) validates as one buffer while
        # each row alone is invalid. A non-empty row that starts with a
        # continuation byte (0b10xxxxxx) is exactly that case.
        starts = offsets[:-1][offsets[:-1] < offsets[1:]]
        if not np.any((flat[starts] & 0xC0) == 0x80):
            buf = flat.tobytes()
            try:
                buf.decode("utf-8")
                sarr = pa.StringArray.from_buffers(
                    len(arr), arr.buffers()[1], pa.py_buffer(buf)
                )
                return pd.Series(pd.arrays.ArrowExtensionArray(sarr))
            except UnicodeDecodeError:
                pass
        # a row is invalid UTF-8 on its own: the per-row
        # errors="replace" decode below (rare; correctness contract)
    elem_valid = None
    if vals.null_count:
        elem_valid = vals.is_valid().to_numpy(zero_copy_only=False)
        vals = vals.fill_null(0)
    flat = vals.to_numpy(zero_copy_only=False).astype(np.uint8)
    buf = flat.tobytes()
    out = [
        buf[offsets[i] : offsets[i + 1]].decode("utf-8", errors="replace")
        for i in range(len(arr))
    ]
    if elem_valid is not None:
        bad_cum = np.concatenate(([0], np.cumsum(~elem_valid)))
        out = [
            "" if bad_cum[offsets[i + 1]] > bad_cum[offsets[i]] else out[i]
            for i in range(len(arr))
        ]
    if arr.null_count:
        valid = arr.is_valid().to_numpy(zero_copy_only=False)
        out = [o if v else None for o, v in zip(out, valid)]
    return pd.Series(out, dtype=object)


detokenize_udf = F.pandas_udf(_detok_batch, StringType())


def _tok_batch(series: pd.Series) -> pd.Series:
    """Inverse UDF (string -> token array); used to materialize tokenized
    corpora from existing string tables (fixture/entry path, not the
    engine hot path). Vectorized against the Arrow string buffers — the
    utf-8 bytes already live contiguously in the data buffer, so this is
    one frombuffer + one offset slice per row (the per-row
    encode+frombuffer loop measured ~10x slower at 100k rows)."""
    arr = pa.array(series, type=pa.string())
    if isinstance(arr, pa.ChunkedArray):  # pragma: no cover
        arr = arr.combine_chunks()
    off = np.frombuffer(arr.buffers()[1], dtype=np.int32)[
        arr.offset : arr.offset + len(arr) + 1
    ]
    data = np.frombuffer(arr.buffers()[2], dtype=np.uint8)
    out = [data[off[i] : off[i + 1]].astype(np.int32) for i in range(len(arr))]
    if arr.null_count:
        valid = arr.is_valid().to_numpy(zero_copy_only=False)
        out = [o if v else None for o, v in zip(out, valid)]
    return pd.Series(out, dtype=object)


# NB: must be a DataType instance, not a DDL string — executors re-import
# this module and DDL parsing needs an active SparkContext there.
tokenize_udf = F.pandas_udf(_tok_batch, ArrayType(IntegerType()))


def with_payload(df):
    """Attach the detokenized JSON ``payload`` column of ``tokens``."""
    return df.withColumn("payload", detokenize_udf(F.col("tokens")))
