"""The code tokenizer — ONE definition, four consumers.

Tokens are maximal runs of ``[a-z0-9_]`` in the lowercased content
(identifiers, keywords, numbers; punctuation/operators/whitespace all
split). Doc length for BM25 is DIFFERENT from token count: it replicates
the reference's ``BodyLength()`` = number of non-empty chunks of the RAW
body split on the single character ``' '`` (reference ``types.cc:38-40``,
``utils.cc:29-41,163-165``) — newlines/tabs are NOT separators there.

Consumers that must agree exactly (and are tested against each other):
  1. Spark JVM path:   ``tokens_col`` / ``doclen_col`` (pure Catalyst
     expressions — whole-stage codegen, zero Python in the hot path).
  2. Pandas-UDF path:  ``tokenize_series`` (Arrow-vectorized; used where a
     Python kernel needs tokens, e.g. the oracle-parity test).
  3. Pure-Python oracle: ``tokenize_text``.
  4. DuckDB oracle SQL: the same ``TOKEN_SPLIT_REGEX`` split, inlined in
     ``plans/oracle_sql.py``.
"""

from __future__ import annotations

import re

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

from wiser_spark.config import TOKEN_SPLIT_REGEX

_TOKEN_RE = re.compile(r"[a-z0-9_]+")


# ---------------------------------------------------------------- python
def tokenize_text(content: str) -> list[str]:
    return _TOKEN_RE.findall(content.lower())


def doclen_text(content: str) -> int:
    return sum(1 for chunk in content.split(" ") if chunk)


def tokenize_series(contents):
    """pandas Series[str] -> Series[list[str]] (Arrow-vectorized batch)."""
    return contents.str.lower().str.findall(_TOKEN_RE)


# ------------------------------------------------------------ token spans
# byte-class table: 1 where the byte is in the token alphabet [a-z0-9_].
# Tokens are maximal runs of these bytes, so spans fall out of a purely
# vectorized run-length pass over the UTF-8 buffer. ASCII-only alphabet
# means a multi-byte character can never be part of a token, and byte
# offsets into the lowered content are the offsets the reference stores
# per posting (offset pairs, reference ``posting.h:42-152``); snippets
# derive them here instead of reading them from the index.
_TOKEN_BYTES = np.zeros(256, dtype=bool)
for _c in b"abcdefghijklmnopqrstuvwxyz0123456789_":
    _TOKEN_BYTES[_c] = True


def token_spans_batch(low):
    """Token byte-spans of a LOWERCASED Arrow string array.

    Returns (counts, starts, ends): per-string token counts plus the flat
    per-occurrence [start, end) byte offsets RELATIVE to each string, in
    document order. Aligned 1:1 with the non-empty pieces of
    ``split_pattern_regex(low, TOKEN_SPLIT_REGEX)`` — both define a token
    as a maximal [a-z0-9_] run — which ``highlight.matched_spans``
    checks.
    """
    import pyarrow as pa

    if isinstance(low, pa.ChunkedArray):
        low = low.combine_chunks()
    n = len(low)
    empty = (
        np.zeros(n, dtype=np.int64),
        np.zeros(0, dtype=np.int64),
        np.zeros(0, dtype=np.int64),
    )
    if n == 0:
        return empty
    off_dtype = np.int64 if pa.types.is_large_string(low.type) else np.int32
    bounds = np.frombuffer(low.buffers()[1], dtype=off_dtype)[
        low.offset : low.offset + n + 1
    ].astype(np.int64)
    data = np.frombuffer(low.buffers()[2], dtype=np.uint8)
    seg = data[bounds[0] : bounds[-1]]
    if seg.size == 0:
        return empty
    bounds = bounds - bounds[0]
    is_tok = _TOKEN_BYTES[seg]
    # run starts: token byte not preceded by a token byte; string starts
    # always break a run (two adjacent strings never merge)
    start_mask = is_tok.copy()
    start_mask[1:] &= ~is_tok[:-1]
    inner = bounds[1:-1]
    start_mask[inner[inner < seg.size]] = is_tok[inner[inner < seg.size]]
    # run ends (inclusive): token byte not followed by one in the SAME string
    end_mask = is_tok.copy()
    end_mask[:-1] &= ~is_tok[1:]
    last = inner - 1
    last = last[(last >= 0) & (last < seg.size)]
    end_mask[last] = is_tok[last]
    starts = np.flatnonzero(start_mask).astype(np.int64)
    ends = np.flatnonzero(end_mask).astype(np.int64) + 1
    counts = np.diff(np.searchsorted(starts, bounds))
    starts_rel = starts - np.repeat(bounds[:-1], counts)
    ends_rel = ends - np.repeat(bounds[:-1], counts)
    return counts, starts_rel, ends_rel


# ----------------------------------------------------------------- spark
def tokens_col(content: Column) -> Column:
    """array<string> of tokens — JVM-side, codegen-friendly."""
    return F.filter(
        F.split(F.lower(content), TOKEN_SPLIT_REGEX), lambda x: x != F.lit("")
    )


def doclen_col(content: Column) -> Column:
    """Reference BodyLength(): non-empty chunks of raw content split on ' '."""
    return F.size(F.filter(F.split(content, " ", -1), lambda x: x != F.lit("")))
