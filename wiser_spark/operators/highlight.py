"""Snippet highlighting for top-k results (reference Q13).

Faithful rendition of the reference's unified highlighter
(``highlighter.h:297-453``):

  * the document is broken into sentence passages;
  * each passage scores ``passage_norm(start) * sum_t tf_norm(tf_t,
    passage_len)`` with ``passage_norm(s) = 1 + 1/ln(pivot + s)`` and
    ``tf_norm(f, L) = f / (f + k1*((1-b) + b*L/pivot))``, pivot = 87,
    k1 = 1.2, b = 0.75 (``highlighter.h:437-450``);
  * the top ``n_passages`` passages by score are re-ordered by start
    offset and matched term occurrences are wrapped in <b>...</b>.

Matches are the query terms' occurrences; for a phrase, only those at
matched phrase positions (the reference's FilterOffsetByPosition,
``query_processing.h:446-492``). The reference reads them from offset
pairs stored per posting, because its corpus is tokenized offline. This
engine tokenizes, so ``matched_spans`` recomputes them from the winners'
content, which the reply reads anyway, with the encoder's own Arrow
lowercasing and tokens: positions are the indexed positions, and spans
are exact byte spans into the lowered text. ``snippets`` is the one
snippet tail: spans, then ``snippet_from_spans``, which wraps them.
"""

from __future__ import annotations

import math
import re

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from wiser_spark.functions.tokenize import token_spans_batch

# reference highlighter.h:437-450 (Lucene's average passage length)
PASSAGE_PIVOT = 87.0
PASSAGE_K1 = 1.2
PASSAGE_B = 0.75

_SENT_BREAK = re.compile(r"(?<=[.!?])\s+|\n+")


def passage_spans(content: str) -> list[tuple[int, int]]:
    """Sentence-broken passage [start, end) spans, blanks dropped."""
    spans, start = [], 0
    for m in _SENT_BREAK.finditer(content):
        if m.start() > start:
            spans.append((start, m.start()))
        start = m.end()
    if start < len(content):
        spans.append((start, len(content)))
    return [(s, e) for s, e in spans if content[s:e].strip()]


def _passage_norm(start: int) -> float:
    return 1.0 + 1.0 / math.log(PASSAGE_PIVOT + start)


def _tf_norm(freq: int, passage_len: int) -> float:
    norm = PASSAGE_K1 * (
        (1.0 - PASSAGE_B) + PASSAGE_B * (passage_len / PASSAGE_PIVOT)
    )
    return freq / (freq + norm)


def highlight_doc(
    content: str, per_term_offsets: list[list[int]], n_passages: int = 3
) -> str:
    """Score passages from per-term flat [s,e,...] match offsets; return
    the top-``n_passages`` passages (document order) with every match
    wrapped in <b>...</b>, joined by an ellipsis."""
    passages = passage_spans(content)
    scored = []
    for ps, pe in passages:
        score, hit = 0.0, False
        for offs in per_term_offsets:
            tf = sum(
                1
                for i in range(0, len(offs), 2)
                if ps <= offs[i] and offs[i + 1] <= pe
            )
            if tf:
                score += _tf_norm(tf, pe - ps)
                hit = True
        if hit:
            scored.append((-score * _passage_norm(ps), ps, pe))
    scored.sort()
    chosen = sorted((ps, pe) for _, ps, pe in scored[:n_passages])
    all_pairs = sorted(
        (offs[i], offs[i + 1])
        for offs in per_term_offsets
        for i in range(0, len(offs), 2)
    )
    out = []
    for ps, pe in chosen:
        buf, cur = [], ps
        for s, e in all_pairs:
            if s < ps or e > pe or s < cur:
                continue
            buf.append(content[cur:s])
            buf.append("<b>" + content[s:e] + "</b>")
            cur = e
        buf.append(content[cur:pe])
        out.append("".join(buf))
    return "…".join(out)


def matched_spans(
    texts: list[str], queries: list[tuple[list[str], bool]]
) -> tuple[pa.Array, list[list[list[int]]]]:
    """The Arrow-lowered ``texts`` and, per text and per term of its
    query (terms, is_phrase), the flat [s,e,...] byte spans of the
    matched occurrences in the lowered text: every occurrence for a
    term query; for a phrase of two or more terms, term i's occurrences
    at positions p+i over the match starts p.

    One vectorized pass over all texts: ``pc.utf8_lower`` (the
    encoder's lowercasing), then ``token_spans_batch``. Its tokens,
    maximal [a-z0-9_] runs, are the encoder's non-empty split pieces, so
    a token's index in its text is its indexed position. The tokens are
    matched against the query terms with ``pc.index_in`` as one string
    array over the lowered bytes themselves: offsets s0,e0,s1,e1,...
    make every even element a token and every odd one the gap to the
    next token, whose codes are dropped."""
    low = pc.utf8_lower(pa.array(texts, pa.string()))
    counts, starts, ends = token_spans_batch(low)
    text_at = np.frombuffer(low.buffers()[1], np.int32)[:-1]
    edges = np.empty(2 * starts.size, dtype=np.int32)
    edges[0::2] = starts + np.repeat(text_at, counts)
    edges[1::2] = ends + np.repeat(text_at, counts)
    toks = pa.StringArray.from_buffers(
        max(edges.size - 1, 0), pa.py_buffer(edges), low.buffers()[2])
    vocab = sorted({t for terms, _ in queries for t in terms})
    code_of = {t: i for i, t in enumerate(vocab)}
    codes = pc.index_in(toks, value_set=pa.array(vocab, pa.string()))
    codes = codes.fill_null(-1).to_numpy(zero_copy_only=False)[0::2]
    bounds = np.concatenate(([0], np.cumsum(counts)))
    out = []
    for j, (terms, phrase) in enumerate(queries):
        lo, hi = int(bounds[j]), int(bounds[j + 1])
        c, want = codes[lo:hi], [code_of[t] for t in terms]
        if phrase and len(terms) > 1:
            match = np.ones(max(c.size - len(want) + 1, 0), dtype=bool)
            for i, w in enumerate(want):
                match &= c[i:i + match.size] == w
            p = np.flatnonzero(match)
            at = [p + i for i in range(len(want))]
        else:
            at = [np.flatnonzero(c == w) for w in want]
        out.append([
            np.stack((starts[lo + a], ends[lo + a]), axis=1).ravel().tolist()
            for a in at
        ])
    return low, out


def snippet_from_spans(
    content: str, low: str, per_term_spans: list[list[int]],
    n_passages: int = 3,
) -> str:
    """highlight_doc over byte spans into ``low``, the Arrow-lowered
    ``content``. ASCII content keeps its original text (lowering keeps
    its length and bytes are chars). Other content shows ``low`` with
    the spans converted to char offsets: the tokens are lowercase, and
    Python's own lowercasing can differ from Arrow's (U+0130 'İ' grows
    by a code point), which would shift every later span."""
    if content.isascii():
        return highlight_doc(content, per_term_spans, n_passages)
    lb = np.frombuffer(low.encode("utf-8"), dtype=np.uint8)
    # char index of each byte = count of non-continuation bytes before
    # it; one past the last byte maps to the length
    char_of = np.append(np.cumsum((lb & 0xC0) != 0x80) - 1, len(low))
    conv = [
        char_of[np.asarray(spans, dtype=np.int64)].tolist()
        for spans in per_term_spans
    ]
    return highlight_doc(low, conv, n_passages)


def snippets(
    texts: list[str], queries: list[tuple[list[str], bool]],
    n_passages: int = 3,
) -> list[str]:
    """One snippet per text, of the matches of its query (terms,
    is_phrase): ``matched_spans`` then ``snippet_from_spans``."""
    low, spans = matched_spans(texts, queries)
    return [
        snippet_from_spans(
            text, text if text.isascii() else low[j].as_py(), spans[j],
            n_passages,
        )
        for j, text in enumerate(texts)
    ]
