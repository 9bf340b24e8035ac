import re

import pyarrow as pa
import pyarrow.compute as pc

from wiser_spark.operators.highlight import highlight_doc, matched_spans


def test_passage_scoring_prefers_denser_passage():
    """Reference scoring shape: same tf, earlier/denser passage wins via
    passage_norm; two hits beat one."""
    content = "alpha beta gamma. alpha alpha delta. nothing here."
    offs = [[0, 5, 18, 23, 24, 29]]  # 'alpha' x3
    out = highlight_doc(content, offs, n_passages=1)
    assert out == "<b>alpha</b> <b>alpha</b> delta."


def test_index_snippets_phrase_filters_offsets(spark, tmp_path):
    """Snippets from the SEGMENT INDEX: phrase mode bolds ONLY the
    occurrences at matched phrase positions (query_processing.h:446-492),
    not every occurrence of each term."""
    from wiser_spark.config import BM25Params, IndexConfig
    from wiser_spark.operators.mapside import write_index_mapside
    from wiser_spark.operators.segments import SegmentIndex

    rows = [
        (0, "stray table here. the table part works. part alone ends."),
        (1, "no relevant words at all in this one document."),
        (2, "table part table part. unrelated tail part table."),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, content string")
    d = str(tmp_path / "idx")
    write_index_mapside(docs, d, IndexConfig(bm25=BM25Params(1.2, 0.75), n_shards=2))
    idx = SegmentIndex(spark, d)
    got = {
        r["doc_id"]: r["snippet"]
        for r in idx.search(
            ["table", "part"], k=10, is_phrase=True,
            return_snippets=True, docs=docs, n_passages=1,
        ).collect()
    }
    assert set(got) == {0, 2}
    # doc 0: only the phrase passage chosen; 'stray table' and trailing
    # 'part alone' are NOT bolded (offset filtering, not term matching)
    assert got[0] == "the <b>table</b> <b>part</b> works."
    # doc 2: two phrase matches in the first sentence; the reversed
    # 'part table' in the tail must NOT produce bolds
    assert got[2] == "<b>table</b> <b>part</b> <b>table</b> <b>part</b>."
    # doc_freqs contract: df per term, 0 for absent
    assert idx.doc_freqs(["table", "part", "zz"]) == [2, 2, 0]


def test_snippets_fallback_without_offsets_column(spark, tmp_path):
    """An index written from positions-only postings serves snippets:
    no index stores offsets, and the spans come from the content for
    term and phrase queries alike."""
    from wiser_spark.config import BM25Params, IndexConfig
    from wiser_spark.operators.docstats import build_docstats, corpus_stats
    from wiser_spark.operators.postings import build_dictionary, build_postings
    from wiser_spark.operators.segments import SegmentIndex, write_index

    docs = spark.createDataFrame(
        [(0, "alpha beta. the alpha sentence wins here."),
         (1, "beta alone in this one. nothing else."),
         (2, "alpha beta alpha beta repeated pair text.")],
        "doc_id long, content string",
    )
    d = str(tmp_path / "v1idx")
    postings = build_postings(docs)  # positions only, NO offsets
    docstats = build_docstats(docs)
    write_index(postings, docstats, build_dictionary(postings),
                corpus_stats(docstats), d,
                IndexConfig(bm25=BM25Params(1.2, 0.75), n_shards=2))
    idx = SegmentIndex(spark, d)
    got = idx.search(["alpha"], k=3, return_snippets=True, docs=docs).collect()
    assert got and all("<b>alpha</b>" in r["snippet"] for r in got)
    # PHRASE query: the matched phrase positions are bolded
    ph = idx.search(["alpha", "beta"], k=3, is_phrase=True,
                    return_snippets=True, docs=docs).collect()
    assert ph and all(
        "<b>alpha</b>" in r["snippet"] and "<b>beta</b>" in r["snippet"]
        for r in ph
    )


def test_snippets_divergent_case_mapping_falls_back():
    """U+0130 'İ': Arrow's simple lowercase (1 byte 'i') diverges from
    Python's full mapping ('i̇', 3 bytes). The spans are byte spans into
    the Arrow-lowered text, so that text is shown, and 'wiser' is
    bolded whole, with no slice shifted by the divergence."""
    from wiser_spark.operators.highlight import snippets

    content = "İstanbul wiser match here."
    out = snippets([content], [(["wiser"], False)], 1)[0]
    assert out == "istanbul <b>wiser</b> match here."
    assert "<b>r wise" not in out and "<b>̇" not in out


def test_snippets_non_ascii_content(spark, tmp_path):
    """Stored offsets are BYTE offsets into the lowered UTF-8; non-ASCII
    content must still bold the right tokens (lowered display), never
    mis-slice."""
    from wiser_spark.config import BM25Params, IndexConfig
    from wiser_spark.operators.mapside import write_index_mapside
    from wiser_spark.operators.segments import SegmentIndex

    docs = spark.createDataFrame(
        [(0, "Café über wiser test — wiser again. no match tail."),
         (1, "plain ascii wiser row here.")],
        "doc_id long, content string",
    )
    d = str(tmp_path / "uidx")
    write_index_mapside(docs, d, IndexConfig(bm25=BM25Params(1.2, 0.75), n_shards=1))
    idx = SegmentIndex(spark, d)
    got = {r["doc_id"]: r["snippet"] for r in
           idx.search(["wiser"], k=5, return_snippets=True, docs=docs).collect()}
    assert "<b>wiser</b> test" in got[0] and "<b>wiser</b> again" in got[0]
    assert "<b>wiser</b> row" in got[1]  # ASCII path keeps original text


def _oracle_spans(text: str, terms: list[str], phrase: bool) -> list[list[int]]:
    """Per term, the flat [s,e,...] byte spans of its matched
    occurrences: regex tokens over the UTF-8 bytes of the Arrow-lowered
    text, positions in match order."""
    low = pc.utf8_lower(pa.array([text])).to_pylist()[0].encode("utf-8")
    toks = [(m.group().decode(), m.start(), m.end())
            for m in re.finditer(rb"[a-z0-9_]+", low)]
    if phrase and len(terms) > 1:
        starts = [p for p in range(len(toks) - len(terms) + 1)
                  if all(toks[p + i][0] == t for i, t in enumerate(terms))]
        at = [[p + i for p in starts] for i in range(len(terms))]
    else:
        at = [[p for p, tok in enumerate(toks) if tok[0] == t] for t in terms]
    return [[v for p in ps for v in toks[p][1:]] for ps in at]


def test_matched_spans_equal_regex_oracle():
    """matched_spans (one Arrow pass over every text) equals a regex
    oracle over the Arrow-lowered bytes: term and phrase queries, a
    phrase with a repeated term, terms at the first and last byte,
    multi-byte characters before and between matches, and 'İ', whose
    Python lowercase differs from Arrow's."""
    cases = [
        ("import os\nimport sys; return import", ["import"], False),
        ("import os\nimport sys; return import", ["import", "return"], False),
        ("a b a b c a b", ["a", "b"], True),
        ("import import import x import import", ["import", "import"], True),
        ("Table PART table part. part table", ["table", "part"], True),
        ("wiser middle wiser", ["wiser"], False),
        ("Café über wiser — Ünïcode wiser_x wiser", ["wiser"], False),
        ("é wiser ü test wiser é", ["wiser", "test"], True),
        ("İstanbul wiser İİ match wiser", ["wiser", "match"], False),
        ("İ wiser match", ["wiser", "match"], True),
        ("no tokens of the query here", ["zz", "qq"], True),
        ("", ["wiser"], False),
        ("dup dup", ["dup", "dup"], False),
    ]
    texts = [c[0] for c in cases]
    low, got = matched_spans(texts, [(t, ph) for _, t, ph in cases])
    assert low.to_pylist() == pc.utf8_lower(pa.array(texts)).to_pylist()
    for (text, terms, ph), spans in zip(cases, got):
        assert spans == _oracle_spans(text, terms, ph), text
    # the edges: a match at byte 0 and one ending at the last byte
    assert got[5][0][0] == 0 and got[5][0][-1] == len(texts[5])
    assert got[3] == [[0, 6, 7, 13, 23, 29], [7, 13, 14, 20, 30, 36]]
