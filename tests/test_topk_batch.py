"""Batch query processor == per-query oracle, across mixed shapes."""

import pytest

from wiser_spark.config import BM25Params
from wiser_spark.operators.docstats import build_docstats, corpus_stats
from wiser_spark.operators.postings import (
    assign_doc_ids,
    build_dictionary,
    build_postings,
)
from wiser_spark.operators.topk import bm25_topk_batch
from wiser_spark.oracle import OracleEngine
from wiser_spark.sources.corpus import corpus_df, make_corpus

PARAMS = BM25Params(1.2, 0.75)
N = 110

QUERY_LOG = [
    (0, ["return"], False),
    (1, ["import"], False),
    (2, ["return", "import"], False),
    (3, ["def", "self"], False),
    (4, ["return", "import", "def"], False),
    (5, ["return", "zz_missing_zz"], False),
    (6, ["return", "import"], True),
    (7, ["if", "else"], True),
    (8, ["import", "return", "def"], True),
]


def test_batch_equals_oracle_per_query(spark):
    docs = assign_doc_ids(corpus_df(spark, N), n_partitions=4)
    postings = build_postings(docs).cache()
    docstats = build_docstats(docs)
    got_rows = bm25_topk_batch(
        postings, docstats, build_dictionary(postings), corpus_stats(docstats),
        QUERY_LOG, k=10, params=PARAMS,
    ).collect()
    got: dict[int, list] = {}
    for r in sorted(got_rows, key=lambda r: (r["query_id"], r["rank"])):
        got.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))

    eng = OracleEngine(PARAMS)
    for row in make_corpus(N):
        eng.add_document(row["content"])
    for qid, terms, is_phrase in QUERY_LOG:
        want = eng.search(terms, k=10, is_phrase=is_phrase)
        have = got.get(qid, [])
        assert [d for d, _ in have] == [d for d, _ in want], f"query {qid}"
        for (_, s_have), (_, s_want) in zip(have, want):
            assert s_have == pytest.approx(s_want, rel=1e-12)


def test_segment_batch_equals_oracle_per_query(spark, tmp_path):
    """SegmentIndex.search_batch (one shard pass for the whole log) must
    be rank- and score-identical to the per-query oracle."""
    from wiser_spark.config import IndexConfig
    from wiser_spark.operators.mapside import write_index_mapside
    from wiser_spark.operators.segments import SegmentIndex

    docs = assign_doc_ids(corpus_df(spark, N), n_partitions=4).select(
        "doc_id", "content"
    )
    d = str(tmp_path / "idx")
    write_index_mapside(docs, d, IndexConfig(bm25=PARAMS, n_shards=4))
    idx = SegmentIndex(spark, d)
    got_rows = idx.search_batch(QUERY_LOG, k=10).collect()
    got: dict[int, list] = {}
    for r in sorted(got_rows, key=lambda r: (r["query_id"], r["rank"])):
        got.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))

    eng = OracleEngine(PARAMS)
    for row in make_corpus(N):
        eng.add_document(row["content"])
    for qid, terms, is_phrase in QUERY_LOG:
        want = eng.search(terms, k=10, is_phrase=is_phrase)
        have = got.get(qid, [])
        assert [d_ for d_, _ in have] == [d_ for d_, _ in want], f"query {qid}"
        for (_, s_have), (_, s_want) in zip(have, want):
            assert s_have == pytest.approx(s_want, rel=1e-12)


def test_batch_topk_is_two_phase(spark):
    """Skew gate: every window over query_id ALONE must be fed by the
    salted local top-k (bounded <= k*n_salts rows per query) — no
    full-sort window over an unbounded single-query partition."""
    docs = assign_doc_ids(corpus_df(spark, N), n_partitions=4)
    postings = build_postings(docs)
    docstats = build_docstats(docs)
    df = bm25_topk_batch(
        postings, docstats, build_dictionary(postings), corpus_stats(docstats),
        [(0, ["return"], False)], k=10, params=PARAMS,
    )
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    # only the query windows (docID assignment has its own, unrelated)
    win_lines = [
        ln for ln in plan.splitlines()
        if ln.strip().startswith(("Window [", "+- Window ["))
        and "query_id" in ln
    ]
    assert len(win_lines) == 2, win_lines  # local (salted) + global
    local = [ln for ln in win_lines if "salt" in ln]
    assert len(local) == 1, win_lines
    # the global window appears ABOVE the salted one in the tree (it
    # consumes the salted output, never the raw match set)
    assert plan.index(local[0]) > plan.index(
        [ln for ln in win_lines if "salt" not in ln][0]
    )
    # Catalyst additionally pushes the rank<=k filters down as
    # WindowGroupLimit (partial per-partition top-k before any sort) —
    # the salted one is the skew protection proper
    assert any(
        "WindowGroupLimit" in ln and "salt" in ln for ln in plan.splitlines()
    ), plan


def test_batch_dedups_repeated_shapes(spark):
    """A log repeating the same (terms, is_phrase) shapes under many
    query_ids must return, per query_id, rows identical to the shapes
    computed one-per-id — and the deduped plan must aggregate the
    postings only once per shape (the fan-out is a broadcast join of
    the <= k rep rows, not a re-computation)."""
    docs = assign_doc_ids(corpus_df(spark, N), n_partitions=4)
    postings = build_postings(docs).cache()
    docstats = build_docstats(docs)
    dictionary = build_dictionary(postings)
    stats = corpus_stats(docstats)

    shapes = [
        (["return"], False),
        (["return", "import"], False),
        (["return", "import"], True),
    ]
    log = [
        (rep * 10 + i, terms, ph)
        for rep in range(3)
        for i, (terms, ph) in enumerate(shapes)
    ]
    got_rows = bm25_topk_batch(
        postings, docstats, dictionary, stats, log, k=10, params=PARAMS
    ).collect()
    got: dict[int, list] = {}
    for r in sorted(got_rows, key=lambda r: (r["query_id"], r["rank"])):
        got.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    # every query_id present, each duplicate id's rows EXACTLY equal to
    # the unique-log answer for its shape
    uniq_rows = bm25_topk_batch(
        postings, docstats, dictionary, stats,
        [(i, terms, ph) for i, (terms, ph) in enumerate(shapes)],
        k=10, params=PARAMS,
    ).collect()
    want: dict[int, list] = {}
    for r in sorted(uniq_rows, key=lambda r: (r["query_id"], r["rank"])):
        want.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    assert set(got) == {rep * 10 + i for rep in range(3) for i in range(3)}
    for rep in range(3):
        for i in range(3):
            assert got[rep * 10 + i] == want[i], (rep, i)


def test_segment_batch_repeated_shapes_correct(spark, tmp_path):
    from wiser_spark.config import IndexConfig
    from wiser_spark.operators.mapside import write_index_mapside
    from wiser_spark.operators.segments import SegmentIndex

    docs = assign_doc_ids(corpus_df(spark, N), n_partitions=4).select(
        "doc_id", "content"
    )
    d = str(tmp_path / "idx_dedup")
    write_index_mapside(docs, d, IndexConfig(bm25=PARAMS, n_shards=4))
    idx = SegmentIndex(spark, d)
    shapes = [(["return"], False), (["def", "self"], False)]
    log = [
        (rep * 10 + i, terms, ph)
        for rep in range(3)
        for i, (terms, ph) in enumerate(shapes)
    ]
    got_rows = idx.search_batch(log, k=10).collect()
    got: dict[int, list] = {}
    for r in sorted(got_rows, key=lambda r: (r["query_id"], r["rank"])):
        got.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    uniq_rows = idx.search_batch(
        [(i, terms, ph) for i, (terms, ph) in enumerate(shapes)], k=10
    ).collect()
    want: dict[int, list] = {}
    for r in sorted(uniq_rows, key=lambda r: (r["query_id"], r["rank"])):
        want.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    assert set(got) == {rep * 10 + i for rep in range(3) for i in range(2)}
    for rep in range(3):
        for i in range(2):
            assert got[rep * 10 + i] == want[i], (rep, i)


def test_duplicate_query_ids_rejected(spark, tmp_path):
    """A query log that repeats a query_id is malformed (answers are
    keyed by query_id): both batch processors raise ValueError instead
    of merging two queries' rows."""
    from wiser_spark.config import IndexConfig
    from wiser_spark.operators.mapside import write_index_mapside
    from wiser_spark.operators.segments import SegmentIndex

    docs = spark.createDataFrame(
        [(0, "return x"), (1, "import y")], "doc_id long, content string"
    )
    postings = build_postings(docs)
    docstats = build_docstats(docs)
    d = str(tmp_path / "idx_dup")
    write_index_mapside(docs, d, IndexConfig(bm25=PARAMS, n_shards=1))
    idx = SegmentIndex(spark, d)
    for log in (
        [(3, ["return"], False), (3, ["return"], False)],  # same shape
        [(3, ["return"], False), (4, ["x"], False), (3, ["import"], True)],
        [(5, [], False), (5, ["return"], False)],  # even an empty query
    ):
        with pytest.raises(ValueError, match="duplicate query_id"):
            bm25_topk_batch(
                postings, docstats, build_dictionary(postings),
                corpus_stats(docstats), log, k=5, params=PARAMS,
            )
        with pytest.raises(ValueError, match="duplicate query_id"):
            idx.search_batch(log, k=5)
