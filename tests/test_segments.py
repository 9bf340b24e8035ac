"""Segment format: round-trip, skip-offset partial decode, and the
segment-backed query path vs the oracle (the vacuum-vs-qqmem analogue)."""

import json
import os

import numpy as np
import pytest

from wiser_spark.config import BM25Params, IndexConfig
from wiser_spark.functions.packing import decode_column, delta_decode
from wiser_spark.operators.docstats import build_docstats, corpus_stats
from wiser_spark.operators.postings import (
    assign_doc_ids,
    build_dictionary,
    build_postings,
)
from wiser_spark.operators.segments import (
    BLOOM_COLUMNS,
    DOCLEN_TERM,
    FORMAT,
    SegmentIndex,
    build_segments,
    decode_doclen_sentinel,
    decode_segment_row,
    write_index,
)
from wiser_spark.oracle import OracleEngine
from wiser_spark.sources.corpus import corpus_df, make_corpus

N_DOCS = 150
PARAMS = BM25Params(1.2, 0.75)


@pytest.fixture(scope="module")
def index_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("index"))
    docs = assign_doc_ids(corpus_df(spark, N_DOCS), n_partitions=4)
    postings = build_postings(docs).cache()
    docstats = build_docstats(docs)
    dictionary = build_dictionary(postings)
    stats = corpus_stats(docstats)
    write_index(postings, docstats, dictionary, stats, d,
                IndexConfig(bm25=PARAMS, n_shards=4))
    return d


@pytest.fixture(scope="module")
def oracle():
    eng = OracleEngine(PARAMS)
    for row in make_corpus(N_DOCS):
        eng.add_document(row["content"])
    return eng


def test_segment_roundtrip_vs_postings(spark, oracle, index_dir):
    segs = spark.read.parquet(f"{index_dir}/segments")
    want = {}
    for term, d, tf, pos in oracle.postings():
        want.setdefault((d % 4, term), []).append((d, tf, tuple(pos)))
    got = {}
    for r in segs.filter(f"term != '{DOCLEN_TERM}'").collect():
        row = r.asDict()
        doc_ids, tfs, positions = decode_segment_row(row, with_positions=True)
        got[(row["shard_id"], row["term"])] = [
            (int(d), int(t), tuple(int(x) for x in p))
            for d, t, p in zip(doc_ids, tfs, positions)
        ]
        # docIDs strictly ascending within a segment (reference
        # posting_list_delta.h:412-415 enforces this at insert)
        assert np.all(np.diff(doc_ids) > 0)
    assert got == {k: sorted(v) for k, v in want.items()}


def test_write_index_sentinel_layout(spark, oracle, index_dir):
    """write_index keeps doc lengths in the segment table: one sentinel
    row per shard, last in the shard's single file, holding that
    shard's docs with their true lengths and Char4 bytes; no docstats
    table and no blooms."""
    with open(f"{index_dir}/stats.json") as f:
        meta = json.load(f)
    assert meta["format"] == FORMAT and "bloom" not in meta
    assert not os.path.exists(f"{index_dir}/docstats")
    for shard in range(4):
        sdir = f"{index_dir}/segments/generation=0/shard_id={shard}"
        files = [f for f in os.listdir(sdir) if f.endswith(".parquet")]
        assert len(files) == 1
        rows = spark.read.parquet(f"{sdir}/{files[0]}").collect()
        assert rows[-1]["term"] == DOCLEN_TERM
        assert all(
            r[c] is None for r in rows for side in BLOOM_COLUMNS for c in side
        )
    sent = spark.read.parquet(f"{index_dir}/segments").filter(
        f"term = '{DOCLEN_TERM}'"
    ).collect()
    assert sorted(r["shard_id"] for r in sent) == [0, 1, 2, 3]
    seen = []
    for r in sent:
        ids, chars, lens = decode_doclen_sentinel(r.asDict())
        assert np.all(ids % 4 == r["shard_id"])
        assert lens.tolist() == [oracle.doclens[i] for i in ids]
        assert chars.tolist() == [oracle.doclen_chars[i] for i in ids]
        seen.extend(ids.tolist())
    assert sorted(seen) == list(range(N_DOCS))


def test_write_index_sentinels_match_mapside(spark, tmp_path):
    """The shuffle writer and the map-side writer emit byte-identical
    sentinel rows for the same doc_id-bearing docs and shard layout
    (the map-side input partitioned by doc_id % n_shards)."""
    from wiser_spark.operators.mapside import write_index_mapside

    n = 3
    cfg = IndexConfig(bm25=PARAMS, n_shards=n)
    docs = assign_doc_ids(corpus_df(spark, 70), n_partitions=2).select(
        "doc_id", "content"
    )
    postings = build_postings(docs)
    docstats = build_docstats(docs)
    write_index(postings, docstats, None, corpus_stats(docstats),
                str(tmp_path / "shuffle"), cfg)
    by_mod = spark.createDataFrame(
        docs.rdd.keyBy(lambda r: r["doc_id"] % n)
        .partitionBy(n, lambda k: k).values(),
        "doc_id long, content string",
    )
    write_index_mapside(by_mod, str(tmp_path / "mapside"), cfg,
                        reuse_partitions=True)

    def sentinels(d):
        rows = spark.read.parquet(f"{d}/segments").filter(
            f"term = '{DOCLEN_TERM}'"
        ).collect()
        return {r["shard_id"]: r.asDict() for r in rows}

    a, b = sentinels(tmp_path / "shuffle"), sentinels(tmp_path / "mapside")
    assert sorted(a) == list(range(n)) and a == b


def test_close_releases_caches(spark, index_dir):
    """close() unpersists the dictionary and a serving-cached segments
    frame; the context manager closes on exit."""
    idx = SegmentIndex(spark, index_dir)
    idx.segments = idx.segments.cache()
    assert idx.dictionary.is_cached and idx.segments.is_cached
    idx.close()
    assert not idx.dictionary.is_cached and not idx.segments.is_cached
    with SegmentIndex(spark, index_dir) as idx2:
        assert idx2.dictionary.is_cached
        assert idx2.search(["return"], k=3).count() == 3
    assert not idx2.dictionary.is_cached and not idx2.segments.is_cached


def test_index_without_sentinels_refused(spark, tmp_path):
    """A stats.json without doclen_sentinel names an index from a
    removed v1 writer (doc lengths in a separate docstats table): the
    reader refuses it instead of scoring without lengths, and
    compaction instead of merging it into an index nobody can open."""
    from wiser_spark.operators.segments import compact_index

    d = tmp_path / "v1"
    d.mkdir()
    (d / "stats.json").write_text(json.dumps({
        "n_docs": 1, "avgdl": 1.0, "n_shards": 1, "k1": 1.2, "b": 0.75,
        "format": "wiser-spark-segment-v1",
    }))
    with pytest.raises(ValueError, match="rebuilt"):
        SegmentIndex(spark, str(d))
    with pytest.raises(ValueError, match="rebuilt"):
        compact_index(spark, str(d), str(tmp_path / "out"))


@pytest.mark.parametrize("flavor", ["offsets", "positions", "neither"])
def test_build_segments_byte_identical_to_per_term_encode(spark, flavor):
    """build_segments rows equal the per-term encoder's (term order,
    one _encode_term_flat row per term) followed by the sentinel, for
    postings with positions and offsets (the offsets are not stored),
    positions only, and neither; the corpus has terms on both sides of
    the framed-path df cut."""
    from wiser_spark.operators.postings import build_postings_arrow
    from wiser_spark.operators.segments import (
        _encode_term_flat,
        doclen_sentinel_row,
    )

    n_shards = 2
    docs = assign_doc_ids(corpus_df(spark, 300), n_partitions=2).select(
        "doc_id", "content"
    )
    postings = {
        "offsets": build_postings_arrow(docs, with_offsets=True),
        "positions": build_postings(docs),
        "neither": build_postings(docs, with_positions=False),
    }[flavor]
    docstats = build_docstats(docs)
    got: dict[int, list[dict]] = {}  # per shard, in emitted order
    for r in build_segments(postings, docstats, n_shards).collect():
        got.setdefault(r["shard_id"], []).append(r.asDict())

    per_term: dict[tuple[int, str], list] = {}
    for r in postings.collect():
        per_term.setdefault(
            (r["doc_id"] % n_shards, r["term"]), []
        ).append(r.asDict())
    lens = {r["doc_id"]: r["doclen"] for r in docstats.collect()}

    def flat(ps, col):
        if col not in ps[0]:
            return None
        return np.array([v for r in ps for v in r[col]], dtype=np.int64)

    want: dict[int, list[dict]] = {}
    for (shard, term), ps in sorted(per_term.items()):
        ps.sort(key=lambda r: r["doc_id"])
        want.setdefault(shard, []).append(_encode_term_flat(
            shard, term,
            np.array([r["doc_id"] for r in ps], dtype=np.int64),
            np.array([r["tf"] for r in ps], dtype=np.int64),
            flat(ps, "positions"),
        ))
    for shard in want:
        ids = sorted(d for d in lens if d % n_shards == shard)
        want[shard].append(
            doclen_sentinel_row(shard, ids, [lens[d] for d in ids])
        )
    assert got == want
    dfs = [r["df_shard"] for rows in got.values() for r in rows[:-1]]
    assert max(dfs) >= 128 > min(dfs)


def test_no_writer_stores_offsets(spark, tmp_path):
    """No writer stores offsets: write_index, write_index_mapside, a
    streaming flush, compact_now and compact_index all write segment
    files without ``off_blob`` or ``skip_off_offs`` and record the
    current FORMAT."""
    import glob

    import pyarrow.parquet as pq

    from wiser_spark.operators.mapside import write_index_mapside
    from wiser_spark.operators.postings import build_postings_arrow
    from wiser_spark.operators.segments import compact_index
    from wiser_spark.streaming.incremental import IncrementalIndexer

    cfg = IndexConfig(bm25=PARAMS, n_shards=2)
    raw = corpus_df(spark, 60)
    docs = assign_doc_ids(raw, n_partitions=2).select("doc_id", "content")
    built = {k: str(tmp_path / k) for k in (
        "write_index", "mapside", "flush", "compact_now",
        "compact_index")}
    postings = build_postings_arrow(docs, with_offsets=True)
    docstats = build_docstats(docs)
    write_index(postings, docstats, build_dictionary(postings),
                corpus_stats(docstats), built["write_index"], cfg)
    write_index_mapside(docs, built["mapside"], cfg)
    rows = raw.collect()
    for d in (built["flush"], built["compact_now"]):
        ix = IncrementalIndexer(d, cfg)
        for b in range(2):
            ix.process_batch(spark.createDataFrame(
                rows[30 * b:30 * (b + 1)], raw.schema), b)
    IncrementalIndexer(built["compact_now"], cfg).compact_now(spark)
    compact_index(spark, built["flush"], built["compact_index"])
    for name, d in built.items():
        files = glob.glob(f"{d}/segments/**/*.parquet", recursive=True)
        assert files, name
        for f in files:
            cols = set(pq.read_schema(f).names)
            assert not cols & {"off_blob", "skip_off_offs"}, (name, f)
            assert "pos_blob" in cols
        with open(f"{d}/stats.json") as fh:
            assert json.load(fh)["format"] == FORMAT, name


def _digest_module():
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "segment_digest",
        os.path.join(os.path.dirname(__file__), "..", "scripts",
                     "segment_digest.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_segment_digest_columns_are_the_schema():
    """scripts/segment_digest.py digests the columns of the current
    SEGMENT_SCHEMA, which it spells out without importing Spark code."""
    from wiser_spark.operators.segments import SEGMENT_ARROW_SCHEMA

    assert _digest_module().SEGMENT_COLUMNS == tuple(
        SEGMENT_ARROW_SCHEMA.names)


def _term_row(postings):
    """The segment row of a one-term, one-shard hand-made postings
    table (doc lengths: the token counts)."""
    from pyspark.sql import functions as F

    docstats = postings.groupBy("doc_id").agg(F.sum("tf").alias("doclen"))
    return build_segments(postings, docstats, n_shards=1).filter(
        f"term != '{DOCLEN_TERM}'"
    ).collect()[0].asDict()


def test_skip_entries_partial_decode(spark):
    """Skip rows every 128 postings allow decoding from a bag boundary."""
    rows = [("t", i * 3, 1 + (i % 5)) for i in range(400)]  # one term, 400 docs
    postings = spark.createDataFrame(rows, "term string, doc_id long, tf int")
    seg = _term_row(postings)
    assert len(seg["skip_predocs"]) == 4  # ceil(400/128)
    assert seg["skip_predocs"][0] == 0
    assert seg["skip_predocs"][1] == 127 * 3  # docID preceding bag 1
    # decode bag 2 onward without touching bags 0-1
    off = seg["skip_docid_offs"][2]
    deltas = decode_column(seg["docids_blob"], 400 - 256, offset=int(off))
    docids = np.cumsum(deltas.astype(np.int64)) + seg["skip_predocs"][2]
    np.testing.assert_array_equal(docids, np.arange(256, 400) * 3)


def test_selective_decode_reads_only_needed_bags(spark):
    """_decode_term_selective must (a) return exactly the full decode's
    values at every candidate and (b) NEVER touch non-selected bags —
    proven by corrupting every byte of the bags no candidate maps to
    and decoding anyway."""
    from wiser_spark.operators.segments import _decode_term_selective

    rows = [("t", i * 3, 1 + (i % 5)) for i in range(700)]  # 6 bags
    postings = spark.createDataFrame(rows, "term string, doc_id long, tf int")
    seg = _term_row(postings)
    full_ids, full_tfs, _ = decode_segment_row(seg)
    # candidates: a few real docIDs in bags 0 and 4, plus a bag-boundary
    # docID (== skip_predocs[b], the LAST doc of the previous bag) and
    # an absent id
    cand = np.array(
        [0, 3 * 5, int(seg["skip_predocs"][1]), 3 * 550, 3 * 551, 7],
        dtype=np.int64,
    )
    got_ids, got_tfs, _ = _decode_term_selective([seg], cand)
    at = np.searchsorted(got_ids, cand[np.isin(cand, full_ids)])
    want_at = np.searchsorted(full_ids, cand[np.isin(cand, full_ids)])
    np.testing.assert_array_equal(got_ids[at], full_ids[want_at])
    np.testing.assert_array_equal(got_tfs[at], full_tfs[want_at])
    # corrupt bags 2 and 3 (no candidate maps there) in BOTH columns:
    # still decodes, still correct -> those bags were never read
    blob_d = bytearray(seg["docids_blob"])
    blob_t = bytearray(seg["tfs_blob"])
    for b in (2, 3):
        lo_d, hi_d = seg["skip_docid_offs"][b], seg["skip_docid_offs"][b + 1]
        lo_t, hi_t = seg["skip_tf_offs"][b], seg["skip_tf_offs"][b + 1]
        blob_d[lo_d:hi_d] = b"\xff" * (hi_d - lo_d)
        blob_t[lo_t:hi_t] = b"\xff" * (hi_t - lo_t)
    poisoned = dict(seg)
    poisoned["docids_blob"] = bytes(blob_d)
    poisoned["tfs_blob"] = bytes(blob_t)
    got2_ids, got2_tfs, _ = _decode_term_selective([poisoned], cand)
    np.testing.assert_array_equal(got2_ids[at], full_ids[want_at])
    np.testing.assert_array_equal(got2_tfs[at], full_tfs[want_at])


def test_partial_decode_strategy_gate():
    """Driver-side strategy: partial decode for big (prefetch_pages >=
    threshold), docid+tf-only terms — INCLUDING terms shared by several
    queries (round 4: the shard kernel's per-term bag cache makes
    shared partial decode a union, so sharing no longer disqualifies)
    and the terms of snippet queries (their spans come from the
    content, not the index); null pages (old dictionaries) decode
    fully."""
    from wiser_spark.operators.segments import partial_decode_terms

    qlist = [
        (0, ["rare", "hot"], False),
        (1, ["hot2", "shared"], False),
        (2, ["shared", "ph1"], True),
        (3, ["snip"], False),
    ]
    pages = {"rare": 1, "hot": 9, "hot2": 9, "shared": 9, "ph1": 9,
             "snip": 9}
    got = partial_decode_terms(qlist, pages, pos_terms={"shared", "ph1"})
    # hot/hot2/snip: big + plain -> partial. rare: too small. shared: in
    # a phrase query's pos_terms. ph1: positions.
    assert got == {"hot", "hot2", "snip"}
    # shared by two NON-phrase queries -> now eligible (union decode)
    got2 = partial_decode_terms(
        [(0, ["rare", "shared"], False), (1, ["hot", "shared"], False)],
        pages, set(),
    )
    assert got2 == {"hot", "shared"}
    assert partial_decode_terms(qlist, {}, set()) == set()  # null pages


def test_bag_cache_shares_decodes_across_queries(spark):
    """The per-term bag cache: a second selective decode over the SAME
    bags never re-reads bytes (poison the whole row after the first
    call), and new candidates extend the cache by only THEIR bags —
    the union-of-candidates behavior for terms shared across a batch."""
    from wiser_spark.operators.segments import _decode_term_selective

    rows = [("t", i * 2, 1 + (i % 7)) for i in range(700)]  # 6 bags
    postings = spark.createDataFrame(rows, "term string, doc_id long, tf int")
    seg = _term_row(postings)
    full_ids, full_tfs, _ = decode_segment_row(seg)
    cache: dict = {}
    cand1 = np.array([0, 2 * 150], dtype=np.int64)         # bags 0 and 1
    ids1, tfs1, _ = _decode_term_selective([seg], cand1, cache)
    assert set(cache) == {(0, 0), (0, 1)}
    # poison EVERYTHING: cached bags must serve without any read
    poisoned = dict(seg)
    poisoned["docids_blob"] = b"\xff" * len(seg["docids_blob"])
    poisoned["tfs_blob"] = b"\xff" * len(seg["tfs_blob"])
    ids1b, tfs1b, _ = _decode_term_selective([poisoned], cand1, cache)
    np.testing.assert_array_equal(ids1b, ids1)
    np.testing.assert_array_equal(tfs1b, tfs1)
    # a second query's candidates reuse bag 1 and add only bag 4
    cand2 = np.array([2 * 150, 2 * 580], dtype=np.int64)
    ids2, tfs2, _ = _decode_term_selective([seg], cand2, cache)
    assert set(cache) == {(0, 0), (0, 1), (0, 4)}
    at = np.searchsorted(ids2, cand2)
    np.testing.assert_array_equal(ids2[at], cand2)
    np.testing.assert_array_equal(
        tfs2[at], full_tfs[np.searchsorted(full_ids, cand2)]
    )


def test_batch_shared_terms_match_single_queries(spark, index_dir,
                                                 monkeypatch):
    """A query log whose queries SHARE terms (now partial-decode
    eligible) answers rank-identically to the per-query path."""
    import wiser_spark.operators.segments as segmod

    idx = SegmentIndex(spark, index_dir)
    qlog = [
        (0, ["return", "import"], False),
        (1, ["return", "def"], False),
        (2, ["import", "def", "return"], False),
        (3, ["return"], False),
    ]
    want = []
    for qid, terms, ph in qlog:
        for r in idx.search(terms, k=5, is_phrase=ph).collect():
            want.append((qid, r["rank"], r["doc_id"], r["score"]))
    monkeypatch.setattr(segmod, "PARTIAL_DECODE_MIN_PAGES", 1)
    got = [tuple(r) for r in idx.search_batch(qlog, k=5).collect()]
    assert got == sorted(want)


def test_prefetch_pages_in_dictionary_and_partial_path(
    spark, tmp_path, monkeypatch
):
    """The dictionary carries (bytes_docid_tf, prefetch_pages) —
    reference .tip prefetch field (flash_engine_dumper.h:44-49) — and a
    conjunctive query over a long-posting term goes through the partial
    path (threshold lowered to force the gate) with results identical
    to the full path."""
    import wiser_spark.operators.segments as segmod
    from wiser_spark.config import BM25Params, IndexConfig
    from wiser_spark.operators.mapside import write_index_mapside

    # 'hot' in every doc (long postings, multiple bags per shard);
    # 'rare' in 3
    rows = [
        (i, "hot filler " + ("rare " if i % 211 == 5 else "") + f"w{i % 7}")
        for i in range(600)
    ]  # rare in docs 5, 216, 427
    docs = spark.createDataFrame(rows, "doc_id long, content string")
    d = str(tmp_path / "idx")
    write_index_mapside(docs, d, IndexConfig(bm25=BM25Params(1.2, 0.75),
                                             n_shards=2))
    idx = SegmentIndex(spark, d)
    dic = {r["term"]: r for r in idx.dictionary.collect()}
    seg_rows = spark.read.parquet(f"{d}/segments").filter(
        "term = 'hot'"
    ).collect()
    want_bytes = sum(len(r["docids_blob"]) + len(r["tfs_blob"])
                     for r in seg_rows)
    assert dic["hot"]["bytes_docid_tf"] == want_bytes
    assert dic["hot"]["prefetch_pages"] == -(-want_bytes // 4096)
    full = [tuple(r) for r in idx.search(["rare", "hot"], k=10).collect()]
    monkeypatch.setattr(segmod, "PARTIAL_DECODE_MIN_PAGES", 1)
    part = [tuple(r) for r in idx.search(["rare", "hot"], k=10).collect()]
    assert part == full and len(part) == 3
    # sanity: the gate actually fires for 'hot' under the lowered bar
    from wiser_spark.operators.segments import partial_decode_terms

    assert "hot" in partial_decode_terms(
        [(0, ["rare", "hot"], False)],
        {"rare": dic["rare"]["prefetch_pages"],
         "hot": dic["hot"]["prefetch_pages"]},
        set(),
    )


QUERIES = [
    (["return"], False),
    (["return", "import"], False),
    (["def", "self", "return"], False),
    (["return", "zz_absent_zz"], False),
    (["return", "import"], True),
    (["import", "return", "def"], True),
]


def test_warmup_and_jobless_dictionary_cache(spark, index_dir):
    """write_index records no n_terms; warmup() counts the dictionary
    the reader derives from the segments into meta["n_terms"] and
    builds the driver dictionary cache, and lookups afterwards
    (present and absent terms) run jobless and identical."""
    with open(os.path.join(index_dir, "stats.json")) as f:
        assert "n_terms" not in json.load(f)
    idx = SegmentIndex(spark, index_dir)
    assert "n_terms" not in idx.meta
    assert idx.warmup() is idx and idx._dict_mem is not None
    assert idx.meta["n_terms"] > 0
    assert len(idx._dict_mem) == idx.meta["n_terms"]
    # jobless from here: lookups hit the driver dict
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    m = idx._dict_lookup(["return", "no_such_term_xyz"])
    after = len(tracker.getJobIdsForGroup(None) or [])
    assert after == before
    assert "return" in m and "no_such_term_xyz" not in m
    # and matches a cold, filter-path lookup (cap forced to 0)
    idx2 = SegmentIndex(spark, index_dir)
    idx2.DICT_DRIVER_CACHE_MAX = 0
    assert idx2._dict_lookup(["return"])["return"] == m["return"]


def test_warmup_memoized_past_cache_cap(spark, index_dir):
    """With the vocabulary OVER the driver-cache cap, warmup()
    materializes the cached dictionary with ONE count() job and
    memoizes it — a second warmup() runs zero jobs (r04 item 6)."""
    idx = SegmentIndex(spark, index_dir)
    idx.DICT_DRIVER_CACHE_MAX = 0  # force the over-cap path

    class CountingDF:
        def __init__(self, df):
            self._df = df
            self.counts = 0

        def count(self):
            self.counts += 1
            return self._df.count()

        def __getattr__(self, name):
            return getattr(self._df, name)

    proxy = CountingDF(idx.dictionary)
    idx.dictionary = proxy
    assert idx.warmup() is idx
    assert proxy.counts == 1  # one materialization job
    assert idx._dict_mem is None  # stayed on the distributed path
    idx.warmup()
    idx.warmup()
    assert proxy.counts == 1  # memoized: no re-count


@pytest.mark.parametrize("terms,is_phrase", QUERIES)
def test_segment_search_rank_identical_to_oracle(
    spark, oracle, index_dir, terms, is_phrase
):
    idx = SegmentIndex(spark, index_dir)
    got = idx.search(terms, k=10, is_phrase=is_phrase).collect()
    want = oracle.search(terms, k=10, is_phrase=is_phrase)
    assert [r["doc_id"] for r in got] == [d for d, _ in want]
    for r, (_, score) in zip(got, want):
        assert r["score"] == pytest.approx(score, rel=1e-12)


def test_term_prefix_pushdown_and_identity(spark, tmp_path):
    """term_prefix = the trie .tip's prefix seek: results equal a full
    dictionary filter, absent prefixes are empty, and on a COLD derived
    dictionary the prefix filter, being on the aggregate's grouping
    key, pushes below the aggregate into the segments scan as
    StringStartsWith (the segment files are sorted by term, so
    row-group min/max stats prune)."""
    from wiser_spark.config import BM25Params, IndexConfig
    from wiser_spark.operators.mapside import write_index_mapside
    from wiser_spark.operators.postings import assign_doc_ids
    from wiser_spark.sources.corpus import corpus_df

    docs = assign_doc_ids(corpus_df(spark, 100)).select("doc_id", "content")
    d = str(tmp_path / "idx")
    write_index_mapside(docs, d, IndexConfig(bm25=BM25Params(0.9, 0.4),
                                             n_shards=2))
    idx = SegmentIndex(spark, d)
    got = sorted(tuple(r) for r in idx.term_prefix("re").collect())
    want = sorted(
        (r["term"], r["df"])
        for r in idx.dictionary.collect()
        if r["term"].startswith("re")
    )
    assert got == want and len(got) >= 1  # 'return'
    got_s = sorted(tuple(r) for r in idx.term_prefix("s").collect())
    want_s = sorted(
        (r["term"], r["df"])
        for r in idx.dictionary.collect()
        if r["term"].startswith("s")
    )
    assert got_s == want_s and len(got_s) >= 2  # 'self', 'shard_*', ...
    assert idx.term_prefix("zzz_nope").count() == 0
    with pytest.raises(ValueError):
        idx.term_prefix("")
    # cold read: the filter reaches the segments scan as
    # StringStartsWith
    from pyspark.sql import functions as F

    from wiser_spark.operators.segments import (
        dictionary_from_segments,
        read_segments,
    )

    idx.close()  # drop the cached copy the same plan would reuse
    cold = dictionary_from_segments(read_segments(spark, d)).filter(
        F.col("term").startswith("re")
    )
    plan = cold._jdf.queryExecution().executedPlan().toString()
    scans = [ln for ln in plan.splitlines() if "FileScan parquet" in ln]
    assert len(scans) == 1, plan
    pushed = scans[0].split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "StringStartsWith(term,re)" in pushed, plan
    assert sorted(tuple(r) for r in cold.select("term", "df").collect()) == got


def test_overcap_lookup_memoized_jobless(spark, index_dir):
    """Past the driver-cache cap, a term's FIRST lookup pays one
    distributed filter; every repeat (present OR absent term) is served
    from the per-process memo with ZERO Spark jobs (r06, VERDICT 7)."""
    idx = SegmentIndex(spark, index_dir)
    idx.DICT_DRIVER_CACHE_MAX = 0  # force the over-cap path
    first = idx._dict_lookup(["return", "zz_never_there_zz"])
    assert "return" in first and "zz_never_there_zz" not in first
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    again = idx._dict_lookup(["return", "zz_never_there_zz"])
    after = len(tracker.getJobIdsForGroup(None) or [])
    assert after == before, "memoized lookup ran a Spark job"
    assert again == first
    # a NEW term still reaches the filter exactly once, then memoizes
    idx._dict_lookup(["import"])
    mid = len(tracker.getJobIdsForGroup(None) or [])
    assert mid > after
    idx._dict_lookup(["import", "return"])
    assert len(tracker.getJobIdsForGroup(None) or []) == mid


def _segment_digest(index_dir: str) -> tuple[int, str]:
    """scripts/segment_digest.py's digest of the index's segments."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "segment_digest",
        os.path.join(os.path.dirname(__file__), "..", "scripts",
                     "segment_digest.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.table_digest(os.path.join(index_dir, "segments"))


def test_compact_positionless_index_matches_fresh_build(spark, tmp_path):
    """An index built without positions compacts: two generations of
    position-less segments merge into exactly the rows of a fresh
    build of all the docs (empty pos_blob, empty skip_pos_offs), where
    decoding the empty pos_blob of a df >= 2 term used to raise."""
    import shutil

    from wiser_spark.operators.segments import compact_index

    docs = assign_doc_ids(corpus_df(spark, 120), n_partitions=2).cache()
    cfg = IndexConfig(bm25=PARAMS, n_shards=2)

    def build(part, d):
        postings = build_postings(part, with_positions=False)
        docstats = build_docstats(part)
        write_index(postings, docstats, build_dictionary(postings),
                    corpus_stats(docstats), d, cfg)

    fresh = str(tmp_path / "fresh")
    build(docs, fresh)
    multi = tmp_path / "multi"
    for g, cond in enumerate(["doc_id < 60", "doc_id >= 60"]):
        half = str(tmp_path / f"half{g}")
        build(docs.filter(cond), half)
        shutil.copytree(f"{half}/segments/generation=0",
                        multi / "segments" / f"generation={g}")
    shutil.copy(f"{fresh}/stats.json", multi / "stats.json")
    (multi / "generations.json").write_text('{"generations": [0, 1]}')
    out = str(tmp_path / "compacted")
    compact_index(spark, str(multi), out)
    got, want = _segment_digest(out), _segment_digest(fresh)
    assert got == want and want[0] > 0
    idx = SegmentIndex(spark, out)
    assert [tuple(r) for r in idx.search(["return"], k=5).collect()] == [
        tuple(r) for r in SegmentIndex(spark, fresh).search(
            ["return"], k=5).collect()
    ]


def test_write_stats_crash_keeps_previous_file(tmp_path, monkeypatch):
    """stats.json is published by one rename: a json.dump that dies
    midway leaves the previous file byte-identical and loadable."""
    from wiser_spark.operators.segments import write_stats

    d = str(tmp_path / "idx")
    write_stats(d, {"n_docs": 1, "avgdl": 2.0})
    with open(f"{d}/stats.json", "rb") as f:
        before = f.read()

    def torn_dump(obj, fp, **kw):
        fp.write('{"n_docs": 9, "av')
        raise OSError("disk full")

    monkeypatch.setattr(json, "dump", torn_dump)
    with pytest.raises(OSError, match="disk full"):
        write_stats(d, {"n_docs": 9, "avgdl": 3.0})
    monkeypatch.undo()
    with open(f"{d}/stats.json", "rb") as f:
        assert f.read() == before
    with open(f"{d}/stats.json") as f:
        assert json.load(f) == {"n_docs": 1, "avgdl": 2.0}
    write_stats(d, {"n_docs": 9, "avgdl": 3.0})  # a later write succeeds
    with open(f"{d}/stats.json") as f:
        assert json.load(f)["n_docs"] == 9


def test_bloom_row_layout_refused(spark, tmp_path):
    """An index of an older layout — v2 (phrase blooms as separate
    prefixed rows), v3 (stored offsets) or v4 (batch builds outside
    generations) — is refused, not converted, by the reader, by
    compaction and by a streaming resume — each asks for a rebuild."""
    from wiser_spark.operators.segments import compact_index
    from wiser_spark.streaming.incremental import IncrementalIndexer

    for fmt in ("wiser-spark-segment-v2", "wiser-spark-segment-v2-mapside",
                "wiser-spark-segment-v3", "wiser-spark-segment-v4"):
        d = tmp_path / fmt
        d.mkdir()
        (d / "stats.json").write_text(json.dumps({
            "n_docs": 1, "avgdl": 1.0, "n_shards": 1, "k1": 1.2, "b": 0.75,
            "format": fmt, "doclen_sentinel": True,
        }))
        with pytest.raises(ValueError, match="rebuilt"):
            SegmentIndex(spark, str(d))
        with pytest.raises(ValueError, match="rebuilt"):
            compact_index(spark, str(d), str(tmp_path / "out"))
        with pytest.raises(ValueError, match="rebuilt"):
            IncrementalIndexer(str(d))
