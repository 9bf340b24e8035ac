"""Chunked compressed doc store (S7): roundtrip, alignment rule,
pruned point read, and the snippet reply built from it."""

import random

import pytest

from wiser_spark.operators.docstore import (
    KB4,
    fetch_docs,
    read_docs,
    should_align,
    write_doc_store,
)


def test_should_align_matches_reference_rule():
    # crossing fewer blocks when aligned -> align (doc_store.h:73-78)
    assert should_align(KB4 - 10, 100)          # 2 blocks -> 1
    assert not should_align(0, 100)             # already at a boundary
    assert not should_align(512, 100)           # fits the current block
    assert should_align(KB4 - 1, 2 * KB4)       # 3 blocks -> 2


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    rnd = random.Random(13)
    rows = []
    for i in range(400):
        if i == 7:
            rows.append((i, ""))                       # empty doc
        elif i == 11:
            rows.append((i, "ünïcode — document ✓"))   # non-ASCII
        else:
            # incompressible-ish hex so compressed sizes stay large
            # enough that the alignment rule actually fires
            rows.append(
                (i, "".join(rnd.choice("0123456789abcdef")
                            for _ in range(rnd.randrange(200, 9000))))
            )
    docs = spark.createDataFrame(rows, "doc_id long, content string")
    d = str(tmp_path_factory.mktemp("store") / "ds")
    write_doc_store(docs.repartition(3, "doc_id"), d,
                    extent_bytes=64 * 1024)
    return d, dict(rows)


def test_roundtrip_all_docs(spark, store):
    d, want = store
    got = {r["doc_id"]: r["content"] for r in fetch_docs(spark, d).collect()}
    assert got == want  # byte-for-byte (sha256 invariant by implication)


def test_extent_layout_and_alignment(spark, store):
    d, _ = store
    exts = spark.read.parquet(f"{d}/extents").collect()
    assert len(exts) > 3  # multiple extents at 64 KiB
    n_aligned = 0
    for e in exts:
        assert e["first_doc"] == e["doc_ids"][0]
        assert e["last_doc"] == e["doc_ids"][-1]
        assert list(e["doc_ids"]) == sorted(e["doc_ids"])
        prev_end = 0
        for off_enc, size in zip(e["enc_offs"], e["sizes"]):
            off, aligned = off_enc >> 1, bool(off_enc & 1)
            if aligned:
                assert off % KB4 == 0  # padded to the 4KB boundary
                n_aligned += 1
            # the reference rule decided the flag
            assert aligned == should_align(prev_end, size)
            prev_end = off + size
        assert prev_end == len(e["blob"])
    assert n_aligned > 0  # the rule fired somewhere in this corpus


@pytest.fixture(scope="module")
def ranged_store(spark, store, tmp_path_factory):
    """The same docs as ``store``, written range-partitioned: each file
    holds a contiguous doc-id range, so row-group min/max can prune."""
    d = str(tmp_path_factory.mktemp("store") / "ranged")
    docs = spark.createDataFrame(sorted(store[1].items()),
                                 "doc_id long, content string")
    write_doc_store(docs.repartitionByRange(4, "doc_id"), d,
                    extent_bytes=64 * 1024)
    return d, store[1]


def _row_groups(store_dir):
    """{(file, row group): (min first_doc, max last_doc)} from the
    parquet footers."""
    import os

    import pyarrow.parquet as pq

    out = {}
    ext = f"{store_dir}/extents"
    for name in sorted(os.listdir(ext)):
        if not name.endswith(".parquet"):
            continue
        md = pq.ParquetFile(f"{ext}/{name}").metadata
        for g in range(md.num_row_groups):
            cols = {md.row_group(g).column(j).path_in_schema:
                    md.row_group(g).column(j).statistics
                    for j in range(md.row_group(g).num_columns)}
            out[(f"{ext}/{name}", g)] = (cols["first_doc"].min,
                                         cols["last_doc"].max)
    return out


@pytest.fixture
def recorded_reads(monkeypatch):
    """Every (file, row group) read_docs reads, and the number of docs
    it decompresses."""
    import pyarrow.parquet as pq

    from wiser_spark.operators import docstore

    log = {"opened": [], "read": set(), "decompressed": 0}

    class Recording(pq.ParquetFile):
        def __init__(self, source, *a, **kw):
            super().__init__(source, *a, **kw)
            self._source = source
            log["opened"].append(source)

        def read_row_groups(self, row_groups, *a, **kw):
            log["read"].update((self._source, g) for g in row_groups)
            return super().read_row_groups(row_groups, *a, **kw)

    codec_fns = docstore._codec_fns

    def counting(codec):
        compress, decompress = codec_fns(codec)

        def counted(data):
            log["decompressed"] += 1
            return decompress(data)

        return compress, counted

    monkeypatch.setattr(pq, "ParquetFile", Recording)
    monkeypatch.setattr(docstore, "_codec_fns", counting)
    return log


def test_point_fetch_prunes_extents(ranged_store, recorded_reads):
    """A point read opens only the row groups whose [first_doc,
    last_doc] min/max can hold a wanted id, and decompresses only the
    wanted docs."""
    d, want = ranged_store
    got = read_docs(d, [3, 399])
    assert got == {3: want[3], 399: want[399]}
    groups = _row_groups(d)
    expect = {key for key, (lo, hi) in groups.items()
              if lo <= 3 <= hi or lo <= 399 <= hi}
    assert recorded_reads["read"] == expect
    assert 0 < len(expect) < len(groups)  # some row groups pruned
    assert recorded_reads["decompressed"] == 2


def test_large_fetch_returns_exactly_present_docs(
    spark, ranged_store, recorded_reads
):
    """A serving-scale request (10^4 mostly-absent ids) returns exactly
    the present docs, reading only row groups that can hold a wanted
    id; fetch_docs with ids returns the same docs as a local frame."""
    d, docs = ranged_store
    ids = list(range(0, 400, 3)) + list(range(10_000, 20_000))
    want = {i: docs[i] for i in range(0, 400, 3)}
    assert read_docs(d, ids) == want  # absent ids silent, present exact
    expect = {key for key, (lo, hi) in _row_groups(d).items()
              if any(lo <= i <= hi for i in ids)}
    assert recorded_reads["read"] == expect
    assert recorded_reads["decompressed"] == len(want)
    rows = fetch_docs(spark, d, doc_ids=ids).collect()
    assert {r["doc_id"]: r["content"] for r in rows} == want
    assert [r["doc_id"] for r in rows] == sorted(want)


def test_codec_recorded_and_honored(spark, tmp_path):
    """The store records its codec in meta.json; fetch_docs decodes
    with the RECORDED codec (default = lz4 when importable else zlib),
    and an explicit zlib store roundtrips regardless of environment."""
    import json

    from wiser_spark.operators.docstore import default_codec

    docs = spark.createDataFrame(
        [(i, f"doc body {i} " * 20) for i in range(50)],
        "doc_id long, content string",
    )
    d = str(tmp_path / "ds_codec")
    write_doc_store(docs, d, codec="zlib")
    with open(f"{d}/meta.json") as f:
        assert json.load(f)["codec"] == "zlib"
    got = {r["doc_id"]: r["content"] for r in fetch_docs(spark, d).collect()}
    assert got == {i: f"doc body {i} " * 20 for i in range(50)}
    # the default codec is always a working roundtrip in THIS env
    d2 = str(tmp_path / "ds_default")
    write_doc_store(docs, d2)
    with open(f"{d2}/meta.json") as f:
        assert json.load(f)["codec"] == default_codec()
    got2 = {r["doc_id"]: r["content"] for r in fetch_docs(spark, d2).collect()}
    assert got2 == got


def test_empty_fetch_reads_nothing(spark, store, recorded_reads):
    """An explicit empty id list opens no extent file: read_docs
    returns {} and fetch_docs an empty frame without a store scan."""
    d, _ = store
    assert read_docs(d, []) == {}
    out = fetch_docs(spark, d, doc_ids=[])
    assert out.collect() == []
    assert out.columns == ["doc_id", "content"]
    assert recorded_reads["opened"] == [] and not recorded_reads["read"]
    # the plan must not touch the extents table at all
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "extents" not in plan


def test_search_snippets_from_doc_store(spark, tmp_path):
    """The serving flow: search(return_snippets=True,
    doc_store_dir=...) point-fetches the <= k winners from the chunked
    store and produces EXACTLY the snippets the lake-table path gives."""
    from wiser_spark.config import BM25Params, IndexConfig
    from wiser_spark.operators.mapside import write_index_mapside
    from wiser_spark.operators.postings import assign_doc_ids
    from wiser_spark.operators.segments import SegmentIndex
    from wiser_spark.sources.corpus import corpus_df

    docs = assign_doc_ids(corpus_df(spark, 120)).select("doc_id", "content")
    idx_dir = str(tmp_path / "idx")
    store_dir = str(tmp_path / "store")
    write_index_mapside(docs, idx_dir,
                        IndexConfig(bm25=BM25Params(0.9, 0.4), n_shards=2))
    write_doc_store(docs, store_dir)
    idx = SegmentIndex(spark, idx_dir)
    via_lake = [tuple(r) for r in idx.search(
        ["return", "import"], k=5, return_snippets=True, docs=docs
    ).collect()]
    via_store = [tuple(r) for r in idx.search(
        ["return", "import"], k=5, return_snippets=True,
        doc_store_dir=store_dir,
    ).collect()]
    assert via_store == via_lake and len(via_store) == 5
    assert all(isinstance(r[3], str) and r[3] for r in via_store)


def test_search_batch_snippets_match_single_path(spark, tmp_path):
    """Batch snippets == per-query search snippets, on BOTH content
    paths (lake table and chunked store), for term AND phrase queries."""
    from wiser_spark.config import BM25Params, IndexConfig
    from wiser_spark.operators.mapside import write_index_mapside
    from wiser_spark.operators.postings import assign_doc_ids
    from wiser_spark.operators.segments import SegmentIndex
    from wiser_spark.sources.corpus import corpus_df

    docs = assign_doc_ids(corpus_df(spark, 100)).select("doc_id", "content")
    idx_dir = str(tmp_path / "idx")
    store_dir = str(tmp_path / "store")
    write_index_mapside(docs, idx_dir,
                        IndexConfig(bm25=BM25Params(0.9, 0.4), n_shards=2))
    write_doc_store(docs, store_dir)
    idx = SegmentIndex(spark, idx_dir)
    qlog = [(0, ["return"], False), (1, ["return", "import"], True),
            (2, ["def", "self"], False)]
    want = []
    for qid, terms, ph in qlog:
        for r in idx.search(terms, k=5, is_phrase=ph,
                            return_snippets=True, docs=docs).collect():
            want.append((qid, r["rank"], r["doc_id"], r["score"],
                         r["snippet"]))
    got_lake = [tuple(r) for r in idx.search_batch(
        qlog, k=5, return_snippets=True, docs=docs).collect()]
    got_store = [tuple(r) for r in idx.search_batch(
        qlog, k=5, return_snippets=True, doc_store_dir=store_dir
    ).collect()]
    assert got_lake == sorted(want) == got_store
    assert len(got_lake) == 15 and all(r[4] for r in got_lake)


def test_rewrite_failure_keeps_old_store_meta(spark, tmp_path):
    """Rewriting an EXISTING store flips meta.json only after the new
    extents are durable: a rewrite that fails before writing must leave
    the old meta (codec/align) AND the old extents readable — flipping
    the codec first would make every fetch mis-decode intact data."""
    import json

    from pyspark.sql import functions as F

    from wiser_spark.operators.docstore import fetch_docs, write_doc_store

    d = str(tmp_path / "store")
    docs = spark.range(10).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("doc "), F.col("id")).alias("content"),
    )
    write_doc_store(docs, d, align=True)
    with open(f"{d}/meta.json") as f:
        m1 = json.load(f)
    assert m1["align"] is True
    # a rewrite that fails at PLAN time (before any data is touched):
    # missing content column -> analysis error
    with pytest.raises(Exception):
        write_doc_store(docs, d, content_col="nope", align=False)
    with open(f"{d}/meta.json") as f:
        assert json.load(f) == m1  # old meta intact
    got = {r["doc_id"]: r["content"]
           for r in fetch_docs(spark, d, [0, 7]).collect()}
    assert got == {0: "doc 0", 7: "doc 7"}  # old extents intact
    # a SUCCESSFUL rewrite does flip the recorded settings
    write_doc_store(docs, d, align=False)
    with open(f"{d}/meta.json") as f:
        assert json.load(f)["align"] is False


def test_snippet_winner_missing_from_store_keeps_entry(spark, tmp_path):
    """A top-k winner whose content is ABSENT from the docs table /
    store (live index grown past the store, or a partial lake table)
    keeps its reply entry with an empty snippet — ranking must never
    change because content went missing (review r05: the inner join
    silently dropped such winners)."""
    from wiser_spark.config import BM25Params, IndexConfig
    from wiser_spark.operators.mapside import write_index_mapside
    from wiser_spark.operators.postings import assign_doc_ids
    from wiser_spark.operators.segments import SegmentIndex
    from wiser_spark.sources.corpus import corpus_df

    docs = assign_doc_ids(corpus_df(spark, 80)).select("doc_id", "content")
    idx_dir = str(tmp_path / "idx")
    store_dir = str(tmp_path / "store")
    write_index_mapside(docs, idx_dir,
                        IndexConfig(bm25=BM25Params(0.9, 0.4), n_shards=2))
    idx = SegmentIndex(spark, idx_dir)
    want = [tuple(r) for r in idx.search(["return"], k=5).collect()]
    drop = want[1][1]  # second winner's doc_id goes missing
    partial = docs.filter(f"doc_id != {drop}")
    write_doc_store(partial, store_dir)
    for src in ({"docs": partial}, {"doc_store_dir": store_dir}):
        got = [tuple(r) for r in idx.search(
            ["return"], k=5, return_snippets=True, **src
        ).collect()]
        assert [(r[0], r[1], r[2]) for r in got] == want
        by_id = {r[1]: r[3] for r in got}
        assert by_id[drop] == ""
        assert all(s for d, s in by_id.items() if d != drop)
    # batch path, both content sources
    got_b = [tuple(r) for r in idx.search_batch(
        [(7, ["return"], False)], k=5, return_snippets=True,
        doc_store_dir=store_dir,
    ).collect()]
    assert [(r[1], r[2], r[3]) for r in got_b] == want
    assert {r[2]: r[4] for r in got_b}[drop] == ""


def test_snippet_reply_adds_no_spark_job(spark, tmp_path):
    """The reply is finished on the driver: on both content sources a
    snippet search_batch (and search) runs exactly as many Spark jobs
    as the same call without snippets, and collecting any returned
    frame runs none. The lake table here is an in-memory frame, whose
    filtered collect runs no job; a table on disk adds its own scan."""
    from wiser_spark.config import BM25Params, IndexConfig
    from wiser_spark.operators.mapside import write_index_mapside
    from wiser_spark.operators.postings import assign_doc_ids
    from wiser_spark.operators.segments import SegmentIndex
    from wiser_spark.sources.corpus import corpus_df

    docs = assign_doc_ids(corpus_df(spark, 120)).select("doc_id", "content")
    idx_dir = str(tmp_path / "idx")
    store_dir = str(tmp_path / "store")
    write_index_mapside(docs, idx_dir,
                        IndexConfig(bm25=BM25Params(0.9, 0.4), n_shards=2))
    write_doc_store(docs, store_dir)
    local_docs = spark.createDataFrame(docs.toArrow())
    idx = SegmentIndex(spark, idx_dir).warmup()
    tracker = spark.sparkContext.statusTracker()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def jobs():
        bus.waitUntilEmpty()
        return len(tracker.getJobIdsForGroup(None) or [])

    def count(call):
        j0 = jobs()
        df = call()
        j1 = jobs()
        assert df.collect()
        assert jobs() == j1, "collecting the reply ran a Spark job"
        return j1 - j0

    qlog = [(0, ["return"], False), (1, ["return", "import"], True)]
    plain_batch = count(lambda: idx.search_batch(qlog, k=5))
    plain_one = count(lambda: idx.search(["return", "import"], k=5,
                                         is_phrase=True))
    assert plain_batch >= 1 and plain_one >= 1
    for src in ({"docs": local_docs}, {"doc_store_dir": store_dir}):
        assert count(lambda: idx.search_batch(
            qlog, k=5, return_snippets=True, **src)) == plain_batch
        assert count(lambda: idx.search(
            ["return", "import"], k=5, is_phrase=True,
            return_snippets=True, **src)) == plain_one


def test_row_groups_honour_block_size(spark, tmp_path):
    """A row group of the extents table holds at most one extent past
    the 4 MiB block: the writer checks the block size from the first
    row on, not only after 100 rows (one point read would otherwise
    read 100 extents)."""
    import base64
    import math
    import os

    import pyarrow.parquet as pq

    from wiser_spark.operators.docstore import STORE_BLOCK_BYTES

    rnd = random.Random(5)
    rows = [
        (i, base64.b64encode(rnd.randbytes(30_000)).decode())
        for i in range(240)
    ]
    extent = 256 * 1024
    d = str(tmp_path / "ds")
    write_doc_store(
        spark.createDataFrame(rows, "doc_id long, content string")
        .coalesce(1), d, extent_bytes=extent,
    )
    ext = f"{d}/extents"
    sizes = [
        md.row_group(g).num_rows
        for name in sorted(os.listdir(ext)) if name.endswith(".parquet")
        for md in [pq.ParquetFile(f"{ext}/{name}").metadata]
        for g in range(md.num_row_groups)
    ]
    cap = math.ceil(STORE_BLOCK_BYTES / extent) + 1
    assert sum(sizes) > cap  # the store spans more than one block
    assert max(sizes) <= cap, sizes
