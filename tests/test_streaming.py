"""Incremental (streaming) index == batch index on the same ingested
prefix; generations merge transparently at query time."""

import os

import pytest

from wiser_spark.config import BM25Params, IndexConfig
from wiser_spark.operators.segments import (
    DOCLEN_TERM,
    SegmentIndex,
    decode_doclen_sentinel,
    read_segments,
)
from wiser_spark.oracle import OracleEngine
from wiser_spark.sources.corpus import make_corpus
from wiser_spark.streaming.incremental import start_incremental_index

PARAMS = BM25Params(1.2, 0.75)
SCHEMA = "repo string, path string, commit string, lang string, content string"


def _sentinel_doc_ids(spark, d):
    """Every doc id of the live generations, read from the sentinel
    doc-length rows."""
    rows = read_segments(spark, d).filter(f"term = '{DOCLEN_TERM}'").collect()
    return sorted(
        i for r in rows for i in decode_doclen_sentinel(r.asDict())[0].tolist()
    )


@pytest.fixture(scope="module")
def streamed(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("stream")
    input_dir, index_dir, ckpt = (
        str(base / "in"), str(base / "idx"), str(base / "ckpt")
    )
    rows = make_corpus(90)  # already sorted by (repo, path, commit)
    cfg = IndexConfig(bm25=PARAMS, n_shards=3)

    def ingest(batch_rows):
        df = spark.createDataFrame(batch_rows, SCHEMA)
        df.coalesce(1).write.mode("append").parquet(input_dir)
        q = start_incremental_index(
            spark, input_dir, index_dir, ckpt, SCHEMA, cfg
        )
        q.awaitTermination()

    ingest(rows[:40])   # generation 0
    ingest(rows[40:])   # generation 1 (only new files processed)
    return index_dir, rows


@pytest.fixture(scope="module")
def oracle():
    eng = OracleEngine(PARAMS)
    for row in make_corpus(90):
        eng.add_document(row["content"])
    return eng


def test_stream_stats_match_batch(spark, streamed, oracle):
    idx = SegmentIndex(spark, streamed[0])
    assert idx.stats.n_docs == 90
    assert idx.stats.avgdl == pytest.approx(oracle.avgdl, rel=1e-12)
    assert not os.path.exists(f"{streamed[0]}/docstats")
    assert _sentinel_doc_ids(spark, streamed[0]) == list(range(90))
    # two generations actually present (exactly-once, no reprocessing)
    gens = {
        r["generation"]
        for r in idx.segments.select("generation").distinct().collect()
    }
    assert len(gens) == 2


def test_compaction_preserves_results(spark, streamed, oracle, tmp_path):
    """Compacting the multi-generation streaming index into one row per
    (shard, term) must leave every query identical and actually merge
    the generations (the reference's qq->vacuum conversion, B18)."""
    from wiser_spark.operators.segments import compact_index

    src, _ = streamed
    out = str(tmp_path / "compacted")
    compact_index(spark, src, out)
    segs = spark.read.parquet(f"{out}/segments")
    per_key = (
        segs.groupBy("shard_id", "term").count()
        .agg({"count": "max"}).collect()[0][0]
    )
    assert per_key == 1  # one generation after the merge
    idx_old = SegmentIndex(spark, src)
    idx_new = SegmentIndex(spark, out)
    for terms, is_phrase in [(["return"], False), (["return", "import"], True)]:
        a = [tuple(r) for r in idx_old.search(terms, 10, is_phrase).collect()]
        b = [tuple(r) for r in idx_new.search(terms, 10, is_phrase).collect()]
        assert a == b and a
        want = oracle.search(terms, k=10, is_phrase=is_phrase)
        assert [r[1] for r in b] == [d for d, _ in want]


def test_replayed_batch_is_noop(spark, tmp_path):
    """At-least-once replay of a committed batch must not duplicate rows
    or shift docIDs (the commit log makes the sink idempotent). No
    ``_staging/`` directory outlives a flush or a compaction."""
    from wiser_spark.streaming.incremental import IncrementalIndexer

    rows = make_corpus(30)
    df = spark.createDataFrame(rows, SCHEMA)
    d = str(tmp_path / "idx")
    ix = IncrementalIndexer(d, IndexConfig(bm25=PARAMS, n_shards=2))
    ix.process_batch(df, 0)
    assert not os.path.exists(f"{d}/_staging")
    ids1 = _sentinel_doc_ids(spark, d)
    ix.process_batch(df, 0)  # replay
    assert _sentinel_doc_ids(spark, d) == ids1
    ix.process_batch(spark.createDataFrame(make_corpus(40)[30:], SCHEMA), 1)
    ids2 = _sentinel_doc_ids(spark, d)
    # dense continuation: batch 1 starts exactly where batch 0 ended
    assert ids2 == list(range(40)) and ids1 == list(range(30))
    idx = SegmentIndex(spark, d)
    assert idx.stats.n_docs == 40
    assert idx.search(["return"], k=5).count() > 0
    ix.compact_now(spark)
    assert len(ix._generations()) == 1
    assert not os.path.exists(f"{d}/_staging")


def test_staging_leftover_replaced_on_retry(spark, tmp_path):
    """A crash between publish and commit leaves a half-moved generation;
    the retry (same batch_id, same docID offset from the commit log)
    replaces it with identical data."""
    import json
    import os

    from wiser_spark.streaming.incremental import IncrementalIndexer

    rows = make_corpus(20)
    df = spark.createDataFrame(rows, SCHEMA)
    d = str(tmp_path / "idx")
    ix = IncrementalIndexer(d, IndexConfig(bm25=PARAMS, n_shards=2))
    ix.process_batch(df, 0)
    # simulate the crash: generation published but commit record lost
    os.remove(f"{d}/commits.json")
    ix.process_batch(df, 0)  # retry
    eng = OracleEngine(PARAMS)
    for r in rows:
        eng.add_document(r["content"])
    with open(f"{d}/commits.json") as f:
        assert json.load(f) == {"0": [0, 20, sum(eng.doclens)]}
    assert _sentinel_doc_ids(spark, d) == list(range(20))


@pytest.fixture(scope="module")
def streamed_v2(spark, tmp_path_factory, oracle):
    """Two v2 (map-side) generations ingested via the idempotent sink."""
    from wiser_spark.streaming.incremental import IncrementalIndexer

    d = str(tmp_path_factory.mktemp("stream_v2") / "idx")
    rows = make_corpus(90)
    ix = IncrementalIndexer(d, IndexConfig(bm25=PARAMS, n_shards=3), fmt="v2")
    ix.process_batch(spark.createDataFrame(rows[:40], SCHEMA), 0)
    ix.process_batch(spark.createDataFrame(rows[40:], SCHEMA), 1)
    return d


def test_stream_v2_multigeneration_queries(spark, streamed_v2, oracle):
    """v2 streaming generations (sentinels + blooms in the segment
    table, no docstats dir) answer rank-identically before compaction."""
    import os

    assert not os.path.exists(f"{streamed_v2}/docstats")
    idx = SegmentIndex(spark, streamed_v2)
    assert idx.stats.n_docs == 90
    assert idx.stats.avgdl == pytest.approx(oracle.avgdl, rel=1e-12)
    assert idx.bloom_cfg is not None
    for terms, ph in [(["return"], False), (["return", "import"], False),
                      (["if", "else"], True)]:
        got = idx.search(terms, k=10, is_phrase=ph).collect()
        want = oracle.search(terms, k=10, is_phrase=ph)
        assert [r["doc_id"] for r in got] == [d for d, _ in want]
        for r, (_, s) in zip(got, want):
            assert r["score"] == pytest.approx(s, rel=1e-12)


def test_stream_v2_compaction_merges_sentinels_and_blooms(
    spark, streamed_v2, oracle, tmp_path
):
    """compact_index on a v2 streaming index merges term rows AND the
    sentinel doc-length rows into one row per (shard, term), with both
    bloom sides on every term row of two or more postings and none on
    the others; the compacted index answers the full suite
    rank-identically, with bloom pruning active again."""
    from wiser_spark.operators.segments import DOCLEN_TERM, compact_index

    out = str(tmp_path / "compacted_v2")
    compact_index(spark, streamed_v2, out)
    segs = spark.read.parquet(f"{out}/segments")
    per_key = (
        segs.groupBy("shard_id", "term").count()
        .agg({"count": "max"}).collect()[0][0]
    )
    assert per_key == 1  # sentinels and terms all merged
    rows = segs.select(
        "term", "df_shard", "bloom_end_blob", "bloom_begin_blob"
    ).collect()
    terms = [r["term"] for r in rows]
    assert DOCLEN_TERM in terms
    plain = [r for r in rows if r["term"] != DOCLEN_TERM]
    multi = [r for r in plain if r["df_shard"] >= 2]
    assert 0 < len(multi) < len(plain)
    for r in plain:  # both sides exactly where they can prune
        has = r["df_shard"] >= 2
        assert (r["bloom_end_blob"] is not None) == has, r["term"]
        assert (r["bloom_begin_blob"] is not None) == has, r["term"]
    idx = SegmentIndex(spark, out)
    assert idx.stats.n_docs == 90
    for terms_q, ph in [(["return"], False), (["return", "import"], False),
                        (["return", "import"], True), (["if", "else"], True),
                        (["def", "self", "return"], False)]:
        got = idx.search(terms_q, k=10, is_phrase=ph).collect()
        want = oracle.search(terms_q, k=10, is_phrase=ph)
        assert [r["doc_id"] for r in got] == [d for d, _ in want]
        for r, (_, s) in zip(got, want):
            assert r["score"] == pytest.approx(s, rel=1e-12)


def _per_term_merge(
    rows: list[dict], bp, texts: list[str]
) -> dict[int, list[dict]]:
    """Reference merge of generational segment rows: per shard, the
    merged sentinel first, then each term in order as the per-term
    encoders write it over its generations concatenated in docID order,
    with end- and begin-bloom columns built from the documents' token
    streams (``texts[doc_id]``) when the merged term has two or more
    postings."""
    import re

    import numpy as np

    from wiser_spark.functions.bloom import token_bloom_mask
    from wiser_spark.operators.segments import (
        _encode_term_flat,
        decode_segment_row,
        doclen_sentinel_row,
    )

    toks = [re.findall(r"[a-z0-9_]+", t.lower()) for t in texts]
    masks: dict[str, np.ndarray] = {}

    def mask(tok):
        if tok not in masks:
            masks[tok] = token_bloom_mask(tok, bp)
        return masks[tok]

    def side(ids, plists, step):
        out = np.zeros((len(ids), bp.nbytes), dtype=np.uint8)
        for i, (doc, ps) in enumerate(zip(ids, plists)):
            for p in ps:
                if 0 <= p + step < len(toks[doc]):
                    out[i] |= mask(toks[doc][p + step])
        return out

    by_key: dict[tuple[int, str], list[dict]] = {}
    for r in rows:
        by_key.setdefault((r["shard_id"], r["term"]), []).append(r)
    out: dict[int, list[dict]] = {}
    for (shard, term), parts in sorted(by_key.items()):
        if term == DOCLEN_TERM:
            sents = [decode_doclen_sentinel(r) for r in parts]
            out.setdefault(shard, []).append(doclen_sentinel_row(
                shard, np.concatenate([s[0] for s in sents]),
                np.concatenate([s[2] for s in sents]),
            ))
            continue
        dec = sorted(
            (decode_segment_row(r, with_positions=True) for r in parts),
            key=lambda d: d[0][0],
        )
        ids = np.concatenate([d[0] for d in dec])
        plists = [p for d in dec for p in d[2]]
        out[shard].append(_encode_term_flat(
            shard, term, ids, np.concatenate([d[1] for d in dec]),
            np.concatenate(plists),
            (side(ids, plists, 1), side(ids, plists, -1))
            if len(ids) > 1 else None,
        ))
    return out


def test_stream_v2_compaction_byte_identical_to_per_term_merge(
    spark, streamed_v2
):
    """compact_segments over the v2 generations writes, shard by shard,
    exactly the rows of the per-term merge: sentinel first, then every
    term in term order, its bloom columns rebuilt from the documents
    (both sides on df >= 2 terms, none on df == 1 ones)."""
    import json

    from wiser_spark.functions.bloom import BloomParams
    from wiser_spark.operators.segments import compact_segments

    with open(f"{streamed_v2}/stats.json") as f:
        bp = BloomParams(**json.load(f)["bloom"])
    segs = read_segments(spark, streamed_v2)
    got: dict[int, list[dict]] = {}
    for r in compact_segments(segs, bp).collect():
        got.setdefault(r["shard_id"], []).append(r.asDict())
    want = _per_term_merge([r.asDict() for r in segs.collect()], bp,
                           [r["content"] for r in make_corpus(90)])
    assert got == want
    assert all(rows[0]["term"] == DOCLEN_TERM for rows in got.values())


@pytest.mark.parametrize(
    "terms,is_phrase",
    [(["return"], False), (["return", "import"], False), (["if", "else"], True)],
)
def test_stream_query_rank_identical(spark, streamed, oracle, terms, is_phrase):
    idx = SegmentIndex(spark, streamed[0])
    got = idx.search(terms, k=10, is_phrase=is_phrase).collect()
    want = oracle.search(terms, k=10, is_phrase=is_phrase)
    assert [r["doc_id"] for r in got] == [d for d, _ in want]
    for r, (_, s) in zip(got, want):
        assert r["score"] == pytest.approx(s, rel=1e-12)


def test_resume_with_other_format_refuses(tmp_path):
    """Resuming an index of an older layout would corrupt it (v1
    generations carry no sentinels / no lensum in the commit log; v2
    generations keep their blooms in prefixed rows the merge no longer
    reads); the constructor must refuse loudly — and the v1 streaming
    mode itself is gone."""
    import json

    from wiser_spark.operators.segments import FORMAT
    from wiser_spark.streaming.incremental import IncrementalIndexer

    d = str(tmp_path / "idx")
    os.makedirs(d)
    for old in ("wiser-spark-segment-v1", "wiser-spark-segment-v2-mapside"):
        with open(f"{d}/stats.json", "w") as f:
            json.dump({"format": old}, f)
        with pytest.raises(ValueError, match="rebuilt"):
            IncrementalIndexer(d)
        with pytest.raises(ValueError, match="rebuilt"):
            IncrementalIndexer(d, fmt="v2")
    with open(f"{d}/stats.json", "w") as f:
        json.dump({"format": FORMAT}, f)
    with open(f"{d}/commits.json", "w") as f:
        json.dump({}, f)
    IncrementalIndexer(d)
    IncrementalIndexer(d, fmt="v2")
    with pytest.raises(ValueError, match="unknown streaming index format"):
        IncrementalIndexer(d, fmt="v1")
    with pytest.raises(ValueError, match="unknown streaming index format"):
        IncrementalIndexer(str(tmp_path / "fresh"), fmt="v1")


def test_auto_compaction_tiered_trigger(spark, tmp_path, oracle,
                                        monkeypatch):
    """A 20-generation v2 stream with compact_every=6 compacts
    automatically (generation count never exceeds the tier after a
    commit; merges are SIZE-TIERED — smallest generations first),
    answers the BM25 suite rank-identically to an UNCOMPACTED twin fed
    the same batches, and a torn mid-swap state (journal written,
    swap not applied) self-heals from the READ path."""
    from wiser_spark.streaming.incremental import IncrementalIndexer

    rows = make_corpus(200)
    cfg = IndexConfig(bm25=PARAMS, n_shards=3)
    d_auto = str(tmp_path / "auto")
    d_plain = str(tmp_path / "plain")
    ix_auto = IncrementalIndexer(d_auto, cfg, fmt="v2", compact_every=6)
    ix_plain = IncrementalIndexer(d_plain, cfg, fmt="v2")
    for b in range(20):
        batch = spark.createDataFrame(rows[b * 10 : (b + 1) * 10], SCHEMA)
        ix_auto.process_batch(batch, b)
        ix_plain.process_batch(batch, b)
        assert len(ix_auto._generations()) <= 6
    assert len(ix_plain._generations()) == 20
    idx_a = SegmentIndex(spark, d_auto)
    idx_p = SegmentIndex(spark, d_plain)
    assert idx_a.stats.n_docs == idx_p.stats.n_docs == 200
    assert idx_a.stats.avgdl == pytest.approx(idx_p.stats.avgdl, rel=1e-12)
    suite = [
        (["return"], False), (["return", "import"], False),
        (["def", "self", "return"], False), (["return", "import"], True),
        (["import", "return", "def"], True), (["zz_absent"], False),
    ]
    for terms, ph in suite:
        got_a = [tuple(r) for r in
                 idx_a.search(terms, k=10, is_phrase=ph).collect()]
        got_p = [tuple(r) for r in
                 idx_p.search(terms, k=10, is_phrase=ph).collect()]
        assert got_a == got_p, (terms, ph)
    # torn swap: stage + journal a merge of the two oldest remaining
    # generations, but "crash" before the swap applies (journal on
    # disk, manifest unflipped). READERS need no recovery: the
    # generations manifest still names the consistent pre-flip set, so
    # a plain SegmentIndex load answers identically WITHOUT touching
    # the journal (journal application is writer-only — the r04
    # high-severity reader/writer race is structurally closed). The
    # WRITER's next operation rolls the journal forward.
    import wiser_spark.streaming.incremental as incmod

    gens_before = ix_auto._generations()
    monkeypatch.setattr(incmod, "_apply_compaction_journal",
                        lambda *_: None)
    ix_auto.compact_generations(spark, gens_before[:2])
    monkeypatch.undo()
    assert os.path.exists(f"{d_auto}/compaction.json")  # torn state
    assert ix_auto._generations() == gens_before        # swap not applied
    idx_torn = SegmentIndex(spark, d_auto)  # reader: consistent, no heal
    assert os.path.exists(f"{d_auto}/compaction.json")  # untouched
    got = [tuple(r) for r in
           idx_torn.search(["return", "import"], k=10).collect()]
    want = [tuple(r) for r in
            idx_p.search(["return", "import"], k=10).collect()]
    assert got == want
    # writer-side recovery rolls the swap forward; the merged
    # generation installs under a FRESH id (MERGED_GEN_BASE namespace)
    # and the two merged-away generations leave the manifest
    incmod.recover_compaction(d_auto, sweep=True)
    assert not os.path.exists(f"{d_auto}/compaction.json")
    gens_after = ix_auto._generations()
    assert len(gens_after) == len(gens_before) - 1
    assert max(gens_after) >= incmod.MERGED_GEN_BASE
    idx_healed = SegmentIndex(spark, d_auto)
    got = [tuple(r) for r in
           idx_healed.search(["return", "import"], k=10).collect()]
    assert got == want


def test_stale_lock_stolen_by_rename(spark, tmp_path, monkeypatch):
    """A compaction.lock older than LOCK_STALE_S belongs to a dead
    process: recovery steals it (by rename — two stealers cannot both
    acquire) and applies the journal of a torn swap (merge staged under
    a fresh id, journal written, manifest unflipped)."""
    import time

    import wiser_spark.streaming.incremental as incmod
    from wiser_spark.streaming.incremental import IncrementalIndexer

    rows = make_corpus(60)
    cfg = IndexConfig(bm25=PARAMS, n_shards=3)
    d, d_twin = str(tmp_path / "torn"), str(tmp_path / "twin")
    ix, tw = IncrementalIndexer(d, cfg), IncrementalIndexer(d_twin, cfg)
    for b in range(3):
        batch = spark.createDataFrame(rows[b * 20:(b + 1) * 20], SCHEMA)
        ix.process_batch(batch, b)
        tw.process_batch(batch, b)
    # stage the merge of [0, 1] but "crash" before any apply
    monkeypatch.setattr(incmod, "recover_compaction", lambda *a, **k: None)
    ix.compact_generations(spark, [0, 1])
    monkeypatch.undo()
    assert os.path.exists(f"{d}/compaction.json")
    assert incmod.read_generations(d) == [0, 1, 2]
    lock = f"{d}/compaction.lock"
    with open(lock, "w"):
        pass
    old = time.time() - incmod.LOCK_STALE_S - 60
    os.utime(lock, (old, old))
    incmod.recover_compaction(d)
    assert not os.path.exists(f"{d}/compaction.json")  # applied
    assert not os.path.exists(lock)                    # released
    gens = incmod.read_generations(d)
    assert gens[0] == 2 and gens[1] >= incmod.MERGED_GEN_BASE
    assert len(gens) == 2
    idx, twin = SegmentIndex(spark, d), SegmentIndex(spark, d_twin)
    assert idx.stats.n_docs == twin.stats.n_docs == 60
    for terms, ph in [(["return"], False), (["return", "import"], True)]:
        got = [tuple(r) for r in
               idx.search(terms, k=10, is_phrase=ph).collect()]
        want = [tuple(r) for r in
                twin.search(terms, k=10, is_phrase=ph).collect()]
        assert got == want and got, (terms, ph)


def test_append_to_index_it_did_not_start_refused(spark, tmp_path):
    """An incremental indexer does not append to a batch build or to a
    compact_index output (no commits.json): its first publish would
    hide the built documents and reuse their ids. The refused index
    still answers all of its documents."""
    from wiser_spark.operators.mapside import write_index_mapside
    from wiser_spark.operators.segments import compact_index
    from wiser_spark.streaming.incremental import IncrementalIndexer

    rows = make_corpus(80, 7)
    cfg = IndexConfig(bm25=PARAMS, n_shards=2)
    d = str(tmp_path / "batch")
    docs = spark.createDataFrame(
        [(i, r["content"]) for i, r in enumerate(rows[:60])],
        "doc_id long, content string")
    write_index_mapside(docs, d, cfg)
    with pytest.raises(ValueError, match="commits.json"):
        IncrementalIndexer(d, cfg).process_batch(
            spark.createDataFrame(rows[60:], SCHEMA), 0)
    idx = SegmentIndex(spark, d)
    assert idx.stats.n_docs == 60
    eng = OracleEngine(PARAMS)
    for r in rows[:60]:
        eng.add_document(r["content"])
    got = [r["doc_id"] for r in idx.search(["return"], k=100).collect()]
    assert got == [i for i, _ in eng.search(["return"], k=100)]
    assert len(got) == eng.df("return") > 20

    stream, out = str(tmp_path / "stream"), str(tmp_path / "compacted")
    ix = IncrementalIndexer(stream, cfg)
    for b in range(2):
        ix.process_batch(
            spark.createDataFrame(rows[b * 30:(b + 1) * 30], SCHEMA), b)
    compact_index(spark, stream, out)
    with pytest.raises(ValueError, match="commits.json"):
        IncrementalIndexer(out, cfg)
    IncrementalIndexer(stream, cfg)  # the index it started still resumes


def test_empty_microbatch_fast_path(spark, tmp_path):
    """Empty micro-batches (routine on a long-running stream) commit
    with ONE cheap probe: no range-sort, no persist, no stats job —
    and dense docIDs continue unbroken through them."""
    import json

    from wiser_spark.streaming.incremental import IncrementalIndexer

    d = str(tmp_path / "idx")
    ix = IncrementalIndexer(d, IndexConfig(bm25=PARAMS, n_shards=2),
                            fmt="v2")
    empty = spark.createDataFrame([], SCHEMA)
    prep = ix.prepare_batch(empty)
    assert prep["n_docs"] == 0 and prep["pinned"] is None
    assert prep["docs0"] is None  # nothing staged, nothing pinned
    ix.process_batch(empty, 0)
    with open(f"{d}/commits.json") as f:
        assert json.load(f)["0"][:2] == [0, 0]
    # the empty first batch leaves a readable, empty index
    idx = SegmentIndex(spark, d)
    assert idx.stats.n_docs == 0
    assert idx.search(["return"]).count() == 0
    idx.close()
    ix.process_batch(empty, 0)  # a replay keeps it readable
    assert SegmentIndex(spark, d).search(["return"]).count() == 0
    rows = make_corpus(20)
    ix.process_batch(spark.createDataFrame(rows, SCHEMA), 1)
    idx = SegmentIndex(spark, d)
    assert idx.stats.n_docs == 20
    assert idx.search(["return"], k=5).count() > 0


def test_commit_failure_releases_pinned_layout(spark, tmp_path,
                                               monkeypatch):
    """A failed encode must unpersist the prepared slice's pinned
    shuffle layout (a retrying long-lived session would otherwise
    accumulate one pinned intermediate per failure)."""
    import wiser_spark.streaming.incremental as incmod
    from wiser_spark.streaming.incremental import IncrementalIndexer

    d = str(tmp_path / "idx")
    ix = IncrementalIndexer(d, IndexConfig(bm25=PARAMS, n_shards=2),
                            fmt="v2")
    df = spark.createDataFrame(make_corpus(15), SCHEMA)
    prep = ix.prepare_batch(df)
    pinned = prep["pinned"]
    assert pinned.is_cached

    def boom(*a, **k):
        raise RuntimeError("simulated encode failure")

    monkeypatch.setattr(incmod.IncrementalIndexer, "_encode_and_publish",
                        boom)
    with pytest.raises(RuntimeError, match="simulated"):
        ix.commit_prepared(spark, 0, prep)
    assert not pinned.is_cached
