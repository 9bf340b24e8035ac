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
    or shift docIDs (the commit log makes the sink idempotent)."""
    from wiser_spark.streaming.incremental import IncrementalIndexer

    rows = make_corpus(30)
    df = spark.createDataFrame(rows, SCHEMA)
    d = str(tmp_path / "idx")
    ix = IncrementalIndexer(d, IndexConfig(bm25=PARAMS, n_shards=2))
    ix.process_batch(df, 0)
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
    """compact_index on a v2 streaming index merges plain rows AND the
    sentinel doc-length rows AND both bloom sides into one row per
    (shard, term); the compacted index answers the full suite
    rank-identically, with bloom pruning active again."""
    from wiser_spark.operators.segments import (
        BLOOM_BEGIN_PREFIX,
        BLOOM_PREFIX,
        DOCLEN_TERM,
        compact_index,
    )

    out = str(tmp_path / "compacted_v2")
    compact_index(spark, streamed_v2, out)
    segs = spark.read.parquet(f"{out}/segments")
    per_key = (
        segs.groupBy("shard_id", "term").count()
        .agg({"count": "max"}).collect()[0][0]
    )
    assert per_key == 1  # sentinels, blooms, and terms all merged
    rows = segs.select("term").collect()
    terms = [r["term"] for r in rows]
    assert DOCLEN_TERM in terms
    n_end = sum(t.startswith(BLOOM_PREFIX) for t in terms)
    n_begin = sum(t.startswith(BLOOM_BEGIN_PREFIX) for t in terms)
    n_plain = sum(
        not t.startswith((BLOOM_PREFIX, BLOOM_BEGIN_PREFIX)) and t != DOCLEN_TERM
        for t in terms
    )
    assert n_end == n_begin == n_plain > 0  # both sides survived the merge
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


def _per_term_merge(rows: list[dict], nbytes: int) -> dict[int, list[dict]]:
    """Reference merge of generational segment rows: per shard, the
    merged sentinel first, then each term in order as the per-term
    encoders write it over its generations concatenated in docID order,
    followed by its end- and begin-bloom rows (every generation here
    carries both sides)."""
    import numpy as np

    from wiser_spark.functions.bloom import bloom_boxes_decode
    from wiser_spark.operators.segments import (
        BLOOM_PREFIXES,
        _encode_term_flat,
        bloom_row,
        decode_segment_row,
        doclen_sentinel_row,
    )

    by_key: dict[tuple[int, str], list[dict]] = {}
    for r in rows:
        by_key.setdefault((r["shard_id"], r["term"]), []).append(r)
    out: dict[int, list[dict]] = {}
    for (shard, term), parts in sorted(by_key.items()):
        if term.startswith(BLOOM_PREFIXES):
            continue
        if term == DOCLEN_TERM:
            sents = [decode_doclen_sentinel(r) for r in parts]
            out.setdefault(shard, []).append(doclen_sentinel_row(
                shard, np.concatenate([s[0] for s in sents]),
                np.concatenate([s[2] for s in sents]),
            ))
            continue
        dec = sorted(
            (decode_segment_row(r, with_positions=True, with_offsets=True)
             + (r["generation"],) for r in parts),
            key=lambda d: d[0][0],
        )
        out[shard].append(_encode_term_flat(
            shard, term, np.concatenate([d[0] for d in dec]),
            np.concatenate([d[1] for d in dec]),
            np.concatenate([p for d in dec for p in d[2]]),
            np.concatenate([o for d in dec for o in d[3]]),
        ))
        for pref in BLOOM_PREFIXES:
            side = {r["generation"]: r for r in by_key[(shard, pref + term)]}
            out[shard].append(bloom_row(shard, term, np.concatenate([
                bloom_boxes_decode(side[d[4]]["tfs_blob"], len(d[0]), nbytes)
                for d in dec
            ]), prefix=pref))
    return out


def test_stream_v2_compaction_byte_identical_to_per_term_merge(
    spark, streamed_v2
):
    """compact_segments over the v2 generations writes, shard by shard,
    exactly the rows of the per-term merge: sentinel first, then every
    term with both bloom sides, in term order."""
    import json

    from wiser_spark.operators.segments import compact_segments

    with open(f"{streamed_v2}/stats.json") as f:
        nbytes = json.load(f)["bloom"]["nbytes"]
    segs = read_segments(spark, streamed_v2)
    got: dict[int, list[dict]] = {}
    for r in compact_segments(segs, nbytes).collect():
        got.setdefault(r["shard_id"], []).append(r.asDict())
    want = _per_term_merge([r.asDict() for r in segs.collect()], nbytes)
    assert got == want
    assert all(rows[0]["term"] == DOCLEN_TERM for rows in got.values())


def test_compaction_drops_only_unaligned_blooms(spark, tmp_path):
    """A generation built without blooms leaves the bloom sides of the
    terms it shares with a bloomed generation unalignable: compaction
    drops exactly those terms' bloom rows and keeps the others'."""
    from pyspark.sql import functions as F

    from wiser_spark.operators.mapside import build_segments_mapside
    from wiser_spark.operators.postings import assign_doc_ids
    from wiser_spark.operators.segments import (
        BLOOM_PREFIXES,
        compact_segments,
    )
    from wiser_spark.sources.corpus import corpus_df

    docs = assign_doc_ids(corpus_df(spark, 90)).select("doc_id", "content")
    base = str(tmp_path / "segments")
    for g, (cond, blooms) in enumerate(
        [(F.col("doc_id") < 45, True), (F.col("doc_id") >= 45, False)]
    ):
        build_segments_mapside(
            docs.filter(cond), n_shards=2, with_blooms=blooms
        ).write.parquet(f"{base}/generation={g}")
    segs = spark.read.parquet(base)
    rows = [r.asDict() for r in segs.collect()]
    merged = compact_segments(segs).collect()
    terms_of = {
        g: {(r["shard_id"], r["term"]) for r in rows if r["generation"] == g}
        for g in (0, 1)
    }
    gen0_blooms = {
        (r["shard_id"], r["term"]): r["tfs_blob"] for r in rows
        if r["generation"] == 0 and r["term"].startswith(BLOOM_PREFIXES)
    }
    want = {
        key: blob for key, blob in gen0_blooms.items()
        if (key[0], key[1][1:]) not in terms_of[1]
    }
    got = {
        (r["shard_id"], r["term"]): r["tfs_blob"] for r in merged
        if r["term"].startswith(BLOOM_PREFIXES)
    }
    assert got == want
    assert 0 < len(want) < len(gen0_blooms)
    plain = {
        (r["shard_id"], r["term"]) for r in merged
        if not r["term"].startswith(BLOOM_PREFIXES)
    }
    assert plain == {
        k for g in (0, 1) for k in terms_of[g]
        if not k[1].startswith(BLOOM_PREFIXES)
    }


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
    """Resuming an index of another format would corrupt it (v1
    generations carry no sentinels / no lensum in the commit log); the
    constructor must refuse loudly — and the v1 streaming mode itself
    is gone."""
    import json

    from wiser_spark.streaming.incremental import IncrementalIndexer

    d = str(tmp_path / "idx")
    os.makedirs(d)
    with open(f"{d}/stats.json", "w") as f:
        json.dump({"format": "wiser-spark-segment-v1"}, f)
    with pytest.raises(ValueError, match="cannot resume"):
        IncrementalIndexer(d)
    with pytest.raises(ValueError, match="cannot resume"):
        IncrementalIndexer(d, fmt="v2")
    with open(f"{d}/stats.json", "w") as f:
        json.dump({"format": "wiser-spark-segment-v2-mapside"}, f)
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


def _torn_legacy_state(spark, tmp_path, monkeypatch, n_docs=60):
    """A 3-generation v2 index with a LEGACY-format torn compaction:
    staged merge of generations [0, 1] on disk, journal whose target
    REUSES live id 1 (pre-round-5 writers did this), no generations
    manifest (legacy indexes predate it). Returns (index_dir, twin_dir,
    indexer)."""
    import json
    import shutil

    import wiser_spark.streaming.incremental as incmod
    from wiser_spark.streaming.incremental import IncrementalIndexer

    rows = make_corpus(n_docs)
    cfg = IndexConfig(bm25=PARAMS, n_shards=3)
    d = str(tmp_path / "legacy")
    d_twin = str(tmp_path / "twin")
    ix = IncrementalIndexer(d, cfg, fmt="v2")
    tw = IncrementalIndexer(d_twin, cfg, fmt="v2")
    step = n_docs // 3
    for b in range(3):
        batch = spark.createDataFrame(
            rows[b * step : (b + 1) * step], SCHEMA
        )
        ix.process_batch(batch, b)
        tw.process_batch(batch, b)
    # stage the merge of [0, 1] but "crash" before any apply
    monkeypatch.setattr(incmod, "recover_compaction", lambda *a, **k: None)
    ix.compact_generations(spark, [0, 1])
    monkeypatch.undo()
    assert os.path.exists(f"{d}/compaction.json")
    # rewrite the journal into the legacy shape: target = max of the
    # merged subset (IN the remove list), and drop the manifest (legacy
    # writers never produced one)
    with open(f"{d}/compaction.json") as f:
        j = json.load(f)
    src = f"{d}/segments/generation={j['target']}"
    if os.path.isdir(src):  # partially applied? ensure torn pre-install
        shutil.rmtree(src)
    j["target"] = 1
    with open(f"{d}/compaction.json", "w") as f:
        json.dump(j, f)
    os.remove(f"{d}/generations.json")
    return d, d_twin, ix


def test_legacy_journal_recovery_replaces_target(spark, tmp_path,
                                                 monkeypatch):
    """A legacy journal's target is a LIVE generation id: recovery must
    replace that dir with the staged merge — treating 'dst exists' as
    'already installed' would silently drop the staged merge and then
    delete generation 0's documents."""
    import wiser_spark.streaming.incremental as incmod

    d, d_twin, ix = _torn_legacy_state(spark, tmp_path, monkeypatch)
    incmod.recover_compaction(d, sweep=True)
    assert not os.path.exists(f"{d}/compaction.json")
    gens = sorted(
        int(p.split("=", 1)[1])
        for p in os.listdir(f"{d}/segments")
        if p.startswith("generation=")
    )
    assert gens == [1, 2]  # 0 merged away, 1 REPLACED by the merge
    idx = SegmentIndex(spark, d)
    twin = SegmentIndex(spark, d_twin)
    assert idx.stats.n_docs == twin.stats.n_docs == 60
    for terms, ph in [(["return"], False), (["return", "import"], False),
                      (["return", "import"], True)]:
        got = [tuple(r) for r in
               idx.search(terms, k=10, is_phrase=ph).collect()]
        want = [tuple(r) for r in
                twin.search(terms, k=10, is_phrase=ph).collect()]
        assert got == want and got, (terms, ph)


def test_legacy_pre_manifest_torn_index_heals_on_read(spark, tmp_path,
                                                      monkeypatch):
    """A pre-manifest index with a pending journal has NO consistent
    directory fallback: the read path must roll the journal forward
    (lock-serialized) instead of silently listing a torn directory —
    and must fail LOUDLY when another process holds the lock."""
    d, d_twin, ix = _torn_legacy_state(spark, tmp_path, monkeypatch)
    # a held (fresh) lock: reading must refuse rather than return a
    # silently incomplete index
    lock = f"{d}/compaction.lock"
    with open(lock, "w"):
        pass
    with pytest.raises(RuntimeError, match="compaction.lock"):
        SegmentIndex(spark, d)
    os.remove(lock)
    idx = SegmentIndex(spark, d)  # heals via lock-serialized recovery
    assert not os.path.exists(f"{d}/compaction.json")
    twin = SegmentIndex(spark, d_twin)
    got = [tuple(r) for r in idx.search(["return", "import"], k=10).collect()]
    want = [tuple(r) for r in
            twin.search(["return", "import"], k=10).collect()]
    assert got == want and got


def test_stale_lock_stolen_by_rename(spark, tmp_path, monkeypatch):
    """A compaction.lock older than LOCK_STALE_S belongs to a dead
    process: recovery steals it (by rename — two stealers cannot both
    acquire) and applies the journal."""
    import time

    import wiser_spark.streaming.incremental as incmod

    d, d_twin, ix = _torn_legacy_state(spark, tmp_path, monkeypatch)
    lock = f"{d}/compaction.lock"
    with open(lock, "w"):
        pass
    old = time.time() - incmod.LOCK_STALE_S - 60
    os.utime(lock, (old, old))
    incmod.recover_compaction(d)
    assert not os.path.exists(f"{d}/compaction.json")  # applied
    assert not os.path.exists(lock)                    # released


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
