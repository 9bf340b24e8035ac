"""Checkpoint/resume of the one resumable build,
``build_index_mapside_batched``: a crashed build resumes from the
commit log without redoing committed batches and answers like the
oracle, whether it assigns dense ids or keeps a source's own
``doc_id``; a resume over changed parameters or input is refused
(FIXTURES.md §3 ``resume_manifest``)."""

import json
import os
import shutil

import pytest

from wiser_spark.config import BM25Params, IndexConfig
from wiser_spark.operators.segments import (
    DOCLEN_TERM,
    SegmentIndex,
    decode_doclen_sentinel,
    read_segments,
)
from wiser_spark.oracle import OracleEngine
from wiser_spark.plans.build import build_index_mapside_batched
from wiser_spark.sources.corpus import corpus_df, make_corpus
from wiser_spark.streaming.incremental import IncrementalIndexer

PARAMS = BM25Params(0.9, 0.4)
CFG = IndexConfig(bm25=PARAMS, n_shards=2)
SCHEMA = "repo string, path string, commit string, lang string, content string"
SUITE = [(["return"], False), (["return", "import"], False),
         (["return", "import"], True)]


def _crash_after(monkeypatch, n_commits: int) -> None:
    """Make the build fail after ``n_commits`` committed batches (the
    pipelined build commits through commit_prepared, the durable commit
    point; prepares are in memory only, so this models losing the
    process)."""
    real = IncrementalIndexer.commit_prepared
    calls = {"n": 0}

    def flaky(self, spark_, batch_id, prep, **kw):
        if calls["n"] == n_commits:
            raise RuntimeError("simulated executor loss")
        calls["n"] += 1
        return real(self, spark_, batch_id, prep, **kw)

    monkeypatch.setattr(IncrementalIndexer, "commit_prepared", flaky)


def _record_commits(monkeypatch) -> list[int]:
    """The batch ids commit_prepared is called with, from now on."""
    real = IncrementalIndexer.commit_prepared
    calls: list[int] = []

    def counting(self, spark_, batch_id, prep, **kw):
        calls.append(batch_id)
        return real(self, spark_, batch_id, prep, **kw)

    monkeypatch.setattr(IncrementalIndexer, "commit_prepared", counting)
    return calls


def _sentinel_doc_ids(spark, d):
    rows = read_segments(spark, d).filter(f"term = '{DOCLEN_TERM}'").collect()
    return sorted(
        i for r in rows for i in decode_doclen_sentinel(r.asDict())[0].tolist()
    )


# sparse kept ids: doc i of the corpus carries doc_id 3*i + 7
def _kept_id(i: int) -> int:
    return 3 * i + 7


@pytest.fixture(scope="module")
def kept(spark, tmp_path_factory):
    """A source with its own sparse doc_id, built in 3 batches: the
    first run crashes after one committed batch, the second resumes and
    compacts. Returns (generations dir, compacted dir, rows, commits
    after the crash, batches the resume committed)."""
    base = tmp_path_factory.mktemp("kept")
    d, out = str(base / "gens"), str(base / "compacted")
    rows = make_corpus(120, seed=11)
    src = spark.createDataFrame(
        [dict(r, doc_id=_kept_id(i)) for i, r in enumerate(rows)],
        SCHEMA + ", doc_id long",
    )
    with pytest.MonkeyPatch.context() as mp:
        _crash_after(mp, 1)
        with pytest.raises(RuntimeError, match="simulated"):
            build_index_mapside_batched(spark, src, d, CFG, n_batches=3)
    with open(f"{d}/commits.json") as f:
        crashed = json.load(f)
    with pytest.MonkeyPatch.context() as mp:
        resumed = _record_commits(mp)
        build_index_mapside_batched(spark, src, d, CFG, n_batches=3,
                                    compact_to=out)
    return d, out, rows, crashed, resumed


def test_kept_doc_id_build_resumes_rank_identical(spark, kept):
    """A source's own sparse doc_id survives a crash and resume: the
    slices are equal-width id ranges committed in id order, the resume
    commits only the two missing batches, the commit log records each
    batch so the next free id is past its largest, and the top-10
    results before and after compact_to are those of the oracle under
    the kept ids."""
    d, out, rows, crashed, resumed = kept
    ids = [_kept_id(i) for i in range(len(rows))]
    assert set(crashed) == {"0"} and resumed == [1, 2]
    with open(f"{d}/commits.json") as f:
        commits = json.load(f)
    width = (ids[-1] - ids[0]) // 3 + 1
    for b in range(3):
        mine = [i for i in ids if (i - ids[0]) // width == b]
        start, n, _ = commits[str(b)]
        assert n == len(mine) and start + n == max(mine) + 1
    assert not os.path.exists(f"{d}/_batched_source")
    oracle = OracleEngine(PARAMS)
    for r in rows:  # oracle id i <-> kept id ids[i]
        oracle.add_document(r["content"])
    for idx_dir in (d, out):
        assert _sentinel_doc_ids(spark, idx_dir) == ids
        idx = SegmentIndex(spark, idx_dir)
        assert idx.stats.n_docs == len(rows)
        assert idx.stats.avgdl == pytest.approx(oracle.avgdl, rel=1e-12)
        for terms, ph in SUITE:
            want = oracle.search(terms, k=10, is_phrase=ph)
            got = idx.search(terms, k=10, is_phrase=ph).collect()
            assert want
            assert [r["doc_id"] for r in got] == [ids[x] for x, _ in want]
            for r, (_, s) in zip(got, want):
                assert r["score"] == pytest.approx(s, rel=1e-12)


def test_manifest_written(kept):
    """manifest.json holds one complete entry per batch, each with its
    rows, bytes and per-partition file lineage, whether the batch was
    committed by the crashed run or by the resume."""
    with open(os.path.join(kept[0], "manifest.json")) as f:
        m = json.load(f)
    assert set(m) == {"batch_0", "batch_1", "batch_2"}
    for e in m.values():
        assert e["status"] == "complete"
        assert e["rows"] > 0 and e["bytes"] > 0
        assert len(e["files"]) >= 1


def test_assigned_ids_follow_kept_ids_and_lower_kept_batch_refused(
    spark, kept, tmp_path
):
    """A later assigned-id batch continues past the largest kept id,
    reusing none; a kept-id batch below a committed range is refused
    before it writes anything."""
    d = str(tmp_path / "gens")
    shutil.copytree(kept[0], d)
    ids = [_kept_id(i) for i in range(len(kept[2]))]
    ix = IncrementalIndexer(d, CFG)
    ix.process_batch(spark.createDataFrame(make_corpus(5, seed=3), SCHEMA), 3)
    assert _sentinel_doc_ids(spark, d) == ids + [ids[-1] + 1 + i
                                                 for i in range(5)]
    with open(f"{d}/commits.json") as f:
        before = json.load(f)
    low = spark.createDataFrame(
        [dict(r, doc_id=100 + i) for i, r in enumerate(make_corpus(3))],
        SCHEMA + ", doc_id long",
    )
    with pytest.raises(ValueError, match="below the next free id"):
        ix.process_batch(low, 4)
    with open(f"{d}/commits.json") as f:
        assert json.load(f) == before
    assert not os.path.exists(f"{d}/segments/generation=4")
    assert SegmentIndex(spark, d).stats.n_docs == len(ids) + 5


@pytest.mark.parametrize("kept_first", [False, True])
def test_resume_mismatch_when_doc_id_added_or_dropped(
    spark, tmp_path, monkeypatch, kept_first
):
    """A resume that adds or drops the doc_id column would mix kept and
    assigned ids in one index: refused."""
    rows = make_corpus(30)
    plain = spark.createDataFrame(rows, SCHEMA)
    with_ids = spark.createDataFrame(
        [dict(r, doc_id=2 * i) for i, r in enumerate(rows)],
        SCHEMA + ", doc_id long",
    )
    first, second = (with_ids, plain) if kept_first else (plain, with_ids)
    d = str(tmp_path / "gens")
    _crash_after(monkeypatch, 1)
    with pytest.raises(RuntimeError, match="simulated"):
        build_index_mapside_batched(spark, first, d, CFG, n_batches=2)
    with open(f"{d}/batched_build.json") as f:
        assert json.load(f)["keep_doc_id"] is kept_first
    with pytest.raises(ValueError, match="resume mismatch"):
        build_index_mapside_batched(spark, second, d, CFG, n_batches=2)


def test_changed_input_invalidates_chain(spark, tmp_path, monkeypatch):
    """A parquet source whose files change between a crashed run and
    its resume would pair the committed batches of the old input with
    slices of the new one: the resume is refused."""
    src_dir = str(tmp_path / "src")
    corpus_df(spark, 40).write.parquet(src_dir)
    d = str(tmp_path / "gens")
    _crash_after(monkeypatch, 1)
    with pytest.raises(RuntimeError, match="simulated"):
        build_index_mapside_batched(
            spark, spark.read.parquet(src_dir), d, CFG, n_batches=2
        )
    monkeypatch.undo()
    corpus_df(spark, 40, seed=43).write.mode("overwrite").parquet(src_dir)
    with pytest.raises(ValueError, match="resume mismatch"):
        build_index_mapside_batched(
            spark, spark.read.parquet(src_dir), d, CFG, n_batches=2
        )
    with open(f"{d}/commits.json") as f:
        assert set(json.load(f)) == {"0"}


# ---------------------------------------------------- assigned dense ids
def test_batched_mapside_build_resumable_and_rank_identical(
    spark, tmp_path, monkeypatch
):
    """build_index_mapside_batched without a source doc_id: the md5
    batch split is deterministic (replicated in pure python), a crash
    mid-build resumes from the commit log without redoing committed
    batches, per-batch lineage lands in manifest.json, and the result
    before and after compact_to is rank-identical to the oracle fed in
    the same global order."""
    import hashlib

    rows = make_corpus(200, seed=7)
    n_batches = 4

    # pure-python mirror of batch_id_col + per-batch assign_doc_ids
    def bucket(r):
        key = "\x00".join((r["repo"], r["path"], r["commit"]))
        return int(hashlib.md5(key.encode()).hexdigest()[:8], 16) % n_batches

    ordered = []
    for b in range(n_batches):
        batch = [r for r in rows if bucket(r) == b]
        batch.sort(key=lambda r: (r["repo"], r["path"], r["commit"]))
        ordered.extend(batch)
    oracle = OracleEngine(PARAMS)
    for r in ordered:
        oracle.add_document(r["content"])

    docs = spark.createDataFrame(rows, SCHEMA)
    d = str(tmp_path / "bidx")
    _crash_after(monkeypatch, 2)
    with pytest.raises(RuntimeError, match="simulated"):
        build_index_mapside_batched(spark, docs, d, CFG, n_batches=n_batches)
    with open(f"{d}/commits.json") as f:
        assert set(json.load(f)) == {"0", "1"}
    monkeypatch.undo()

    calls = _record_commits(monkeypatch)
    out = str(tmp_path / "compacted")
    manifest = build_index_mapside_batched(
        spark, docs, d, CFG, n_batches=n_batches, compact_to=out
    )
    # resume processed ONLY the two uncommitted batches; the manifest
    # accumulates all four entries (0-1 persisted by the crashed run),
    # each carrying per-partition lineage + metrics
    assert calls == [2, 3]
    assert set(manifest.entries) == {f"batch_{b}" for b in range(4)}
    for e in manifest.entries.values():
        assert e.rows > 0 and e.bytes > 0 and e.files and e.wall_s >= 0

    for terms, ph in SUITE:
        want = oracle.search(terms, k=10, is_phrase=ph)
        for idx_dir in (d, out):
            got = SegmentIndex(spark, idx_dir).search(
                terms, k=10, is_phrase=ph).collect()
            assert [r["doc_id"] for r in got] == [x for x, _ in want]
            for r, (_, s) in zip(got, want):
                assert r["score"] == pytest.approx(s, rel=1e-12)

    # idempotent: a third run has nothing to do and changes nothing
    m2 = build_index_mapside_batched(spark, docs, d, CFG,
                                     n_batches=n_batches)
    assert calls == [2, 3]  # no batch re-processed
    assert set(m2.entries) == set(manifest.entries)
    # completed build cleans the staged bucketed corpus
    assert not os.path.exists(f"{d}/_batched_source")
    # guard rail: a different slice count on resume would pair stale
    # generations with differently-bucketed new ones — refused
    with pytest.raises(ValueError, match="resume mismatch"):
        build_index_mapside_batched(spark, docs, d, CFG, n_batches=8)
