"""Checkpoint/resume: stages skip when complete, rebuild after a 'kill',
and the resumed index is logically identical (FIXTURES.md §3
``resume_manifest``)."""

import json
import os
import shutil

import pytest

from wiser_spark.config import BM25Params, IndexConfig
from wiser_spark.operators.segments import SegmentIndex
from wiser_spark.plans.build import IndexBuildPipeline
from wiser_spark.sources.corpus import corpus_df

PARAMS = BM25Params(1.2, 0.75)


def _mtimes(work_dir, stage):
    d = os.path.join(work_dir, stage)
    return {
        f: os.path.getmtime(os.path.join(d, f))
        for f in os.listdir(d)
        if not f.startswith(".")
    }


@pytest.fixture(scope="module")
def work_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("pipeline"))
    pipe = IndexBuildPipeline(
        spark, corpus_df(spark, 80), d,
        IndexConfig(bm25=PARAMS, n_shards=3), source_fingerprint="corpus80-v1",
    )
    pipe.run()
    return d


def test_pipeline_dictionary_matches_write_index(spark, work_dir, tmp_path):
    """The reader's dictionary of a pipeline build is that of
    write_index for the same postings and n_shards, prefetch fields
    included; neither writer stores a dictionary or records n_terms,
    and the reader counts the vocabulary."""
    from wiser_spark.operators.docstats import corpus_stats
    from wiser_spark.operators.postings import build_dictionary
    from wiser_spark.operators.segments import write_index

    def read(stage):
        return spark.read.parquet(os.path.join(work_dir, stage))

    d = str(tmp_path / "write_index")
    write_index(
        read("postings"), read("docstats"), build_dictionary(read("postings")),
        corpus_stats(read("docstats")), d,
        IndexConfig(bm25=PARAMS, n_shards=3),
    )
    pipe = SegmentIndex(spark, work_dir).warmup()
    got = sorted(map(tuple, pipe.dictionary.collect()))
    want = sorted(map(tuple, SegmentIndex(spark, d).dictionary.collect()))
    assert got == want and got
    assert pipe.dictionary.columns == [
        "term", "df", "bytes_docid_tf", "prefetch_pages"
    ]
    assert pipe.meta["n_terms"] == len(got)
    for index_dir in (work_dir, d):
        assert not os.path.exists(os.path.join(index_dir, "dictionary"))
        with open(os.path.join(index_dir, "stats.json")) as f:
            assert "n_terms" not in json.load(f)


def _results(spark, work_dir):
    idx = SegmentIndex(spark, work_dir)
    return [
        (r["rank"], r["doc_id"], round(r["score"], 9))
        for r in idx.search(["return", "import"], k=10).collect()
    ]


def test_manifest_written(work_dir):
    with open(os.path.join(work_dir, "manifest.json")) as f:
        m = json.load(f)
    assert set(m) == {"docs", "postings", "docstats", "segments"}
    for stage, e in m.items():
        assert e["status"] == "complete"
        assert e["rows"] > 0 and e["bytes"] > 0
        assert len(e["files"]) >= 1  # per-partition lineage present


def test_rerun_skips_all_stages(spark, work_dir):
    before = {s: _mtimes(work_dir, s) for s in ("docs", "postings", "segments")}
    pipe = IndexBuildPipeline(
        spark, corpus_df(spark, 80), work_dir,
        IndexConfig(bm25=PARAMS, n_shards=3), source_fingerprint="corpus80-v1",
    )
    pipe.run()
    after = {s: _mtimes(work_dir, s) for s in ("docs", "postings", "segments")}
    assert before == after  # nothing rewritten


def test_resume_after_kill_rebuilds_only_downstream(spark, work_dir):
    want = _results(spark, work_dir)
    # simulate a crash mid segment-merge: segments output lost
    shutil.rmtree(os.path.join(work_dir, "segments"))
    mpath = os.path.join(work_dir, "manifest.json")
    with open(mpath) as f:
        m = json.load(f)
    m["segments"]["status"] = "pending"
    with open(mpath, "w") as f:
        json.dump(m, f)

    before_docs = _mtimes(work_dir, "docs")
    before_postings = _mtimes(work_dir, "postings")
    IndexBuildPipeline(
        spark, corpus_df(spark, 80), work_dir,
        IndexConfig(bm25=PARAMS, n_shards=3), source_fingerprint="corpus80-v1",
    ).run()
    assert _mtimes(work_dir, "docs") == before_docs        # upstream skipped
    assert _mtimes(work_dir, "postings") == before_postings
    assert _results(spark, work_dir) == want               # identical answers


def test_changed_input_invalidates_chain(spark, work_dir, tmp_path):
    d = str(tmp_path / "p2")
    shutil.copytree(work_dir, d)
    pipe = IndexBuildPipeline(
        spark, corpus_df(spark, 80), d,
        IndexConfig(bm25=PARAMS, n_shards=3),
        source_fingerprint="corpus80-v2-CHANGED",
    )
    before = _mtimes(d, "docs")
    pipe.run()
    assert _mtimes(d, "docs") != before  # fingerprint change forces rebuild


def test_changed_docstats_reruns_segments(spark, work_dir, tmp_path):
    """The segments stage writes each shard's doc-length sentinel from
    the docstats output, so a changed docstats fingerprint re-runs it
    (a work dir whose segments predate the sentinels is rebuilt too);
    upstream postings stay skipped and the answers are unchanged."""
    d = str(tmp_path / "p3")
    shutil.copytree(work_dir, d)
    want = _results(spark, d)
    mpath = os.path.join(d, "manifest.json")
    with open(mpath) as f:
        m = json.load(f)
    m["docstats"]["output_fingerprint"] = "changed-docstats"
    with open(mpath, "w") as f:
        json.dump(m, f)
    before_postings = _mtimes(d, "postings")
    before_segments = _mtimes(d, "segments")
    IndexBuildPipeline(
        spark, corpus_df(spark, 80), d,
        IndexConfig(bm25=PARAMS, n_shards=3), source_fingerprint="corpus80-v1",
    ).run()
    assert _mtimes(d, "postings") == before_postings
    assert _mtimes(d, "segments") != before_segments
    assert _results(spark, d) == want


# ---------------------------------------------------- batched map-side build
def test_batched_mapside_build_resumable_and_rank_identical(
    spark, tmp_path, monkeypatch
):
    """build_index_mapside_batched: md5 batch split is deterministic
    (replicated in pure python), a crash mid-build resumes from the
    commit log without redoing committed batches, per-batch lineage
    lands in manifest.json, and the compacted result is rank-identical
    to the oracle fed in the same global order."""
    import hashlib

    from wiser_spark.oracle import OracleEngine
    from wiser_spark.plans.build import build_index_mapside_batched
    from wiser_spark.sources.corpus import make_corpus
    from wiser_spark.streaming.incremental import IncrementalIndexer

    params = BM25Params(0.9, 0.4)
    cfg = IndexConfig(bm25=params, n_shards=2)
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
    oracle = OracleEngine(params)
    for r in ordered:
        oracle.add_document(r["content"])

    docs = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, "
        "content string"
    )
    d = str(tmp_path / "bidx")

    # crash after two successful batches (the pipelined build commits
    # through commit_prepared — the durable commit point; prepares are
    # in-memory only, so crashing here models losing the process)
    real = IncrementalIndexer.commit_prepared
    calls = {"n": 0}

    def flaky(self, spark_, batch_id, prep, **kw):
        if calls["n"] == 2:
            raise RuntimeError("simulated executor loss")
        calls["n"] += 1
        return real(self, spark_, batch_id, prep, **kw)

    monkeypatch.setattr(IncrementalIndexer, "commit_prepared", flaky)
    with pytest.raises(RuntimeError, match="simulated"):
        build_index_mapside_batched(
            spark, docs, d, cfg, n_batches=n_batches
        )
    committed = set(json.load(open(f"{d}/commits.json")))
    assert committed == {"0", "1"}
    monkeypatch.setattr(IncrementalIndexer, "commit_prepared", real)

    calls["n"] = 0
    counted = IncrementalIndexer.commit_prepared

    def counting(self, spark_, batch_id, prep, **kw):
        calls["n"] += 1
        return counted(self, spark_, batch_id, prep, **kw)

    monkeypatch.setattr(IncrementalIndexer, "commit_prepared", counting)
    out = str(tmp_path / "compacted")
    manifest = build_index_mapside_batched(
        spark, docs, d, cfg, n_batches=n_batches, compact_to=out
    )
    # resume processed ONLY the two uncommitted batches; the manifest
    # accumulates all four entries (0-1 persisted by the crashed run),
    # each carrying per-partition lineage + metrics
    assert calls["n"] == 2
    assert set(manifest.entries) == {f"batch_{b}" for b in range(4)}
    for e in manifest.entries.values():
        assert e.rows > 0 and e.bytes > 0 and e.files and e.wall_s >= 0

    for terms, ph in [(["return"], False), (["return", "import"], False),
                      (["return", "import"], True)]:
        want = oracle.search(terms, k=10, is_phrase=ph)
        for idx_dir in (d, out):
            got = SegmentIndex(spark, idx_dir).search(
                terms, k=10, is_phrase=ph).collect()
            assert [r["doc_id"] for r in got] == [x for x, _ in want]
            for r, (_, s) in zip(got, want):
                assert r["score"] == pytest.approx(s, rel=1e-12)

    # idempotent: a third run has nothing to do and changes nothing
    m2 = build_index_mapside_batched(spark, docs, d, cfg,
                                     n_batches=n_batches)
    assert calls["n"] == 2  # no batch re-processed
    assert set(m2.entries) == set(manifest.entries)
    # completed build cleans the staged bucketed corpus
    assert not os.path.exists(f"{d}/_batched_source")
    # guard rails: a different slice count on resume would pair stale
    # generations with differently-bucketed new ones — refused; and a
    # lake-assigned doc_id cannot be honored — refused
    with pytest.raises(ValueError, match="resume mismatch"):
        build_index_mapside_batched(spark, docs, d, cfg, n_batches=8)
    from pyspark.sql import functions as F
    with pytest.raises(ValueError, match="doc_id"):
        build_index_mapside_batched(
            spark, docs.withColumn("doc_id", F.lit(1)),
            str(tmp_path / "other"), cfg, n_batches=2,
        )
