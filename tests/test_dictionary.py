"""The term dictionary is derived by the reader: ``SegmentIndex`` builds
it from the live segments (``dictionary_from_segments``), no writer
stores it, and a ``dictionary/`` table planted beside the segments is
never opened."""

import contextlib
import importlib.util
import io
import json
import os
import shutil

import pytest

from wiser_spark.config import BM25Params, IndexConfig
from wiser_spark.operators import segments as segmod
from wiser_spark.operators.mapside import write_index_mapside
from wiser_spark.operators.segments import (
    SegmentIndex,
    dictionary_from_segments,
    read_segments,
    write_stats,
    write_table,
)
from wiser_spark.oracle import OracleEngine
from wiser_spark.sources.corpus import make_corpus
from wiser_spark.streaming.incremental import IncrementalIndexer

PARAMS = BM25Params(1.2, 0.75)
CFG = IndexConfig(bm25=PARAMS, n_shards=3)
SCHEMA = "repo string, path string, commit string, lang string, content string"
BATCHES = ((0, 50), (50, 100), (100, 150))
ROWS = make_corpus(180, 11)
QLOG = [
    (0, ["return"], False),
    (1, ["return", "import"], False),
    (2, ["def", "self", "return"], False),
    (3, ["if", "else"], True),
    (4, ["return", "zz_absent_zz"], False),
]


def _digest_module():
    spec = importlib.util.spec_from_file_location(
        "segment_digest",
        os.path.join(os.path.dirname(__file__), "..", "scripts",
                     "segment_digest.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _stream(spark, d) -> None:
    ix = IncrementalIndexer(d, CFG)
    for b, (lo, hi) in enumerate(BATCHES):
        ix.process_batch(spark.createDataFrame(ROWS[lo:hi], SCHEMA), b)


def _answers(spark, d) -> tuple:
    idx = SegmentIndex(spark, d).warmup()
    try:
        return (
            [tuple(r) for r in idx.search_batch(QLOG, k=10).collect()],
            sorted(tuple(r) for r in idx.term_prefix("re").collect()),
            idx.meta["n_terms"],
        )
    finally:
        idx.close()


def _oracle(n_docs: int) -> OracleEngine:
    eng = OracleEngine(PARAMS)
    for row in ROWS[:n_docs]:
        eng.add_document(row["content"])
    return eng


@pytest.fixture(scope="module")
def stream(spark, tmp_path_factory):
    """A 3-generation streaming index of ROWS[:150] and a copy of it
    compacted in place by compact_now."""
    base = tmp_path_factory.mktemp("dictionary")
    out = {"flush": str(base / "flush"), "compact_now": str(base / "now")}
    _stream(spark, out["flush"])
    shutil.copytree(out["flush"], out["compact_now"])
    IncrementalIndexer(out["compact_now"], CFG).compact_now(spark)
    return out


def _plant_stale_dictionary(spark, d) -> None:
    """What an older writer left, but wrong: every df off by one, a term
    the segments do not hold, and a stale n_terms in stats.json."""
    rows = [(t + "_gone" if i == 0 else t, df + 1, b, p) for i, (t, df, b, p)
            in enumerate(map(tuple, dictionary_from_segments(
                read_segments(spark, d)).collect()))]
    write_table(spark.createDataFrame(
        rows, "term string, df int, bytes_docid_tf long, prefetch_pages int"
    ), f"{d}/dictionary")
    with open(f"{d}/stats.json") as f:
        meta = json.load(f)
    meta["n_terms"] = 7
    write_stats(d, meta)


@pytest.mark.parametrize("layout", ["flush", "compact_now"])
def test_reader_dictionary_matches_oracle_and_ignores_stored_one(
    spark, stream, layout, tmp_path
):
    """doc_freqs equals the oracle's df for every term of a 3-generation
    streaming index and of its compact_now; a planted stale
    ``dictionary/`` (and a stale n_terms in stats.json) changes no
    answer and not ``meta["n_terms"]``."""
    oracle = _oracle(150)
    vocab = sorted(oracle.index)
    idx = SegmentIndex(spark, stream[layout])
    assert idx.doc_freqs(vocab) == [oracle.df(t) for t in vocab]
    assert idx.meta["n_terms"] == len(vocab)
    idx.close()
    d = str(tmp_path / "planted")
    shutil.copytree(stream[layout], d)
    want = _answers(spark, d)
    _plant_stale_dictionary(spark, d)
    assert _answers(spark, d) == want
    idx = SegmentIndex(spark, d)
    assert idx.doc_freqs(vocab + ["zz_absent_zz"]) == [
        oracle.df(t) for t in vocab] + [0]
    idx.close()


def _jobs_and_tasks(spark, fn) -> tuple[int, int]:
    """Spark jobs, and tasks those jobs completed, while ``fn`` ran."""
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    tracker = sc.statusTracker()
    bus.waitUntilEmpty()
    before = set(tracker.getJobIdsForGroup(None) or [])
    fn()
    bus.waitUntilEmpty()
    jobs = set(tracker.getJobIdsForGroup(None) or []) - before
    tasks = 0
    for j in jobs:
        for s in tracker.getJobInfo(j).stageIds:
            info = tracker.getStageInfo(s)
            tasks += info.numCompletedTasks if info else 0
    return len(jobs), tasks


def test_flush_cost_independent_of_live_generations(spark, tmp_path):
    """A flush of the same 10-doc batch runs as many Spark jobs and
    tasks with 4 live generations as with 1: it encodes the batch and
    commits, and reads nothing of the generations already there."""
    ix = IncrementalIndexer(str(tmp_path / "idx"), CFG, compact_every=None)
    rows = ROWS[:10]

    def flush(b):
        return _jobs_and_tasks(spark, lambda: ix.process_batch(
            spark.createDataFrame(rows, SCHEMA), b))

    flush(0)
    with_one = flush(1)  # 1 live generation before the flush
    flush(2)
    flush(3)
    with_four = flush(4)  # 4 live generations before the flush
    assert with_one == with_four and with_one[0] >= 1


def test_segment_digest_derives_the_written_dictionary(spark, stream, tmp_path):
    """scripts/segment_digest.py prints, for an index without a
    ``dictionary/`` table, a dictionary line derived from the live
    segments with pyarrow that equals the digest of
    dictionary_from_segments written as a table."""
    mod = _digest_module()
    assert mod.PREFETCH_PAGE_BYTES == segmod.PREFETCH_PAGE_BYTES
    assert mod.DOCLEN_TERM == segmod.DOCLEN_TERM
    d = str(tmp_path / "mapside")
    docs = spark.createDataFrame(
        [(i, r["content"]) for i, r in enumerate(make_corpus(300))],
        "doc_id long, content string",
    )
    # 1 shard: df past one 128-posting frame, so prefetch pages vary
    write_index_mapside(docs, d, IndexConfig(bm25=PARAMS, n_shards=1))
    for index_dir in (d, stream["flush"], stream["compact_now"]):
        assert not os.path.exists(f"{index_dir}/dictionary")
        written = str(tmp_path / "written" / os.path.basename(index_dir))
        write_table(dictionary_from_segments(
            read_segments(spark, index_dir)), written)
        want = mod.table_digest(written)
        assert mod.derived_dictionary_digest(index_dir) == want
        assert want[0] > 100
        out = io.StringIO()
        with contextlib.redirect_stdout(out):
            mod.main(index_dir)
        assert f"dictionary rows={want[0]} sha1={want[1]}" in out.getvalue()
