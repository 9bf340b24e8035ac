"""Index table storage: every writer goes through ``segments.write_table``
(zstd pages, front-coded terms) and stores only the segments, no
``dictionary/`` or ``dictionary_deltas/`` table; tables written snappy
with v1 pages still read and compact to the rows of a fresh build;
unreadable index metadata raises instead of reading as absent."""

import importlib.util
import os

import pyarrow.parquet as pq
import pytest

import wiser_spark.streaming.incremental as incmod
from wiser_spark.config import BM25Params, IndexConfig
from wiser_spark.operators.docstats import build_docstats, corpus_stats
from wiser_spark.operators.mapside import write_index_mapside
from wiser_spark.operators.postings import (
    assign_doc_ids,
    build_dictionary,
    build_postings,
)
from wiser_spark.operators.segments import (
    SegmentIndex,
    compact_index,
    write_index,
)
from wiser_spark.oracle import OracleEngine
from wiser_spark.plans.build import build_index_mapside_batched
from wiser_spark.sources.corpus import corpus_df, make_corpus
from wiser_spark.streaming.incremental import IncrementalIndexer

PARAMS = BM25Params(1.2, 0.75)
CFG = IndexConfig(bm25=PARAMS, n_shards=3)
SCHEMA = "repo string, path string, commit string, lang string, content string"
# the tables older writers stored beside the segments
DICTIONARIES = ("dictionary", "dictionary_deltas")


def _digest_module():
    spec = importlib.util.spec_from_file_location(
        "segment_digest",
        os.path.join(os.path.dirname(__file__), "..", "scripts",
                     "segment_digest.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _logical_digest(index_dir: str) -> tuple:
    """scripts/segment_digest.py --logical: segments by (shard,
    generation, term) entry, and the dictionary derived from them."""
    mod = _digest_module()
    return (
        mod.logical_digest(os.path.join(index_dir, "segments")),
        mod.derived_dictionary_digest(index_dir),
    )


def _parquet_files(index_dir: str, table: str) -> list[str]:
    return sorted(
        os.path.join(root, f)
        for root, _, files in os.walk(os.path.join(index_dir, table))
        for f in files
        if f.endswith(".parquet")
    )


def _chunks(path: str):
    md = pq.ParquetFile(path).metadata
    for rg in range(md.num_row_groups):
        group = md.row_group(rg)
        for c in range(group.num_columns):
            yield group.column(c)


def _assert_written_by_write_table(index_dir: str) -> None:
    """Every column chunk of the segments is zstd and every ``term``
    chunk front-coded — read from the parquet footers — and no
    dictionary table was written."""
    paths = _parquet_files(index_dir, "segments")
    assert paths
    for path in paths:
        chunks = list(_chunks(path))
        assert {c.compression for c in chunks} <= {"ZSTD"}, path
        for c in chunks:
            if c.path_in_schema == "term":
                assert "DELTA_BYTE_ARRAY" in c.encodings, (path, c)
    for table in DICTIONARIES:
        assert not os.path.exists(os.path.join(index_dir, table)), table


@pytest.fixture(scope="module")
def docs(spark):
    return assign_doc_ids(corpus_df(spark, 90), n_partitions=3).cache()


def _write_index(docs, d):
    postings = build_postings(docs)
    docstats = build_docstats(docs)
    write_index(postings, docstats, build_dictionary(postings),
                corpus_stats(docstats), d, CFG)


def _stream(spark, d, rows, n_batches):
    ix = IncrementalIndexer(d, CFG)
    step = -(-len(rows) // n_batches)
    for b in range(n_batches):
        ix.process_batch(
            spark.createDataFrame(rows[b * step:(b + 1) * step], SCHEMA), b
        )
    return ix


def test_every_writer_writes_zstd_front_coded_sorted_tables(
    spark, docs, tmp_path
):
    """The writers that publish index tables — write_index,
    write_index_mapside, build_index_mapside_batched, a streaming flush,
    a streaming compaction and compact_index — all write the segments
    through write_table in the one layout (a ``generations.json`` and
    only ``segments/generation=*/shard_id=*`` directories), and none
    creates ``dictionary/`` or ``dictionary_deltas/``."""
    built = {}
    built["write_index"] = str(tmp_path / "write_index")
    _write_index(docs, built["write_index"])
    built["mapside"] = str(tmp_path / "mapside")
    write_index_mapside(docs.select("doc_id", "content"), built["mapside"],
                        CFG)
    built["batched"] = str(tmp_path / "batched")
    build_index_mapside_batched(spark, corpus_df(spark, 60), built["batched"],
                                CFG, n_batches=2)
    rows = make_corpus(60)
    built["flush"] = str(tmp_path / "flush")
    _stream(spark, built["flush"], rows, 2)
    built["compact_index"] = str(tmp_path / "compact_index")
    compact_index(spark, built["flush"], built["compact_index"])
    built["compact_now"] = str(tmp_path / "compact_now")
    _stream(spark, built["compact_now"], rows, 2).compact_now(spark)
    assert len(incmod.read_generations(built["compact_now"])) == 1
    for name, d in built.items():
        _assert_written_by_write_table(d)
        assert SegmentIndex(spark, d).search(["return"], k=3).collect(), name
        gens = incmod.read_generations(d)
        assert gens, name
        base = os.path.join(d, "segments")
        assert sorted(os.listdir(base)) == sorted(
            f"generation={g}" for g in gens), name
        for g in gens:
            shards = os.listdir(os.path.join(base, f"generation={g}"))
            assert all(p.startswith("shard_id=") for p in shards
                       if not p.startswith(("_", "."))), (name, shards)


def _plain_write_table(df, path, partition_by=None):
    """The writer before write_table: Spark's defaults (snappy, v1)."""
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(partition_by)
    w.parquet(path)


def test_snappy_generation_reads_and_compacts_like_fresh_build(
    spark, tmp_path, monkeypatch
):
    """An index whose generation 0 was written snappy/v1 by plain
    df.write and whose generation 1 went through write_table answers
    like the oracle, and compact_index / compact_now give the logical
    digests of the same index written wholly by write_table."""
    rows = make_corpus(80)
    half = len(rows) // 2
    mixed, fresh = str(tmp_path / "mixed"), str(tmp_path / "fresh")
    ix = IncrementalIndexer(mixed, CFG)
    with monkeypatch.context() as m:
        m.setattr(incmod, "write_table", _plain_write_table)
        ix.process_batch(spark.createDataFrame(rows[:half], SCHEMA), 0)
    gen0 = _parquet_files(mixed, "segments")
    assert gen0 and all(
        c.compression == "SNAPPY" and "DELTA_BYTE_ARRAY" not in c.encodings
        for p in gen0 for c in _chunks(p)
    )
    ix.process_batch(spark.createDataFrame(rows[half:], SCHEMA), 1)
    _stream(spark, fresh, rows, 2)
    assert _logical_digest(mixed) == _logical_digest(fresh)

    oracle = OracleEngine(PARAMS)
    for row in rows:
        oracle.add_document(row["content"])
    idx = SegmentIndex(spark, mixed)
    for terms, ph in [(["return"], False), (["return", "import"], False),
                      (["if", "else"], True)]:
        got = idx.search(terms, k=10, is_phrase=ph).collect()
        want = oracle.search(terms, k=10, is_phrase=ph)
        assert [r["doc_id"] for r in got] == [d for d, _ in want]
        for r, (_, s) in zip(got, want):
            assert r["score"] == pytest.approx(s, rel=1e-12)

    outs = {}
    for name, d in (("mixed", mixed), ("fresh", fresh)):
        outs[name] = str(tmp_path / f"{name}_compacted")
        compact_index(spark, d, outs[name])
        _assert_written_by_write_table(outs[name])
    assert _logical_digest(outs["mixed"]) == _logical_digest(outs["fresh"])
    for d in (mixed, fresh):
        IncrementalIndexer(d, CFG).compact_now(spark)
        _assert_written_by_write_table(d)
    assert _logical_digest(mixed) == _logical_digest(fresh)


def test_unreadable_metadata_raises(spark, tmp_path):
    """A generations.json or stats.json that is present but unreadable
    raises a ValueError naming the file: read as absent, the readers
    would list merged-away generations, and a resume would skip the
    layout check and the recorded bloom params. A missing
    generations.json raises the same way."""
    d = str(tmp_path / "idx")
    ix = _stream(spark, d, make_corpus(20), 2)
    manifest, stats = f"{d}/generations.json", f"{d}/stats.json"
    good_manifest, good_stats = open(manifest).read(), open(stats).read()
    for body in ("{not json", '{"live": [0]}', '{"generations": ["x"]}',
                 "[0]"):
        with open(manifest, "w") as f:
            f.write(body)
        with pytest.raises(ValueError, match="generations.json"):
            SegmentIndex(spark, d)
        with pytest.raises(ValueError, match="generations.json"):
            IncrementalIndexer(d, CFG)
    with open(manifest, "w") as f:
        f.write(good_manifest)
    for body in ("{not json", "", "[]"):
        with open(stats, "w") as f:
            f.write(body)
        with pytest.raises(ValueError, match="stats.json"):
            SegmentIndex(spark, d)
        with pytest.raises(ValueError, match="stats.json"):
            IncrementalIndexer(d, CFG)
        with pytest.raises(ValueError, match="stats.json"):
            compact_index(spark, d, str(tmp_path / "out"))
        with pytest.raises(ValueError, match="stats.json"):
            ix.compact_now(spark)
    assert incmod.read_generations(d) == [0, 1]  # nothing merged
    with open(stats, "w") as f:
        f.write(good_stats)
    assert SegmentIndex(spark, d).search(["return"], k=3).collect()
    # a missing manifest is refused too: no directory listing stands in
    os.remove(manifest)
    with pytest.raises(ValueError, match="generations.json"):
        SegmentIndex(spark, d)
    with pytest.raises(ValueError, match="generations.json"):
        IncrementalIndexer(d, CFG)
    with pytest.raises(ValueError, match="generations.json"):
        compact_index(spark, d, str(tmp_path / "out"))
