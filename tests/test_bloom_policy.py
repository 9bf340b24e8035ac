"""Phrase blooms only where they can prune: every bloom writer gives a
term row both bloom sides when it holds two or more postings and none
when it holds one; compaction rebuilds the blooms (a compacted shard is
byte for byte a fresh encode of its documents), and the reader's
dictionary reflects the compacted rows."""

import json
import os
import shutil

import pytest

from wiser_spark.config import BM25Params, IndexConfig
from wiser_spark.functions.bloom import BLOOM_BOX_MAGIC, BloomParams
from wiser_spark.operators.mapside import write_index_mapside
from wiser_spark.operators.segments import (
    BLOOM_COLUMNS,
    DOCLEN_TERM,
    SegmentIndex,
    compact_index,
    decode_doclen_sentinel,
    read_segments,
)
from wiser_spark.sources.corpus import make_corpus
from wiser_spark.streaming.incremental import IncrementalIndexer

PARAMS = BM25Params(1.2, 0.75)
CFG = IndexConfig(bm25=PARAMS, n_shards=3)
SCHEMA = "repo string, path string, commit string, lang string, content string"
KEY = ("repo", "path", "commit")
BATCHES = ((0, 50), (50, 100), (100, 150))


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    """A 3-generation streaming index of make_corpus(150, 11) at 3
    shards, its compact_index output and a copy compacted in place by
    compact_now, plus a one-shard map-side build (df past one bloom
    box). Also doc id -> content of the stream: each batch gets the next
    ids in (repo, path, commit) order."""
    base = tmp_path_factory.mktemp("bloom_policy")
    rows = make_corpus(150, 11)
    stream, content_of = str(base / "stream"), []
    ix = IncrementalIndexer(stream, CFG)
    for b, (lo, hi) in enumerate(BATCHES):
        batch = sorted(rows[lo:hi], key=lambda r: tuple(r[k] for k in KEY))
        content_of += [r["content"] for r in batch]
        ix.process_batch(spark.createDataFrame(rows[lo:hi], SCHEMA), b)
    out = {"flush": stream, "compact_index": str(base / "compact_index"),
           "compact_now": str(base / "compact_now"),
           "mapside": str(base / "mapside")}
    compact_index(spark, stream, out["compact_index"])
    shutil.copytree(stream, out["compact_now"])
    IncrementalIndexer(out["compact_now"], CFG).compact_now(spark)
    docs = spark.createDataFrame(
        [(i, r["content"]) for i, r in enumerate(make_corpus(300))],
        "doc_id long, content string",
    )
    write_index_mapside(docs, out["mapside"],
                        IndexConfig(bm25=PARAMS, n_shards=1))
    return out, content_of


def _term_rows(spark, d):
    """Every segment row of the index's live generations, without the
    generation partition column."""
    return [r.asDict() for r in read_segments(spark, d).drop(
        "generation").collect()]


@pytest.mark.parametrize(
    "writer", ["mapside", "flush", "compact_index", "compact_now"]
)
def test_every_bloom_writer_follows_the_rule(spark, built, writer):
    """df_shard == 1: all four bloom columns null; df_shard >= 2: both
    sides present, one box offset per 128 postings; the sentinel row:
    no blooms."""
    rows = _term_rows(spark, built[0][writer])
    cols = [c for side in BLOOM_COLUMNS for c in side]
    kinds = set()
    for r in rows:
        df = r["df_shard"]
        if r["term"] == DOCLEN_TERM or df == 1:
            assert all(r[c] is None for c in cols), (r["term"], df)
            kinds.add("none")
            continue
        for blob_col, offs_col in BLOOM_COLUMNS:
            assert r[blob_col][0] == BLOOM_BOX_MAGIC, (r["term"], blob_col)
            assert len(r[offs_col]) == -(-df // 128), (r["term"], offs_col)
            assert r[offs_col][0] == 0
        kinds.add("multi-box" if df > 128 else "one-box")
    want = {"none", "one-box"} | ({"multi-box"} if writer == "mapside" else set())
    assert kinds == want


@pytest.mark.parametrize("writer", ["compact_index", "compact_now"])
def test_compaction_equals_fresh_encode(spark, built, writer):
    """Each compacted shard's rows, bloom columns included, are
    byte-identical to encode_doc_batches over the shard's documents
    (its sentinel doc ids), with the index's recorded bloom params.
    Covers terms that hold one posting in every generation of a shard
    and two or more after the merge."""
    out, content_of = built
    d = out[writer]
    with open(f"{d}/stats.json") as f:
        bp = BloomParams(**json.load(f)["bloom"])
    merged: dict[int, dict] = {}
    for r in _term_rows(spark, d):
        merged.setdefault(r["shard_id"], {})[r["term"]] = r
    assert sorted(merged) == [0, 1, 2]
    for shard, rows in merged.items():
        ids = decode_doclen_sentinel(rows[DOCLEN_TERM])[0].tolist()
        assert rows == fresh_shard_rows(shard, ids, content_of, bp), shard
    source: dict[tuple, list[int]] = {}
    for r in _term_rows(spark, out["flush"]):
        source.setdefault((r["shard_id"], r["term"]), []).append(r["df_shard"])
    newly = [
        (s, t) for (s, t), dfs in source.items()
        if t != DOCLEN_TERM and len(dfs) > 1 and max(dfs) == 1
    ]
    assert newly
    for s, t in newly:
        assert merged[s][t]["df_shard"] >= 2
        assert merged[s][t]["bloom_end_blob"] is not None


@pytest.mark.parametrize("writer", ["compact_index", "compact_now"])
def test_compacted_dictionary_matches_segments(spark, built, writer):
    """After compaction no dictionary table is written, and every row
    (df, bytes_docid_tf, prefetch_pages) of the reader's dictionary
    sums the compacted segment rows: the byte counts are the merged
    rows', not the sums over the merged-away generations."""
    d = built[0][writer]
    assert not os.path.exists(f"{d}/dictionary")
    want: dict[str, list] = {}
    for r in _term_rows(spark, d):
        if r["term"] != DOCLEN_TERM:
            acc = want.setdefault(r["term"], [0, 0])
            acc[0] += r["df_shard"]
            acc[1] += len(r["docids_blob"]) + len(r["tfs_blob"])
    got = SegmentIndex(spark, d).dictionary.collect()
    assert len(got) > 1000
    assert sorted(map(tuple, got)) == sorted(
        (t, df, b, -(-b // 4096)) for t, (df, b) in want.items())


def fresh_shard_rows(shard_id, doc_ids, content_of, bp) -> dict:
    """term -> row of one shard encoded from scratch over its documents
    (``content_of[doc_id]``) by the map-side encoder, sentinel included."""
    import pyarrow as pa

    from wiser_spark.operators.mapside import encode_doc_batches

    rb = pa.record_batch({
        "doc_id": pa.array(doc_ids, pa.int64()),
        "content": pa.array([content_of[i] for i in doc_ids]),
    })
    return {
        r["term"]: r
        for b in encode_doc_batches([rb], shard_id, "content", True, bp)
        for r in b.to_pylist()
    }


def test_compaction_rebuilds_blooms(spark, tmp_path):
    """A generation built without blooms merges with a bloomed one into
    exactly the rows of a fresh encode of each shard's documents,
    blooms included: compaction rebuilds them from the positions rather
    than carrying the sources' boxes. Without bloom params every bloom
    column is null."""
    from pyspark.sql import functions as F

    from wiser_spark.functions.bloom import bloom_params
    from wiser_spark.operators.mapside import build_segments_mapside
    from wiser_spark.operators.postings import assign_doc_ids
    from wiser_spark.operators.segments import (
        BLOOM_COLUMNS,
        compact_segments,
    )
    from wiser_spark.sources.corpus import corpus_df

    docs = assign_doc_ids(corpus_df(spark, 90)).select("doc_id", "content")
    content_of = {r["doc_id"]: r["content"] for r in docs.collect()}
    base = str(tmp_path / "segments")
    for g, (cond, blooms) in enumerate(
        [(F.col("doc_id") < 45, True), (F.col("doc_id") >= 45, False)]
    ):
        build_segments_mapside(
            docs.filter(cond), n_shards=2, with_blooms=blooms
        ).write.parquet(f"{base}/generation={g}")
    segs = spark.read.parquet(base)
    assert segs.filter(
        (F.col("generation") == 1) & F.col("bloom_end_blob").isNotNull()
    ).count() == 0
    bp = bloom_params()
    merged: dict[int, dict] = {}
    for r in compact_segments(segs, bp).collect():
        merged.setdefault(r["shard_id"], {})[r["term"]] = r.asDict()
    assert sorted(merged) == [0, 1]
    for shard, rows in merged.items():
        ids = decode_doclen_sentinel(rows[DOCLEN_TERM])[0].tolist()
        assert min(ids) < 45 <= max(ids)  # both generations merged
        assert rows == fresh_shard_rows(shard, ids, content_of, bp)
        assert any(r["bloom_end_blob"] is not None for r in rows.values())
    assert all(
        r[c] is None
        for r in compact_segments(segs).collect()
        for side in BLOOM_COLUMNS for c in side
    )
