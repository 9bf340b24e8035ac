"""Phrase bloom pre-check: result-neutral pruning (reference B15/Q8)."""

import numpy as np
import pytest

from wiser_spark.config import BM25Params, IndexConfig
from wiser_spark.functions.bloom import (
    fold_occurrence_blooms,
    probe,
    token_bloom_bits,
    vocab_bloom_table,
)
from wiser_spark.operators.mapside import write_index_mapside
from wiser_spark.operators.postings import assign_doc_ids
from wiser_spark.operators.segments import SegmentIndex
from wiser_spark.oracle import OracleEngine
from wiser_spark.sources.corpus import corpus_df, make_corpus

PARAMS = BM25Params(1.2, 0.75)


def test_no_false_negatives_unit():
    """Every token OR'd into a bloom must probe positive — both the
    SIZED rendition (reference libbloom parameters) and the legacy
    64-bit one."""
    from wiser_spark.functions.bloom import (
        bloom_params,
        fold_occurrence_masks,
        probe_rows,
        token_bloom_mask,
        vocab_bloom_matrix,
    )

    vocab = [f"tok{i}" for i in range(200)]
    starts = np.array([0, 50, 120])
    spans = [(0, 50), (50, 120), (120, 200)]
    table = vocab_bloom_table(vocab)
    blooms = fold_occurrence_blooms(table[np.arange(200)], starts)
    bp = bloom_params()
    mat = vocab_bloom_matrix(vocab, bp)
    # build-side matrix rows must equal the probe-side single-term
    # masks byte-for-byte (the no-false-negative contract's foundation)
    for i in (0, 7, 199):
        assert np.array_equal(mat[i], token_bloom_mask(vocab[i], bp))
    sized = fold_occurrence_masks(mat, starts)
    for j, (lo, hi) in enumerate(spans):
        for t in vocab[lo:hi]:
            assert probe(blooms[j : j + 1], token_bloom_bits(t))[0]
            assert probe_rows(sized[j : j + 1], token_bloom_mask(t, bp))[0]


def test_reference_sizing():
    """libbloom math (bloom.c:95-117). Default = the reference's
    production indexer pair (entries=5, ratio=0.0009,
    tools/indexer.py:43-44): 72 bits, 9 bytes, k=11. The dump tool's
    ratio=0.001 pair (create_qq_mem_dump.cc:14-15) stays reachable:
    71 bits, 9 bytes, k=10."""
    from wiser_spark.functions.bloom import bloom_params

    bp = bloom_params()
    assert (bp.bits, bp.nbytes, bp.hashes) == (72, 9, 11)
    assert (bp.entries, bp.ratio) == (5, 0.0009)
    legacy = bloom_params(ratio=0.001)
    assert (legacy.bits, legacy.nbytes, legacy.hashes) == (71, 9, 10)
    # and the formula tracks its inputs
    bigger = bloom_params(entries=10)
    assert bigger.bits > bp.bits


def test_enhanced_double_hash_masks():
    """bits=72 is composite: the enhanced-double-hash probe walk must
    not collapse to short orbits (plain double hashing does when the
    stride shares a factor with 72), and the scalar probe mask must
    stay byte-identical to the vectorized builder row (set/probe
    contract)."""
    from wiser_spark.functions.bloom import (
        bloom_params,
        token_bloom_mask,
        vocab_bloom_matrix,
    )

    bp = bloom_params()
    vocab = [f"tok{i}" for i in range(2000)]
    mat = vocab_bloom_matrix(vocab, bp)
    for t in (vocab[0], vocab[777], vocab[1999]):
        row = mat[vocab.index(t)]
        assert np.array_equal(row, token_bloom_mask(t, bp))
    # healthy walks set ~k distinct bits (expected birthday collisions
    # for 11 probes into 72 bits: C(11,2)/72 ~ 0.8 per mask); a short
    # orbit would collapse popcounts toward 2-3.
    pops = np.unpackbits(mat, axis=1).sum(axis=1)
    assert int(np.median(pops)) >= bp.hashes - 1
    assert int(pops.min()) >= bp.hashes - 4


def test_bloom_box_roundtrip_and_presence():
    """Box layout: magic/count/presence-bitmap/present-arrays; all-zero
    rows are ABSENT in the payload and decode back to all-zero;
    multi-box columns decode partially from any box offset."""
    from wiser_spark.functions.bloom import (
        BLOOM_BOX_MAGIC,
        bloom_boxes_decode,
        bloom_boxes_encode,
        bloom_params,
    )

    bp = bloom_params()
    rng = np.random.default_rng(3)
    mat = rng.integers(0, 256, size=(300, bp.nbytes), dtype=np.uint8)
    mat[rng.random(300) < 0.4] = 0
    blob, offs = bloom_boxes_encode(mat)
    assert blob[0] == BLOOM_BOX_MAGIC and len(offs) == 3
    # absent rows shrink the payload: size < dense 300 * nbytes
    assert len(blob) < 300 * bp.nbytes
    assert np.array_equal(bloom_boxes_decode(blob, 300, bp.nbytes), mat)
    assert np.array_equal(
        bloom_boxes_decode(blob, 172, bp.nbytes, offset=offs[1]), mat[128:]
    )


def test_sized_blooms_prune_at_least_as_much_as_legacy():
    """The sized filters (71 bits / k=10 per posting) must prune absent
    adjacencies at >= the legacy 64-bit/k=2 rate: 5 neighbor tokens per
    posting, 5000 absent probes — count false positives both ways."""
    from wiser_spark.functions.bloom import (
        bloom_params,
        fold_occurrence_masks,
        probe_rows,
        token_bloom_mask,
        vocab_bloom_matrix,
    )

    members = [f"in{i}" for i in range(5)]
    absent = [f"out{i}" for i in range(5000)]
    bp = bloom_params()
    sized = fold_occurrence_masks(
        vocab_bloom_matrix(members, bp), np.array([0])
    )
    legacy = fold_occurrence_blooms(
        vocab_bloom_table(members), np.array([0])
    )
    fp_sized = sum(
        bool(probe_rows(sized, token_bloom_mask(t, bp))[0]) for t in absent
    )
    fp_legacy = sum(bool(probe(legacy, token_bloom_bits(t))[0]) for t in absent)
    assert fp_sized <= fp_legacy, (fp_sized, fp_legacy)
    # and the sized rate is in the ratio=0.001 ballpark, not degenerate
    assert fp_sized <= 25, fp_sized


@pytest.fixture(scope="module")
def both_indexes(spark, tmp_path_factory):
    docs = assign_doc_ids(corpus_df(spark, 120), n_partitions=4)
    d_on = str(tmp_path_factory.mktemp("idx_bloom_on"))
    d_off = str(tmp_path_factory.mktemp("idx_bloom_off"))
    cfg = IndexConfig(bm25=PARAMS, n_shards=4)
    write_index_mapside(docs, d_on, cfg, with_blooms=True)
    write_index_mapside(docs, d_off, cfg, with_blooms=False)
    return d_on, d_off


@pytest.mark.parametrize(
    "terms",
    [["return", "import"], ["if", "else"], ["import", "return", "def"],
     ["def", "zz_absent"]],
)
def test_bloom_is_result_neutral(spark, both_indexes, terms):
    d_on, d_off = both_indexes
    on = [tuple(r) for r in SegmentIndex(spark, d_on)
          .search(terms, k=10, is_phrase=True).collect()]
    off = [tuple(r) for r in SegmentIndex(spark, d_off)
           .search(terms, k=10, is_phrase=True).collect()]
    assert on == off


def test_bloom_index_matches_oracle(spark, both_indexes):
    eng = OracleEngine(PARAMS)
    for row in make_corpus(120):
        eng.add_document(row["content"])
    idx = SegmentIndex(spark, both_indexes[0])
    got = idx.search(["return", "import"], k=10, is_phrase=True).collect()
    want = eng.search(["return", "import"], k=10, is_phrase=True)
    assert [r["doc_id"] for r in got] == [d for d, _ in want]


def test_dictionary_excludes_bloom_and_sentinel_rows(spark, both_indexes):
    """The reader's dictionary holds exactly the term rows' terms: no
    sentinel, and no entry per bloom side (blooms are columns of the
    term row, not rows of their own)."""
    d = SegmentIndex(spark, both_indexes[0]).dictionary
    terms = sorted(r["term"] for r in d.collect())
    segs = spark.read.parquet(f"{both_indexes[0]}/segments")
    seg_terms = {r["term"] for r in segs.select("term").collect()}
    assert "" not in terms and len(terms) == len(set(terms))
    assert set(terms) == seg_terms - {""}


def test_begin_bloom_sided_probe(spark, tmp_path):
    """When the FIRST term's posting list is the larger one, the sided
    rule probes the second term's BEGIN bloom (reference
    query_processing.h:796-807). Non-adjacent co-occurrence still
    pruned; true phrase still found."""
    rows = [(i, "alpha filler words here") for i in range(6)]
    rows.append((6, "alpha gap rare gap alpha"))       # both, never adjacent
    rows.append((7, "lead alpha rare trail"))          # true phrase
    docs = spark.createDataFrame(rows, "doc_id long, content string")
    d = str(tmp_path / "idx")
    write_index_mapside(docs, d, IndexConfig(bm25=PARAMS, n_shards=1))
    idx = SegmentIndex(spark, d)
    # df(alpha)=8 > df(rare)=2 in the single shard => begin side probed
    got = idx.search(["alpha", "rare"], k=10, is_phrase=True).collect()
    assert [r["doc_id"] for r in got] == [7]


def test_nonadjacent_cooccurrence_pruned(spark, tmp_path):
    """Doc contains both terms, never adjacent: the bloom alone excludes
    it (and the result is empty either way). A second doc gives every
    term two postings, so the terms carry blooms."""
    docs = spark.createDataFrame(
        [(0, "alpha gap beta gap alpha gap beta"), (1, "beta gap alpha")],
        "doc_id long, content string",
    )
    d = str(tmp_path / "idx")
    write_index_mapside(docs, d, IndexConfig(bm25=PARAMS, n_shards=1))
    idx = SegmentIndex(spark, d)
    assert idx.search(["alpha", "beta"], k=10, is_phrase=True).count() == 0
    assert idx.search(["alpha", "gap"], k=10, is_phrase=True).count() == 1


PHRASES = [["return", "import"], ["if", "else"], ["import", "return", "def"],
           ["self", "return"], ["def", "zz_absent"]]


def test_bloom_is_result_neutral_across_generations(spark, tmp_path):
    """Phrase answers are rank-identical with and without blooms on a
    3-generation streaming index (multi-generation terms skip the
    pre-check, single-generation ones run it), and again after each is
    compacted (every term row of two or more postings then carries both
    bloom sides, every other row none; without blooms no row does); all
    four match the oracle. One search_batch per index answers the whole
    phrase log."""
    from wiser_spark.operators.segments import BLOOM_COLUMNS, compact_index
    from wiser_spark.streaming.incremental import IncrementalIndexer

    schema = "repo string, path string, commit string, lang string, content string"
    rows = make_corpus(150)
    eng = OracleEngine(PARAMS)
    for row in rows:
        eng.add_document(row["content"])
    want = [
        [d for d, _ in eng.search(t, k=10, is_phrase=True)] for t in PHRASES
    ]
    answers = {}
    for blooms in (True, False):
        d = str(tmp_path / f"stream_{blooms}")
        ix = IncrementalIndexer(
            d, IndexConfig(bm25=PARAMS, n_shards=2), with_blooms=blooms
        )
        for b, lo in enumerate((0, 50, 100)):
            ix.process_batch(spark.createDataFrame(rows[lo:lo + 50], schema), b)
        compact_index(spark, d, d + "_c")
        segs = spark.read.parquet(f"{d}_c/segments").filter("term != ''")
        for blob_col, _ in BLOOM_COLUMNS:
            want_null = (segs["df_shard"] < 2) | (not blooms)
            assert segs.filter(segs[blob_col].isNull() != want_null).count() == 0
        for name in (d, d + "_c"):
            got = SegmentIndex(spark, name).search_batch(
                [(i, t, True) for i, t in enumerate(PHRASES)], k=10
            ).collect()
            answers[(blooms, name.endswith("_c"))] = [
                [(r["doc_id"], r["score"]) for r in got if r["query_id"] == i]
                for i in range(len(PHRASES))
            ]
    base = answers[(False, False)]
    assert all(a == base for a in answers.values())
    assert [[d for d, _ in q] for q in base] == want
    assert sum(map(len, want)) > 0
