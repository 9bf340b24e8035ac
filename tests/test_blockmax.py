"""Block-max single-term top-k (the north star's "block-max-WAND-style
scorer"): exact-result guarantee, bag-skip proof, and end-to-end rank
identity through SegmentIndex.search on both index formats."""

import numpy as np
import pytest

from wiser_spark.config import BM25Params, IndexConfig
from wiser_spark.functions.bm25 import tfnorm_cache
from wiser_spark.operators.segments import (
    PACK_SIZE,
    SegmentIndex,
    _topk_blockmax_single,
    build_segments,
    decode_segment_row,
)

PARAMS = BM25Params(0.9, 0.4)
K1 = PARAMS.k1
IDF = 1.37  # arbitrary positive idf for the unit tests


def _term_rows(postings):
    """Segment rows of a hand-made one-shard postings table (doc
    lengths: the token counts), sentinel dropped."""
    from pyspark.sql import functions as F

    docstats = postings.groupBy("doc_id").agg(F.sum("tf").alias("doclen"))
    return [
        r.asDict()
        for r in build_segments(postings, docstats, n_shards=1).collect()
        if r["term"] != ""
    ]


def _mk_row(spark, tfs_by_doc):
    """One term, docIDs 0..n-1 with the given tfs -> one segment row."""
    rows = [("t", i, int(tf)) for i, tf in enumerate(tfs_by_doc)]
    postings = spark.createDataFrame(rows, "term string, doc_id long, tf int")
    return _term_rows(postings)[0]


def _full_topk(seg, k, cache, codes_for):
    """Reference result: full decode + the generic scoring path's math."""
    ids, tfs, _ = decode_segment_row(seg)
    tf = tfs.astype(np.float64)
    scores = IDF * ((tf * (K1 + 1.0)) / (tf + cache[codes_for(ids)]))
    order = np.lexsort((ids, -scores))[:k]
    return ids[order], scores[order]


@pytest.fixture(scope="module")
def cache():
    return tfnorm_cache(avgdl=37.5, params=PARAMS)


def test_blockmax_exact_vs_full_decode(spark, cache):
    """Varied tfs + varied doc lengths: winners, exact scores and the
    (score desc, doc_id asc) tie order all match the full path."""
    rng = np.random.RandomState(7)
    tfs = rng.randint(1, 9, size=1000)  # many ties -> tie-order matters
    seg = _mk_row(spark, tfs)
    codes_for = lambda ids: (np.asarray(ids) * 53) % 256  # noqa: E731
    for k in (1, 5, 10, 64, 1000, 2000):
        want_ids, want_sc = _full_topk(seg, k, cache, codes_for)
        got_ids, got_sc = _topk_blockmax_single(
            [seg], k, IDF, cache, K1, codes_for, prune_fallback=False
        )
        np.testing.assert_array_equal(got_ids, want_ids)
        np.testing.assert_array_equal(got_sc, want_sc)  # bit-exact floats


def test_blockmax_skips_noncompetitive_bags(spark, cache):
    """With one high-tf bag and k <= its postings, every other bag's
    bound falls below θ — prove they are never READ by corrupting their
    bytes and still getting the exact answer."""
    n = 10 * PACK_SIZE
    tfs = np.ones(n, dtype=np.int64)
    hot = slice(3 * PACK_SIZE, 3 * PACK_SIZE + 16)  # 16 docs inside bag 3
    tfs[hot] = 60
    seg = _mk_row(spark, tfs)
    codes_for = lambda ids: np.full(len(ids), 10, dtype=np.int64)  # noqa: E731
    want_ids, want_sc = _full_topk(seg, 10, cache, codes_for)
    assert set(want_ids) <= set(range(hot.start, hot.stop))
    # poison every bag except bag 3 in both columns
    blob_d, blob_t = bytearray(seg["docids_blob"]), bytearray(seg["tfs_blob"])
    d_offs = list(seg["skip_docid_offs"]) + [len(blob_d)]
    t_offs = list(seg["skip_tf_offs"]) + [len(blob_t)]
    for b in range(10):
        if b == 3:
            continue
        blob_d[d_offs[b]:d_offs[b + 1]] = b"\xff" * (d_offs[b + 1] - d_offs[b])
        blob_t[t_offs[b]:t_offs[b + 1]] = b"\xff" * (t_offs[b + 1] - t_offs[b])
    poisoned = dict(seg)
    poisoned["docids_blob"] = bytes(blob_d)
    poisoned["tfs_blob"] = bytes(blob_t)
    got_ids, got_sc = _topk_blockmax_single(
        [poisoned], 10, IDF, cache, K1, codes_for
    )
    np.testing.assert_array_equal(got_ids, want_ids)
    np.testing.assert_array_equal(got_sc, want_sc)


def test_blockmax_none_on_legacy_rows(spark, cache):
    """Rows from an index written before skip_max_tfs existed return
    None -> the kernel falls back to the full decode path."""
    seg = _mk_row(spark, np.ones(300, dtype=np.int64))
    legacy = dict(seg)
    legacy["skip_max_tfs"] = None
    codes_for = lambda ids: np.zeros(len(ids), dtype=np.int64)  # noqa: E731
    assert _topk_blockmax_single(
        [legacy], 10, IDF, cache, K1, codes_for
    ) is None
    # multi-generation with ONE legacy row: still total fallback
    assert _topk_blockmax_single(
        [seg, legacy], 10, IDF, cache, K1, codes_for
    ) is None


def test_blockmax_flat_tf_falls_back_to_full_decode(spark, cache):
    """tf=1 everywhere: θ prunes nothing, so the kernel should use the
    vectorized full decode instead of a per-bag loop -> None."""
    seg = _mk_row(spark, np.ones(10 * PACK_SIZE, dtype=np.int64))
    codes_for = lambda ids: np.full(len(ids), 10, dtype=np.int64)  # noqa: E731
    assert _topk_blockmax_single(
        [seg], 10, IDF, cache, K1, codes_for
    ) is None
    # with the escape disabled it still produces the exact answer
    want_ids, want_sc = _full_topk(seg, 10, cache, codes_for)
    got_ids, got_sc = _topk_blockmax_single(
        [seg], 10, IDF, cache, K1, codes_for, prune_fallback=False
    )
    np.testing.assert_array_equal(got_ids, want_ids)
    np.testing.assert_array_equal(got_sc, want_sc)


@pytest.mark.parametrize("writer", ["relational", "mapside"])
def test_blockmax_end_to_end_rank_identity(spark, tmp_path, monkeypatch,
                                            writer):
    """SegmentIndex.search on a hot single term returns the same rows
    whether the block-max gate fires or not, on both index formats."""
    import wiser_spark.operators.segments as segmod
    from wiser_spark.operators.docstats import build_docstats, corpus_stats
    from wiser_spark.operators.mapside import write_index_mapside
    from wiser_spark.operators.postings import (
        build_dictionary,
        build_postings,
    )
    from wiser_spark.operators.segments import write_index

    rng = np.random.RandomState(3)
    rows = [
        (i, " ".join(["hot"] * int(rng.randint(1, 7))
                     + [f"w{j}" for j in rng.randint(0, 40, rng.randint(2, 30))]))
        for i in range(900)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, content string")
    d = str(tmp_path / "idx")
    cfg = IndexConfig(bm25=PARAMS, n_shards=3)
    if writer == "mapside":
        write_index_mapside(docs, d, cfg)
    else:
        postings = build_postings(docs).cache()
        docstats = build_docstats(docs)
        write_index(postings, docstats, build_dictionary(postings),
                    corpus_stats(docstats), d, cfg)
    idx = SegmentIndex(spark, d)
    full = [tuple(r) for r in idx.search(["hot"], k=10).collect()]
    assert len(full) == 10
    monkeypatch.setattr(segmod, "PARTIAL_DECODE_MIN_PAGES", 1)
    fired = segmod.partial_decode_terms(
        [(0, ["hot"], False)], {"hot": 1}, set(), set()
    )
    assert "hot" in fired  # the gate really applies at this scale
    bm = [tuple(r) for r in idx.search(["hot"], k=10).collect()]
    assert bm == full


# ---------------------------------------------------------------- conj
def _mk_term_row(spark, term, doc_tfs):
    """One term over explicit (doc_id, tf) pairs -> one segment row."""
    rows = [(term, int(d), int(tf)) for d, tf in doc_tfs]
    postings = spark.createDataFrame(rows, "term string, doc_id long, tf int")
    return _term_rows(postings)[0]


def _full_conj_topk(segs, terms, k, idfs, cache, codes_for):
    """Reference result: full decode of every term, exact AND, generic
    scoring-path math (weights = term multiplicity in the query)."""
    dec = {t: decode_segment_row(segs[t]) for t in set(terms)}
    cand = None
    for t in set(terms):
        ids = dec[t][0]
        cand = ids if cand is None else cand[np.isin(cand, ids)]
    cand = np.sort(cand)
    denom = cache[codes_for(cand)]
    scores = np.zeros(cand.size, dtype=np.float64)
    for t in terms:  # with multiplicity, like _bm25_scores over terms_l
        ids, tfs, _ = dec[t]
        tf = tfs[np.searchsorted(ids, cand)].astype(np.float64)
        scores += idfs[t] * ((tf * (K1 + 1.0)) / (tf + denom))
    order = np.lexsort((cand, -scores))[:k]
    return cand[order], scores[order]


def test_blockmax_conj_exact_vs_full_decode(spark, cache):
    """Random 2- and 3-term conjunctions with partial overlap: winners,
    bit-exact scores, and tie order all match the full path."""
    from wiser_spark.operators.segments import _topk_blockmax_conj

    rng = np.random.RandomState(11)
    segs = {}
    # overlapping but distinct doc sets; varied tfs force varied bounds
    segs["a"] = _mk_term_row(
        spark, "a", [(d, rng.randint(1, 30)) for d in range(0, 3000, 2)]
    )
    segs["b"] = _mk_term_row(
        spark, "b", [(d, rng.randint(1, 9)) for d in range(0, 3000, 3)]
    )
    segs["c"] = _mk_term_row(
        spark, "c", [(d, rng.randint(1, 5)) for d in range(0, 3000, 5)]
    )
    idfs = {"a": 0.21, "b": 1.9, "c": 3.4}
    codes_for = lambda ids: (np.asarray(ids) * 31) % 256  # noqa: E731
    for terms in (["a", "b"], ["b", "a"], ["a", "b", "c"], ["a", "a"]):
        rows_by_term = {t: [segs[t]] for t in set(terms)}
        for k in (1, 10, 100, 5000):
            want = _full_conj_topk(segs, terms, k, idfs, cache, codes_for)
            got = _topk_blockmax_conj(
                rows_by_term, terms, k, idfs, cache, K1, codes_for, {},
                prune_fallback=False,
            )
            assert got is not None, (terms, k)
            np.testing.assert_array_equal(got[0], want[0])
            np.testing.assert_array_equal(got[1], want[1])  # bit-exact


def test_blockmax_conj_skips_noncompetitive_bags(spark, cache):
    """Lead term has one high-tf bag; every other lead bag's combined
    bound falls below θ — prove non-selected bags of BOTH terms are
    never read by poisoning their bytes."""
    from wiser_spark.operators.segments import _topk_blockmax_conj

    n = 10 * PACK_SIZE
    lead_tfs = np.ones(n, dtype=np.int64)
    lead_tfs[3 * PACK_SIZE : 3 * PACK_SIZE + 16] = 60
    seg_a = _mk_term_row(spark, "a", list(enumerate(lead_tfs)))
    seg_b = _mk_term_row(spark, "b", [(d, 2) for d in range(n)])
    idfs = {"a": 1.4, "b": 0.8}
    codes_for = lambda ids: np.full(len(ids), 10, dtype=np.int64)  # noqa: E731
    want = _full_conj_topk(
        {"a": seg_a, "b": seg_b}, ["a", "b"], 10, idfs, cache, codes_for
    )
    assert set(want[0]) <= set(range(3 * PACK_SIZE, 3 * PACK_SIZE + 16))

    def poison(seg, keep_bags):
        blob_d = bytearray(seg["docids_blob"])
        blob_t = bytearray(seg["tfs_blob"])
        d_offs = list(seg["skip_docid_offs"]) + [len(blob_d)]
        t_offs = list(seg["skip_tf_offs"]) + [len(blob_t)]
        for b in range(len(seg["skip_predocs"])):
            if b in keep_bags:
                continue
            blob_d[d_offs[b]:d_offs[b + 1]] = b"\xff" * (
                d_offs[b + 1] - d_offs[b])
            blob_t[t_offs[b]:t_offs[b + 1]] = b"\xff" * (
                t_offs[b + 1] - t_offs[b])
        out = dict(seg)
        out["docids_blob"] = bytes(blob_d)
        out["tfs_blob"] = bytes(blob_t)
        return out

    # phase 1 needs k=10 exact scores: the best-bound bag (3) has 128
    # postings, so only bag 3 of the lead and bag 3 of 'b' (same doc
    # range — identical docids) are ever decoded
    pa = poison(seg_a, {3})
    pb = poison(seg_b, {3})
    got = _topk_blockmax_conj(
        {"a": [pa], "b": [pb]}, ["a", "b"], 10, idfs, cache, K1,
        codes_for, {},
    )
    assert got is not None
    np.testing.assert_array_equal(got[0], want[0])
    np.testing.assert_array_equal(got[1], want[1])


def test_blockmax_conj_other_term_bound_drives_skip(spark, cache):
    """The OTHER term's per-window max tf shapes the combined bound: a
    FLAT-tf lead still prunes when the other term is hot in one region
    — prove it with poisoned bytes on both terms' unselected bags."""
    from wiser_spark.operators.segments import _topk_blockmax_conj

    n = 10 * PACK_SIZE
    seg_a = _mk_term_row(spark, "a", [(d, 1) for d in range(n)])  # flat lead
    b_tfs = np.ones(n, dtype=np.int64)
    b_tfs[384:401] = 50  # inside b's bag 3 == lead bag 3's doc range
    seg_b = _mk_term_row(spark, "b", list(enumerate(b_tfs)))
    idfs = {"a": 1.1, "b": 1.3}
    codes_for = lambda ids: np.full(len(ids), 10, dtype=np.int64)  # noqa: E731
    want = _full_conj_topk(
        {"a": seg_a, "b": seg_b}, ["a", "b"], 10, idfs, cache, codes_for
    )
    assert set(want[0]) <= set(range(384, 401))

    def poison_bags(seg, keep):
        blob_d = bytearray(seg["docids_blob"])
        blob_t = bytearray(seg["tfs_blob"])
        d_offs = list(seg["skip_docid_offs"]) + [len(blob_d)]
        t_offs = list(seg["skip_tf_offs"]) + [len(blob_t)]
        for b in range(len(seg["skip_predocs"])):
            if b in keep:
                continue
            blob_d[d_offs[b]:d_offs[b + 1]] = b"\xff" * (
                d_offs[b + 1] - d_offs[b])
            blob_t[t_offs[b]:t_offs[b + 1]] = b"\xff" * (
                t_offs[b + 1] - t_offs[b])
        out = dict(seg)
        out["docids_blob"] = bytes(blob_d)
        out["tfs_blob"] = bytes(blob_t)
        return out

    pa = poison_bags(seg_a, {3})
    pb = poison_bags(seg_b, {3})
    got = _topk_blockmax_conj(
        {"a": [pa], "b": [pb]}, ["a", "b"], 10, idfs, cache, K1,
        codes_for, {},
    )
    assert got is not None
    np.testing.assert_array_equal(got[0], want[0])
    np.testing.assert_array_equal(got[1], want[1])


def test_blockmax_conj_fallbacks(spark, cache):
    """None on: legacy rows (no skip_max_tfs), tiny leads, and flat-tf
    corpora (budget projection). Multi-generation terms are ELIGIBLE
    since round 5 — covered by the multigeneration tests below."""
    from wiser_spark.operators.segments import _topk_blockmax_conj

    idfs = {"a": 1.0, "b": 1.0}
    codes_for = lambda ids: np.full(len(ids), 10, dtype=np.int64)  # noqa: E731
    seg_a = _mk_term_row(spark, "a", [(d, 1) for d in range(6 * PACK_SIZE)])
    seg_b = _mk_term_row(spark, "b", [(d, 1) for d in range(6 * PACK_SIZE)])
    # flat tf: every bound ties -> projection cedes to the full path
    assert _topk_blockmax_conj(
        {"a": [seg_a], "b": [seg_b]}, ["a", "b"], 10, idfs, cache, K1,
        codes_for, {},
    ) is None
    # legacy row
    legacy = dict(seg_b)
    legacy["skip_max_tfs"] = None
    assert _topk_blockmax_conj(
        {"a": [seg_a], "b": [legacy]}, ["a", "b"], 10, idfs, cache, K1,
        codes_for, {},
    ) is None
    # tiny lead (< 4 bags)
    tiny = _mk_term_row(spark, "t", [(d, 5) for d in range(40)])
    assert _topk_blockmax_conj(
        {"t": [tiny], "b": [seg_b]}, ["t", "b"], 10, idfs, cache, K1,
        codes_for, {},
    ) is None


# ------------------------------------------------------ multi-generation
def _split_gens(spark, term, doc_tfs, cuts):
    """The same postings split into generation rows at the given docID
    cuts — the shape of an uncompacted streaming index."""
    rows = []
    bounds = [-1] + list(cuts) + [max(d for d, _ in doc_tfs) + 1]
    for lo, hi in zip(bounds[:-1], bounds[1:]):
        part = [(d, tf) for d, tf in doc_tfs if lo < d <= hi]
        if part:
            rows.append(_mk_term_row(spark, term, part))
    return rows


def test_blockmax_single_multigeneration_exact(spark, cache):
    """The single-term scorer over 3 generation rows (disjoint dense
    docID ranges, the streaming shape) matches the merged full decode
    bit-exactly."""
    rng = np.random.RandomState(23)
    doc_tfs = [(d, int(rng.randint(1, 30))) for d in range(2000)]
    merged = _mk_term_row(spark, "t", doc_tfs)
    gens = _split_gens(spark, "t", doc_tfs, [700, 1400])
    assert len(gens) == 3
    codes_for = lambda ids: (np.asarray(ids) * 53) % 256  # noqa: E731
    for k in (1, 10, 100):
        want_ids, want_sc = _full_topk(merged, k, cache, codes_for)
        got = _topk_blockmax_single(
            gens, k, IDF, cache, K1, codes_for, prune_fallback=False
        )
        np.testing.assert_array_equal(got[0], want_ids)
        np.testing.assert_array_equal(got[1], want_sc)


def test_blockmax_conj_multigeneration_exact(spark, cache):
    """The conjunction scorer over multi-generation terms (each term
    split at DIFFERENT cuts — bag intervals interleave across rows)
    matches the single-generation full decode bit-exactly, including
    duplicate query terms."""
    from wiser_spark.operators.segments import _topk_blockmax_conj

    rng = np.random.RandomState(31)
    a_tfs = [(d, int(rng.randint(1, 30))) for d in range(0, 4000, 2)]
    b_tfs = [(d, int(rng.randint(1, 9))) for d in range(0, 4000, 3)]
    segs = {"a": _mk_term_row(spark, "a", a_tfs),
            "b": _mk_term_row(spark, "b", b_tfs)}
    gens = {
        "a": _split_gens(spark, "a", a_tfs, [900, 2600]),
        "b": _split_gens(spark, "b", b_tfs, [1500]),
    }
    assert len(gens["a"]) == 3 and len(gens["b"]) == 2
    idfs = {"a": 0.7, "b": 1.9}
    codes_for = lambda ids: (np.asarray(ids) * 31) % 256  # noqa: E731
    for terms in (["a", "b"], ["b", "a"], ["a", "a", "b"]):
        for k in (1, 10, 100):
            want = _full_conj_topk(segs, terms, k, idfs, cache, codes_for)
            got = _topk_blockmax_conj(
                gens, terms, k, idfs, cache, K1, codes_for, {},
                prune_fallback=False,
            )
            assert got is not None, (terms, k)
            np.testing.assert_array_equal(got[0], want[0])
            np.testing.assert_array_equal(got[1], want[1])


def test_blockmax_conj_multigeneration_skips(spark, cache):
    """Poisoned-bytes proof at multi-generation: one hot region in one
    generation; every bag outside it (in BOTH terms' rows, ALL
    generations) is corrupted and the answer still matches."""
    from wiser_spark.operators.segments import _topk_blockmax_conj

    n = 12 * PACK_SIZE
    lead_tfs = np.ones(n, dtype=np.int64)
    hot = slice(9 * PACK_SIZE, 9 * PACK_SIZE + 16)  # inside generation 2
    lead_tfs[hot] = 60
    a_tfs = list(enumerate(lead_tfs))
    b_tfs = [(d, 2) for d in range(n)]
    segs = {"a": _mk_term_row(spark, "a", a_tfs),
            "b": _mk_term_row(spark, "b", b_tfs)}
    cuts = [4 * PACK_SIZE - 1, 8 * PACK_SIZE - 1]
    gens_a = _split_gens(spark, "a", a_tfs, cuts)
    gens_b = _split_gens(spark, "b", b_tfs, cuts)
    idfs = {"a": 1.4, "b": 0.8}
    codes_for = lambda ids: np.full(len(ids), 10, dtype=np.int64)  # noqa: E731
    want = _full_conj_topk(segs, ["a", "b"], 10, idfs, cache, codes_for)
    assert set(want[0]) <= set(range(hot.start, hot.stop))

    def poison(seg, keep_bags):
        blob_d = bytearray(seg["docids_blob"])
        blob_t = bytearray(seg["tfs_blob"])
        d_offs = list(seg["skip_docid_offs"]) + [len(blob_d)]
        t_offs = list(seg["skip_tf_offs"]) + [len(blob_t)]
        for b in range(len(seg["skip_predocs"])):
            if b in keep_bags:
                continue
            blob_d[d_offs[b]:d_offs[b + 1]] = b"\xff" * (
                d_offs[b + 1] - d_offs[b])
            blob_t[t_offs[b]:t_offs[b + 1]] = b"\xff" * (
                t_offs[b + 1] - t_offs[b])
        out = dict(seg)
        out["docids_blob"] = bytes(blob_d)
        out["tfs_blob"] = bytes(blob_t)
        return out

    # the hot docs live in bag 1 of generation-2's rows (each
    # generation holds 4 bags; 9*128 is its second bag). The LEAD's
    # bags outside it are skipped by θ (poison them all); the other
    # term's selective decode is exact for interior bags but
    # conservatively touches each generation row's BOUNDARY bags for
    # out-of-range candidates (bag 0 / last bag), so those stay clean.
    pa = [poison(gens_a[0], set()), poison(gens_a[1], set()),
          poison(gens_a[2], {1})]
    pb = [poison(gens_b[0], {0, 3}), poison(gens_b[1], {0, 3}),
          poison(gens_b[2], {1})]
    got = _topk_blockmax_conj(
        {"a": pa, "b": pb}, ["a", "b"], 10, idfs, cache, K1,
        codes_for, {},
    )
    assert got is not None
    np.testing.assert_array_equal(got[0], want[0])
    np.testing.assert_array_equal(got[1], want[1])


# ---------------------------------------------------------------- phrase
def _mk_pos_rows(spark, contents):
    """docs (doc_id = index) -> {term: [segment row]} with positions."""
    from wiser_spark.operators.postings import build_postings

    docs = spark.createDataFrame(
        list(enumerate(contents)), "doc_id long, content string"
    )
    out: dict = {}
    for r in _term_rows(build_postings(docs)):
        out.setdefault(r["term"], []).append(r)
    return out


def _full_phrase_topk(rows_by_term, terms, k, idfs, cache, codes_for):
    """Reference: full decode (positions included), exact AND, exact
    adjusted-position intersect, generic scoring-path math."""
    from wiser_spark.operators.segments import (
        _bm25_scores,
        _phrase_intersect,
    )

    dec = {
        t: _decode_full_multi(rows_by_term[t]) for t in set(terms)
    }
    cand = None
    for t in set(terms):
        ids = dec[t][0]
        cand = ids if cand is None else cand[np.isin(cand, ids)]
    cand = np.sort(cand)
    if cand.size:
        cand, _, _ = _phrase_intersect(dec, terms, cand)
    if cand.size == 0:
        return np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.float64)
    scores = _bm25_scores(
        dec, terms, cand, codes_for(cand), idfs, cache, PARAMS.k1
    )
    order = np.lexsort((cand, -scores))[:k]
    return cand[order], scores[order]


def _decode_full_multi(rows):
    parts = [decode_segment_row(r, with_positions=True) for r in rows]
    parts.sort(key=lambda p: int(p[0][0]))
    ids = np.concatenate([p[0] for p in parts])
    tfs = np.concatenate([p[1] for p in parts])
    plists = [pl for p in parts for pl in p[2]]
    return ids, tfs, plists, None


def test_blockmax_phrase_exact_vs_full_decode(spark, cache):
    """Random corpus with adjacent and non-adjacent co-occurrences:
    phrase block-max winners, bit-exact scores, and tie order all match
    the full positional path — single- AND multi-generation."""
    from wiser_spark.operators.segments import _topk_blockmax_conj

    rng = np.random.RandomState(17)
    contents = []
    for i in range(1500):
        words = []
        for _ in range(int(rng.randint(3, 25))):
            r = rng.rand()
            if r < 0.25:
                words += ["hot", "cold"]          # adjacent pair
            elif r < 0.4:
                words += ["hot", f"x{i % 7}", "cold"]  # non-adjacent
            else:
                words.append(f"w{int(rng.randint(0, 40))}")
        contents.append(" ".join(words) or "empty")
    rows = _mk_pos_rows(spark, contents)
    idfs = {"hot": 1.1, "cold": 1.7}
    codes_for = lambda ids: (np.asarray(ids) * 53) % 256  # noqa: E731
    want = _full_phrase_topk(
        rows, ["hot", "cold"], 10, idfs, cache, codes_for
    )
    assert want[0].size == 10
    got = _topk_blockmax_conj(
        {t: rows[t] for t in ("hot", "cold")}, ["hot", "cold"], 10,
        idfs, cache, K1, codes_for, {}, prune_fallback=False,
        phrase=True, pos_caches={},
    )
    assert got is not None
    np.testing.assert_array_equal(got[0], want[0])
    np.testing.assert_array_equal(got[1], want[1])
    # multi-generation: same docs split into 3 dense-docID generations
    cuts = [500, 1000]
    bounds = [-1] + cuts + [1500]
    gens: dict = {"hot": [], "cold": []}
    for lo, hi in zip(bounds[:-1], bounds[1:]):
        sub = _mk_pos_rows_sub(spark, contents, lo + 1, hi)
        for t in ("hot", "cold"):
            gens[t].extend(sub.get(t, []))
    got_g = _topk_blockmax_conj(
        gens, ["hot", "cold"], 10, idfs, cache, K1, codes_for, {},
        prune_fallback=False, phrase=True, pos_caches={},
    )
    assert got_g is not None
    np.testing.assert_array_equal(got_g[0], want[0])
    np.testing.assert_array_equal(got_g[1], want[1])


def _mk_pos_rows_sub(spark, contents, lo, hi):
    """Segment rows (positions included) for docs lo..hi only, keeping
    the ORIGINAL docIDs — one streaming generation's shape."""
    from wiser_spark.operators.postings import build_postings

    docs = spark.createDataFrame(
        [(i, c) for i, c in enumerate(contents) if lo <= i <= hi],
        "doc_id long, content string",
    )
    out: dict = {}
    for r in _term_rows(build_postings(docs)):
        out.setdefault(r["term"], []).append(r)
    return out


def test_blockmax_phrase_skips_poisoned_bags(spark, cache):
    """One hot region where 'hot cold' repeats with tf=60; elsewhere
    the pair co-occurs NON-adjacently with tf=1. Poison every bag
    outside the hot one in docids, tfs, AND positions of both terms —
    the phrase scorer must still answer exactly (proof the skipped
    bags' bytes, positional stream included, are never read)."""
    from wiser_spark.operators.segments import _topk_blockmax_conj

    n = 10 * PACK_SIZE
    hot = range(3 * PACK_SIZE, 3 * PACK_SIZE + 16)
    contents = [
        ("hot cold " * 60) if i in hot else "hot filler cold"
        for i in range(n)
    ]
    rows = _mk_pos_rows(spark, contents)
    idfs = {"hot": 1.2, "cold": 1.5}
    codes_for = lambda ids: np.full(len(ids), 10, dtype=np.int64)  # noqa: E731
    want = _full_phrase_topk(
        rows, ["hot", "cold"], 10, idfs, cache, codes_for
    )
    assert set(want[0]) <= set(hot) and want[0].size == 10

    def poison(seg, keep_bags):
        out = dict(seg)
        for blob_col, off_col in (
            ("docids_blob", "skip_docid_offs"),
            ("tfs_blob", "skip_tf_offs"),
            ("pos_blob", "skip_pos_offs"),
        ):
            blob = bytearray(out[blob_col])
            offs = list(out[off_col]) + [len(blob)]
            for b in range(len(seg["skip_predocs"])):
                if b in keep_bags:
                    continue
                blob[offs[b]:offs[b + 1]] = b"\xff" * (
                    offs[b + 1] - offs[b])
            out[blob_col] = bytes(blob)
        return out

    pa = poison(rows["hot"][0], {3})
    pb = poison(rows["cold"][0], {3})
    got = _topk_blockmax_conj(
        {"hot": [pa], "cold": [pb]}, ["hot", "cold"], 10, idfs, cache,
        K1, codes_for, {}, phrase=True, pos_caches={},
    )
    assert got is not None
    np.testing.assert_array_equal(got[0], want[0])
    np.testing.assert_array_equal(got[1], want[1])


def test_blockmax_phrase_fallbacks(spark, cache):
    """Phrase mode returns None when a row lacks the positional column
    (the stream was built without positions) — the kernel then takes
    the generic full-decode phrase path."""
    from wiser_spark.operators.segments import _topk_blockmax_conj

    seg_a = _mk_term_row(spark, "a", [(d, 2) for d in range(6 * PACK_SIZE)])
    seg_b = _mk_term_row(spark, "b", [(d, 2) for d in range(6 * PACK_SIZE)])
    assert len(seg_a["pos_blob"]) == 0  # built without positions
    idfs = {"a": 1.0, "b": 1.0}
    codes_for = lambda ids: np.full(len(ids), 10, dtype=np.int64)  # noqa: E731
    assert _topk_blockmax_conj(
        {"a": [seg_a], "b": [seg_b]}, ["a", "b"], 10, idfs, cache, K1,
        codes_for, {}, phrase=True, pos_caches={},
    ) is None


@pytest.mark.parametrize("terms", [["hot", "cold"], ["hot", "cold", "mild"]])
def test_blockmax_phrase_end_to_end_rank_identity(spark, tmp_path,
                                                  monkeypatch, terms):
    """SegmentIndex.search phrase queries return the same rows whether
    the phrase block-max gate fires or not."""
    import wiser_spark.operators.segments as segmod
    from wiser_spark.operators.mapside import write_index_mapside

    rng = np.random.RandomState(29)
    rows = []
    for i in range(1400):
        words = []
        for _ in range(int(rng.randint(2, 12))):
            r = rng.rand()
            if r < 0.3:
                words += ["hot", "cold", "mild"]
            elif r < 0.45:
                words += ["hot", "pad", "cold"]
            else:
                words.append(f"w{int(rng.randint(0, 60))}")
        rows.append((i, " ".join(words) or "empty"))
    docs = spark.createDataFrame(rows, "doc_id long, content string")
    d = str(tmp_path / "idx")
    write_index_mapside(docs, d, IndexConfig(bm25=PARAMS, n_shards=2))
    idx = SegmentIndex(spark, d)
    full = [tuple(r) for r in
            idx.search(terms, k=10, is_phrase=True).collect()]
    assert len(full) == 10
    monkeypatch.setattr(segmod, "PARTIAL_DECODE_MIN_PAGES", 1)
    bm = [tuple(r) for r in
          idx.search(terms, k=10, is_phrase=True).collect()]
    assert bm == full


@pytest.mark.parametrize("terms", [["hot", "warm"], ["hot", "warm", "def"]])
def test_blockmax_conj_end_to_end_rank_identity(spark, tmp_path,
                                                monkeypatch, terms):
    """SegmentIndex.search on hot conjunctions returns the same rows
    whether the conjunction block-max gate fires or not."""
    import wiser_spark.operators.segments as segmod
    from wiser_spark.operators.mapside import write_index_mapside

    rng = np.random.RandomState(5)
    rows = [
        (i, " ".join(
            ["hot"] * int(rng.randint(1, 8))
            + ["warm"] * int(rng.randint(0, 5))
            + (["def"] if rng.rand() < 0.7 else [])
            + [f"w{j}" for j in rng.randint(0, 50, rng.randint(2, 20))]
        ))
        for i in range(1200)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, content string")
    d = str(tmp_path / "idx")
    write_index_mapside(docs, d, IndexConfig(bm25=PARAMS, n_shards=2))
    idx = SegmentIndex(spark, d)
    full = [tuple(r) for r in idx.search(terms, k=10).collect()]
    assert len(full) == 10
    monkeypatch.setattr(segmod, "PARTIAL_DECODE_MIN_PAGES", 1)
    fired = segmod.partial_decode_terms(
        [(0, terms, False)], {t: 1 for t in terms}, set(), set()
    )
    assert set(fired) == set(terms)
    bm = [tuple(r) for r in idx.search(terms, k=10).collect()]
    assert bm == full
