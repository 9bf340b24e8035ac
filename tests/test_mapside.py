"""Map-side (zero-shuffle) index build == oracle, and == the
shuffle-based v1 path. This is the scale-path differential gate."""

import json

import pytest

from wiser_spark.config import BM25Params, IndexConfig
from wiser_spark.operators.mapside import write_index_mapside
from wiser_spark.operators.postings import assign_doc_ids
from wiser_spark.operators.segments import SegmentIndex
from wiser_spark.oracle import OracleEngine
from wiser_spark.sources.corpus import corpus_df, make_corpus

N = 130
PARAMS = BM25Params(1.2, 0.75)


@pytest.fixture(scope="module")
def mapside_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("mapside_idx"))
    docs = assign_doc_ids(corpus_df(spark, N), n_partitions=4)
    write_index_mapside(docs, d, IndexConfig(bm25=PARAMS, n_shards=5))
    return d


@pytest.fixture(scope="module")
def oracle():
    eng = OracleEngine(PARAMS)
    for row in make_corpus(N):
        eng.add_document(row["content"])
    return eng


def test_meta_and_dictionary(spark, mapside_dir, oracle):
    meta = json.load(open(f"{mapside_dir}/stats.json"))
    assert meta["n_docs"] == N
    assert meta["avgdl"] == pytest.approx(oracle.avgdl, rel=1e-12)
    assert meta["doclen_sentinel"] is True
    d = {
        r["term"]: r["df"]
        for r in spark.read.parquet(f"{mapside_dir}/dictionary").collect()
    }
    assert d["return"] == oracle.df("return")
    assert "" not in d  # sentinel rows excluded from the dictionary


def test_degenerate_corpora(spark, tmp_path):
    """Empty corpus, single doc, and a doc that tokenizes to nothing all
    build readable, correctly-answering indexes."""
    cfg = IndexConfig(bm25=PARAMS, n_shards=2)
    d = str(tmp_path / "empty")
    write_index_mapside(
        spark.createDataFrame([], "doc_id long, content string"), d, cfg
    )
    i1 = SegmentIndex(spark, d)
    assert i1.stats.n_docs == 0
    assert i1.search(["anything"], k=5).count() == 0
    assert i1.search_batch([(0, ["x"], False)], k=5).count() == 0

    d2 = str(tmp_path / "single")
    write_index_mapside(
        spark.createDataFrame([(0, "lone doc words")],
                              "doc_id long, content string"), d2, cfg
    )
    i2 = SegmentIndex(spark, d2)
    assert [r["doc_id"] for r in i2.search(["lone"], k=5).collect()] == [0]
    assert i2.search(["lone", "doc"], k=5, is_phrase=True).count() == 1

    d3 = str(tmp_path / "notoken")
    write_index_mapside(
        spark.createDataFrame([(0, "!!! ??? ...")],
                              "doc_id long, content string"), d3,
        IndexConfig(bm25=PARAMS, n_shards=1),
    )
    i3 = SegmentIndex(spark, d3)
    assert i3.stats.n_docs == 1 and i3.search(["x"], k=5).count() == 0


def test_batched_encode_byte_identical_to_reference():
    """The vocabulary-batched encoder must produce rows BYTE-IDENTICAL
    to the per-term reference encode (_encode_term_flat / bloom_row) —
    including df >= PACK_SIZE terms (framed path), df < PACK_SIZE
    terms (batched tail path), and both bloom sides."""
    import random

    import numpy as np
    import pyarrow as pa

    from wiser_spark.functions.bloom import bloom_params, vocab_bloom_matrix
    from wiser_spark.operators.mapside import encode_doc_batches
    from wiser_spark.operators.segments import (
        BLOOM_BEGIN_PREFIX,
        BLOOM_PREFIX,
        DOCLEN_TERM,
        _encode_term_flat,
        bloom_row,
    )

    rnd = random.Random(3)
    rare = [f"v{i:04d}" for i in range(400)]
    docs = [
        " ".join(
            "hot" if rnd.random() < 0.5 else rare[rnd.randrange(400)]
            for _ in range(12)
        )
        for _ in range(300)  # 'hot' df ~300 >= 128; rare terms df ~5
    ]
    rb = pa.record_batch(
        {"doc_id": pa.array(range(300), type=pa.int64()),
         "content": pa.array(docs)}
    )
    out = list(encode_doc_batches([rb], 7, "content", True))
    assert all(isinstance(b, pa.RecordBatch) for b in out)
    got = {}
    for b in out:
        for r in b.to_pylist():
            got[r["term"]] = r

    # rebuild expected rows from first principles with the reference
    # per-term encoder
    import re

    per_term: dict[str, dict[int, list[tuple[int, int, int]]]] = {}
    for did, text in enumerate(docs):
        for pos, m in enumerate(re.finditer(r"[a-z0-9_]+", text.lower())):
            per_term.setdefault(m.group(), {}).setdefault(did, []).append(
                (pos, m.start(), m.end())
            )
    vocab = sorted(per_term)
    bp = bloom_params()
    masks = vocab_bloom_matrix(np.asarray(vocab, dtype=object), bp)
    code = {t: i for i, t in enumerate(vocab)}
    tok_stream = [
        [m.group() for m in re.finditer(r"[a-z0-9_]+", t.lower())]
        for t in docs
    ]
    n_checked = 0
    for t in vocab:
        doc_ids = np.array(sorted(per_term[t]), dtype=np.int64)
        tfs = np.array([len(per_term[t][d]) for d in doc_ids], dtype=np.int64)
        flat_pos = np.array(
            [p for d in doc_ids for (p, _, _) in per_term[t][d]], dtype=np.int64
        )
        flat_off = np.array(
            [v for d in doc_ids for (_, s, e) in per_term[t][d] for v in (s, e)],
            dtype=np.int64,
        )
        want = _encode_term_flat(7, t, doc_ids, tfs, flat_pos, flat_off)
        have = got[t]
        for k, v in want.items():
            hv = have[k]
            assert (list(hv) if isinstance(v, list) else hv) == v, (t, k)
        # blooms: end = next-token masks, begin = previous-token masks
        # (sized filters: reference libbloom defaults, box layout)
        for pref, delta in ((BLOOM_PREFIX, 1), (BLOOM_BEGIN_PREFIX, -1)):
            blooms = []
            for d in doc_ids:
                acc = np.zeros(bp.nbytes, dtype=np.uint8)
                toks = tok_stream[d]
                for (p, _, _) in per_term[t][d]:
                    q = p + delta
                    if 0 <= q < len(toks):
                        acc |= masks[code[toks[q]]]
                blooms.append(acc)
            wantb = bloom_row(7, t, np.stack(blooms), prefix=pref)
            haveb = got[pref + t]
            for k, v in wantb.items():
                hv = haveb[k]
                assert (list(hv) if isinstance(v, list) else hv) == v, (t, pref, k)
        n_checked += 1
    assert n_checked == len(vocab) and DOCLEN_TERM in got
    assert max(len(per_term["hot"]), 0) >= 128  # framed path exercised



def _reference_rows(docs, with_blooms):
    """Expected segment rows of shard 7 over ``docs`` (doc_id = list
    index), in output order, from the per-term reference encoders."""
    import re

    import numpy as np

    from wiser_spark.functions.bloom import bloom_params, vocab_bloom_matrix
    from wiser_spark.operators.segments import (
        BLOOM_BEGIN_PREFIX,
        BLOOM_PREFIX,
        _encode_term_flat,
        bloom_row,
        doclen_sentinel_row,
    )

    toks = [list(re.finditer(r"[a-z0-9_]+", d.lower())) for d in docs]
    per_term: dict[str, dict[int, list]] = {}
    for did, ms in enumerate(toks):
        for pos, m in enumerate(ms):
            per_term.setdefault(m.group(), {}).setdefault(did, []).append(
                (pos, m.start(), m.end())
            )
    vocab = sorted(per_term)
    bp = bloom_params()
    masks = dict(zip(vocab, vocab_bloom_matrix(vocab, bp)))
    rows = []
    for t in vocab:
        doc_ids = sorted(per_term[t])
        occ = [o for d in doc_ids for o in per_term[t][d]]
        rows.append(_encode_term_flat(
            7, t, np.array(doc_ids, dtype=np.int64),
            np.array([len(per_term[t][d]) for d in doc_ids], dtype=np.int64),
            np.array([p for p, _, _ in occ], dtype=np.int64),
            np.array([v for _, s, e in occ for v in (s, e)], dtype=np.int64),
        ))
        if not with_blooms:
            continue
        for pref, delta in ((BLOOM_PREFIX, 1), (BLOOM_BEGIN_PREFIX, -1)):
            blooms = np.zeros((len(doc_ids), bp.nbytes), dtype=np.uint8)
            for i, d in enumerate(doc_ids):
                for p, _, _ in per_term[t][d]:
                    if 0 <= p + delta < len(toks[d]):
                        blooms[i] |= masks[toks[d][p + delta].group()]
            rows.append(bloom_row(7, t, blooms, prefix=pref))
    rows.append(doclen_sentinel_row(
        7, np.arange(len(docs)),
        [len([c for c in d.split(" ") if c]) for d in docs],
    ))
    return rows


def _edge_corpus(case):
    import random

    rnd = random.Random(11)
    if case == "df_eq_128":  # 'edge' fills exactly one framed box
        return [f"edge w{i} x{i % 7} edge" for i in range(128)]
    if case in ("df_over_128", "no_blooms", "batches"):
        # 'hot' spans two bloom boxes; rare terms stay on the tail path
        return [
            " ".join("hot" if rnd.random() < 0.4 else f"r{rnd.randrange(90)}"
                     for _ in range(10))
            for _ in range(300)
        ]
    assert case == "punctuation"
    return ["!!! ???", "...", ";; --"]


@pytest.mark.parametrize(
    "case", ["df_eq_128", "df_over_128", "no_blooms", "batches",
             "punctuation"],
)
def test_encode_byte_identical_edge_cases(case):
    """Row-for-row, byte-identical and in order (term, end-bloom,
    begin-bloom per term; sentinel last) against the per-term
    reference, at the framed/tail boundary, across bloom boxes,
    without blooms, over several input batches whose per-batch
    dictionaries must unify, and for a shard with no tokens at all."""
    import pyarrow as pa

    from wiser_spark.operators.mapside import encode_doc_batches

    docs = _edge_corpus(case)
    with_blooms = case != "no_blooms"
    step = 70 if case == "batches" else len(docs)
    batches = [
        pa.record_batch({
            "doc_id": pa.array(range(s, min(s + step, len(docs))),
                               type=pa.int64()),
            "content": pa.array(docs[s:s + step]),
        })
        for s in range(0, len(docs), step)
    ]
    out = list(encode_doc_batches(batches, 7, "content", with_blooms))
    assert all(isinstance(b, pa.RecordBatch) for b in out)
    got = [r for b in out for r in b.to_pylist()]
    want = _reference_rows(docs, with_blooms)
    assert [r["term"] for r in got] == [r["term"] for r in want]
    for g, w in zip(got, want):
        assert g == w, g["term"]
    if case == "punctuation":
        assert len(got) == 1


def test_encode_memory_bounded_by_output(tmp_path):
    """A shard of many df-1 identifiers (the vocabulary-heavy case)
    encodes with a kernel high-water mark (VmHWM) rise of at most 7x
    its Arrow output: no per-term Python objects are built."""
    import subprocess
    import sys

    script = tmp_path / "probe.py"
    script.write_text(
        """
import random
import pyarrow as pa
from wiser_spark.operators import mapside
from wiser_spark.sources.corpus import make_corpus

def hwm_kb():
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])

docs = []
for i, row in enumerate(make_corpus(250, seed=101)):
    rng = random.Random(f"rare:{i}")
    rare = " ".join(f"r{rng.getrandbits(48):012x}" for _ in range(170))
    docs.append(row["content"] + "\\n" + rare)
rb = pa.record_batch({"doc_id": pa.array(range(250), pa.int64()),
                      "content": pa.array(docs)})
# warm the encoder's lazy imports on a tiny shard first
list(mapside.encode_doc_batches([rb.slice(0, 2)], 0, "content", True))
base = hwm_kb()
out = list(mapside.encode_doc_batches([rb], 0, "content", True))
print((hwm_kb() - base) * 1024, sum(b.nbytes for b in out))
"""
    )
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    res = subprocess.run(
        [sys.executable, str(script)], capture_output=True, text=True,
        timeout=300, env={**os.environ, "PYTHONPATH": root},
    )
    assert res.returncode == 0, res.stderr
    delta, out_bytes = map(int, res.stdout.split())
    assert out_bytes > 10 << 20
    assert delta <= 7 * out_bytes, (delta / out_bytes, delta, out_bytes)

QUERIES = [
    (["return"], False),
    (["return", "import"], False),
    (["def", "self", "return"], False),
    (["return", "zz_absent_zz"], False),
    (["return", "import"], True),
    (["import", "return", "def"], True),
]


@pytest.mark.parametrize("terms,is_phrase", QUERIES)
def test_mapside_search_rank_identical(spark, mapside_dir, oracle, terms, is_phrase):
    idx = SegmentIndex(spark, mapside_dir)
    got = idx.search(terms, k=10, is_phrase=is_phrase).collect()
    want = oracle.search(terms, k=10, is_phrase=is_phrase)
    assert [r["doc_id"] for r in got] == [d for d, _ in want]
    for r, (_, s) in zip(got, want):
        assert r["score"] == pytest.approx(s, rel=1e-12)


def test_absent_term_answers_run_no_job(spark, mapside_dir):
    """The dictionary rejects an absent term before any scan, and the
    empty answer itself is a LocalRelation: collecting it runs zero
    Spark jobs, unary and batch."""
    idx = SegmentIndex(spark, mapside_dir)
    idx._dict_lookup(["return"])  # loads the driver dictionary cache
    tracker = spark.sparkContext.statusTracker()
    bus = spark.sparkContext._jsc.sc().listenerBus()
    bus.waitUntilEmpty()
    before = len(tracker.getJobIdsForGroup(None) or [])
    unary = idx.search(["zz_absent_zz"], k=5).collect()
    batch = idx.search_batch(
        [(0, ["zz_absent_zz"], False), (1, ["return", "zz_absent_zz"], True)],
        k=5,
    ).collect()
    bus.waitUntilEmpty()
    assert unary == [] and batch == []
    assert len(tracker.getJobIdsForGroup(None) or []) == before


def test_write_index_mapside_surfaces_every_thread_failure(
    spark, tmp_path, monkeypatch
):
    """The post-write bookkeeping jobs run on pool threads: when the
    dictionary write and the sentinel-stats job both fail, the first
    failure is raised and the second rides along as a note — neither
    is dropped."""
    from pyspark.sql import functions as F

    from wiser_spark.operators import mapside, segments

    class FailingSum:
        def __getattr__(self, name):
            return getattr(F, name)

        @staticmethod
        def sum(*_):
            raise RuntimeError("injected stats failure")

    monkeypatch.setattr(
        segments, "dictionary_from_segments",
        lambda segs: segs.selectExpr(
            "CAST(raise_error('injected dictionary failure') AS STRING)"
            " AS term"
        ),
    )
    monkeypatch.setattr(mapside, "F", FailingSum())
    docs = spark.createDataFrame([(0, "a b")], "doc_id long, content string")
    with pytest.raises(Exception, match="injected dictionary failure") as exc:
        write_index_mapside(
            docs, str(tmp_path / "idx"), IndexConfig(bm25=PARAMS, n_shards=1)
        )
    assert "injected stats failure" in " ".join(
        getattr(exc.value, "__notes__", [])
    )
