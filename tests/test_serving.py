"""HTTP serving endpoint (S9 rendition) — the reference's gRPC
surface (protos/qq.proto:40-56, grpc_server_impl.h:142-161) as
JSON-over-HTTP, answered by the same SegmentIndex kernels the driver
gates already pin.  These tests check the PROTOCOL layer: unary and
streaming replies are byte-equal to direct engine calls, request
defaults follow proto3 zero-value semantics, and malformed requests
fail with 400 instead of killing the server."""

import json
import urllib.error
import urllib.request

import pytest


@pytest.fixture(scope="module")
def served(spark, tmp_path_factory):
    from wiser_spark.config import BM25Params, IndexConfig
    from wiser_spark.operators.docstore import write_doc_store
    from wiser_spark.operators.mapside import write_index_mapside
    from wiser_spark.operators.postings import assign_doc_ids
    from wiser_spark.operators.segments import SegmentIndex
    from wiser_spark.serving import SearchServer
    from wiser_spark.sources.corpus import corpus_df

    base = tmp_path_factory.mktemp("serving")
    docs = assign_doc_ids(corpus_df(spark, 120)).select("doc_id", "content")
    idx_dir, store_dir = str(base / "idx"), str(base / "store")
    write_index_mapside(docs, idx_dir,
                        IndexConfig(bm25=BM25Params(0.9, 0.4), n_shards=2))
    write_doc_store(docs, store_dir)
    idx = SegmentIndex(spark, idx_dir).warmup()
    with SearchServer(idx, doc_store_dir=store_dir) as srv:
        yield srv, idx


def _post(srv, path, body, raw=False):
    req = urllib.request.Request(
        f"http://{srv.host}:{srv.port}{path}",
        data=body if isinstance(body, bytes) else json.dumps(body).encode(),
        method="POST",
    )
    with urllib.request.urlopen(req, timeout=120) as resp:
        data = resp.read()
    return data if raw else json.loads(data)


def _get(srv, path):
    with urllib.request.urlopen(
        f"http://{srv.host}:{srv.port}{path}", timeout=30
    ) as resp:
        return json.loads(resp.read())


def _engine_entries(idx, terms, k=10, is_phrase=False, snippets=False,
                    store=None, n_passages=3):
    df = idx.search(terms, k=k, is_phrase=is_phrase,
                    return_snippets=snippets, n_passages=n_passages,
                    doc_store_dir=store)
    rows = sorted(df.collect(), key=lambda r: r["rank"])
    return [
        {
            "doc_id": int(r["doc_id"]),
            "doc_score": float(r["score"]),
            "snippet": (r["snippet"] or "") if snippets else "",
        }
        for r in rows
    ]


def test_echo_and_stats(served):
    srv, idx = served
    assert _post(srv, "/echo", {"message": "ping"}) == {"message": "ping"}
    stats = _get(srv, "/stats")
    assert stats["n_docs"] == idx.meta["n_docs"]
    assert stats["avgdl"] == idx.meta["avgdl"]
    assert stats["n_terms"] == idx.meta["n_terms"] == idx.dictionary.count()


def test_unary_search_matches_engine(served):
    srv, idx = served
    reply = _post(srv, "/search", {"terms": ["return", "import"],
                                   "n_results": 5})
    assert reply == {"entries": _engine_entries(
        idx, ["return", "import"], k=5
    )}
    assert len(reply["entries"]) == 5


def test_unary_defaults_proto3(served):
    """Absent scalars take proto3 zero values, then the serving
    defaults (n_results->10) — an empty-object request is a valid
    10-result term query over no terms (empty reply)."""
    srv, idx = served
    assert _post(srv, "/search", {}) == {"entries": []}
    # n_results omitted -> 10
    reply = _post(srv, "/search", {"terms": ["return"]})
    assert len(reply["entries"]) == 10
    assert reply == {"entries": _engine_entries(idx, ["return"], k=10)}


def test_unary_phrase_with_snippets(served):
    srv, idx = served
    req = {"terms": ["return", "import"], "n_results": 4,
           "is_phrase": True, "return_snippets": True,
           "n_snippet_passages": 2}
    reply = _post(srv, "/search", req)
    want = _engine_entries(idx, ["return", "import"], k=4, is_phrase=True,
                           snippets=True, store=srv.doc_store_dir,
                           n_passages=2)
    assert reply == {"entries": want}
    assert all(e["snippet"] for e in reply["entries"])


def test_absent_term_empty_reply(served):
    srv, _ = served
    reply = _post(srv, "/search", {"terms": ["zz_absent_zz"]})
    assert reply == {"entries": []}


def test_streaming_matches_unary(served):
    """/stream_search answers an NDJSON request stream in order; each
    reply equals the unary reply for that request — including mixed
    n_results, phrase/term, and snippets-on/off on one stream (the
    batch fan-in groups by passage budget, so heterogeneous budgets
    stay exact)."""
    srv, _ = served
    reqs = [
        {"terms": ["return"], "n_results": 3},
        {"terms": ["return", "import"], "n_results": 5, "is_phrase": True,
         "return_snippets": True, "n_snippet_passages": 2},
        {"terms": ["def", "self"], "n_results": 2,
         "return_snippets": True, "n_snippet_passages": 1},
        {"terms": ["zz_absent_zz"], "n_results": 5},
    ]
    body = "\n".join(json.dumps(r) for r in reqs).encode()
    raw = _post(srv, "/stream_search", body, raw=True)
    replies = [json.loads(ln) for ln in raw.decode().splitlines()]
    assert len(replies) == len(reqs)
    for req, got in zip(reqs, replies):
        want = _post(srv, "/search", req)
        assert got == want, req
    assert len(replies[0]["entries"]) == 3
    assert all(e["snippet"] for e in replies[1]["entries"])
    assert replies[3] == {"entries": []}


def test_bad_request_400(served):
    srv, _ = served
    for bad in (b"{not json", json.dumps({"terms": "return"}).encode()):
        req = urllib.request.Request(
            f"http://{srv.host}:{srv.port}/search", data=bad, method="POST"
        )
        with pytest.raises(urllib.error.HTTPError) as ei:
            urllib.request.urlopen(req, timeout=30)
        assert ei.value.code == 400
    # the server survives bad input
    assert _post(srv, "/echo", {"message": "still up"}) == {
        "message": "still up"
    }


def test_unknown_path_404(served):
    srv, _ = served
    with pytest.raises(urllib.error.HTTPError) as ei:
        urllib.request.urlopen(
            f"http://{srv.host}:{srv.port}/nope", timeout=30
        )
    assert ei.value.code == 404


def test_add_document_flow(spark, tmp_path):
    """The AddDocument RPC rendition: buffered adds -> /flush commits
    ONE micro-batch generation through the IncrementalIndexer and the
    served engine reloads — new docs searchable after the flush and
    rank-identical to a direct SegmentIndex over the same dir; auto-
    flush triggers at flush_every."""
    from wiser_spark.config import BM25Params, IndexConfig
    from wiser_spark.operators.segments import SegmentIndex
    from wiser_spark.serving import SearchServer
    from wiser_spark.streaming.incremental import IncrementalIndexer

    d = str(tmp_path / "live_idx")
    cfg = IndexConfig(bm25=BM25Params(0.9, 0.4), n_shards=2)
    indexer = IncrementalIndexer(
        d, cfg, order_cols=("url", "title"), fmt="v2"
    )
    seed = spark.createDataFrame(
        [("u0", "t0", "seed corpus zebra walrus")],
        "url string, title string, content string",
    )
    indexer.process_batch(seed, 0)
    idx = SegmentIndex(spark, d).warmup()
    with SearchServer(idx, indexer=indexer, flush_every=3) as srv:
        # not yet searchable: buffered, below the auto-flush threshold
        for i in range(2):
            r = _post(srv, "/add_document", {"document": {
                "url": f"u{i+1}", "title": f"t{i+1}",
                "body": f"quokka document number {i} zebra",
            }})
            assert r == {"ok": True, "message": "Doc added"}
        assert _post(srv, "/search", {"terms": ["quokka"]}) == {
            "entries": []
        }
        # third add hits flush_every=3 -> auto-commit + reload
        r = _post(srv, "/add_document", {"document": {
            "url": "u3", "title": "t3", "body": "quokka zebra final",
        }})
        assert r["ok"] and "3 docs committed" in r["message"]
        got = _post(srv, "/search", {"terms": ["quokka"]})
        assert len(got["entries"]) == 3
        # the served reply == a fresh engine over the same directory
        fresh = SegmentIndex(spark, d)
        want = [
            {"doc_id": int(r["doc_id"]), "doc_score": float(r["score"]),
             "snippet": ""}
            for r in sorted(fresh.search(["quokka"], k=10).collect(),
                            key=lambda r: r["rank"])
        ]
        assert got == {"entries": want}
        # manual /flush of an empty buffer is a no-op
        assert _post(srv, "/flush", {}) == {
            "ok": True, "message": "0 docs committed"
        }
        # stats reflect the post-flush corpus (seed + 3)
        assert _get(srv, "/stats")["n_docs"] == 4


def test_add_document_without_indexer_400(served):
    srv, _ = served
    req = urllib.request.Request(
        f"http://{srv.host}:{srv.port}/add_document",
        data=json.dumps({"document": {"body": "x"}}).encode(),
        method="POST",
    )
    with pytest.raises(urllib.error.HTTPError) as ei:
        urllib.request.urlopen(req, timeout=30)
    assert ei.value.code == 400


def test_request_validation_and_engine_error_codes(served):
    """Malformed-but-parseable requests 400 (negative / non-int counts,
    wrong-shaped echo body); the server never drops the connection."""
    srv, _ = served
    for bad in ({"terms": ["x"], "n_results": -5},
                {"terms": ["x"], "n_results": {"a": 1}},
                {"terms": ["x"], "n_snippet_passages": 2.5},
                {"terms": ["x"], "n_results": True}):
        req = urllib.request.Request(
            f"http://{srv.host}:{srv.port}/search",
            data=json.dumps(bad).encode(), method="POST",
        )
        with pytest.raises(urllib.error.HTTPError) as ei:
            urllib.request.urlopen(req, timeout=30)
        assert ei.value.code == 400, bad
    # echo with a list body: AttributeError path -> 400, not a dropped
    # connection
    req = urllib.request.Request(
        f"http://{srv.host}:{srv.port}/echo", data=b"[1]", method="POST"
    )
    with pytest.raises(urllib.error.HTTPError) as ei:
        urllib.request.urlopen(req, timeout=30)
    assert ei.value.code == 400
    assert _post(srv, "/echo", {"message": "up"}) == {"message": "up"}


def test_snippets_without_store_400(spark, tmp_path):
    """return_snippets on a server with no doc store is an explicit
    400, not a silent snippet-less 200."""
    from wiser_spark.config import BM25Params, IndexConfig
    from wiser_spark.operators.mapside import write_index_mapside
    from wiser_spark.operators.postings import assign_doc_ids
    from wiser_spark.operators.segments import SegmentIndex
    from wiser_spark.serving import SearchServer
    from wiser_spark.sources.corpus import corpus_df

    docs = assign_doc_ids(corpus_df(spark, 40)).select("doc_id", "content")
    d = str(tmp_path / "idx")
    write_index_mapside(docs, d,
                        IndexConfig(bm25=BM25Params(0.9, 0.4), n_shards=2))
    with SearchServer(SegmentIndex(spark, d)) as srv:
        for path, body in (
            ("/search", json.dumps(
                {"terms": ["return"], "return_snippets": True}).encode()),
            ("/stream_search", json.dumps(
                {"terms": ["return"], "return_snippets": True}).encode()),
        ):
            req = urllib.request.Request(
                f"http://{srv.host}:{srv.port}{path}", data=body,
                method="POST",
            )
            with pytest.raises(urllib.error.HTTPError) as ei:
                urllib.request.urlopen(req, timeout=30)
            assert ei.value.code == 400
        # snippet-free search still works
        assert _post(srv, "/search", {"terms": ["return"],
                                      "n_results": 3})["entries"]


def test_flush_retry_after_commit_failure_no_duplicates(
    spark, tmp_path, monkeypatch
):
    """A flush whose commit FAILS retries under the SAME batch id, so
    the docs land exactly once; a reload failure after a durable
    commit must not re-commit either (buffer cleared first)."""
    from wiser_spark.config import BM25Params, IndexConfig
    from wiser_spark.operators.segments import SegmentIndex
    from wiser_spark.serving import SearchServer
    from wiser_spark.streaming.incremental import IncrementalIndexer

    d = str(tmp_path / "idx")
    indexer = IncrementalIndexer(
        d, IndexConfig(bm25=BM25Params(0.9, 0.4), n_shards=2),
        order_cols=("url", "title"), fmt="v2",
    )
    indexer.process_batch(spark.createDataFrame(
        [("u0", "t0", "seed zebra")],
        "url string, title string, content string"), 0)
    idx = SegmentIndex(spark, d)
    with SearchServer(idx, indexer=indexer) as srv:
        assert _post(srv, "/add_document", {"document": {
            "url": "u1", "title": "t1", "body": "quokka alpha"}})["ok"]
        real = indexer.process_batch
        calls = {"n": 0}

        def boom(batch, batch_id, **kw):
            calls["n"] += 1
            if calls["n"] == 1:
                raise RuntimeError("injected commit failure")
            return real(batch, batch_id, **kw)

        monkeypatch.setattr(indexer, "process_batch", boom)
        req = urllib.request.Request(
            f"http://{srv.host}:{srv.port}/flush", data=b"{}",
            method="POST",
        )
        with pytest.raises(urllib.error.HTTPError) as ei:
            urllib.request.urlopen(req, timeout=120)
        assert ei.value.code == 500  # engine-side -> 500, server alive
        # retry: same batch id, docs land exactly once
        assert "1 docs committed" in _post(srv, "/flush", {})["message"]
        got = _post(srv, "/search", {"terms": ["quokka"]})
        assert len(got["entries"]) == 1
        assert _get(srv, "/stats")["n_docs"] == 2
        # a further flush is empty — the buffer cleared on success
        assert "0 docs" in _post(srv, "/flush", {})["message"]


def test_flush_preserves_serving_tuning(spark, tmp_path):
    """The post-flush reload keeps scan_coalesce and the segments
    cache — a latency-tuned server must not silently lose its tuning
    at the first flush."""
    from wiser_spark.config import BM25Params, IndexConfig
    from wiser_spark.operators.segments import SegmentIndex
    from wiser_spark.serving import SearchServer
    from wiser_spark.streaming.incremental import IncrementalIndexer

    d = str(tmp_path / "idx")
    indexer = IncrementalIndexer(
        d, IndexConfig(bm25=BM25Params(0.9, 0.4), n_shards=2),
        order_cols=("url", "title"), fmt="v2",
    )
    indexer.process_batch(spark.createDataFrame(
        [("u0", "t0", "seed zebra")],
        "url string, title string, content string"), 0)
    idx = SegmentIndex(spark, d, scan_coalesce=2)
    idx.segments = idx.segments.cache()
    idx.segments.count()
    with SearchServer(idx, indexer=indexer) as srv:
        _post(srv, "/add_document", {"document": {
            "url": "u1", "title": "t1", "body": "quokka beta"}})
        _post(srv, "/flush", {})
        assert srv.index is not idx
        assert srv.index.scan_coalesce == 2
        assert srv.index.segments.is_cached
        assert len(_post(srv, "/search",
                         {"terms": ["quokka"]})["entries"]) == 1


def test_stop_without_start_returns(spark, tmp_path):
    """stop() on a never-started server must not hang (shutdown()
    waits on an event only serve_forever sets) and must release the
    port."""
    import socket

    from wiser_spark.config import BM25Params, IndexConfig
    from wiser_spark.operators.mapside import write_index_mapside
    from wiser_spark.operators.postings import assign_doc_ids
    from wiser_spark.operators.segments import SegmentIndex
    from wiser_spark.serving import SearchServer
    from wiser_spark.sources.corpus import corpus_df

    docs = assign_doc_ids(corpus_df(spark, 10)).select("doc_id", "content")
    d = str(tmp_path / "idx")
    write_index_mapside(docs, d,
                        IndexConfig(bm25=BM25Params(0.9, 0.4), n_shards=1))
    srv = SearchServer(SegmentIndex(spark, d))
    port = srv.port
    srv.stop()  # must return promptly
    s = socket.socket()
    s.bind(("127.0.0.1", port))  # port released
    s.close()


def test_adds_between_failed_flush_and_retry_wait_for_next_flush(
    spark, tmp_path, monkeypatch
):
    """A retried flush replays EXACTLY the failed attempt's prefix (the
    rows that may already be durably committed under the in-flight
    batch id); docs added between failure and retry commit in the NEXT
    batch — never silently dropped by the commit log's replay no-op,
    never duplicated."""
    from wiser_spark.config import BM25Params, IndexConfig
    from wiser_spark.operators.segments import SegmentIndex
    from wiser_spark.serving import SearchServer
    from wiser_spark.streaming.incremental import IncrementalIndexer

    d = str(tmp_path / "idx")
    indexer = IncrementalIndexer(
        d, IndexConfig(bm25=BM25Params(0.9, 0.4), n_shards=2),
        order_cols=("url", "title"), fmt="v2",
    )
    indexer.process_batch(spark.createDataFrame(
        [("u0", "t0", "seed zebra")],
        "url string, title string, content string"), 0)
    idx = SegmentIndex(spark, d)
    with SearchServer(idx, indexer=indexer) as srv:
        _post(srv, "/add_document", {"document": {
            "url": "uA", "title": "tA", "body": "quokka alpha"}})
        real = indexer.process_batch
        calls = {"n": 0}

        def boom(batch, batch_id, **kw):
            calls["n"] += 1
            if calls["n"] == 1:
                # commit DURABLY, then fail (the worst crash point:
                # a retry with a fresh id would duplicate; a retry
                # replaying a bigger batch would silently drop the
                # extra rows on the no-op)
                real(batch, batch_id, **kw)
                raise RuntimeError("injected post-commit failure")
            return real(batch, batch_id, **kw)

        monkeypatch.setattr(indexer, "process_batch", boom)
        req = urllib.request.Request(
            f"http://{srv.host}:{srv.port}/flush", data=b"{}",
            method="POST",
        )
        with pytest.raises(urllib.error.HTTPError):
            urllib.request.urlopen(req, timeout=120)
        # a doc arrives between the failure and the retry
        _post(srv, "/add_document", {"document": {
            "url": "uB", "title": "tB", "body": "quokka beta"}})
        # retry: replays the SAME id/prefix -> commit-log no-op; doc A
        # is already durable, doc B stays buffered
        assert "1 docs committed" in _post(srv, "/flush", {})["message"]
        assert len(_post(srv, "/search",
                         {"terms": ["alpha"]})["entries"]) == 1
        assert _post(srv, "/search", {"terms": ["beta"]}) == {
            "entries": []
        }
        # next flush commits B, exactly once
        assert "1 docs committed" in _post(srv, "/flush", {})["message"]
        assert len(_post(srv, "/search",
                         {"terms": ["beta"]})["entries"]) == 1
        assert len(_post(srv, "/search",
                         {"terms": ["quokka"]})["entries"]) == 2
        assert _get(srv, "/stats")["n_docs"] == 3


def test_concurrent_searches_during_flush(spark, tmp_path):
    """Races: several client threads search while another adds + flushes.
    Every reply must be internally consistent — either the pre-flush or
    the post-flush engine answered it (never a torn generation set, no
    dropped connections), and after the dust settles the new doc is
    served."""
    import threading

    from wiser_spark.config import BM25Params, IndexConfig
    from wiser_spark.operators.segments import SegmentIndex
    from wiser_spark.serving import SearchServer
    from wiser_spark.streaming.incremental import IncrementalIndexer

    d = str(tmp_path / "idx")
    indexer = IncrementalIndexer(
        d, IndexConfig(bm25=BM25Params(0.9, 0.4), n_shards=2),
        order_cols=("url", "title"), fmt="v2",
    )
    indexer.process_batch(spark.createDataFrame(
        [(f"u{i}", f"t{i}", f"zebra walrus w{i % 5}") for i in range(20)],
        "url string, title string, content string"), 0)
    idx = SegmentIndex(spark, d).warmup()
    errors: list = []
    results: list = []

    with SearchServer(idx, indexer=indexer) as srv:
        def searcher():
            try:
                for _ in range(6):
                    r = _post(srv, "/search", {"terms": ["zebra"],
                                               "n_results": 25})
                    n = len(r["entries"])
                    # pre-flush: 20 docs; post-flush: 21 — only those
                    # two states may ever be observed
                    results.append(n)
                    assert n in (20, 21), n
            except Exception as e:  # surfaces in the main thread
                errors.append(e)

        def writer():
            try:
                _post(srv, "/add_document", {"document": {
                    "url": "uN", "title": "tN", "body": "zebra quokka"}})
                _post(srv, "/flush", {})
            except Exception as e:
                errors.append(e)

        threads = [threading.Thread(target=searcher) for _ in range(3)]
        threads.append(threading.Thread(target=writer))
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
        assert not errors, errors
        # post-flush state is served
        final = _post(srv, "/search", {"terms": ["quokka"]})
        assert len(final["entries"]) == 1
        assert len(_post(srv, "/search", {"terms": ["zebra"],
                                          "n_results": 25})["entries"]) == 21
    assert 21 in results or results  # searchers ran
