"""HTTP serving endpoint over a ``SegmentIndex`` — the reference's
gRPC surface re-expressed on the standard library.

The reference serves its engine through gRPC (``qq_server.cc``,
``grpc_server_impl.h``): ``UnarySearch`` answers one ``SearchRequest``
per RPC (``grpc_server_impl.h:142-148``) and ``StreamingSearch`` reads
requests off a bidirectional stream, answering each in arrival order
(``grpc_server_impl.h:150-161``).  The wire messages are tiny
(``protos/qq.proto:40-56``)::

    SearchRequest  { terms[], n_results, return_snippets,
                     n_snippet_passages, is_phrase }
    SearchReply    { entries[] of {doc_id, snippet, doc_score} }

This module renders that surface as JSON-over-HTTP (the grpc package
is not available here; the PROTOCOL — request fields, reply shape,
per-request semantics — is preserved verbatim):

* ``POST /search``   — unary: one JSON ``SearchRequest`` body, one
  JSON ``SearchReply``.  Maps to ``SegmentIndex.search``.
* ``POST /stream_search`` — the ``StreamingSearch`` rendition: the
  body is NDJSON, one ``SearchRequest`` per line; the reply is NDJSON,
  one ``SearchReply`` per line, in request order.  Where the
  reference's stream loop answers one query at a time against its
  in-memory engine, the Spark-native fan-in answers the WHOLE stream
  through ``SegmentIndex.search_batch`` — one segments pass decodes
  each referenced term once across every request on the stream (the
  same amortization the round-3/4 batch benches measure).  Requests
  that need snippets and requests that don't are answered in the same
  pass; the reply order is the request order either way.
* ``POST /echo``     — the reference's ``Echo`` RPC (health check):
  echoes ``{"message": ...}`` back.
* ``GET /stats``     — corpus stats (n_docs, avgdl, k1/b, n_terms),
  the serving analogue of the engine's load-time banner.
* ``POST /add_document`` — the reference's ``AddDocument`` RPC
  (``grpc_server_impl.h:85-101``; request shape
  ``protos/qq.proto:18-33``: document{title,url,body}); reply is the
  ``StatusReply`` ``{"ok": true, "message": "Doc added"}``.  The
  reference appends each doc to its in-memory engine immediately; the
  Spark-native rendition BUFFERS added docs on the driver and commits
  them as ONE micro-batch generation through the streaming
  ``IncrementalIndexer`` (exactly-once commit log, same layout a
  readStream sink writes) — either explicitly via ``POST /flush`` or
  automatically every ``flush_every`` docs.  Docs become searchable
  at the flush, not per-add: one generation per RPC would mean one
  Spark write job per document, and the engine's own streaming
  ingestion is micro-batch for the same reason.
* ``POST /flush``    — commit the buffered docs and reload the served
  index (the new generation set resolves through the atomic
  manifest); replies ``{"ok": true, "message": "<n> docs committed"}``.

Concurrency: requests are answered under one lock.  A Spark driver
CAN submit jobs from many threads, but the serving flow's snippet path
collects winner ids on the driver between two jobs, and interleaving
two interactive queries' jobs on a local[k] scheduler only degrades
both latencies — the throughput path is ``/stream_search`` (batch
fan-in), exactly as the reference pushes load through its streaming
RPC rather than parallel unary calls (``grpc_bench.cc``).
"""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer


def _request_defaults(req: dict) -> dict:
    """Fill a SearchRequest's proto3 field defaults (absent scalar =>
    zero value, protos/qq.proto:40-46), then apply the same serving
    defaults the reference's query pool applies (query_pool.h:149-152:
    n_results/passages fall back to engine defaults when unset)."""
    if not isinstance(req, dict):
        raise ValueError("SearchRequest must be a JSON object")
    terms = req.get("terms") or []
    if not isinstance(terms, list) or not all(
        isinstance(t, str) for t in terms
    ):
        raise ValueError("terms must be a list of strings")

    def _count(key: str, default: int) -> int:
        v = req.get(key)
        if v is None:
            return default
        if not isinstance(v, int) or isinstance(v, bool) or v < 0:
            # booleans and floats are rejected outright (before the
            # zero-value check) so False/0.0 don't masquerade as the
            # proto3 zero while True/5.0 get 400
            raise ValueError(f"{key} must be a non-negative integer")
        return default if v == 0 else v  # proto3 zero => serving default

    return {
        "terms": [t for t in terms if t],
        "n_results": _count("n_results", 10),
        "return_snippets": bool(req.get("return_snippets", False)),
        "n_snippet_passages": _count("n_snippet_passages", 3),
        "is_phrase": bool(req.get("is_phrase", False)),
    }


class SearchServer:
    """Serve a ``SegmentIndex`` (and optionally its chunked doc store
    for snippets) over HTTP.  ``port=0`` binds an ephemeral port
    (read it back from ``.port`` after ``start()``)."""

    def __init__(
        self,
        index,
        doc_store_dir: str | None = None,
        host: str = "127.0.0.1",
        port: int = 0,
        indexer=None,
        flush_every: int = 0,
    ):
        """``indexer``: an ``IncrementalIndexer`` over the SAME index
        directory enables ``/add_document`` + ``/flush`` (construct it
        with ``order_cols=("url", "title")`` and the index's fmt —
        added docs carry exactly the reference Document fields).
        ``flush_every`` > 0 auto-commits whenever that many docs are
        buffered."""
        self.index = index
        self.doc_store_dir = doc_store_dir
        self.indexer = indexer
        self.flush_every = int(flush_every)
        self._pending: list[tuple[str, str, str]] = []
        if indexer is not None:
            # a STABLE batch id per flush ATTEMPT: re-derived from the
            # commit log at the start of each fresh attempt (so ids a
            # prior streaming job committed meanwhile are skipped, not
            # silently no-op'ed over) and advanced only after
            # process_batch returns — a RETRY of a failed attempt
            # replays the SAME id and the indexer's exactly-once commit
            # log deduplicates it. The server assumes it is the index's
            # ONLY writer while serving (as the reference engine owns
            # its index exclusively, qq_server.cc); a foreign writer
            # racing a flush retry is not distinguishable from our own
            # prior commit.
            self._next_batch_id = self._fresh_batch_id()
            self._flush_inflight = False
        self._lock = threading.Lock()
        server = self

        class Handler(BaseHTTPRequestHandler):
            # serving logs stay out of the test/bench output
            def log_message(self, fmt, *args):  # noqa: D102
                pass

            def _send(self, code: int, body: bytes,
                      ctype: str = "application/json"):
                self.send_response(code)
                self.send_header("Content-Type", ctype)
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def _body(self) -> bytes:
                n = int(self.headers.get("Content-Length") or 0)
                return self.rfile.read(n)

            def do_GET(self):
                if self.path == "/stats":
                    m = server.index.meta
                    out = {
                        "n_docs": m["n_docs"],
                        "avgdl": m["avgdl"],
                        "k1": m["k1"],
                        "b": m["b"],
                        "n_terms": m.get("n_terms"),
                    }
                    self._send(200, json.dumps(out).encode())
                else:
                    self._send(404, b'{"error": "not found"}')

            def do_POST(self):
                try:
                    raw = self._body()
                    if self.path == "/echo":
                        msg = json.loads(raw or b"{}")
                        if not isinstance(msg, dict):
                            raise ValueError("echo body must be a JSON object")
                        self._send(200, json.dumps(
                            {"message": msg.get("message", "")}
                        ).encode())
                    elif self.path == "/add_document":
                        req = json.loads(raw)
                        if not isinstance(req, dict) or not isinstance(
                            req.get("document", {}), dict
                        ):
                            raise ValueError(
                                "AddDocumentRequest must be a JSON object "
                                "with an object `document` field"
                            )
                        reply = server._add_document(req)
                        self._send(200, json.dumps(reply).encode())
                    elif self.path == "/flush":
                        reply = server._flush()
                        self._send(200, json.dumps(reply).encode())
                    elif self.path == "/search":
                        reply = server._unary(json.loads(raw))
                        self._send(200, json.dumps(reply).encode())
                    elif self.path == "/stream_search":
                        lines = [
                            ln for ln in raw.decode("utf-8").splitlines()
                            if ln.strip()
                        ]
                        reqs = [json.loads(ln) for ln in lines]
                        replies = server._streaming(reqs)
                        body = "\n".join(
                            json.dumps(r) for r in replies
                        ).encode()
                        self._send(200, body, "application/x-ndjson")
                    else:
                        self._send(404, b'{"error": "not found"}')
                except ValueError as e:
                    # request-shape errors ONLY (json.JSONDecodeError is a
                    # ValueError; the handler and _request_defaults raise
                    # ValueError for every malformed-shape case): the
                    # client's fault -> 400. TypeError/KeyError/
                    # AttributeError deliberately fall through to 500 —
                    # they are the signature exceptions of engine-side
                    # bugs (e.g. a stats.json schema drift), and mapping
                    # them to 400 would report real server defects as
                    # malformed requests (r05 ADVICE).
                    self._send(400, json.dumps({"error": str(e)}).encode())
                except Exception as e:  # engine-side failure -> 500,
                    # but the server stays up (socketserver would
                    # otherwise drop the connection with no response)
                    self._send(500, json.dumps(
                        {"error": f"{type(e).__name__}: {e}"}
                    ).encode())

        self._httpd = ThreadingHTTPServer((host, port), Handler)
        self.host, self.port = self._httpd.server_address[:2]
        self._thread: threading.Thread | None = None

    # -- engine calls ----------------------------------------------------

    def _reply_rows(self, rows, with_snippets: bool) -> dict:
        entries = [
            {
                "doc_id": int(r["doc_id"]),
                "doc_score": float(r["score"]),
                "snippet": (r["snippet"] or "") if with_snippets else "",
            }
            for r in rows
        ]
        return {"entries": entries}

    def _unary(self, req: dict) -> dict:
        q = _request_defaults(req)
        if q["return_snippets"] and self.doc_store_dir is None:
            raise ValueError(
                "server was started without a doc store; "
                "return_snippets is unavailable"
            )
        want_snips = q["return_snippets"]
        with self._lock:
            df = self.index.search(
                q["terms"],
                k=q["n_results"],
                is_phrase=q["is_phrase"],
                return_snippets=want_snips,
                n_passages=q["n_snippet_passages"],
                doc_store_dir=self.doc_store_dir if want_snips else None,
            )
            rows = df.collect()
        rows.sort(key=lambda r: r["rank"])
        return self._reply_rows(rows, want_snips)

    def _streaming(self, reqs: list[dict]) -> list[dict]:
        qs = [_request_defaults(r) for r in reqs]
        if any(q["return_snippets"] for q in qs) and (
            self.doc_store_dir is None
        ):
            raise ValueError(
                "server was started without a doc store; "
                "return_snippets is unavailable"
            )
        # k is per-request in the protocol but per-pass in the kernel:
        # run each pass at its group's max and trim per reply (a longer
        # prefix of the same total order — exact).  n_snippet_passages
        # is NOT trimmable that way (passages are chosen by score but
        # joined in document order, highlight.py::highlight_doc), so
        # snippet requests group by their passage budget — one batch
        # pass per distinct budget, which in real logs (the reference's
        # query pool pins one value per run, query_pool.h:149-152) is
        # one pass total, plus one snippet-free pass if any request
        # skipped snippets.
        groups: dict[int | None, list[int]] = {}
        for i, q in enumerate(qs):
            key = (
                q["n_snippet_passages"] if q["return_snippets"] else None
            )
            groups.setdefault(key, []).append(i)
        by_qid: dict[int, list] = {i: [] for i in range(len(qs))}
        with self._lock:
            for n_pass, qids in groups.items():
                qlog = [(i, qs[i]["terms"], qs[i]["is_phrase"]) for i in qids]
                k = max(qs[i]["n_results"] for i in qids)
                df = self.index.search_batch(
                    qlog,
                    k=k,
                    return_snippets=n_pass is not None,
                    n_passages=n_pass if n_pass is not None else 3,
                    doc_store_dir=(
                        self.doc_store_dir if n_pass is not None else None
                    ),
                )
                for r in df.collect():
                    by_qid[int(r["query_id"])].append(r)
        out = []
        for i, q in enumerate(qs):
            mine = sorted(by_qid[i], key=lambda r: r["rank"])
            mine = mine[: q["n_results"]]
            out.append(self._reply_rows(mine, q["return_snippets"]))
        return out

    def _fresh_batch_id(self) -> int:
        commits = self.indexer._read_commits()
        return max((int(k) for k in commits), default=-1) + 1

    def _add_document(self, req: dict) -> dict:
        if self.indexer is None:
            raise ValueError(
                "server was started without an indexer; "
                "/add_document is unavailable"
            )
        doc = req.get("document") or {}
        body = doc.get("body")
        if not isinstance(body, str) or not body:
            raise ValueError("document.body must be a non-empty string")
        with self._lock:
            self._pending.append(
                (str(doc.get("url") or ""), str(doc.get("title") or ""),
                 body)
            )
            n = len(self._pending)
            if self.flush_every and n >= self.flush_every:
                # the ADD itself succeeded (the doc is buffered and a
                # later flush will commit it), so a failed auto-flush
                # must still reply ok — a 500 here would read as "add
                # failed" and a retrying client would duplicate the doc
                try:
                    msg = self._flush_locked()
                except Exception as e:
                    msg = (
                        f"auto-flush failed ({type(e).__name__}: {e}); "
                        "docs retained, retry with POST /flush"
                    )
                return {"ok": True, "message": f"Doc added; {msg}"}
        return {"ok": True, "message": "Doc added"}

    def _flush(self) -> dict:
        if self.indexer is None:
            raise ValueError(
                "server was started without an indexer; "
                "/flush is unavailable"
            )
        with self._lock:
            return {"ok": True, "message": self._flush_locked()}

    def _flush_locked(self) -> str:
        """Commit the buffer as one micro-batch generation and reload
        the served engine.  Caller holds the lock — searches cannot
        interleave with the generation flip, and a reader process on
        the same index dir stays consistent anyway (the atomic
        manifest)."""
        from wiser_spark.operators.segments import SegmentIndex

        if not self._pending:
            return "0 docs committed"
        if not self._flush_inflight:
            # fresh attempt: skip any ids committed since construction
            # (e.g. the indexer's own streaming job ran before serving
            # started) — process_batch silently no-ops on a committed
            # id, which here would LOSE the buffered docs — and pin the
            # attempt's batch to the buffer's CURRENT prefix: a retry
            # replays exactly the rows the failed attempt may already
            # have committed, while docs added in between wait for the
            # next flush (appends only ever extend the tail)
            self._next_batch_id = max(
                self._next_batch_id, self._fresh_batch_id()
            )
            self._flush_n = len(self._pending)
            self._flush_inflight = True
        n = self._flush_n
        spark = self.index.spark
        batch = spark.createDataFrame(
            self._pending[:n], "url string, title string, content string"
        )
        self.indexer.process_batch(batch, self._next_batch_id)
        # commit is durable: drop the committed prefix and advance the
        # batch id BEFORE the reload, so a reload failure (old engine
        # keeps serving, client sees 500) cannot lead a retried flush
        # to re-commit the same docs
        self._flush_inflight = False
        self._next_batch_id += 1
        self._pending = self._pending[n:]
        # reload: open the post-flush generation set with the SAME
        # serving tuning (scan_coalesce, segments cache), re-warm the
        # term cache, then release the old engine's cached frames
        old = self.index
        new = SegmentIndex(
            spark, self.indexer.index_dir,
            scan_coalesce=old.scan_coalesce,
        )
        if old.segments.is_cached:
            new.segments = new.segments.cache()
        self.index = new.warmup()
        old.close()
        return f"{n} docs committed"

    # -- lifecycle -------------------------------------------------------

    def start(self) -> "SearchServer":
        self._thread = threading.Thread(
            target=self._httpd.serve_forever, daemon=True
        )
        self._thread.start()
        return self

    def stop(self) -> None:
        if self._thread is not None:
            # shutdown() waits on an event only serve_forever() sets —
            # calling it on a never-started server would block forever
            self._httpd.shutdown()
        self._httpd.server_close()
        if self._thread is not None:
            self._thread.join(timeout=10)
            self._thread = None

    def __enter__(self) -> "SearchServer":
        return self.start()

    def __exit__(self, *exc) -> None:
        self.stop()


def serve_index(
    spark,
    index_dir: str,
    doc_store_dir: str | None = None,
    host: str = "127.0.0.1",
    port: int = 8080,
    scan_coalesce: int | None = None,
):
    """Load an index and serve it — the ``qq_server.cc`` flow: load
    the engine from its dump directory, warm the term dictionary (the
    reference's load-time .tip mmap), then wait on the server.
    Blocking; intended for ``python -m wiser_spark.serving.server``."""
    from wiser_spark.operators.segments import SegmentIndex

    idx = SegmentIndex(spark, index_dir, scan_coalesce=scan_coalesce)
    idx.warmup()
    srv = SearchServer(idx, doc_store_dir=doc_store_dir, host=host, port=port)
    print(f"serving {index_dir} on http://{srv.host}:{srv.port}")
    srv.start()
    try:
        srv._thread.join()
    except KeyboardInterrupt:
        srv.stop()


if __name__ == "__main__":
    import argparse

    from pyspark.sql import SparkSession

    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("index_dir")
    ap.add_argument("--doc-store")
    ap.add_argument("--host", default="127.0.0.1")
    ap.add_argument("--port", type=int, default=8080)
    ap.add_argument("--scan-coalesce", type=int)
    ap.add_argument("--cores", type=int, default=8)
    a = ap.parse_args()
    sp = (
        SparkSession.builder.master(f"local[{a.cores}]")
        .appName("wiser-serve")
        .config("spark.sql.shuffle.partitions", str(2 * a.cores))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    serve_index(
        sp, a.index_dir, doc_store_dir=a.doc_store,
        host=a.host, port=a.port, scan_coalesce=a.scan_coalesce,
    )
