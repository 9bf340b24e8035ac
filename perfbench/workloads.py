"""The two workloads, each a single client in a closed loop against a
``SearchServer`` in this process.

``log``: ``POST /stream_search`` streams with snippets over a
write_index_mapside index + doc store whose vocabulary is past the
driver dictionary cache; in traced runs the same batches also go
through ``bm25_topk_batch`` over cached postings.

``ingest``: a bulk commit of the base corpus through
``IncrementalIndexer.process_batch``, then a fixed trickle of
``/add_document`` + ``/flush`` micro-batches with size-tiered
auto-compaction, and unary ``POST /search`` queries after every flush
and then for ``--seconds`` against the multi-generation index.

Every answer is checked against ``OracleEngine`` over the same docs.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
import urllib.request
from contextlib import nullcontext

from perfbench.inputs import BLOCK, QueryLog, corpus, url_of
from perfbench.trace import build_figures

SCORE_TOL = 1e-6
TOP_K = 10
N_SHARDS = 4
# warm-up stops once the median of the last WARM_BLOCK requests is no
# lower than that of the WARM_BLOCK before it, or after WARM_MAX_S
# seconds (a run has no time for more)
WARM_BLOCK = {"log": 2, "ingest": 3}
WARM_MAX_S = 15.0

# log: 1000 docs of ~40k distinct terms plus 170 df-1 terms each put
# the vocabulary near 210k, past the engine's 200k-term driver cache.
LOG = {"docs": 1000, "rare_per_doc": 170, "stream": len(BLOCK)}
# ingest: base + 2 flushes is one generation more than compact_every, so
# every run compacts exactly once, on its second flush; warm-up and the
# measured window of --seconds of unary queries follow the trickle
INGEST = {"docs": 800, "batch": 20, "flushes": 2, "compact_every": 2}


def post(url: str, path: str, body) -> bytes:
    data = body if isinstance(body, bytes) else json.dumps(body).encode()
    req = urllib.request.Request(url + path, data=data, method="POST")
    with urllib.request.urlopen(req, timeout=170) as resp:
        return resp.read()


def get(url: str, path: str) -> dict:
    with urllib.request.urlopen(url + path, timeout=60) as resp:
        return json.loads(resp.read())


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def same_answer(got: list[tuple[int, float]], want: list[tuple[int, float]]
                ) -> bool:
    """Rank-identical doc ids, scores within SCORE_TOL."""
    return len(got) == len(want) and all(
        g[0] == w[0] and abs(g[1] - w[1]) <= SCORE_TOL
        for g, w in zip(got, want)
    )


def reply_pairs(reply: dict) -> list[tuple[int, float]]:
    return [(int(e["doc_id"]), float(e["doc_score"]))
            for e in reply["entries"]]


def tail(samples: list[float]) -> dict:
    """The highest percentile with at least 10 samples beyond it, with
    that percentile and the sample count.  With fewer than 21 samples it
    falls back to the median, so it is a diagnostic, not a gated
    metric."""
    xs = sorted(samples)
    beyond = min(10, (len(xs) - 1) // 2)
    idx = len(xs) - 1 - beyond
    return {"value_ms": xs[idx],
            "percentile": round(100.0 * (idx + 1) / len(xs), 1),
            "beyond": beyond, "samples": len(xs)}


def warm(fn, block: int) -> list[float]:
    """Call ``fn`` (returns one latency) until the rolling median of
    ``block`` latencies stops falling."""
    lat: list[float] = []
    t_end = time.perf_counter() + WARM_MAX_S
    while time.perf_counter() < t_end:
        lat.append(fn())
        if (len(lat) >= 2 * block and statistics.median(lat[-block:])
                >= 0.98 * statistics.median(lat[-2 * block:-block])):
            break
    return lat


class Run:
    """Shared state of one workload run."""

    def __init__(self, work: str, seed: int, seconds: float):
        self.work, self.seed, self.seconds = work, seed, seconds
        # set once Spark is up: inputs are made before it starts
        self.spark = self.tracer = None
        self.setup: dict[str, float] = {}
        self.attempted = 0
        self.failed = 0
        self.side: dict = {}
        self.server = None

    def check(self, ok: bool) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1

    def timed(self, key: str, fn):
        t0 = time.perf_counter()
        out = fn()
        self.setup[key] = self.setup.get(key, 0.0) + time.perf_counter() - t0
        return out

    def inputs(self, n_docs: int, rare_per_doc: int = 0,
               oracle_docs: int | None = None) -> list[str]:
        """Generate the corpus; build the oracle and the query log over
        its first ``oracle_docs`` documents (all by default)."""
        from wiser_spark.config import BM25Params
        from wiser_spark.oracle.engine import OracleEngine

        docs = self.timed("corpus_s", lambda: corpus(n_docs, self.seed,
                                                     rare_per_doc))
        base = docs[:oracle_docs]
        self.params = BM25Params(0.9, 0.4)

        def oracle():
            o = OracleEngine(self.params)
            for d in base:
                o.add_document(d)
            return o

        self.oracle = self.timed("oracle_s", oracle)
        self.qlog = self.timed("queries_s", lambda: QueryLog(base, self.seed))
        self.warm_qlog = self.qlog.phase("warm")
        return docs

    def config(self):
        from wiser_spark.config import IndexConfig

        return IndexConfig(bm25=self.params, n_shards=N_SHARDS)

    def build(self, build, n_docs: int) -> str:
        """Build the served index with ``build(dir)``.  One build per
        run: it is the first Python-worker job of the process, so it
        also pays worker start and JIT warm-up."""
        d = os.path.join(self.work, "index")
        with self.tracer.window() if self.tracer else nullcontext([]) as jobs:
            t0 = time.perf_counter()
            build(d)
            self.setup["build_s"] = time.perf_counter() - t0
        self.side["build_docs_per_s"] = n_docs / self.setup["build_s"]
        if self.tracer:
            self.side["build"] = build_figures(jobs,
                                               self.setup["build_s"] * 1000)
        return d

    def serve(self, index_dir: str, **kw):
        from wiser_spark.operators.segments import SegmentIndex
        from wiser_spark.serving import SearchServer

        # the serve_index load: SegmentIndex + warmup(), segments uncached
        idx = self.timed(
            "load_s", lambda: SegmentIndex(self.spark, index_dir).warmup())
        self.server = SearchServer(idx, **kw).start()
        self.url = f"http://{self.server.host}:{self.server.port}"
        return idx

    def client(self, latency_ms: list[float], n_queries: int) -> None:
        """Record what the client saw in the measured window."""
        self.side["client"] = {
            "p50_ms": statistics.median(latency_ms),
            "qps": n_queries / (sum(latency_ms) / 1000),
            "tail": tail(latency_ms),
            "latency_ms": [round(x, 1) for x in latency_ms],
        }

    def stop(self) -> None:
        if self.server is not None:
            self.server.stop()
            self.server = None

    def request(self, kind: str, send, n_queries: int, traced: bool):
        """Time one client request; bracket it with the tracer when
        ``traced``.  Returns (reply bytes, latency ms)."""
        tr = self.tracer if traced else None
        if tr:
            tr.begin()
        t0 = time.perf_counter()
        out = send()
        ms = (time.perf_counter() - t0) * 1000
        if tr:
            tr.end(kind, ms, n_queries)
        return out, ms


def log_inputs(r: Run) -> list[str]:
    return r.inputs(LOG["docs"], LOG["rare_per_doc"])


def run_log(r: Run, docs: list[str]) -> dict:
    from wiser_spark.operators.docstats import build_docstats, corpus_stats
    from wiser_spark.operators.docstore import write_doc_store
    from wiser_spark.operators.mapside import write_index_mapside
    from wiser_spark.operators.postings import build_dictionary, build_postings
    from wiser_spark.operators.segments import SegmentIndex
    from wiser_spark.operators.topk import bm25_topk_batch

    spark = r.spark
    input_bytes = sum(len(d.encode()) for d in docs)
    frame = spark.createDataFrame(list(enumerate(docs)),
                                  "doc_id long, content string")
    cfg = r.config()
    index_dir = r.build(lambda d: write_index_mapside(frame, d, cfg),
                        len(docs))
    store = os.path.join(r.work, "store")
    r.timed("store_s", lambda: write_doc_store(frame, store))

    def relational():
        postings = build_postings(frame).cache()
        docstats = build_docstats(frame).cache()
        dictionary = build_dictionary(postings).cache()
        postings.count(), dictionary.count()
        return postings, docstats, dictionary, corpus_stats(docstats)

    # the relational path (bm25_topk_batch over cached postings) is a
    # traced-run layer: its set-up and batches would double an untraced run
    with_rel = bool(r.tracer)
    if with_rel:
        postings, docstats, dictionary, stats = r.timed("relational_s",
                                                        relational)
    idx = r.serve(index_dir, doc_store_dir=store)
    # the workload exists to measure over-cap lookups: a vocabulary that
    # fits the driver cache fails the run instead of passing unnoticed
    over_cap = idx.meta["n_terms"] > SegmentIndex.DICT_DRIVER_CACHE_MAX
    r.check(over_cap)
    if not over_cap:
        print(f"perfbench: log vocabulary ({idx.meta['n_terms']} terms) "
              "fits the driver dictionary cache", file=sys.stderr)
    seen: set[str] = set()
    shares = {"queries": 0, "phrase": 0, "absent": 0, "first_touch": 0}

    def stream(qs, traced=False):
        """Send one stream; returns (raw reply, latency ms)."""
        body = "\n".join(
            json.dumps(q.request(return_snippets=True, n_snippet_passages=3))
            for q in qs
        ).encode()
        return r.request("stream", lambda: post(r.url, "/stream_search",
                                                body), len(qs), traced)

    def check_stream(qs, raw):
        """Check every reply of a stream against the oracle."""
        lines = [json.loads(ln) for ln in raw.splitlines()]
        replies = [reply_pairs(x) for x in lines]
        for q, got, x in zip(qs, replies, lines):
            want = r.oracle.search(list(q.terms), TOP_K, q.is_phrase)
            snip = all(e["snippet"] for e in x["entries"])
            r.check(same_answer(got, want) and snip)
        r.check(len(replies) == len(qs))
        return replies

    def rel(qs, traced=False):
        log = [(i, list(q.terms), q.is_phrase) for i, q in enumerate(qs)]
        out, ms = r.request("topk", lambda: bm25_topk_batch(
            postings, docstats, dictionary, stats, log, k=TOP_K,
            params=r.params).orderBy("query_id", "rank").collect(),
            len(qs), traced)
        by_q: dict[int, list] = {i: [] for i in range(len(qs))}
        for row in out:
            by_q[int(row["query_id"])].append(
                (int(row["doc_id"]), float(row["score"])))
        return by_q, ms

    def warm_stream():
        qs = r.warm_qlog.take(LOG["stream"])
        seen.update(t for q in qs for t in q.terms)
        raw, ms = stream(qs)
        check_stream(qs, raw)
        return ms

    lat = r.timed("warmup_s", lambda: warm(warm_stream, WARM_BLOCK["log"]))
    r.side["warmup_ms"] = [round(x, 1) for x in lat]
    if with_rel:
        r.timed("warmup_s", lambda: [rel(r.warm_qlog.take(LOG["stream"]))
                                     for _ in range(2)])

    # the measured window: replies are checked after it, so the client
    # does nothing but send requests
    sent, stream_ms, rel_ms, i = [], [], [], 0
    traced_ms, plain_ms = [], []
    t_end = time.perf_counter() + r.seconds
    while time.perf_counter() < t_end or not sent:
        qs = r.qlog.take(LOG["stream"])
        traced = bool(r.tracer) and i % 2 == 0
        raw, ms = stream(qs, traced)
        stream_ms.append(ms)
        (traced_ms if traced else plain_ms).append(ms)
        by_q = None
        if with_rel:
            by_q, rms = rel(qs, True)
            rel_ms.append(rms)
        sent.append((qs, raw, by_q))
        i += 1

    n_q = 0
    for qs, raw, by_q in sent:
        replies = check_stream(qs, raw)
        for j, (q, got) in enumerate(zip(qs, replies)):
            if by_q is not None:
                r.check(same_answer(by_q[j], got))
            shares["queries"] += 1
            shares["phrase"] += q.is_phrase
            shares["absent"] += q.absent
            fresh = [t for t in q.terms if t not in seen]
            shares["first_touch"] += bool(over_cap and fresh)
            seen.update(q.terms)
        n_q += len(qs)

    r.side["inputs"] = {
        "n_docs": len(docs), "n_terms": idx.meta["n_terms"],
        "over_cap": over_cap, "queries": shares["queries"],
        **{f"{k}_share": round(shares[k] / max(shares["queries"], 1), 4)
           for k in ("phrase", "absent", "first_touch")},
    }
    r.client(stream_ms, n_q)
    if with_rel:
        r.side["rel_qps"] = n_q / (sum(rel_ms) / 1000)
    r.side["tracing"] = (traced_ms, plain_ms)
    return {
        "index_bytes_per_input_byte": dir_bytes(index_dir) / input_bytes,
    }


def ingest_inputs(r: Run) -> list[str]:
    # the oracle and the query log cover the base; trickled docs join the
    # oracle as each flush is acknowledged
    n_base = INGEST["docs"]
    return r.inputs(n_base + INGEST["batch"] * INGEST["flushes"],
                    oracle_docs=n_base)


def run_ingest(r: Run, all_docs: list[str]) -> dict:
    from wiser_spark.streaming.incremental import (
        IncrementalIndexer,
        read_generations,
    )

    spark = r.spark
    p = INGEST
    n_base = p["docs"]
    docs = all_docs[:n_base]
    frame = spark.createDataFrame(
        [(url_of(i), "", d) for i, d in enumerate(docs)],
        "url string, title string, content string")
    cfg = r.config()

    def indexer(d):
        return IncrementalIndexer(d, cfg, order_cols=("url", "title"),
                                  fmt="v2", compact_every=p["compact_every"])

    index_dir = r.build(lambda d: indexer(d).process_batch(frame, 0), n_base)
    r.serve(index_dir, indexer=indexer(index_dir))

    def unary(q, traced=False):
        """Send one query; returns (query, raw reply, latency ms)."""
        raw, ms = r.request("unary", lambda: post(r.url, "/search",
                                                  q.request()), 1, traced)
        return q, raw, ms

    def check(q, raw):
        got = reply_pairs(json.loads(raw))
        want = r.oracle.search(list(q.terms), TOP_K, q.is_phrase)
        r.check(same_answer(got, want))

    # the trickle: every run makes the same flushes, so the same
    # compactions; the query after each flush is checked, not measured
    if r.tracer:  # the trickle's writes only, not the set-up's bulk build
        r.tracer.process_batch_ms.clear()
    flush_ms, write_s, acked = [], 0.0, n_base
    for f in range(p["flushes"]):
        batch = list(range(acked, acked + p["batch"]))
        t0 = time.perf_counter()
        for j in batch:
            rep = json.loads(post(r.url, "/add_document", {"document": {
                "url": url_of(j), "title": "", "body": all_docs[j]}}))
            r.check(rep.get("ok") is True)
        t1 = time.perf_counter()
        rep = json.loads(post(r.url, "/flush", {}))
        t2 = time.perf_counter()
        write_s += t2 - t0
        flush_ms.append((t2 - t1) * 1000)
        ok = rep.get("ok") is True and rep.get("message", "").startswith(
            f"{len(batch)} docs")
        r.check(ok)
        if ok:
            for j in batch:
                r.oracle.add_document(all_docs[j])
            acked += len(batch)
        check(*unary(r.warm_qlog.next())[:2])
    gens = len(read_generations(index_dir) or [0])

    # warm-up and the measured window run on the final multi-generation
    # index; replies are checked after the window
    def warm_one():
        q, raw, ms = unary(r.warm_qlog.next())
        check(q, raw)
        return ms

    lat = r.timed("warmup_s", lambda: warm(warm_one, WARM_BLOCK["ingest"]))
    r.side["warmup_ms"] = [round(x, 1) for x in lat]

    sent: list[tuple] = []
    traced_ms, plain_ms = [], []
    t_end = time.perf_counter() + r.seconds
    while time.perf_counter() < t_end or not sent:
        traced = bool(r.tracer) and len(sent) % 2 == 0
        sent.append(unary(r.qlog.next(), traced))
        (traced_ms if traced else plain_ms).append(sent[-1][2])
    for q, raw, _ in sent:
        check(q, raw)
    r.check(get(r.url, "/stats")["n_docs"] == acked)

    qs = [q for q, _, _ in sent]
    input_bytes = sum(len(d.encode()) for d in all_docs[:acked])
    r.side["inputs"] = {
        "n_docs": acked, "queries": len(qs),
        "phrase_share": round(sum(q.is_phrase for q in qs) / len(qs), 4),
        "absent_share": round(sum(q.absent for q in qs) / len(qs), 4),
        "first_touch_share": 0.0,
    }
    r.client([ms for _, _, ms in sent], len(sent))
    r.side["flush_p50_ms"] = statistics.median(flush_ms)
    r.side["ingest_docs_per_s"] = (acked - n_base) / write_s
    r.side["live_generations"] = gens
    r.side["tracing"] = (traced_ms, plain_ms)
    return {
        "index_bytes_per_input_byte": dir_bytes(index_dir) / input_bytes,
    }


# name -> (make inputs before Spark starts, run against Spark)
WORKLOADS = {"log": (log_inputs, run_log),
             "ingest": (ingest_inputs, run_ingest)}
