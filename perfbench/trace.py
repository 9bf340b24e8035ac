"""Traced-run instrumentation: a reader of Spark's status store and a
span recorder around the engine's public entry points.

Nothing here runs in an untraced run.  In a traced run ``install``
wraps ``SegmentIndex`` (construction, warm-up, ``search``,
``search_batch`` and the ``collect()`` of the frames they return),
``fetch_docs`` and the ``IncrementalIndexer`` write path.  Spans stay in
memory; the caller writes them out at exit.
"""

from __future__ import annotations

import inspect
import re
import statistics
import sys
import time
from contextlib import contextmanager

from py4j.protocol import Py4JError

_SITE = re.compile(r" at (\S+?):(\d+)$")


class StatusReader:
    """Jobs and stages finished since the last ``take()``, read from the
    application status store (it is filled with the UI disabled too)."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()
        self._gc_beans = spark._jvm.java.lang.management.ManagementFactory \
            .getGarbageCollectorMXBeans()
        self._last = -1
        self.take()

    def gc_ms(self) -> float:
        """Collection time of the driver JVM so far.  In local mode the
        executors live in it, and stage-level GC time misses the pauses
        that fall between tasks."""
        beans = self._gc_beans
        return float(sum(beans.get(i).getCollectionTime()
                         for i in range(beans.size())))

    def _settle(self) -> None:
        # job-end events reach the store through the async listener bus
        try:
            self._sc.listenerBus().waitUntilEmpty(10_000)
        except Py4JError:
            time.sleep(0.2)

    def take(self) -> list[dict]:
        self._settle()
        jobs = self._store.jobsList(None)
        out = []
        for i in range(jobs.length()):  # newest first
            j = jobs.apply(i)
            jid = int(j.jobId())
            if jid <= self._last:
                break
            stages = []
            ids = j.stageIds()
            for k in range(ids.length()):
                try:
                    s = self._store.lastStageAttempt(ids.apply(k))
                except Py4JError:  # no attempt recorded
                    continue
                if s.status().toString() == "SKIPPED":
                    continue
                sub, done = s.submissionTime(), s.completionTime()
                wall = (
                    done.get().getTime() - sub.get().getTime()
                    if sub.isDefined() and done.isDefined() else 0
                )
                stages.append({
                    "tasks": int(s.numTasks()),
                    "wall_ms": float(wall),
                    "run_ms": float(s.executorRunTime()),
                    "cpu_ms": s.executorCpuTime() / 1e6,
                    "shuffle_bytes": int(s.shuffleWriteBytes()),
                    "output_bytes": int(s.outputBytes()),
                })
            out.append({"job": jid, "site": str(j.name()), "stages": stages})
        if out:
            self._last = max(o["job"] for o in out)
        return sorted(out, key=lambda o: o["job"])


def site_label(site: str) -> str:
    """``collect at .../wiser_spark/operators/segments.py:2117`` ->
    ``segments-2117``."""
    m = _SITE.search(site)
    if not m:
        return "other"
    name = m.group(1).rsplit("/", 1)[-1]
    return f"{name.rsplit('.', 1)[0]}-{m.group(2)}"


class Tracer:
    """Per-request span accumulator.  ``recording`` is switched per
    request, so one traced run can time alternate requests with and
    without the recorder and report its overhead."""

    def __init__(self, spark):
        from wiser_spark.operators import segments

        self.reader = StatusReader(spark)
        self.recording = False
        self.spans: list[dict] = []
        self.t_req = 0.0
        self.gc0 = 0.0
        self.records: list[dict] = []
        self.loads_ms: list[float] = []
        self.compactions: list[dict] = []
        self.process_batch_ms: list[float] = []
        lines, start = inspect.getsourcelines(
            segments.SegmentIndex._dict_lookup)
        self._lookup_lines = range(start, start + len(lines))

    # -- per-request bracket -------------------------------------------
    def begin(self) -> None:
        self.reader.take()
        self.spans = []
        self.gc0 = self.reader.gc_ms()
        self.t_req = time.perf_counter()
        self.recording = True

    def end(self, kind: str, latency_ms: float, n_queries: int) -> dict:
        self.recording = False
        rec = {"id": len(self.records), "kind": kind,
               "latency_ms": latency_ms, "n_queries": n_queries,
               "gc_ms": self.reader.gc_ms() - self.gc0,
               "spans": self.spans, "jobs": self.reader.take()}
        self.records.append(rec)
        return rec

    def span(self, name: str, t0: float, t1: float, parent: str = "client",
             **extra) -> None:
        """Record one span of the current request (times relative to
        the request start, ms)."""
        if self.recording:
            self.spans.append({
                "name": name, "parent": parent,
                "start_ms": (t0 - self.t_req) * 1000,
                "end_ms": (t1 - self.t_req) * 1000, **extra,
            })

    @contextmanager
    def window(self):
        """Jobs of an un-bracketed phase (a build), filled in at exit."""
        self.reader.take()
        jobs: list[dict] = []
        yield jobs
        jobs.extend(self.reader.take())

    def role(self, site: str) -> str:
        """dict_lookup | engine | reply | other (jobs started from JVM
        threads, such as broadcasts, carry no Python call site)."""
        m = _SITE.search(site)
        if not m:
            return "other"
        path, line = m.group(1), int(m.group(2))
        if (path.endswith("operators/segments.py")
                and line in self._lookup_lines):
            return "dict_lookup"
        if path.endswith(("serving/server.py", "perfbench/trace.py")):
            return "reply"  # the collect() of the frame search returned
        if "/wiser_spark/" in path:
            return "engine"
        return "other"

    # -- wrappers --------------------------------------------------------
    def install(self) -> None:
        from wiser_spark.operators import docstore
        from wiser_spark.operators.segments import SegmentIndex
        from wiser_spark.streaming.incremental import IncrementalIndexer

        tr = self

        def timed_frame(df):
            collect = df.collect

            def timed_collect():
                # Spark names a job after its first caller outside
                # pyspark, which is now this wrapper: keep the real one
                caller = sys._getframe(1)
                t0 = time.perf_counter()
                rows = collect()
                tr.span("segments.exec", t0, time.perf_counter(),
                        caller=site_label(f" at {caller.f_code.co_filename}:"
                                          f"{caller.f_lineno}"))
                return rows

            df.collect = timed_collect
            return df

        def wrap_query(orig):
            def run(self, *a, **kw):
                t0 = time.perf_counter()
                df = orig(self, *a, **kw)
                tr.span("segments.plan", t0, time.perf_counter())
                return timed_frame(df) if tr.recording else df
            return run

        SegmentIndex.search = wrap_query(SegmentIndex.search)
        SegmentIndex.search_batch = wrap_query(SegmentIndex.search_batch)

        init, warm = SegmentIndex.__init__, SegmentIndex.warmup

        def traced_init(self, *a, **kw):
            t0 = time.perf_counter()
            init(self, *a, **kw)
            self._perfbench_load_ms = (time.perf_counter() - t0) * 1000

        def traced_warmup(self):
            t0 = time.perf_counter()
            out = warm(self)
            ms = (time.perf_counter() - t0) * 1000
            tr.loads_ms.append(getattr(self, "_perfbench_load_ms", 0.0) + ms)
            return out

        SegmentIndex.__init__, SegmentIndex.warmup = traced_init, traced_warmup

        fetch = docstore.fetch_docs

        def traced_fetch(spark, store_dir, doc_ids=None):
            t0 = time.perf_counter()
            df = fetch(spark, store_dir, doc_ids)
            tr.span("docstore.fetch_docs", t0, time.perf_counter(),
                    parent="segments.plan",
                    ids=len(set(doc_ids)) if doc_ids is not None else 0)
            return df

        docstore.fetch_docs = traced_fetch

        process, compact = (IncrementalIndexer.process_batch,
                            IncrementalIndexer.compact_generations)

        def traced_process(self, batch, batch_id, *a, **kw):
            t0 = time.perf_counter()
            process(self, batch, batch_id, *a, **kw)
            tr.process_batch_ms.append((time.perf_counter() - t0) * 1000)

        def traced_compact(self, spark, gens):
            rewritten = sum(self._gen_bytes("segments", g) for g in gens)
            t0 = time.perf_counter()
            compact(self, spark, gens)
            tr.compactions.append({
                "ms": (time.perf_counter() - t0) * 1000,
                "bytes": rewritten, "gens": len(gens),
            })

        IncrementalIndexer.process_batch = traced_process
        IncrementalIndexer.compact_generations = traced_compact

    # -- reduction -------------------------------------------------------
    def request_figures(self, rec: dict) -> dict:
        stages = [s for j in rec["jobs"] for s in j["stages"]]
        by_role: dict[str, float] = {}
        for j in rec["jobs"]:
            r = self.role(j["site"])
            by_role[r] = by_role.get(r, 0.0) + sum(
                s["wall_ms"] for s in j["stages"])
        return {
            "plan_ms": span_ms(rec, "segments.plan"),
            "exec_ms": span_ms(rec, "segments.exec"),
            "fetch_ids": sum(sp.get("ids", 0) for sp in rec["spans"]
                             if sp["name"] == "docstore.fetch_docs"),
            "overhead_ms": rec["latency_ms"] - span_ms(rec, "segments.plan")
            - span_ms(rec, "segments.exec"),
            "jobs": len(rec["jobs"]),
            "stages": len(stages),
            "tasks": sum(s["tasks"] for s in stages),
            "run_ms": sum(s["run_ms"] for s in stages),
            "cpu_ms": sum(s["cpu_ms"] for s in stages),
            "shuffle_bytes": sum(s["shuffle_bytes"] for s in stages),
            "lookup_jobs": sum(1 for j in rec["jobs"]
                               if self.role(j["site"]) == "dict_lookup"),
            "role_ms": by_role,
        }

    def site_breakdown(self) -> dict[str, dict[str, float]]:
        """Stage wall ms per request kind and call site over every
        traced request, largest first."""
        out: dict[str, dict[str, float]] = {}
        for rec in self.records:
            caller = next((sp["caller"] for sp in rec["spans"]
                           if sp["name"] == "segments.exec"), "other")
            sites = out.setdefault(rec["kind"], {})
            for j in rec["jobs"]:
                lab = site_label(j["site"])
                if lab.startswith("trace-"):
                    lab = caller
                sites[lab] = sites.get(lab, 0.0) + sum(
                    s["wall_ms"] for s in j["stages"])
        return {kind: dict(sorted(sites.items(), key=lambda kv: -kv[1]))
                for kind, sites in out.items()}


def span_ms(rec: dict, name: str) -> float:
    return sum(sp["end_ms"] - sp["start_ms"] for sp in rec["spans"]
               if sp["name"] == name)


def med(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def build_figures(jobs: list[dict], wall_ms: float) -> dict:
    """Encode stage vs. the rest of one index build: the stage that
    writes the most bytes is the map-side encoder's write."""
    stages = [s for j in jobs for s in j["stages"]]
    enc = max(stages, key=lambda s: s["output_bytes"], default=None)
    enc_ms = enc["wall_ms"] if enc else 0.0
    return {
        "encode_ms": enc_ms,
        "tail_ms": max(wall_ms - enc_ms, 0.0),
        "bytes_written": sum(s["output_bytes"] for s in stages),
    }
