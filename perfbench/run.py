"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload log --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  The last line of standard output is
one JSON object: ``{"correct", "attempted", "failed", "metrics"}``;
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer ones.  The line before it (``perfbench-side: {...}``) holds
the host-drift record and the figures that are not metrics (input
shares, tail percentile, fail ratio, set-up breakdown); the same record
is written to ``.perfbench_out/``.  Scratch data lives in
``.perfbench_work/`` and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# the JVM heap starts at its maximum, so G1 does not resize it during a
# run; the memory metric reads the live heap, not the heap's size
DRIVER_HEAP = "2g"


def declared_units(trace: int) -> dict[str, str]:
    """Metric name -> unit, as BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"]
            for m in spec["per_layer" if trace else "end_to_end"]}


def start_spark(work: str):
    from pyspark.sql import SparkSession

    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", DRIVER_HEAP)
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.driver.extraJavaOptions",
                f"-Xms{DRIVER_HEAP} -Djava.io.tmpdir={tmp} "
                f"-Dderby.system.home={tmp}")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the context, then the JVM, and wait for both."""
    from pyspark import SparkContext

    from perfbench.host import descendants

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    try:
        spark.stop()
        gw.shutdown()
    finally:
        # the JVM exits when its stdin closes, even if stop() failed
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.time() + 30
    while len(descendants(os.getpid())) > 1 and time.time() < deadline:
        time.sleep(0.2)


def layer_metrics(tr, r, side: dict) -> dict:
    from perfbench.trace import med

    search = [tr.request_figures(x) | {"rec": x} for x in tr.records
              if x["kind"] in ("unary", "stream")]
    streams = [f for f in search if f["rec"]["kind"] == "stream"]
    topk = [tr.request_figures(x) for x in tr.records if x["kind"] == "topk"]
    topk_ms = [x["latency_ms"] for x in tr.records if x["kind"] == "topk"]
    n_q = sum(f["rec"]["n_queries"] for f in search) or 1
    traced, plain = side.pop("tracing")
    t50, u50 = med(traced), med(plain)
    build = side.pop("build")
    comp = tr.compactions
    client = side["client"]
    return {
        "client.p50_ms": client["p50_ms"],
        "client.qps": client["qps"],
        "client.tail_ms": client["tail"]["value_ms"],
        "serving.overhead_ms": med(f["overhead_ms"] for f in search),
        "segments.plan_ms": med(f["plan_ms"] for f in search),
        "segments.exec_ms": med(f["exec_ms"] for f in search),
        "segments.lookup_jobs_per_query":
            sum(f["lookup_jobs"] for f in search) / n_q,
        "segments.load_ms": med(tr.loads_ms),
        "spark.jobs_per_request": med(f["jobs"] for f in search),
        "spark.stages_per_request": med(f["stages"] for f in search),
        "spark.tasks_per_request": med(f["tasks"] for f in search),
        "spark.executor_run_ms": med(f["run_ms"] for f in search),
        "spark.executor_cpu_ms": med(f["cpu_ms"] for f in search),
        "spark.shuffle_bytes": med(f["shuffle_bytes"] for f in search),
        # JVM collection time over the whole run, set-up included: with
        # the heap sized up front, pauses inside requests are rare
        "spark.gc_ms": tr.reader.gc_ms(),
        **{f"spark.stage_ms.{role}": med(f["role_ms"].get(role, 0.0)
                                         for f in search)
           for role in ("dict_lookup", "engine", "reply", "other")},
        "docstore.fetch_ids_per_stream": med(f["fetch_ids"] for f in streams),
        "highlight.stage_ms": med(f["role_ms"].get("reply", 0.0)
                                  for f in streams),
        "topk.batch_ms": med(topk_ms),
        "topk.jobs_per_batch": med(f["jobs"] for f in topk),
        "topk.shuffle_bytes_per_batch": med(f["shuffle_bytes"] for f in topk),
        "topk.rel_qps": side.get("rel_qps", 0.0),
        "streaming.process_batch_ms": med(tr.process_batch_ms),
        "streaming.compact_ms": sum(c["ms"] for c in comp),
        "streaming.compactions": float(len(comp)),
        "streaming.bytes_rewritten": float(sum(c["bytes"] for c in comp)),
        "streaming.live_generations": float(side.get("live_generations", 1)),
        "streaming.flush_p50_ms": side.get("flush_p50_ms", 0.0),
        "streaming.ingest_docs_per_s": side.get("ingest_docs_per_s", 0.0),
        "mapside.encode_stage_ms": build["encode_ms"],
        "mapside.tail_ms": build["tail_ms"],
        "mapside.bytes_written": build["bytes_written"],
        "mapside.build_docs_per_s": side["build_docs_per_s"],
        "sources.corpus_s": r.setup.get("corpus_s", 0.0),
        "sources.oracle_s": r.setup.get("oracle_s", 0.0),
        "trace.p50_traced_ms": t50,
        "trace.p50_untraced_ms": u50,
        "trace.overhead_pct": 100.0 * (t50 - u50) / u50 if u50 else 0.0,
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("log", "ingest"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.perf_counter()

    if not os.path.isfile(os.path.join(ROOT, "wiser_spark", "__init__.py")):
        print(f"perfbench: no wiser_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    work = os.path.join(ROOT, ".perfbench_work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # Spark prefers this variable over spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")

    from perfbench import host
    from perfbench.workloads import WORKLOADS, Run

    # a terminated run still stops Spark and removes its scratch data
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    cpu0, load0 = host.cpu_times(), host.load_1min()
    calib0 = host.cpu_calib_ms()
    make_inputs, run_workload = WORKLOADS[a.workload]
    spark = None
    r = None
    try:
        r = Run(work, a.seed, a.seconds)
        docs = make_inputs(r)
        # the driver's memory before the engine runs: inputs, oracle and
        # query log belong to the benchmark, not to the program
        driver_base_kb = host.vm_hwm_kb(os.getpid())
        spark = r.spark = r.timed("spark_s", lambda: start_spark(work))
        if a.trace:
            from perfbench.trace import Tracer

            r.tracer = Tracer(spark)
            r.tracer.install()
        e2e = run_workload(r, docs)
        r.stop()
        e2e["setup_s"] = sum(r.setup.values())
        side = r.side
        tracer = r.tracer
        if tracer:
            metrics = layer_metrics(tracer, r, side)
        else:
            side.pop("tracing")
            metrics = e2e
        # after the layer metrics: it forces a full collection, which
        # spark.gc_ms must not count
        e2e["memory_mb"], side["memory_mb"] = host.memory_mb(
            spark, driver_base_kb, len(os.sched_getaffinity(0)))
        side.update({
            "workload": a.workload, "seed": a.seed, "trace": a.trace,
            "fail_ratio": r.failed / max(r.attempted, 1),
            "setup_breakdown_s": {k: round(v, 3) for k, v in r.setup.items()},
            "end_to_end": e2e,
            "host": {
                "steal_pct": host.steal_pct(cpu0, host.cpu_times()),
                "load_1min_at_start": load0,
                "cpu_calib_ms": [calib0, host.cpu_calib_ms()],
                "spark_master": spark.sparkContext.master,
                "commit": host.source_digest(ROOT),
            },
        })
        if tracer:
            side["trace"] = {"sites_ms": tracer.site_breakdown(),
                             "records": tracer.records,
                             "compactions": tracer.compactions}
    finally:
        try:
            if r is not None:
                r.stop()
            if spark is not None:
                stop_spark(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)

    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(
        out_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
        json.dump(side, f, indent=1, default=str)
    side.pop("trace", None)
    side["run_wall_s"] = time.perf_counter() - t_start
    print("perfbench-side: " + json.dumps(side, default=str))
    units = declared_units(a.trace)
    if set(metrics) != set(units):
        diff = sorted(set(metrics) ^ set(units))
        raise SystemExit(f"perfbench: metrics {diff} differ from "
                         "BENCHMARK.json")
    result = {
        "correct": r.failed == 0,
        "attempted": r.attempted,
        "failed": r.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]}
                    for k in units},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
