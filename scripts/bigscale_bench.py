"""Absolute-scale evidence run (round-4 item 1): the resumable batched
map-side build + warm query suite + search_batch at >= 20M docs — the
reference's own corpus scale (20M wiki docs, ``tools/indexer.py:45-47``),
where fixed overheads stop dominating and the block-max end-to-end win
is measurable (not just the kernel microbench).

Run via spark-submit (driver memory MUST be the flag, not builder conf):

  spark-submit --master local[32] --driver-memory 48g \
      --py-files /tmp/wiser_spark.zip scripts/bigscale_bench.py \
      --cpus 32 --mult 4000 --batches 12 --out BENCH/bigscale_32.json

The corpus is the sf0.1 documents table replicated --mult times with a
VARIED tail token per replica (so tf distributions keep the base
corpus's per-doc variety and the vocabulary grows — a replica-flat
corpus would make every block-max bound tie and the scorer would
correctly refuse to fire). Build path = build_index_mapside_batched
(md5 slices through the exactly-once commit log, corpus staged once)
+ compact_index into a single generation — the steady state a
long-running ingest reaches, and the eligibility state of the
conjunction block-max scorer.

Per query the suite is timed twice: with the decode-strategy gates
DISABLED (full-decode generic path) and with the default gates
(partial decode + single-term and conjunction block-max), so the
end-to-end block-max delta at this scale is a reported number.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time


def _env_info(sf_dir: str) -> dict:
    """loadavg, cumulative steal%, and a content hash of the source
    corpus parquet — recorded INSIDE the result json (r06 hygiene)."""
    import hashlib

    info: dict = {}
    try:
        info["loadavg_1m"] = round(os.getloadavg()[0], 2)
    except OSError:
        pass
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        vals = [int(x) for x in parts[1:]]
        total = sum(vals)
        info["steal_pct_cumulative"] = round(100.0 * vals[7] / total, 3)
    except (OSError, IndexError, ValueError):
        pass
    try:
        h = hashlib.sha256()
        root = os.path.join(sf_dir, "documents.parquet")
        targets = (
            sorted(
                os.path.join(root, p) for p in os.listdir(root)
                if not p.startswith(("_", "."))
            )
            if os.path.isdir(root)
            else [root]
        )
        for p in targets:
            with open(p, "rb") as f:
                h.update(f.read())
        info["corpus_sha256"] = h.hexdigest()
    except OSError:
        pass
    return info


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cpus", type=int, required=True)
    ap.add_argument("--mult", type=int, default=4000)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--n-shards", type=int, default=128)
    ap.add_argument("--batches", type=int, default=12)
    ap.add_argument("--query-reps", type=int, default=3)
    ap.add_argument(
        "--build-only", action="store_true",
        help="skip compaction and the query/batch suites — the "
        "treatment for N-vs-4N build-scaling pairs, where a "
        "low-core-count compaction would dominate wall-clock without "
        "informing the scaling gate",
    )
    ap.add_argument(
        "--snippets", action="store_true",
        help="the SERVING-FLOW treatment (r04 item 8): one-shot "
        "map-side index + chunked doc store over the same corpus, then "
        "the whole query log answered WITH snippets — winners "
        "point-fetch through the range-coalesced store predicate — "
        "reported as QPS next to the no-snippet batch number",
    )
    ap.add_argument("--out", default="")
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = (
        SparkSession.builder.master(f"local[{args.cpus}]")
        .appName(f"wiser-bigscale-{args.cpus}")
        .config("spark.sql.shuffle.partitions", str(args.cpus * 2))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import wiser_spark.operators.segments as segmod
    from __spark_entry__ import BM25_QUERIES, PARAMS
    from wiser_spark.config import IndexConfig
    from wiser_spark.operators.segments import SegmentIndex
    from wiser_spark.plans.build import build_index_mapside_batched

    base = spark.read.parquet(f"{args.sf_dir}/documents.parquet")
    # varied-tail replication: doc_key is the deterministic total order
    # the batched build sorts on; rep token varies content per replica
    source = (
        base.select("doc_id", F.col("text").alias("content"))
        .withColumn(
            "rep", F.explode(F.sequence(F.lit(0), F.lit(args.mult - 1)))
        )
        .select(
            F.format_string(
                "%012d", F.col("doc_id") * args.mult + F.col("rep")
            ).alias("doc_key"),
            F.concat(
                F.col("content"), F.lit(" rep"), F.col("rep").cast("string")
            ).alias("content"),
        )
    )
    n_docs = 5000 * args.mult

    work = tempfile.mkdtemp(prefix=f"wiser_bigscale_{args.cpus}_")
    gen_dir = os.path.join(work, "gens")
    idx_dir = os.path.join(work, "idx")
    result: dict = {
        "cpus": args.cpus,
        "n_docs": n_docs,
        "n_batches": args.batches,
        "n_shards": args.n_shards,
        # bench hygiene (r06): every bigscale json self-describes its
        # environment and input so cross-round deltas are attributable
        # (host load / steal vs code vs data — the r05 regression was
        # unattributable for lack of exactly this)
        "env": _env_info(args.sf_dir),
    }
    if args.snippets:
        # standalone serving-flow treatment: one-shot map-side index +
        # doc store over the SAME docs DataFrame, so stored content and
        # index postings align exactly (the snippet invariant holds).
        # docIDs are ARITHMETIC (doc_id*mult+rep — dense, deterministic
        # across recomputes), the proven 20M one-shot scheme from
        # scaling_job.py: the first attempt used assign_doc_ids, whose
        # 20M-doc persisted range-sort plus 32 encode workers pushed
        # the host past physical memory (OOM-killed at 13:14 in the
        # r05 run) — no persist is needed when every recompute of the
        # plan yields identical rows and ids
        import time as _t

        from wiser_spark.operators.docstore import write_doc_store
        from wiser_spark.operators.mapside import write_index_mapside

        docs = (
            base.select("doc_id", F.col("text").alias("content"))
            .withColumn(
                "rep",
                F.explode(F.sequence(F.lit(0), F.lit(args.mult - 1))),
            )
            .select(
                (F.col("doc_id") * args.mult + F.col("rep")).cast("long")
                .alias("doc_id"),
                F.concat(
                    F.col("content"), F.lit(" rep"),
                    F.col("rep").cast("string")
                ).alias("content"),
            )
            .repartition(args.n_shards)
        )
        try:
            t0 = time.perf_counter()
            write_index_mapside(
                docs, idx_dir,
                IndexConfig(bm25=PARAMS, n_shards=args.n_shards),
                reuse_partitions=True,
            )
            result["build_sec"] = round(time.perf_counter() - t0, 2)
            store_dir = os.path.join(work, "store")
            t0 = time.perf_counter()
            write_doc_store(docs, store_dir)
            result["store_build_sec"] = round(time.perf_counter() - t0, 2)
            import json as _json

            with open(f"{store_dir}/meta.json") as f:
                result["store_codec"] = _json.load(f)["codec"]
            idx = SegmentIndex(spark, idx_dir)
            idx.segments = idx.segments.cache()
            idx.segments.count()
            idx.warmup()
            batch = [
                (i * 10 + j, terms, ph)
                for j in range(3)
                for i, (terms, ph) in enumerate(BM25_QUERIES.values())
            ]
            idx.search_batch(batch, k=10).count()  # warm the code path
            t0 = _t.perf_counter()
            plain_rows = idx.search_batch(batch, k=10).count()
            plain_sec = _t.perf_counter() - t0
            t0 = _t.perf_counter()
            snip = idx.search_batch(
                batch, k=10, return_snippets=True, doc_store_dir=store_dir
            ).collect()
            snip_sec = _t.perf_counter() - t0
            n_nonempty = sum(
                1 for r in snip if r["snippet"] and "<b>" in r["snippet"]
            )
            result.update(
                {
                    "batch_queries": len(batch),
                    "batch_rows": plain_rows,
                    "batch_sec": round(plain_sec, 3),
                    "batch_qps": round(len(batch) / plain_sec, 2),
                    "snippets_rows": len(snip),
                    "snippets_highlighted": n_nonempty,
                    "snippets_sec": round(snip_sec, 3),
                    "snippets_qps": round(len(batch) / snip_sec, 2),
                }
            )
        finally:
            shutil.rmtree(work, ignore_errors=True)
        line = json.dumps(result)
        print(line)
        if args.out:
            with open(args.out, "w") as f:
                f.write(line + "\n")
        spark.stop()
        return
    try:
        t0 = time.perf_counter()
        manifest = build_index_mapside_batched(
            spark, source, gen_dir,
            IndexConfig(bm25=PARAMS, n_shards=args.n_shards),
            n_batches=args.batches, order_cols=("doc_key",),
        )
        build_sec = time.perf_counter() - t0
        if args.build_only:
            batch_items = [
                (int(name.rsplit("_", 1)[1]), e)
                for name, e in manifest.entries.items()
                if name.startswith("batch_")
            ]
            bsecs = [round(e.wall_s, 2) for _, e in sorted(batch_items)]
            result.update(
                {
                    "build_sec": round(build_sec, 2),
                    "docs_per_sec": round(n_docs / build_sec, 1),
                    "stage_batches_sec": round(sum(bsecs), 2),
                    "per_batch_sec": bsecs,
                }
            )
            line = json.dumps(result)
            print(line)
            if args.out:
                with open(args.out, "w") as f:
                    f.write(line + "\n")
            shutil.rmtree(work, ignore_errors=True)
            spark.stop()
            return
        from wiser_spark.operators.segments import compact_index

        t0 = time.perf_counter()
        compact_index(spark, gen_dir, idx_dir)
        compact_sec = time.perf_counter() - t0
        total = build_sec + compact_sec
        # per-batch wall times from the manifest lineage; staging the
        # bucketed corpus + the final dictionary fold are the remainder
        batch_items = [
            (int(name.rsplit("_", 1)[1]), e)
            for name, e in manifest.entries.items()
            if name.startswith("batch_")
        ]
        batch_secs = [round(e.wall_s, 2) for _, e in sorted(batch_items)]
        result.update(
            {
                "build_total_sec": round(total, 2),
                "docs_per_sec": round(n_docs / total, 1),
                "docs_per_sec_precompact": round(n_docs / build_sec, 1),
                "stage_batches_sec": round(sum(batch_secs), 2),
                "stage_stage_plus_refresh_sec": round(
                    build_sec - sum(batch_secs), 2
                ),
                "stage_compact_sec": round(compact_sec, 2),
                "per_batch_sec": batch_secs,
            }
        )

        idx = SegmentIndex(spark, idx_dir)
        idx.segments = idx.segments.cache()
        idx.segments.count()
        t0 = time.perf_counter()
        idx.warmup()
        result["dict_warmup_sec"] = round(time.perf_counter() - t0, 3)

        def run_suite(tag: str, record_lat: bool, over=None):
            target = over or idx
            lat = []
            per_q = {}
            for name, (terms, is_phrase) in BM25_QUERIES.items():
                for rep in range(args.query_reps):
                    t0 = time.perf_counter()
                    target.search(terms, k=10, is_phrase=is_phrase).collect()
                    dt = time.perf_counter() - t0
                    if rep > 0:
                        lat.append(dt)
                    if rep == args.query_reps - 1:
                        per_q[name] = round(dt, 3)
            lat.sort()
            result[f"queries_warm_{tag}"] = per_q
            if record_lat and lat:
                result[f"warm_p50_{tag}"] = round(lat[len(lat) // 2], 3)
                result[f"warm_p99_{tag}"] = round(
                    lat[max(0, int(len(lat) * 0.99) - 1)], 3
                )

        # generic full-decode path first (gates disabled), then the
        # default gates — same cache state order for both treatments
        # (the generic pass leaves `decoded` caches per task, but each
        # query is a fresh job; segment parquet cache is shared)
        saved = segmod.PARTIAL_DECODE_MIN_PAGES
        segmod.PARTIAL_DECODE_MIN_PAGES = 1 << 40
        run_suite("generic", record_lat=True)
        segmod.PARTIAL_DECODE_MIN_PAGES = saved
        run_suite("blockmax", record_lat=True)

        # the COALESCED-SCAN treatment (r04 item 5): same cached index,
        # segments coalesced to ~2x cores before caching — the
        # interactive-single-query knob (scan task count stops paying
        # one task per (shard, file)); rank identity is asserted
        idx_c = SegmentIndex(spark, idx_dir, scan_coalesce=args.cpus * 2)
        idx_c.segments = idx_c.segments.cache()
        idx_c.segments.count()
        idx_c.warmup()
        name0, (t0_terms, t0_ph) = next(iter(BM25_QUERIES.items()))
        a = [tuple(r) for r in
             idx.search(t0_terms, k=10, is_phrase=t0_ph).collect()]
        b = [tuple(r) for r in
             idx_c.search(t0_terms, k=10, is_phrase=t0_ph).collect()]
        assert a == b, "coalesced scan changed results"
        run_suite("blockmax_coalesced", record_lat=True, over=idx_c)
        idx_c.segments.unpersist(blocking=True)

        # the UNCACHED treatment: term lookups go to parquet with the
        # pushed `term IN (...)` filter — row-group pruning (segment
        # files are term-sorted within each shard) instead of a full
        # scan of a multi-GB cached table. This is the 100 TB serving
        # regime: at that scale the segment table cannot live in
        # executor storage memory, and the pruned-read latency is the
        # number that transfers. The cache MUST be dropped first:
        # Spark substitutes cached plans by logical-plan equality, so
        # a fresh read of the same path would silently hit the cache.
        idx.segments.unpersist(blocking=True)
        idx_p = SegmentIndex(spark, idx_dir)
        idx_p.warmup()
        run_suite("pushdown", record_lat=True, over=idx_p)

        # the QPS path: whole 21-query log in one shard pass
        batch = [
            (i * 10 + j, terms, ph)
            for j in range(3)
            for i, (terms, ph) in enumerate(BM25_QUERIES.values())
        ]
        idx.search_batch(batch, k=10).count()  # warm the code path
        t0 = time.perf_counter()
        nres = idx.search_batch(batch, k=10).count()
        dt = time.perf_counter() - t0
        result.update(
            {
                "batch_queries": len(batch),
                "batch_rows": nres,
                "batch_sec": round(dt, 3),
                "batch_qps": round(len(batch) / dt, 2),
            }
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)

    line = json.dumps(result)
    print(line)
    if args.out:
        with open(args.out, "w") as f:
            f.write(line + "\n")
    spark.stop()


if __name__ == "__main__":
    sys.path.insert(
        0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    main()
