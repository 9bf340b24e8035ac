"""spark-submit entry point: build a queryable index from a source table.

The ops-facing CLI for the whole build (the reference's `tools/indexer.py`
analogue, distributed):

  spark-submit --master <url> --driver-memory 48g \\
      --py-files wiser_spark.zip \\
      scripts/build_index.py \\
      --input  /lake/source_files_parquet \\
      --out    /lake/wiser_index \\
      --content-col content \\
      [--n-shards 4096] [--k1 0.9] [--b 0.4] \\
      [--batches 64 [--resumable-work-dir /lake/wiser_build_work]]

Two modes:
  default      the ZERO-SHUFFLE map-side build (write_index_mapside):
               one pass, sentinel doc lengths, both bloom sides;
               docIDs assigned deterministically if absent.
  --batches N  the RESUMABLE map-side build (build_index_mapside_batched):
               the corpus splits into N deterministic slices, each
               committed exactly-once as one generation; a killed build
               resumes from the commit log, with per-batch lineage in
               manifest.json. A source doc_id column is kept (slices are
               doc_id ranges); otherwise dense docIDs are assigned per
               md5 slice. The generations are then compacted into --out.

Query the result with wiser_spark.operators.segments.SegmentIndex.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="parquet source table")
    ap.add_argument("--out", required=True, help="index output directory")
    ap.add_argument("--content-col", default="content")
    ap.add_argument("--n-shards", type=int, default=0,
                    help="0 = reuse the input partitioning (zero shuffle)")
    ap.add_argument("--k1", type=float, default=0.9)
    ap.add_argument("--b", type=float, default=0.4)
    ap.add_argument("--order-cols", default="repo,path,commit",
                    help="total order for docID assignment when the "
                         "source has no doc_id column")
    ap.add_argument("--batches", type=int, default=0,
                    help=">0: RESUMABLE map-side build in this many "
                         "deterministic slices (doc_id ranges when the "
                         "source has doc_id, md5 slices otherwise), each "
                         "committed exactly-once; a killed build resumes "
                         "from the commit log. Generations are compacted "
                         "into --out afterwards.")
    ap.add_argument("--resumable-work-dir", default="",
                    help="with --batches: the generations work dir that "
                         "holds the commit log and manifest.json "
                         "(default <out>_generations)")
    args = ap.parse_args()
    if args.resumable_work_dir and args.batches <= 0:
        ap.error("--resumable-work-dir names the --batches work dir; "
                 "pass --batches")

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("wiser-build-index").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from wiser_spark.config import BM25Params, IndexConfig
    from wiser_spark.operators.postings import assign_doc_ids

    src = spark.read.parquet(args.input)
    if "doc_id" not in src.columns and args.batches == 0:
        # the batched build assigns dense ids per slice itself
        src = assign_doc_ids(src, tuple(args.order_cols.split(",")))
    cfg = IndexConfig(
        bm25=BM25Params(k1=args.k1, b=args.b),
        n_shards=args.n_shards or spark.sparkContext.defaultParallelism,
    )
    t0 = time.perf_counter()
    if args.batches > 0:
        from wiser_spark.plans.build import build_index_mapside_batched

        work = args.resumable_work_dir or f"{args.out}_generations"
        manifest = build_index_mapside_batched(
            spark, src, work, cfg, n_batches=args.batches,
            order_cols=tuple(args.order_cols.split(",")),
            content_col=args.content_col, compact_to=args.out,
        )
        print(json.dumps({"mode": "mapside-batched", "out": args.out,
                          "generations": work,
                          "batches": sorted(manifest.entries),
                          "wall_sec": round(time.perf_counter() - t0, 2)}))
    else:
        from wiser_spark.operators.mapside import write_index_mapside

        write_index_mapside(
            src, args.out, cfg, content_col=args.content_col,
            reuse_partitions=(args.n_shards == 0),
        )
        with open(f"{args.out}/stats.json") as f:
            meta = json.load(f)
        n = meta["n_docs"]
        dt = time.perf_counter() - t0
        print(json.dumps({"mode": "mapside", "out": args.out, "n_docs": n,
                          "wall_sec": round(dt, 2),
                          "docs_per_sec": round(n / dt, 1)}))
    spark.stop()


if __name__ == "__main__":
    import os

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    main()
