"""Physical-plan audit: print the plan features that matter at 100 TB.

Checks the relational BM25 plan (term pushdown, column pruning,
broadcast joins, TakeOrderedAndProject) and the segment query's
shard-kernel plan (partition pruning by shard, term filter pushed to the
segment scan).

Usage: python scripts/explain_audit.py [sf_dir]
"""

from __future__ import annotations

import contextlib
import io
import sys
import tempfile

sys.path.insert(0, ".")

MARKERS = [
    "TakeOrderedAndProject", "PushedFilters", "BroadcastHashJoin",
    "SortMergeJoin", "ReadSchema", "PartitionFilters",
]


def audit(name: str, df) -> None:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    s = buf.getvalue()
    print(f"\n=== {name} ===")
    for m in MARKERS:
        lines = [ln.strip()[:160] for ln in s.splitlines() if m in ln]
        print(f"{m}: {len(lines)}")
        for ln in lines[:4]:
            print("   ", ln)


def main() -> None:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as e
    from wiser_spark.config import IndexConfig
    from wiser_spark.operators.docstats import build_docstats, corpus_stats
    from wiser_spark.operators.postings import build_dictionary, build_postings
    from wiser_spark.operators.segments import SegmentIndex, write_index
    from wiser_spark.operators.topk import bm25_topk

    docs = e._documents(spark, sf)
    work = tempfile.mkdtemp(prefix="wiser_audit_")
    postings = build_postings(docs)
    docstats = build_docstats(docs)
    dictionary = build_dictionary(postings)
    stats = corpus_stats(docstats)
    postings.write.mode("overwrite").parquet(f"{work}/postings")
    docstats.write.mode("overwrite").parquet(f"{work}/docstats")
    p = spark.read.parquet(f"{work}/postings")
    d = spark.read.parquet(f"{work}/docstats")
    audit(
        "relational BM25 AND-2 (expect: EqualTo(term,..) pushed, positions "
        "pruned from ReadSchema, broadcast joins, TakeOrderedAndProject)",
        bm25_topk(p, d, build_dictionary(p), stats, ["dup", "key"], 10, e.PARAMS),
    )
    write_index(postings, docstats, dictionary, stats, f"{work}/idx",
                IndexConfig(bm25=e.PARAMS, n_shards=4))
    idx = SegmentIndex(spark, f"{work}/idx")
    # search() returns a local reply frame built on the driver; the
    # Spark plan worth auditing is the shard kernel it collects
    audit(
        "segment-path query kernel (expect: In(term,..) pushed to segment "
        "scan)",
        idx._per_shard_topk([(0, ["dup", "key"], False)], 10),
    )


if __name__ == "__main__":
    main()
