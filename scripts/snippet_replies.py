"""Print every reply line of the ``log`` benchmark's snippet streams.

    PYTHONPATH=<tree> python scripts/snippet_replies.py <work_dir> <seed>...

For each seed it builds the ``log`` workload's index
(``write_index_mapside`` over ``perfbench.inputs.corpus(1000, seed,
170)``, 4 shards, BM25 k1=0.9 b=0.4) and doc store under ``<work_dir>``,
serves them with ``SearchServer`` and sends the first 20 streams of 12
queries from the main and the ``warm`` query logs, with snippets (3
passages). It prints one line per reply: ``<seed> <log> <stream>
<query> <reply JSON>``.

Run it once per source tree (the tree on ``PYTHONPATH``, which Spark's
Python workers get too) and compare the outputs: equal files mean equal
ranks, doc ids, scores and snippet strings. Spark runs on local[4].
"""

from __future__ import annotations

import json
import os
import sys
import urllib.request

STREAMS, STREAM_LEN = 20, 12


def main(work_dir: str, seeds: list[int]) -> None:
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .config("spark.executorEnv.PYTHONPATH",
                os.environ.get("PYTHONPATH", ""))
        .getOrCreate()
    )
    from perfbench.inputs import QueryLog, corpus
    from wiser_spark.config import BM25Params, IndexConfig
    from wiser_spark.operators.docstore import write_doc_store
    from wiser_spark.operators.mapside import write_index_mapside
    from wiser_spark.operators.segments import SegmentIndex
    from wiser_spark.serving import SearchServer

    for seed in seeds:
        docs = corpus(1000, seed, 170)
        main_log = QueryLog(docs, seed)
        work = os.path.join(work_dir, str(seed))
        frame = spark.createDataFrame(list(enumerate(docs)),
                                      "doc_id long, content string")
        write_index_mapside(frame, f"{work}/index", IndexConfig(
            bm25=BM25Params(0.9, 0.4), n_shards=4))
        write_doc_store(frame, f"{work}/store")
        idx = SegmentIndex(spark, f"{work}/index").warmup()
        server = SearchServer(idx, doc_store_dir=f"{work}/store").start()
        url = f"http://{server.host}:{server.port}/stream_search"
        try:
            for name, log in (("main", main_log),
                              ("warm", main_log.phase("warm"))):
                for s in range(STREAMS):
                    body = "\n".join(
                        json.dumps(q.request(return_snippets=True,
                                             n_snippet_passages=3))
                        for q in log.take(STREAM_LEN)
                    ).encode()
                    req = urllib.request.Request(url, data=body,
                                                 method="POST")
                    with urllib.request.urlopen(req) as resp:
                        lines = resp.read().decode().splitlines()
                    for i, line in enumerate(lines):
                        print(seed, name, s, i, line)
        finally:
            server.stop()
            idx.close()
    spark.stop()


if __name__ == "__main__":
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    main(sys.argv[1], [int(s) for s in sys.argv[2:]])
