"""The end-to-end index build pipeline, staged + checkpointed + resumable.

Stages (each writes parquet under work_dir and records a manifest entry;
the distributed analogue of the reference's two-pass build,
``tools/indexer.py:13-38`` -> ``convert_qq_to_vacuum.cc:22-37``):

  docs       read input table -> deterministic dense docIDs
  postings   tokenize + explode + groupBy(term, doc_id)
  docstats   doc lengths (+ lossy byte) + sha256 invariant
  segments   shard + encode posting blobs, each shard ending in its
             doc-length sentinel row from docstats (the "merge" shuffle:
             the reference's single-node qq->vacuum conversion becomes a
             repartition by shard + partition-local encode)
  dictionary term -> global df + prefetch fields, from the written
             segments (segments.dictionary_from_segments)

Re-running skips every stage whose input fingerprint is unchanged, so a
killed build resumes where it stopped. Fingerprints chain: stage N's
input fingerprint includes stage N-1's output fingerprint.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wiser_spark.config import IndexConfig
from wiser_spark.operators.docstats import build_docstats, corpus_stats
from wiser_spark.operators.postings import (
    DEFAULT_ORDER,
    assign_doc_ids,
    build_postings,
)
from wiser_spark.operators.segments import (
    SEGMENT_SCHEMA,
    build_segments,
    dictionary_from_segments,
)
from wiser_spark.plans.manifest import (
    Manifest,
    StageEntry,
    StageTimer,
    dir_lineage,
    fingerprint,
)


def _source_lineage_fp(source: DataFrame) -> str:
    """Default source fingerprint: input FILE LINEAGE (paths + size +
    mtime) plus the schema — so resuming over changed data with an
    unchanged schema re-runs the docs stage instead of silently serving
    a stale index. For non-file sources (no lineage available) it falls
    back to the schema string; pass an explicit source_fingerprint for
    those if the data can change."""
    entries = [source.schema.simpleString()]
    for uri in sorted(source.inputFiles()):
        path = uri.removeprefix("file:")
        try:
            st = os.stat(path)
            entries.append(f"{uri}:{st.st_size}:{int(st.st_mtime)}")
        except OSError:
            entries.append(uri)
    return fingerprint(*entries)


class IndexBuildPipeline:
    def __init__(
        self,
        spark: SparkSession,
        source: DataFrame,
        work_dir: str,
        config: IndexConfig | None = None,
        order_cols=DEFAULT_ORDER,
        source_fingerprint: str = "",
        content_col: str = "content",
    ):
        self.spark = spark
        self.source = source
        self.work_dir = work_dir
        self.config = config or IndexConfig()
        self.order_cols = list(order_cols)
        self.content_col = content_col
        self.source_fingerprint = source_fingerprint or _source_lineage_fp(source)
        self.manifest = Manifest(work_dir)

    # ------------------------------------------------------------ stages
    def _out(self, stage: str) -> str:
        return os.path.join(self.work_dir, stage)

    def _run_stage(self, stage: str, input_fp: str, write_fn) -> str:
        """Run or skip one stage; returns its output fingerprint."""
        if self.manifest.can_skip(stage, input_fp):
            return self.manifest.fingerprint_of(stage)
        out_dir = self._out(stage)
        with StageTimer() as t:
            write_fn(out_dir)
        rows = self.spark.read.parquet(out_dir).count()  # footer-only count
        files, total_bytes = dir_lineage(out_dir)
        out_fp = fingerprint(stage, input_fp, rows, total_bytes)
        self.manifest.record(
            StageEntry(
                stage=stage, status="complete", input_fingerprint=input_fp,
                output_fingerprint=out_fp, rows=rows, bytes=total_bytes,
                wall_s=t.wall_s, files=files,
            )
        )
        return out_fp

    def run(self) -> Manifest:
        cfg = self.config
        fp0 = fingerprint("docs", self.source_fingerprint, self.order_cols)

        def write_docs(d):
            # a source that already carries doc_id keeps it (the lake
            # assigned ids upstream); otherwise assign deterministically
            out = (
                self.source
                if "doc_id" in self.source.columns
                else assign_doc_ids(self.source, self.order_cols)
            )
            out.write.mode("overwrite").parquet(d)
            # the write was the one action over the assignment: release
            # its pinned shuffle layout eagerly (r04 advisory)
            pinned = getattr(out, "_wiser_pinned", None)
            if pinned is not None:
                pinned.unpersist()

        fp_docs = self._run_stage("docs", fp0, write_docs)
        docs = self.spark.read.parquet(self._out("docs"))

        fp_post = self._run_stage(
            "postings",
            fingerprint(
                "postings", fp_docs, cfg.with_positions, self.content_col
            ),
            lambda d: build_postings(
                docs, with_positions=cfg.with_positions,
                content_col=self.content_col,
            ).write.mode("overwrite").parquet(d),
        )
        postings = self.spark.read.parquet(self._out("postings"))

        fp_stats = self._run_stage(
            "docstats", fingerprint("docstats", fp_docs, self.content_col),
            lambda d: build_docstats(docs, content_col=self.content_col)
            .write.mode("overwrite").parquet(d),
        )
        docstats = self.spark.read.parquet(self._out("docstats"))

        def write_segments(d):
            build_segments(postings, docstats, cfg.n_shards).write.mode(
                "overwrite"
            ).partitionBy("shard_id").parquet(d)

        # the sentinels come from docstats, so its output chains in too
        fp_segs = self._run_stage(
            "segments",
            fingerprint("segments", fp_post, fp_stats, cfg.n_shards),
            write_segments,
        )

        # the same dictionary as every other writer's, prefetch fields
        # included (queries pick full vs skip-based partial decode by them)
        self._run_stage(
            "dictionary", fingerprint("dictionary", fp_segs),
            lambda d: dictionary_from_segments(
                self.spark.read.schema(SEGMENT_SCHEMA).parquet(
                    self._out("segments")
                )
            ).write.mode("overwrite").parquet(d),
        )

        # final queryable-index metadata (consumed by SegmentIndex)
        stats = corpus_stats(docstats)
        meta = {
            "n_docs": stats.n_docs, "avgdl": stats.avgdl,
            "n_terms": self.manifest.entries["dictionary"].rows,
            "n_shards": cfg.n_shards, "k1": cfg.bm25.k1, "b": cfg.bm25.b,
            "format": "wiser-spark-segment-v2",
            "doclen_sentinel": True,
        }
        with open(os.path.join(self.work_dir, "stats.json"), "w") as f:
            json.dump(meta, f, indent=1)
        return self.manifest


def batch_id_col(order_cols, n_batches: int):
    """Deterministic batch assignment for the resumable map-side build:
    first 8 hex digits of md5 over the NUL-joined order columns, mod
    n_batches. md5 (not xxhash64) so the split is reproducible outside
    Spark — tests and the DuckDB oracles compute the identical bucket."""
    key = F.concat_ws("\x00", *[F.col(c).cast("string") for c in order_cols])
    return F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("long") % n_batches


def build_index_mapside_batched(
    spark: SparkSession,
    source: DataFrame,
    index_dir: str,
    config: IndexConfig | None = None,
    n_batches: int = 8,
    order_cols=DEFAULT_ORDER,
    content_col: str = "content",
    compact_to: str | None = None,
    pipeline: bool = True,
) -> Manifest:
    """Resumable BATCH build on the zero-shuffle map-side encoder — the
    north rule's "resumable from checkpoint with per-partition lineage
    + metrics" for the scale path (plans.IndexBuildPipeline covers the
    shuffle-built path).

    The corpus splits into ``n_batches`` deterministic md5 slices; each
    slice goes through the streaming sink's exactly-once commit
    protocol (staged write -> atomic generation publish -> commit-log
    append, incremental.py), so a killed build RESUMES: committed
    batches are skipped by batch_id, a torn staging dir is replaced by
    the idempotent retry. Per-batch lineage (rows, bytes, per-file
    sizes, wall seconds) is recorded in ``index_dir/manifest.json``.
    At 10^12 files n_batches simply grows until one slice's postings
    fit executor memory; batches run sequentially by design — the
    PARALLELISM lives inside each batch (every shard encodes
    concurrently), the sequencing only pins the dense docID ranges.

    ``compact_to``: optionally merge the resulting generations into a
    single-generation index at that directory (compact_index) once all
    batches committed.

    ``pipeline``: overlap batch i+1's PREPARE with batch i's encode
    (default). The prepare holds its range-sorted layout pinned in
    executor storage during the overlap, which adds memory pressure at
    LOW core counts — pass False to run prepares inline (r06, the
    VERDICT-1 attribution toggle; commit order and results are
    identical either way).

    Guard rails: the build parameters (n_batches, order_cols) and the
    source lineage fingerprint are persisted on first run and CHECKED on
    resume — resuming with a different slice count or changed input
    would pair stale committed generations with differently-bucketed new
    ones (docs dropped or doubled), so that raises instead. A source
    that already carries ``doc_id`` is rejected: commit-log docIDs are
    dense per batch by construction and cannot honor lake-assigned ids
    (use write_index_mapside / IndexBuildPipeline for that).

    IO shape: the bucketed corpus is STAGED once, partitioned by batch
    (``_batched_source/``), so the per-batch reads prune to one slice —
    without it, N batches would each rescan the full corpus (N-times
    read amplification at the 10^12-file target). The per-batch
    dictionary fold is deferred to ONE refresh after the last batch."""
    from wiser_spark.operators.segments import compact_index
    from wiser_spark.streaming.incremental import IncrementalIndexer

    if "doc_id" in source.columns:
        raise ValueError(
            "build_index_mapside_batched assigns dense per-batch docIDs "
            "from the commit log and cannot honor an existing doc_id "
            "column; drop it (ids are reassigned) or use "
            "write_index_mapside / IndexBuildPipeline to preserve it"
        )
    order_cols = list(order_cols)
    params_path = f"{index_dir}/batched_build.json"
    src_fp = _source_lineage_fp(source)
    params = {
        "n_batches": n_batches,
        "order_cols": order_cols,
        "source_fingerprint": src_fp,
    }
    os.makedirs(index_dir, exist_ok=True)
    if os.path.exists(params_path):
        with open(params_path) as f:
            prior = json.load(f)
        if prior != params:
            raise ValueError(
                f"resume mismatch at {index_dir!r}: committed batches "
                f"were built with {prior}, this run asks for {params}; "
                "mixing slice layouts or changed input would corrupt "
                "the index — delete the directory to rebuild"
            )
    else:
        with open(params_path, "w") as f:
            json.dump(params, f)

    indexer = IncrementalIndexer(
        index_dir, config=config, order_cols=order_cols,
        content_col=content_col, fmt="v2",
    )
    manifest = Manifest(index_dir)
    # stage the bucketed corpus ONCE, partitioned by slice, so each
    # batch reads exactly its partition (deterministic content: skip
    # when the prior run already wrote it; skip entirely when every
    # batch is already committed — an idempotent re-run stages nothing)
    staged_src = f"{index_dir}/_batched_source"
    uncommitted = [
        b for b in range(n_batches)
        if str(b) not in indexer._read_commits()
    ]
    bucketed = None
    if uncommitted:
        if not os.path.exists(f"{staged_src}/_SUCCESS"):
            source.withColumn(
                "_batch", batch_id_col(order_cols, n_batches)
            ).write.mode("overwrite").partitionBy("_batch").parquet(staged_src)
        bucketed = spark.read.parquet(staged_src)

    # ------------------------------------------------- pipelined commits
    # batch i's PREPARE (range-sort + the one stats job; writes nothing
    # durable) runs in a helper thread CONCURRENTLY with batch i-1's
    # encode+publish — the prepare's serial segments (range sampling
    # barrier, driver collect, job scheduling) hide under the encode's
    # task work instead of idling every core between batches (the
    # round-4 scaling gap: ~18 s of non-scaling work per batch). Commit
    # ORDER is unchanged — publishes and commit-log appends stay strictly
    # sequential, so exactly-once and dense docID ranges are untouched;
    # a crash mid-pipeline loses only in-memory prepares.
    from concurrent.futures import ThreadPoolExecutor

    def _prepare(b: int):
        return indexer.prepare_batch(
            bucketed.filter(F.col("_batch") == b).drop("_batch")
        )

    indexer._recover_compaction()  # heal a crashed prior run's swap once
    next_prep: dict = {}
    pool = ThreadPoolExecutor(max_workers=1)

    def _schedule(after: int):
        for nb in uncommitted:
            if nb > after:
                next_prep[nb] = pool.submit(_prepare, nb)
                return

    if uncommitted and pipeline:
        next_prep[uncommitted[0]] = pool.submit(_prepare, uncommitted[0])

    processed_any = False
    try:
        for b in range(n_batches):
            stage = f"batch_{b}"
            committed = str(b) in indexer._read_commits()
            if committed and stage in manifest.entries:
                continue  # resumed: slice indexed AND lineage recorded
            if not committed:
                with StageTimer() as t:
                    if pipeline:
                        prep = next_prep.pop(b).result()
                        _schedule(b)  # overlap NEXT prepare w/ this encode
                    else:
                        prep = _prepare(b)
                    indexer.commit_prepared(
                        spark, b, prep, refresh_meta=False
                    )
                wall = t.wall_s
                processed_any = True
            else:
                # crashed between commit-log append and manifest.record:
                # backfill the entry from the durable artifacts
                wall = 0.0
            gen_dir = f"{index_dir}/segments/generation={b}"
            files, total_bytes = (
                dir_lineage(gen_dir) if os.path.isdir(gen_dir) else ([], 0)
            )
            n = indexer._read_commits().get(str(b), [0, 0])[1]
            manifest.record(
                StageEntry(
                    stage=stage, status="complete",
                    input_fingerprint=fingerprint(
                        "batch", b, n_batches, src_fp
                    ),
                    output_fingerprint=fingerprint("gen", b, n, total_bytes),
                    rows=n, bytes=total_bytes, wall_s=wall, files=files,
                )
            )
    finally:
        pool.shutdown(wait=True)
        # on failure the in-flight prepare (completed by the shutdown
        # above) would otherwise strand its pinned shuffle layout in
        # executor storage; on success next_prep is already empty
        for fut in next_prep.values():
            try:
                leftover = fut.result()
            except BaseException:
                continue  # the prepare itself failed: nothing pinned
            pinned = leftover.get("pinned")
            if pinned is not None and pinned.is_cached:
                pinned.unpersist(blocking=False)
    # ONE dictionary fold + stats for the whole build (also covers a
    # resume whose crashed run never refreshed)
    if processed_any or not os.path.exists(f"{index_dir}/stats.json"):
        indexer._refresh_meta(spark)
    # all batches committed: the staged bucketed corpus is dead weight
    import shutil

    shutil.rmtree(staged_src, ignore_errors=True)
    if compact_to:
        compact_index(spark, index_dir, compact_to)
    return manifest
