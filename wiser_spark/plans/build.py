"""The resumable index build: ``build_index_mapside_batched``.

The corpus is split into deterministic slices, and each slice is
committed through the streaming sink's exactly-once protocol as one
generation of map-side segments (the distributed analogue of the
reference's two-pass build, ``tools/indexer.py:13-38`` ->
``convert_qq_to_vacuum.cc:22-37``). A killed build resumes from the
commit log; per-batch lineage (rows, bytes, files, wall seconds) lands
in ``manifest.json``.

No dictionary stage: the reader derives term -> global df + prefetch
fields from the segments (segments.dictionary_from_segments).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wiser_spark.config import IndexConfig
from wiser_spark.operators.postings import DEFAULT_ORDER
from wiser_spark.operators.segments import generation_path, write_table
from wiser_spark.plans.manifest import (
    Manifest,
    StageEntry,
    StageTimer,
    dir_lineage,
    fingerprint,
)


def _source_lineage_fp(source: DataFrame) -> str:
    """Source fingerprint: input FILE LINEAGE (paths + size + mtime)
    plus the schema — so resuming over changed data with an unchanged
    schema is refused instead of silently mixing stale batches in. For
    non-file sources (no lineage available) it falls back to the schema
    string."""
    entries = [source.schema.simpleString()]
    for uri in sorted(source.inputFiles()):
        path = uri.removeprefix("file:")
        try:
            st = os.stat(path)
            entries.append(f"{uri}:{st.st_size}:{int(st.st_mtime)}")
        except OSError:
            entries.append(uri)
    return fingerprint(*entries)


def batch_id_col(order_cols, n_batches: int):
    """Deterministic batch assignment for the resumable map-side build:
    first 8 hex digits of md5 over the NUL-joined order columns, mod
    n_batches. md5 (not xxhash64) so the split is reproducible outside
    Spark — tests and the DuckDB oracles compute the identical bucket."""
    key = F.concat_ws("\x00", *[F.col(c).cast("string") for c in order_cols])
    return F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("long") % n_batches


def doc_id_batch_col(lo: int, hi: int, n_batches: int):
    """Slice of a source that carries its own ``doc_id``: equal-width id
    ranges over [lo, hi], slice b holding ids [lo + b*w, lo + (b+1)*w)
    with w = ceil((hi - lo + 1) / n_batches), so the slices commit in
    ascending id order."""
    width = (hi - lo) // n_batches + 1
    return F.expr(f"(doc_id - ({lo})) div {width}")


def build_index_mapside_batched(
    spark: SparkSession,
    source: DataFrame,
    index_dir: str,
    config: IndexConfig | None = None,
    n_batches: int = 8,
    order_cols=DEFAULT_ORDER,
    content_col: str = "content",
    compact_to: str | None = None,
) -> Manifest:
    """Resumable BATCH build on the zero-shuffle map-side encoder — the
    north rule's "resumable from checkpoint with per-partition lineage
    + metrics".

    The corpus splits into ``n_batches`` deterministic slices; each
    slice goes through the streaming sink's exactly-once commit
    protocol (staged write -> atomic generation publish -> commit-log
    append, incremental.py), so a killed build RESUMES: committed
    batches are skipped by batch_id, a torn staging dir is replaced by
    the idempotent retry. Per-batch lineage (rows, bytes, per-file
    sizes, wall seconds) is recorded in ``index_dir/manifest.json``.
    At 10^12 files n_batches simply grows until one slice's postings
    fit executor memory; batches run sequentially by design — the
    PARALLELISM lives inside each batch (every shard encodes
    concurrently), the sequencing only pins the docID ranges.

    DOC IDS: a source without ``doc_id`` is sliced by md5 over
    ``order_cols`` (batch_id_col), and each slice takes the next dense
    id range from the commit log. A source that carries ``doc_id``
    keeps it: it is sliced by equal-width id range (doc_id_batch_col,
    lo and hi from one min/max aggregate when the slices are staged),
    so its slices commit in ascending id order.

    ``compact_to``: optionally merge the resulting generations into a
    single-generation index at that directory (compact_index) once all
    batches committed.

    Guard rails: the build parameters (n_batches, order_cols, whether
    ids are kept) and the source lineage fingerprint are persisted on
    first run and CHECKED on resume — resuming with a different slice
    count or changed input would pair stale committed generations with
    differently-bucketed new ones (docs dropped or doubled), so that
    raises instead.

    IO shape: the bucketed corpus is STAGED once, partitioned by batch
    (``_batched_source/``), so the per-batch reads prune to one slice —
    without it, N batches would each rescan the full corpus (N-times
    read amplification at the 10^12-file target). stats.json is
    refreshed ONCE after the last batch."""
    from wiser_spark.operators.segments import compact_index
    from wiser_spark.streaming.incremental import IncrementalIndexer

    order_cols = list(order_cols)
    keep_doc_id = "doc_id" in source.columns
    params_path = f"{index_dir}/batched_build.json"
    src_fp = _source_lineage_fp(source)
    params = {
        "n_batches": n_batches,
        "order_cols": order_cols,
        "keep_doc_id": keep_doc_id,
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
            if keep_doc_id:
                lo, hi = source.agg(F.min("doc_id"), F.max("doc_id")).first()
                # both None for a source without rows
                batch = doc_id_batch_col(lo or 0, hi or 0, n_batches)
            else:
                batch = batch_id_col(order_cols, n_batches)
            write_table(source.withColumn("_batch", batch), staged_src,
                        "_batch")
        bucketed = spark.read.parquet(staged_src)

    # ------------------------------------------------- pipelined commits
    # batch i's PREPARE (the one stats job, plus the range sort when ids
    # are assigned; writes nothing durable) runs in a helper thread
    # CONCURRENTLY with batch i-1's encode+publish — the prepare's
    # serial segments (range sampling barrier, driver collect, job
    # scheduling) hide under the encode's task work instead of idling
    # every core between batches (the round-4 scaling gap: ~18 s of
    # non-scaling work per batch). Commit ORDER is unchanged — publishes
    # and commit-log appends stay strictly sequential, so exactly-once
    # and the docID ranges are untouched; a crash mid-pipeline loses
    # only in-memory prepares.
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

    _schedule(-1)
    processed_any = False
    try:
        for b in range(n_batches):
            stage = f"batch_{b}"
            committed = str(b) in indexer._read_commits()
            if committed and stage in manifest.entries:
                continue  # resumed: slice indexed AND lineage recorded
            if not committed:
                with StageTimer() as t:
                    prep = next_prep.pop(b).result()
                    _schedule(b)  # overlap NEXT prepare w/ this encode
                    indexer.commit_prepared(
                        spark, b, prep, refresh_meta=False
                    )
                wall = t.wall_s
                processed_any = True
            else:
                # crashed between commit-log append and manifest.record:
                # backfill the entry from the durable artifacts
                wall = 0.0
            gen_dir = generation_path(index_dir, b)
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
    # ONE stats refresh for the whole build (also covers a resume whose
    # crashed run never refreshed)
    if processed_any or not os.path.exists(f"{index_dir}/stats.json"):
        indexer._refresh_meta()
    # all batches committed: the staged bucketed corpus is dead weight
    import shutil

    shutil.rmtree(staged_src, ignore_errors=True)
    if compact_to:
        compact_index(spark, index_dir, compact_to)
    return manifest
