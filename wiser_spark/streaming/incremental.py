"""Incremental index maintenance via Structured Streaming.

The reference index is append-only by construction (docIDs strictly
increase, deletes/updates don't exist — ``posting_list_delta.h:412-415``),
which maps exactly onto a streaming micro-batch model: each batch of new
documents gets the next dense docID range, its postings become a new
GENERATION of map-side segments appended to the segment table (the
Lucene segment-per-flush pattern), its doc lengths riding in the
generation's per-shard sentinel rows. Queries merge all generations per
(shard, term) — SegmentIndex handles that natively.

EXACTLY-ONCE: foreachBatch alone only guarantees at-least-once, so the
sink is made idempotent:

  * a COMMIT LOG (``commits.json``, written atomically via tmp+rename)
    records every committed batch_id together with its docID range;
    a replayed batch_id is skipped outright;
  * each batch's segments are written to ``_staging/<batch_id>/`` first
    and then renamed into ``segments/generation=<batch_id>/`` — one
    atomic rename. A crash mid-commit leaves at most an uncommitted
    generation that the retry REPLACES with byte-identical
    data (docIDs come from the commit log, not from counting rows, so
    the retry is deterministic);
  * the docID offset is the committed ranges' end — never a count of
    possibly-partially-committed files (the round-1 bug where a
    transient read error restarted docIDs at 0 cannot occur: nothing
    here swallows exceptions). A batch that carries its own ``doc_id``
    keeps it, and is refused when its ids do not lie past that end.

Query-time global stats (N, avgdl, df) shift as documents arrive; every
commit rewrites stats.json from the commit log (N, summed doc length),
and a reader derives df from the live generations' segment rows when it
opens the index, so results always reflect the ingested prefix exactly.
No dictionary table is stored, so a flush costs the encode job plus the
commit, however many generations are live.

READ ISOLATION: the live generation set is published through
``generations.json`` (the manifest of the one index layout,
``operators/segments.py``), updated with ONE atomic os.replace per
change. Readers (SegmentIndex, compact_index) resolve generations from
the manifest — never from a directory listing — so a compaction swap is
invisible until its single manifest flip, and a crashed swap leaves
readers on the consistent pre-flip state with zero recovery work.
Merged generations install under FRESH ids (>= MERGED_GEN_BASE, outside
the micro-batch id space), so an install never replaces a live
directory. Journal application is WRITER-ONLY (guarded by
``compaction.lock``): two processes cannot race a rmtree/rename pair,
and a reader can never destroy a writer's in-flight swap.

An indexer appends only to an index it started (one with a
``commits.json``): a batch build's generation 0 has no commit log to
continue, so its doc ids would restart at 0.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from wiser_spark.config import IndexConfig
from wiser_spark.functions.bloom import BloomParams
from wiser_spark.operators.segments import (
    FORMAT,
    _manifest_path,
    _write_generations,
    generation_path,
    read_generation_segments,
    read_generations,
    read_json,
    require_layout,
    write_stats,
    write_table,
)

# merged generations install OUTSIDE the micro-batch id space: ids are
# max(MERGED_GEN_BASE, max(existing)+1), so an install NEVER collides
# with a live directory (the r04 advisory's lost-generation race is
# structurally impossible: nothing ever rmtree's an install target) and
# a future micro-batch id can never shadow a merged generation
MERGED_GEN_BASE = 1 << 40

# a compaction.lock older than this is presumed to belong to a dead
# process and is stolen (single-writer is the sink's contract; the lock
# only defends against contract violations and crash leftovers)
LOCK_STALE_S = 900.0


def _remove_staging(index_dir: str, staging: str) -> None:
    """Remove one staging dir, and ``_staging/`` itself once empty."""
    shutil.rmtree(staging, ignore_errors=True)
    try:
        os.rmdir(f"{index_dir}/_staging")
    except OSError:
        pass  # absent, or still holding another batch's staging dir


def _apply_compaction_journal(index_dir: str, journal: dict) -> None:
    """Apply (or re-apply) a journalled compaction swap, WRITER-ONLY
    (callers hold compaction.lock via recover_compaction, or are the
    single streaming writer mid-compaction). Order matters:

      1. install the staged segments at generation=<target> — target
         is a FRESH id (MERGED_GEN_BASE namespace), so the rename never
         replaces a live dir; an installed target is skipped, a
         missing source with a missing target RAISES (never silently
         drop merged postings);
      2. flip the manifest: live set = (old - removed) + {target}, one
         atomic os.replace — the commit point readers observe;
      3. remove the merged-away generation dirs (logically dead after
         the flip; only readers that pinned the pre-flip set and are
         still scanning can notice, and they fail LOUDLY on the missing
         files rather than silently losing documents);
      4. drop the journal and staging leftovers.

    IDEMPOTENT: a crash at any point is healed by running it again."""
    target = int(journal["target"])
    removed = {int(g) for g in journal["remove"]}
    # the journal records the staging path relative to the index dir, so
    # a recovering process with another working directory resolves it
    staging = os.path.join(index_dir, journal["staging"])
    src = f"{staging}/segments"
    dst = generation_path(index_dir, target)
    # fresh-id target: only a prior attempt's install writes dst
    if not os.path.isdir(dst):
        if not os.path.isdir(src):
            raise RuntimeError(
                f"compaction journal at {index_dir!r} names staged source "
                f"{src!r} which does not exist and target generation "
                f"{target} is not installed — refusing to apply (the "
                "merged-away generations would be lost); inspect "
                "_staging/ and the journal before removing it by hand"
            )
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        os.rename(src, dst)
    _write_generations(
        index_dir, (set(read_generations(index_dir)) - removed) | {target}
    )
    for g in removed:
        shutil.rmtree(generation_path(index_dir, g), ignore_errors=True)
    jpath = f"{index_dir}/compaction.json"
    try:
        os.remove(jpath)
    except FileNotFoundError:
        pass
    _remove_staging(index_dir, staging)


def recover_compaction(index_dir: str, sweep: bool = False) -> None:
    """Roll a crashed compaction FORWARD from the journal (the staged
    merged data is durable before the journal exists — see
    IncrementalIndexer.compact_generations). WRITER-ONLY: readers never
    call this — the generations manifest already gives them a
    consistent (pre-flip) view of a torn swap, so recovery is not
    needed to read, and a reader applying the journal could race the
    writer's own application (the r04 high-severity finding). An
    exclusive ``compaction.lock`` (O_CREAT|O_EXCL, stale after
    LOCK_STALE_S) serializes the rare overlapping-recovery case.
    ``sweep`` additionally clears dead staging files from a pre-journal
    crash."""
    jpath = f"{index_dir}/compaction.json"
    if not os.path.exists(jpath):
        if sweep:
            _remove_staging(index_dir, f"{index_dir}/_staging/compact")
        return
    lock = f"{index_dir}/compaction.lock"
    fd = None
    for attempt in (0, 1):
        try:
            fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            break
        except FileExistsError:
            try:
                import time

                stale = time.time() - os.path.getmtime(lock) > LOCK_STALE_S
            except OSError:
                continue  # lock vanished: retry acquisition
            if stale and attempt == 0:
                # steal a dead process's lock by RENAME: only one of
                # several stealers wins the rename, so nobody can remove
                # a FRESH lock another stealer just created (plain
                # os.remove here raced: both see stale, both remove,
                # both acquire)
                try:
                    mine = f"{lock}.steal.{os.getpid()}"
                    os.rename(lock, mine)
                    os.remove(mine)
                except FileNotFoundError:
                    pass  # lost the steal race; retry the create once
            else:
                return  # live holder is applying; nothing to do here
    if fd is None:
        return
    try:
        if os.path.exists(jpath):  # may have been applied by the holder
            with open(jpath) as f:
                journal = json.load(f)
            _apply_compaction_journal(index_dir, journal)
        if sweep:
            _remove_staging(index_dir, f"{index_dir}/_staging/compact")
    finally:
        os.close(fd)
        try:
            os.remove(lock)
        except FileNotFoundError:
            pass


class IncrementalIndexer:
    """foreachBatch sink: appends one segment generation per micro-batch,
    idempotently (see module docstring)."""

    def __init__(
        self,
        index_dir: str,
        config: IndexConfig | None = None,
        order_cols=("repo", "path", "commit"),
        content_col: str = "content",
        fmt: str = "v2",
        with_blooms: bool = True,
        compact_every: int | None = None,
    ):
        """Each generation is built with the ZERO-SHUFFLE map-side
        encoder — sentinel doc-length rows ride inside the segment
        table, both bloom sides inside the term rows — and
        ``compact_index`` merges the generations (sentinels merged,
        blooms rebuilt) into the same single-generation layout a batch
        map-side build writes. ``fmt`` names that layout; "v2" is the
        only one.

        ``compact_every``: the TIERED AUTO-COMPACTION trigger — a
        long-running stream otherwise accumulates one generation per
        micro-batch and every query merges them per (shard, term)
        forever. When the segment table holds MORE than this many
        generations after a commit, they merge in place into one
        (``compact_segments``). None (default) disables it."""
        if fmt != "v2":
            raise ValueError(f"unknown streaming index format: {fmt}")
        # resuming an index of an older layout would corrupt it silently
        # (e.g. generations without doc-length sentinels, or with bloom
        # rows the merge no longer reads) — refuse
        _meta = read_json(f"{index_dir}/stats.json", missing_ok=True)
        if _meta is not None:
            require_layout(_meta, index_dir)
            # a queryable index without a commit log was not started by
            # an indexer (a batch build, a compact_index output): its
            # first publish would hide its documents and reuse their ids.
            # A crash before the first commit writes no stats.json, so a
            # resume of one is not refused here
            if not os.path.exists(f"{index_dir}/commits.json"):
                raise ValueError(
                    f"index at {index_dir!r} has no commits.json: it was "
                    "not built by an incremental indexer, which cannot "
                    "append to it; rebuild it through one"
                )
        self.index_dir = index_dir
        self.config = config or IndexConfig()
        self.order_cols = list(order_cols)
        self.content_col = content_col
        self.with_blooms = with_blooms
        self.compact_every = compact_every
        self._generations()  # a missing or unreadable manifest raises
        # appending to an EXISTING index must keep encoding blooms with
        # the RECORDED sizing (stats.json), or the new generations'
        # masks would not match the probe side
        b = (_meta or {}).get("bloom")
        self.bloom_cfg = BloomParams(**b) if b else None

    # ------------------------------------------------------- commit log
    @property
    def _commit_path(self) -> str:
        return f"{self.index_dir}/commits.json"

    def _read_commits(self) -> dict[str, list[int]]:
        """{batch_id(str): [start, n_docs, summed_doclen]} for committed
        batches; start + n_docs is one past the batch's largest doc id
        (start = doc_id_start for assigned ids)."""
        try:
            with open(self._commit_path) as f:
                return json.load(f)
        except FileNotFoundError:
            return {}

    def _append_commit(
        self, commits: dict, batch_id: int, start: int, n: int, lensum: int
    ):
        # the summed doc length is the avgdl bookkeeping: the per-doc
        # lengths live only in the generation's sentinel rows
        commits[str(batch_id)] = [start, n, lensum]
        tmp = self._commit_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(commits, f)
        os.replace(tmp, self._commit_path)  # atomic on POSIX

    # ---------------------------------------------------------- the sink
    def prepare_batch(self, batch: DataFrame):
        """The SHUFFLE-AND-STATS half of a batch, split out so the
        resumable batched build can PIPELINE it: preparing batch i+1
        (docID sort + the one stats pass) runs concurrently with batch
        i's encode — prepare writes nothing durable, so exactly-once is
        untouched. Returns an opaque prep dict for commit_prepared.

        Dense IDs use the distributed range-partition scheme
        (assign_doc_ids), NOT a bare window — a single-partition
        row_number() over a 10^9-doc batch is the exact anti-pattern it
        exists to avoid. IDs here are 0-based; commit_prepared adds the
        commit log's offset (a free withColumn). The batch's row count
        and summed doc length ride in assign_doc_ids' OWN stats job —
        no separate count() pass over the corpus slice.

        A batch that carries ``doc_id`` keeps its ids: its row count,
        summed doc length and id range come from ONE aggregate job, with
        no sort and nothing pinned; commit_prepared checks the range
        against the commit log."""
        from wiser_spark.functions.tokenize import doclen_col
        from wiser_spark.operators.postings import assign_doc_ids_with_stats

        lensum = F.sum(doclen_col(F.col(self.content_col)).cast("long"))
        if "doc_id" in batch.columns:
            n_docs, total, lo, hi = batch.agg(
                F.count(F.lit(1)), lensum, F.min("doc_id"), F.max("doc_id")
            ).first()
            return {
                "docs0": batch, "n_docs": n_docs, "lensum": int(total or 0),
                "pinned": None, "doc_ids": (lo, hi),
            }
        if batch.isEmpty():
            # empty micro-batches are routine on a long-running stream
            # (triggers with no new files): commit them with ONE cheap
            # probe instead of paying the range-sort sampling + persist
            # + stats jobs just to discover n_docs == 0
            return {"docs0": None, "n_docs": 0, "lensum": 0, "pinned": None}
        docs0, totals, pinned = assign_doc_ids_with_stats(
            batch, self.order_cols, [lensum.alias("lensum")]
        )
        n_docs = int(totals["_n"])
        lensum = int(totals.get("lensum") or 0)
        return {
            "docs0": docs0, "n_docs": n_docs, "lensum": lensum,
            "pinned": pinned,
        }

    def commit_prepared(
        self, spark: SparkSession, batch_id: int, prep: dict,
        refresh_meta: bool = True,
    ) -> None:
        """Encode + publish + commit one PREPARED batch (see
        prepare_batch). The caller must have verified batch_id is not
        already committed."""
        commits = self._read_commits()
        offset = self._next_doc_id(commits)
        n_docs, lensum = prep["n_docs"], prep["lensum"]
        if n_docs == 0:
            if prep["pinned"] is not None:
                prep["pinned"].unpersist()
            # nothing to encode, but publish the manifest ([] when this
            # is the first batch) and the stats, so an index whose first
            # batch is empty is readable; still no Spark job
            _write_generations(self.index_dir, self._generations())
            self._append_commit(commits, batch_id, offset, 0, 0)
            if refresh_meta:
                self._refresh_meta()
            return
        start = shift = offset
        if "doc_ids" in prep:
            lo, hi = prep["doc_ids"]
            if lo < offset:
                raise ValueError(
                    f"batch {batch_id} keeps doc ids from {lo}, below the "
                    f"next free id {offset} of {self.index_dir!r}: kept "
                    "ids must ascend past every committed range"
                )
            # recorded as the range [hi + 1 - n, hi + 1), so the next
            # assigned id is past the batch's largest
            start, shift = hi + 1 - n_docs, 0
        docs = prep["docs0"].withColumn(
            "doc_id", (F.col("doc_id") + F.lit(shift)).cast("long")
        )
        staging = f"{self.index_dir}/_staging/{batch_id}"
        try:
            self._encode_and_publish(
                spark, batch_id, docs, prep, staging, commits, start,
                n_docs, lensum, refresh_meta,
            )
        except BaseException:
            # a failed encode must not strand the prepared slice's
            # pinned shuffle layout in executor storage (a retrying
            # long-lived session would otherwise accumulate one per
            # failure — the exact leak the r04 advisory targeted)
            pinned = prep.get("pinned")
            if pinned is not None and pinned.is_cached:
                pinned.unpersist(blocking=False)
            raise

    def _encode_and_publish(
        self, spark, batch_id, docs, prep, staging, commits, start,
        n_docs, lensum, refresh_meta,
    ) -> None:
        from wiser_spark.operators.mapside import build_segments_mapside

        segs = build_segments_mapside(
            docs, self.config.n_shards, self.content_col,
            with_blooms=self.with_blooms, bloom_cfg=self.bloom_cfg,
        )
        write_table(segs, f"{staging}/segments", "shard_id")
        # the encode was the ONE action over the sorted slice: the
        # pinned shuffle layout can release now (r04 advisory: the
        # context cleaner is too lazy for a 10^12-file ingest)
        if prep["pinned"] is not None:
            prep["pinned"].unpersist()

        # atomic publish: the generation=<id> partition dir. A
        # leftover from a crashed attempt of this SAME batch is replaced
        # (it was never committed; the retry produced identical data).
        dst = generation_path(self.index_dir, batch_id)
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        if os.path.exists(dst):
            shutil.rmtree(dst)
        os.rename(f"{staging}/segments", dst)
        _remove_staging(self.index_dir, staging)
        # publish the new generation in the atomic manifest BEFORE the
        # commit record (readers resolve generations from the manifest;
        # an uncommitted manifest entry is harmless — the dir exists and
        # the retry republishes identical data)
        _write_generations(self.index_dir,
                           {*self._generations(), int(batch_id)})
        self._append_commit(commits, batch_id, start, n_docs, lensum)
        # refresh_meta=False defers the stats.json rewrite and
        # auto-compaction to the caller (the batched build refreshes
        # ONCE after its last batch)
        if refresh_meta:
            self._maybe_compact(spark)
            self._refresh_meta()

    def process_batch(
        self, batch: DataFrame, batch_id: int, refresh_meta: bool = True
    ) -> None:
        spark = batch.sparkSession
        os.makedirs(self.index_dir, exist_ok=True)
        self._recover_compaction()
        commits = self._read_commits()
        if str(batch_id) in commits:
            # at-least-once replay of a committed batch: a no-op (but
            # make sure the queryable metadata exists)
            if not os.path.exists(f"{self.index_dir}/stats.json"):
                self._refresh_meta()
            return
        self.commit_prepared(
            spark, batch_id, self.prepare_batch(batch),
            refresh_meta=refresh_meta,
        )

    # ------------------------------------------------- auto-compaction
    def _generations(self) -> list[int]:
        """Live generation ids from the manifest (the set readers
        resolve). Before the first commit an absent manifest is the
        empty set, as ``read_json(missing_ok=True)`` reads a missing
        file; once a batch is committed it must be there."""
        if (not os.path.exists(_manifest_path(self.index_dir))
                and not self._read_commits()):
            return []
        return read_generations(self.index_dir)

    def _gen_bytes(self, table: str, g: int) -> int:
        total = 0
        for root, _, files in os.walk(
            f"{self.index_dir}/{table}/generation={g}"
        ):
            total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
        return total

    def _recover_compaction(self) -> None:
        recover_compaction(self.index_dir, sweep=True)

    def _maybe_compact(self, spark: SparkSession) -> None:
        """SIZE-TIERED trigger: when more than ``compact_every``
        generations exist, merge the smallest ones — start from the two
        smallest (by bytes) and absorb the next-smallest while it is
        <= 2x the bytes already selected (the LSM/Lucene geometric
        rule), extending further only if needed to get the count back
        under the tier. A large, already-merged base generation is
        re-written only when enough newer data has accumulated to rank
        near it, so cumulative rewrite IO is O(total ingested x log)
        rather than the quadratic cost of re-merging the whole table
        every N batches."""
        if not self.compact_every:
            return
        self._recover_compaction()
        while True:
            gens = self._generations()
            if len(gens) <= self.compact_every or len(gens) < 2:
                return
            sizes = sorted(
                (self._gen_bytes("segments", g), g) for g in gens
            )
            need = len(gens) - self.compact_every  # merges needed (>=1)
            pick = [sizes[0][1], sizes[1][1]]
            acc = sizes[0][0] + sizes[1][0]
            for sz, g in sizes[2:]:
                if sz <= 2 * acc or len(pick) - 1 < need:
                    pick.append(g)
                    acc += sz
                else:
                    break
            self.compact_generations(spark, pick)

    def compact_now(self, spark: SparkSession) -> None:
        """Merge EVERY accumulated generation into one (full optimize —
        the streaming analogue of the reference's qq->vacuum
        conversion, B18). Routine maintenance should prefer the tiered
        ``_maybe_compact`` policy; this is the explicit 'force-merge'
        an operator runs before freezing an index. N, avgdl and df are
        unchanged by a merge, so stats.json is not rewritten."""
        gens = self._generations()
        if len(gens) > 1:
            self._recover_compaction()
            self.compact_generations(spark, gens)

    def compact_generations(self, spark: SparkSession, gens) -> None:
        """Merge the given generation dirs into ONE, in place,
        crash-safely. The merged generation gets a FRESH id
        (max(MERGED_GEN_BASE, max(existing)+1) — outside the micro-batch
        id space), so the install is a rename into a dir that never
        existed: no live data is ever removed to make room.

          1. the merged segments are STAGED outside the live table
             dirs;
          2. a JOURNAL (compaction.json, atomic rename; staging paths
             recorded RELATIVE to the index dir) records the
             remove-list and the fresh target id;
          3. the swap applies (install target, flip the generations
             manifest atomically, remove merged-away dirs), then the
             journal is deleted.

        A crash before (2) leaves only dead staging files; a crash
        after (2) is ROLLED FORWARD by ``recover_compaction`` on the
        writer's next operation. Readers need NO recovery: the manifest
        flip in step 3 is the single atomic commit point, so a reader
        sees the consistent pre-flip set or the consistent post-flip
        set, never a mix. Merging a SUBSET is query-identical:
        remaining generations still merge per (shard, term) at read
        time, and the df fold is sum-associative."""
        gens = sorted(int(g) for g in gens)
        if len(gens) < 2:
            return
        from wiser_spark.operators.segments import compact_segments

        target = max(MERGED_GEN_BASE, max(self._generations()) + 1)
        staging_rel = "_staging/compact"
        staging = f"{self.index_dir}/{staging_rel}"
        shutil.rmtree(staging, ignore_errors=True)
        meta = read_json(f"{self.index_dir}/stats.json", missing_ok=True)
        bloom = (meta or {}).get("bloom")
        segs = read_generation_segments(spark, self.index_dir, gens)
        write_table(
            compact_segments(segs, BloomParams(**bloom) if bloom else None),
            f"{staging}/segments", "shard_id",
        )
        journal = {
            "remove": gens,
            "target": target,
            "staging": staging_rel,
        }
        jpath = f"{self.index_dir}/compaction.json"
        tmp = jpath + ".tmp"
        with open(tmp, "w") as f:
            json.dump(journal, f)
        os.replace(tmp, jpath)  # the commit point of the swap
        # apply through recover_compaction so the LIVE apply holds
        # compaction.lock too — every journal application is then
        # lock-serialized
        recover_compaction(self.index_dir)

    def _next_doc_id(self, commits: dict) -> int:
        """Dense append-only docIDs: the end of the committed ranges."""
        return max((v[0] + v[1] for v in commits.values()), default=0)

    def _refresh_meta(self) -> None:
        """Rewrite stats.json from the commit log alone (no Spark job):
        N and avgdl from its [start, n, lensum] rows."""
        commits = self._read_commits()
        n_docs = sum(v[1] for v in commits.values())
        lensum = sum(v[2] for v in commits.values())
        meta = {
            "n_docs": n_docs,
            "avgdl": (lensum / n_docs) if n_docs else 1.0,
            "n_shards": self.config.n_shards,
            "k1": self.config.bm25.k1,
            "b": self.config.bm25.b,
            "format": FORMAT,
            "streaming": True,
        }
        if self.with_blooms:
            from wiser_spark.functions.bloom import bloom_params

            # preserve the index's recorded bloom params across
            # refreshes; defaults only for a brand-new index
            meta["bloom"] = (self.bloom_cfg or bloom_params())._asdict()
        write_stats(self.index_dir, meta)


def start_incremental_index(
    spark: SparkSession,
    input_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    schema: StructType | str,
    config: IndexConfig | None = None,
    order_cols=("repo", "path", "commit"),
    content_col: str = "content",
    fmt: str = "v2",
    compact_every: int | None = None,
):
    """File-source streaming build: new parquet files under ``input_dir``
    are ingested exactly-once (Structured Streaming checkpointing + the
    idempotent commit-log sink) into the index at ``index_dir`` as
    zero-shuffle map-side generations (sentinels + blooms in the
    segment table). Returns the StreamingQuery."""
    indexer = IncrementalIndexer(index_dir, config, order_cols, content_col,
                                 fmt=fmt, compact_every=compact_every)
    stream = spark.readStream.schema(schema).parquet(input_dir)
    return (
        stream.writeStream.foreachBatch(indexer.process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
