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
  * each batch's outputs are written to ``_staging/<batch_id>/`` first
    and then renamed into ``<table>/generation=<batch_id>/`` — one
    atomic rename per table. A crash mid-commit leaves at most a
    half-moved generation that the retry REPLACES with byte-identical
    data (docIDs come from the commit log, not from counting rows, so
    the retry is deterministic);
  * the docID offset is the committed ranges' end — never a count of
    possibly-partially-committed files (the round-1 bug where a
    transient read error restarted docIDs at 0 cannot occur: nothing
    here swallows exceptions).

Query-time global stats (N, avgdl, df) shift as documents arrive; every
commit refreshes them from the commit log (N, summed doc length) and the
accumulated dictionary deltas, so results always reflect the ingested
prefix exactly.

READ ISOLATION (round-5 redesign, closes the r04 advisory findings): the
live generation set is published through ``generations.json``, updated
with ONE atomic os.replace per change. Readers (SegmentIndex,
compact_index) resolve generations from the manifest — never from a
directory listing — so a compaction swap is invisible until its single
manifest flip, and a crashed swap leaves readers on the consistent
pre-flip state with zero recovery work. Merged generations install under
FRESH ids (>= MERGED_GEN_BASE, outside the micro-batch id space), so an
install never replaces a live directory. Journal application is
WRITER-ONLY (guarded by ``compaction.lock``): two processes can no
longer race a rmtree/rename pair, and a reader can never destroy a
writer's in-flight swap.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from wiser_spark.config import IndexConfig
from wiser_spark.operators.segments import prefetch_pages_col

_TABLES = ("segments", "dictionary_deltas")

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


def _manifest_path(index_dir: str) -> str:
    return f"{index_dir}/generations.json"


def read_generations(index_dir: str) -> list[int] | None:
    """The LIVE generation set from the atomic manifest, or None when
    the index predates manifests (readers then fall back to directory
    listing — the pre-round-5 behavior)."""
    try:
        with open(_manifest_path(index_dir)) as f:
            return sorted(int(g) for g in json.load(f)["generations"])
    except (FileNotFoundError, json.JSONDecodeError, KeyError):
        return None


def _write_generations(index_dir: str, gens) -> None:
    """Atomically publish the live generation set (ONE os.replace —
    readers see the old set or the new set, never a mix)."""
    path = _manifest_path(index_dir)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"generations": sorted(int(g) for g in gens)}, f)
    os.replace(tmp, path)


def _apply_compaction_journal(index_dir: str, journal: dict) -> None:
    """Apply (or re-apply) a journalled compaction swap, WRITER-ONLY
    (callers hold compaction.lock via recover_compaction, or are the
    single streaming writer mid-compaction). Order matters:

      1. install each staged table at generation=<target> — target is a
         FRESH id (MERGED_GEN_BASE namespace), so the rename never
         replaces a live dir; already-installed tables are skipped, a
         missing source with a missing target RAISES (never silently
         drop merged postings — r04 advisory);
      2. flip the manifest: live set = (old - removed) + {target}, one
         atomic os.replace — the commit point readers observe;
      3. remove the merged-away generation dirs (logically dead after
         the flip; only readers that pinned the pre-flip set and are
         still scanning can notice, and they fail LOUDLY on the missing
         files rather than silently losing documents);
      4. drop the journal and staging leftovers.

    IDEMPOTENT: a crash at any point is healed by running it again.

    LEGACY journals (pre-round-5 writers) reuse a LIVE generation id as
    the target (target ∈ remove-list), so "dst exists" there means the
    OLD unmerged generation, not a prior install — those take the old
    replace-in-place semantics (src present → replace dst; src absent →
    a prior attempt already installed) instead of the skip, which on a
    legacy journal would silently drop the staged merge and then delete
    the merged-away generations."""
    target = int(journal["target"])
    legacy = target in {int(g) for g in journal["remove"]}
    staging = journal["staging"]
    if not os.path.isabs(staging):
        # journals record table-relative staging paths so a recovering
        # process with a different working directory still resolves
        # them (r04 advisory); absolute paths (old journals) pass through
        staging = os.path.join(index_dir, staging)
    for table in journal["tables"]:
        src = f"{staging}/{table}"
        dst = f"{index_dir}/{table}/generation={target}"
        if not os.path.isdir(src):
            if os.path.isdir(dst):
                continue  # already installed by a prior attempt
            raise RuntimeError(
                f"compaction journal at {index_dir!r} names staged source "
                f"{src!r} which does not exist and target generation "
                f"{target} is not installed — refusing to apply (the "
                "merged-away generations would be lost); inspect "
                "_staging/ and the journal before removing it by hand"
            )
        if os.path.isdir(dst):
            if not legacy:
                # fresh-id target: dst can only be a prior attempt's
                # completed install (nothing else writes that id)
                continue
            shutil.rmtree(dst)  # legacy: dst is the old live generation
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        os.rename(src, dst)
    gens = read_generations(index_dir)
    if gens is not None:
        removed = {int(g) for g in journal["remove"]}
        _write_generations(index_dir, (set(gens) - removed) | {target})
    for table in journal["tables"]:
        for g in journal["remove"]:
            if int(g) != target:
                shutil.rmtree(
                    f"{index_dir}/{table}/generation={g}", ignore_errors=True
                )
    jpath = f"{index_dir}/compaction.json"
    try:
        os.remove(jpath)
    except FileNotFoundError:
        pass
    shutil.rmtree(staging, ignore_errors=True)


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
            shutil.rmtree(f"{index_dir}/_staging/compact", ignore_errors=True)
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
            shutil.rmtree(f"{index_dir}/_staging/compact", ignore_errors=True)
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
        encoder — sentinel doc-length rows and both bloom sides ride
        inside the segment table, and ``compact_index`` merges the
        generations (sentinels and blooms included) into the same
        single-generation layout a batch map-side build writes. ``fmt``
        names that layout; "v2" is the only one.

        ``compact_every``: the TIERED AUTO-COMPACTION trigger — a
        long-running stream otherwise accumulates one generation per
        micro-batch and every query merges them per (shard, term)
        forever. When the segment table holds MORE than this many
        generations after a commit, they merge in place into one
        (``compact_segments`` — sentinels, both bloom sides, and the
        dictionary deltas included). None (default) disables it."""
        if fmt != "v2":
            raise ValueError(f"unknown streaming index format: {fmt}")
        # resuming an index of another format would corrupt it silently
        # (e.g. generations without doc-length sentinels, commits
        # without the summed lengths the avgdl fold reads) — refuse
        try:
            with open(f"{index_dir}/stats.json") as f:
                _meta = json.load(f)
            existing = _meta.get("format", "")
        except (FileNotFoundError, json.JSONDecodeError):
            _meta, existing = {}, ""
        if existing and not existing.startswith("wiser-spark-segment-v2"):
            raise ValueError(
                f"index at {index_dir!r} has format {existing!r}; "
                f"cannot resume it with fmt={fmt!r}"
            )
        self.index_dir = index_dir
        self.config = config or IndexConfig()
        self.order_cols = list(order_cols)
        self.content_col = content_col
        self.with_blooms = with_blooms
        self.compact_every = compact_every
        # appending to an EXISTING index must keep encoding blooms with
        # the RECORDED sizing + hash family (stats.json), or the new
        # generations' masks would not match the probe side; a meta
        # that predates the family field reconstructs as the old "dh"
        # family via the BloomParams default
        from wiser_spark.functions.bloom import BloomParams

        b = _meta.get("bloom")
        self.bloom_cfg = BloomParams(**b) if b else None

    # ------------------------------------------------------- commit log
    @property
    def _commit_path(self) -> str:
        return f"{self.index_dir}/commits.json"

    def _read_commits(self) -> dict[str, list[int]]:
        """{batch_id(str): [doc_id_start, n_docs, summed_doclen]} for
        committed batches."""
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
        no separate count() pass over the corpus slice."""
        from wiser_spark.functions.tokenize import doclen_col
        from wiser_spark.operators.postings import assign_doc_ids_with_stats

        if batch.isEmpty():
            # empty micro-batches are routine on a long-running stream
            # (triggers with no new files): commit them with ONE cheap
            # probe instead of paying the range-sort sampling + persist
            # + stats jobs just to discover n_docs == 0
            return {"docs0": None, "n_docs": 0, "lensum": 0, "pinned": None}
        lensum = F.sum(doclen_col(F.col(self.content_col)).cast("long"))
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
            self._append_commit(commits, batch_id, offset, 0, 0)
            return
        docs = prep["docs0"].withColumn(
            "doc_id", (F.col("doc_id") + F.lit(offset)).cast("long")
        )
        staging = f"{self.index_dir}/_staging/{batch_id}"
        try:
            self._encode_and_publish(
                spark, batch_id, docs, prep, staging, commits, offset,
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
        self, spark, batch_id, docs, prep, staging, commits, offset,
        n_docs, lensum, refresh_meta,
    ) -> None:
        from wiser_spark.operators.mapside import build_segments_mapside
        from wiser_spark.operators.segments import (
            SEGMENT_SCHEMA,
            dictionary_from_segments,
        )

        segs = build_segments_mapside(
            docs, self.config.n_shards, self.content_col,
            with_blooms=self.with_blooms, bloom_cfg=self.bloom_cfg,
        )
        segs.write.mode("overwrite").partitionBy("shard_id").parquet(
            f"{staging}/segments"
        )
        # the encode was the ONE action over the sorted slice: the
        # pinned shuffle layout can release now (r04 advisory: the
        # context cleaner is too lazy for a 10^12-file ingest)
        prep["pinned"].unpersist()
        # dictionary delta from the STAGED rows (plain term rows only) —
        # no second tokenize pass over the batch
        staged = spark.read.schema(SEGMENT_SCHEMA).parquet(
            f"{staging}/segments"
        )
        dictionary_from_segments(staged).select(
            "term", "df", "bytes_docid_tf"
        ).write.mode("overwrite").parquet(f"{staging}/dictionary_deltas")

        # atomic per-table publish: generation=<id> partition dirs. A
        # leftover from a crashed attempt of this SAME batch is replaced
        # (it was never committed; the retry produced identical data).
        for table in _TABLES:
            dst = f"{self.index_dir}/{table}/generation={batch_id}"
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            if os.path.exists(dst):
                shutil.rmtree(dst)
            os.rename(f"{staging}/{table}", dst)
        shutil.rmtree(staging, ignore_errors=True)
        # publish the new generation in the atomic manifest BEFORE the
        # commit record (readers resolve generations from the manifest;
        # an uncommitted manifest entry is harmless — the dir exists and
        # the retry republishes identical data)
        gens = read_generations(self.index_dir)
        cur = set(gens) if gens is not None else set(self._generations())
        cur.add(int(batch_id))
        _write_generations(self.index_dir, cur)
        self._append_commit(commits, batch_id, offset, n_docs, lensum)
        # refresh_meta=False defers the vocabulary-sized dictionary fold
        # (the batched build refreshes ONCE after its last batch instead
        # of refolding every accumulated generation per batch) — and
        # likewise defers auto-compaction to the caller's final refresh
        if refresh_meta:
            self._maybe_compact(spark)
            self._refresh_meta(spark)

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
                self._refresh_meta(spark)
            return
        self.commit_prepared(
            spark, batch_id, self.prepare_batch(batch),
            refresh_meta=refresh_meta,
        )

    # ------------------------------------------------- auto-compaction
    def _generations(self) -> list[int]:
        """Live generation ids: the atomic manifest when present (the
        set readers resolve), else the segments directory listing
        (indexes predating manifests)."""
        gens = read_generations(self.index_dir)
        if gens is not None:
            return gens
        try:
            return sorted(
                int(p.split("=", 1)[1])
                for p in os.listdir(f"{self.index_dir}/segments")
                if p.startswith("generation=")
            )
        except FileNotFoundError:
            return []

    def _gen_bytes(self, table: str, g: int) -> int:
        total = 0
        for root, _, files in os.walk(
            f"{self.index_dir}/{table}/generation={g}"
        ):
            total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
        return total

    def _recover_compaction(self) -> None:
        recover_compaction(self.index_dir, sweep=True)

    def _fold_deltas(self, spark: SparkSession, gens=None) -> DataFrame:
        """THE dictionary-deltas fold (one definition; _refresh_meta
        folds every generation, compaction folds the merged subset)."""
        d = spark.read.schema(
            "term string, df int, bytes_docid_tf long"
        ).parquet(f"{self.index_dir}/dictionary_deltas")
        if gens is not None:
            d = d.filter(F.col("generation").isin([int(g) for g in gens]))
        return d.groupBy("term").agg(
            F.sum("df").cast("int").alias("df"),
            F.sum("bytes_docid_tf").cast("long").alias("bytes_docid_tf"),
        )

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
        an operator runs before freezing an index."""
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

          1. the merged segments + folded dictionary deltas are STAGED
             outside the live table dirs;
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
        time, and the dictionary fold is sum-associative."""
        gens = sorted(int(g) for g in gens)
        if len(gens) < 2:
            return
        from wiser_spark.operators.segments import compact_segments

        all_gens = self._generations()
        # ensure the manifest exists BEFORE the swap so the flip in
        # _apply_compaction_journal is the readers' commit point (an
        # index from an older round adopts its directory listing)
        if read_generations(self.index_dir) is None:
            _write_generations(self.index_dir, all_gens)
        target = max(MERGED_GEN_BASE, max(all_gens) + 1)
        staging_rel = "_staging/compact"
        staging = f"{self.index_dir}/{staging_rel}"
        shutil.rmtree(staging, ignore_errors=True)
        try:
            with open(f"{self.index_dir}/stats.json") as f:
                nbytes = (json.load(f).get("bloom") or {}).get("nbytes")
        except (FileNotFoundError, json.JSONDecodeError):
            nbytes = None
        segs = spark.read.parquet(f"{self.index_dir}/segments").filter(
            F.col("generation").isin(gens)
        )
        compact_segments(segs, nbytes).write.mode("overwrite").partitionBy(
            "shard_id"
        ).parquet(f"{staging}/segments")
        self._fold_deltas(spark, gens).write.mode("overwrite").parquet(
            f"{staging}/dictionary_deltas"
        )
        # (the QUERYABLE dictionary is refolded by _refresh_meta from
        # all remaining deltas after the swap — same sums either way)
        journal = {
            "remove": gens,
            "target": target,
            "staging": staging_rel,
            "tables": list(_TABLES),
        }
        jpath = f"{self.index_dir}/compaction.json"
        tmp = jpath + ".tmp"
        with open(tmp, "w") as f:
            json.dump(journal, f)
        os.replace(tmp, jpath)  # the commit point of the swap
        # apply through recover_compaction so the LIVE apply holds
        # compaction.lock too — every journal application is then
        # lock-serialized (legacy pre-manifest indexes let READERS
        # recover via the same path, which would otherwise race this)
        recover_compaction(self.index_dir)

    def _next_doc_id(self, commits: dict) -> int:
        """Dense append-only docIDs: the end of the committed ranges."""
        return max((v[0] + v[1] for v in commits.values()), default=0)

    def _refresh_meta(self, spark: SparkSession) -> None:
        # N and avgdl from the commit log's [start, n, lensum] rows
        commits = self._read_commits()
        n_docs = sum(v[1] for v in commits.values())
        # (empty batches committed by older writers carry no lensum)
        lensum = sum(v[2] for v in commits.values() if v[1])
        # fold delta dictionaries into the queryable table (ONE fold
        # definition, shared with compaction's subset fold)
        (
            self._fold_deltas(spark)
            .withColumn("prefetch_pages", prefetch_pages_col())
            .write.mode("overwrite")
            .parquet(f"{self.index_dir}/dictionary")
        )
        meta = {
            "n_docs": n_docs,
            "avgdl": (lensum / n_docs) if n_docs else 1.0,
            "n_terms": spark.read.parquet(
                f"{self.index_dir}/dictionary"
            ).count(),
            "n_shards": self.config.n_shards,
            "k1": self.config.bm25.k1,
            "b": self.config.bm25.b,
            "format": "wiser-spark-segment-v2-mapside",
            "streaming": True,
            "doclen_sentinel": True,
        }
        if self.with_blooms:
            from wiser_spark.functions.bloom import bloom_params

            # preserve the index's recorded bloom params (sizing + hash
            # family) across refreshes; defaults only for a brand-new
            # index
            meta["bloom"] = (self.bloom_cfg or bloom_params())._asdict()
        with open(f"{self.index_dir}/stats.json", "w") as f:
            json.dump(meta, f, indent=1)


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
