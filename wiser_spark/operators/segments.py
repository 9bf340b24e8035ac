"""Segment layer: WiSER's on-flash posting format, Spark-distributed.

Layout per (shard, term) row — the Spark rendition of the reference's
``my.vacuum`` posting list + ``my.tip`` term entry (SURVEY.md §2.2
B4-B14):

  docids_blob : docID gaps (delta) -> 128-value bit-packed frames +
                varint tail (reference dumps docid bags first,
                ``flash_engine_dumper.h:557-582``)
  tfs_blob    : raw TFs, same framing, NO delta (``:560``)
  pos_blob    : per-doc delta-encoded positions, one varint run per doc,
                doc boundaries derived from TFs (tf == positions count)
  off_blob    : per-doc delta-encoded OFFSET PAIRS — the flat
                [s0,e0,s1,e1,...] byte offsets of each occurrence in the
                lowered content, one varint run per doc, 2*tf values per
                doc (the reference's 4th term-entry column, dumped after
                positions, ``flash_engine_dumper.h:459-461,565-575``;
                used for snippet highlighting, ``query_processing.h:
                446-492``). Empty when the build path had no offsets.
  skip_*      : one entry per 128 postings: preceding docID + byte
                offsets of the frame in each blob (the reference's
                per-128-bag skip rows, ``flash_containers.h:236-308``) —
                enables partial decode from any bag boundary
  df_shard    : postings in this shard; global df lives in the dictionary

Two row kinds ride beside the term rows in the same table:

  sentinel    : term "" — one per non-empty shard (the reference's
                doc-length store, ``doc_length_store.h:102-212``): the
                shard's docIDs in docids_blob, lossy Char4 length bytes
                in tfs_blob, true lengths varint'd in pos_blob (avgdl).
                Every writer emits it, so a shard's scorer reads lengths
                from the shard it already scans
  blooms      : "\\x01term"/"\\x02term" — per-posting phrase blooms
                (map-side writers only; see BLOOM_PREFIX)

SHARDING = the skew story. Every term's postings are split at the SAME
doc boundaries (``doc_id % n_shards``), so a stopword-scale posting list
('return' in 10^12 files) becomes n_shards bounded groups — the shuffle
key (shard_id, term) is implicitly salted by the sharding, no group can
exceed a shard's doc count, and conjunctive/phrase intersection stays
shard-local. Queries fan out over shards and merge a k-row result per
shard (distributed analogue of the reference's single-node zig-zag,
``query_processing.h:810-852``).
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wiser_spark.config import PACK_SIZE, BM25Params, IndexConfig
from wiser_spark.functions.bm25 import tfnorm_cache
from wiser_spark.functions.packing import (
    decode_column,
    delta_decode,
    delta_encode,
    encode_column,
)
from wiser_spark.functions.varint import (
    varint_decode,
    varint_encode,
    varint_encode_with_lengths,
)
from wiser_spark.operators.docstats import CorpusStats
from wiser_spark.operators.topk import check_query_ids
from wiser_spark.plans.empty import empty_frame

SEGMENT_SCHEMA = (
    "shard_id int, term string, df_shard int, "
    "docids_blob binary, tfs_blob binary, pos_blob binary, off_blob binary, "
    "skip_predocs array<long>, skip_docid_offs array<long>, "
    "skip_tf_offs array<long>, skip_pos_offs array<long>, "
    "skip_off_offs array<long>, skip_max_tfs array<long>"
)

# the same schema in Arrow: the type of every batch the shard encoder
# (mapside.encode_postings) and its callers emit
SEGMENT_ARROW_SCHEMA = pa.schema([
    (name, {"int": pa.int32(), "string": pa.string(), "binary": pa.binary(),
            "array<long>": pa.list_(pa.int64())}[ddl])
    for name, ddl in (f.split(" ", 1) for f in SEGMENT_SCHEMA.split(", "))
])

# sentinel term of a per-shard doc-length row: the tokenizer can never
# emit an empty term, so "" is collision-free
DOCLEN_TERM = ""

# prefixes marking phrase-bloom rows for a term ("\x01"/"\x02" are
# outside the tokenizer alphabet). A row's tfs_blob holds BLOOM BOXES of
# sized filters (libbloom sizing, functions/bloom.py), one filter per
# posting, aligned with the term row's docID order: END blooms hold the
# tokens FOLLOWING each occurrence, BEGIN blooms the tokens PRECEDING
# them (the reference builds both, bloom_filter.h:595-646, and stores
# them as separate regions of the same file, flash_containers.h:499)
BLOOM_PREFIX = "\x01"        # end blooms
BLOOM_BEGIN_PREFIX = "\x02"  # begin blooms
BLOOM_PREFIXES = (BLOOM_PREFIX, BLOOM_BEGIN_PREFIX)


def bloom_row(
    shard_id: int, term: str, bloom_mat: np.ndarray, prefix: str = BLOOM_PREFIX
) -> dict:
    """One term's per-posting SIZED bloom filters ((n, nbytes) uint8,
    posting-aligned with the term row's docID order) -> one bloom-box
    segment row (reference flash_containers.h:499-561; sizing
    bloom.bloom_params). skip_tf_offs carries the per-box byte offsets
    — the BloomSkipList analogue enabling partial decode."""
    from wiser_spark.functions.bloom import bloom_boxes_encode

    blob, offs = bloom_boxes_encode(np.asarray(bloom_mat, dtype=np.uint8))
    return {
        "shard_id": shard_id,
        "term": prefix + term,
        "df_shard": int(bloom_mat.shape[0]),
        "docids_blob": b"",
        "tfs_blob": blob,
        "pos_blob": b"",
        "off_blob": b"",
        "skip_predocs": [],
        "skip_docid_offs": [],
        "skip_tf_offs": offs,
        "skip_pos_offs": [],
        "skip_off_offs": [],
        "skip_max_tfs": [],
    }


def doclen_sentinel_row(shard_id: int, doc_ids, doclens) -> dict:
    """Per-shard doc-length row: docIDs delta+packed, lossy Char4 bytes
    packed in tfs_blob, TRUE lengths varint'd in pos_blob (for avgdl)."""
    from wiser_spark.functions.char4 import uint_to_char4

    doc_ids = np.asarray(doc_ids, dtype=np.int64)
    doclens = np.asarray(doclens, dtype=np.int64)
    order = np.argsort(doc_ids, kind="stable")
    doc_ids, doclens = doc_ids[order], doclens[order]
    docids_blob, docid_offs = encode_column(delta_encode(doc_ids))
    chars_blob, char_offs = encode_column(uint_to_char4(doclens).astype(np.uint64))
    return {
        "shard_id": shard_id,
        "term": DOCLEN_TERM,
        "df_shard": len(doc_ids),
        "docids_blob": docids_blob,
        "tfs_blob": chars_blob,
        "pos_blob": varint_encode(doclens),
        "off_blob": b"",
        "skip_predocs": [],
        "skip_docid_offs": docid_offs.tolist(),
        "skip_tf_offs": char_offs.tolist(),
        "skip_pos_offs": [],
        "skip_off_offs": [],
        "skip_max_tfs": [],
    }


def sentinel_batch(shard_id: int, doc_ids, doclens) -> pa.RecordBatch:
    """The shard's doc-length sentinel row as a one-row Arrow batch."""
    return pa.RecordBatch.from_pylist(
        [doclen_sentinel_row(shard_id, doc_ids, doclens)],
        schema=SEGMENT_ARROW_SCHEMA,
    )


def decode_doclen_sentinel(row) -> tuple[np.ndarray, np.ndarray, np.ndarray | None]:
    """sentinel row -> (doc_ids, lossy_chars, true_lens).

    true_lens is None when the pos_blob column wasn't read (queries only
    need the lossy bytes; only the avgdl stats pass reads true lengths)."""
    n = int(row["df_shard"])
    doc_ids = delta_decode(decode_column(row["docids_blob"], n)).astype(np.int64)
    chars = decode_column(row["tfs_blob"], n).astype(np.int64)
    if "pos_blob" not in row or row["pos_blob"] is None:
        return doc_ids, chars, None
    lens, _ = varint_decode(row["pos_blob"], count=n)
    return doc_ids, chars, lens.astype(np.int64)


# ----------------------------------------------------------------- write
def _delta_varint_stream(
    flat: np.ndarray, run_starts: np.ndarray
) -> tuple[bytes, np.ndarray]:
    """Delta+varint encode ``flat`` with the delta RESET at every
    ``run_starts`` index (per-doc runs). Returns (blob, per-value byte
    START offsets) — the single source of truth for this layout (the
    per-term skip entries AND the vocabulary-batched slicer both index
    into these offsets)."""
    deltas = np.diff(flat, prepend=0)
    deltas[run_starts] = flat[run_starts]  # run's first value: delta vs 0
    blob, lens = varint_encode_with_lengths(deltas)
    return blob, np.cumsum(lens) - lens


def _delta_varint_runs(
    flat: np.ndarray, run_starts: np.ndarray, bag_starts: np.ndarray
) -> tuple[bytes, np.ndarray]:
    """(blob, byte offsets of each ``bag_starts`` value) — the skip
    entries for partial decode."""
    blob, val_offs = _delta_varint_stream(flat, run_starts)
    return blob, val_offs[bag_starts]


def _encode_term_flat(
    shard_id: int,
    term: str,
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    flat_pos: np.ndarray | None,
    flat_off: np.ndarray | None = None,
) -> dict:
    """One term within a shard -> one segment row. Fully vectorized.

    ``doc_ids`` must be ascending; ``flat_pos`` (if given) is the
    concatenation of each doc's ascending positions in that doc order;
    ``flat_off`` (if given) is the matching flat [s,e,s,e,...] offset
    pairs (2*tf values per doc). Each is delta+varint encoded in ONE
    pass (per-doc boundaries fixed up vectorially)."""
    docids_blob, docid_offs = encode_column(delta_encode(doc_ids))
    tfs_blob, tf_offs = encode_column(tfs.astype(np.uint64))

    starts = np.cumsum(tfs) - tfs
    if flat_pos is not None:
        pos_blob, skip_pos = _delta_varint_runs(
            flat_pos, starts, starts[::PACK_SIZE]
        )
    else:
        pos_blob, skip_pos = b"", np.zeros(0, dtype=np.int64)
    if flat_off is not None:
        # offset pairs interleave to a nondecreasing stream within a doc
        # (s0 <= e0 <= s1 <= ...), so the same per-run delta applies
        off_blob, skip_off = _delta_varint_runs(
            flat_off, 2 * starts, 2 * starts[::PACK_SIZE]
        )
    else:
        off_blob, skip_off = b"", np.zeros(0, dtype=np.int64)

    # skip entry i covers postings [i*128, (i+1)*128): preceding docID
    # (doc before the bag, 0 for the first — reference pre-doc-id rows,
    # flash_containers.h:22-30) + frame byte offsets
    n = len(doc_ids)
    n_bags = (n + PACK_SIZE - 1) // PACK_SIZE
    pre = np.zeros(n_bags, dtype=np.int64)
    pre[1:] = doc_ids[PACK_SIZE - 1 :: PACK_SIZE][: n_bags - 1]
    # per-bag max tf: the block-max bound for score-neutral skipping at
    # query time (Lucene/BMW-style; the north star's "block-max-WAND-
    # style scorer" — exact top-k, bags provably below the running
    # threshold are never decoded)
    max_tfs = np.maximum.reduceat(tfs, np.arange(0, n, PACK_SIZE))
    return {
        "shard_id": shard_id,
        "term": term,
        "df_shard": n,
        "docids_blob": docids_blob,
        "tfs_blob": tfs_blob,
        "pos_blob": pos_blob,
        "off_blob": off_blob,
        "skip_predocs": pre.tolist(),
        "skip_docid_offs": docid_offs.tolist(),
        "skip_tf_offs": tf_offs.tolist(),
        "skip_pos_offs": skip_pos.tolist(),
        "skip_off_offs": skip_off.tolist(),
        "skip_max_tfs": max_tfs.astype(np.int64).tolist(),
    }


def build_segments(
    postings: DataFrame, docstats: DataFrame, n_shards: int
) -> DataFrame:
    """postings (term, doc_id, tf[, positions][, offsets]) + docstats
    (doc_id, doclen) -> segment rows, each shard's term rows (in term
    order, so parquet min/max stats prune term lookups) followed by its
    doc-length sentinel row.

    One Arrow group per shard: the (doc_id % n_shards) shuffle is the
    ONLY data movement of the segment stage; the group's postings are
    sorted by (term, doc_id) in Arrow and encoded by the shared shard
    encoder (mapside.encode_postings). Size n_shards so a shard's
    postings fit one task (at 10^12 docs that's simply a larger
    n_shards — work per shard is bounded by shard doc count, never by a
    term's global df)."""

    def by_shard(df: DataFrame):
        # explicit shard repartition (r06): the groupBy's own exchange
        # is AQE-coalesced by SIZE (advisory bytes), but the encode
        # stage is Python-CPU-bound per byte — at sf1.0 AQE folded 32
        # shards into 18 tasks and idled a third of the machine. A
        # user-specified repartition is never coalesced, and the
        # cogroup reuses both sides' identical partitioning (no second
        # exchange): exactly n_shards encode tasks, one file each.
        return df.withColumn(
            "shard_id", (F.col("doc_id") % n_shards).cast("int")
        ).repartition(n_shards, "shard_id").groupBy("shard_id")

    def encode_shard(postings, doclens):
        from wiser_spark.operators.mapside import encode_postings

        shard_id = (postings if postings.num_rows else doclens)[
            "shard_id"][0].as_py()
        postings = postings.sort_by([("term", "ascending"),
                                     ("doc_id", "ascending")])
        # the terms are sorted, so their value counts are their runs
        runs = pc.value_counts(postings["term"])

        def flat(col):
            return (
                pc.list_flatten(postings[col]).to_numpy().astype(np.int64)
                if col in postings.column_names else None
            )

        batches = list(encode_postings(
            shard_id, runs.field("values").cast(pa.string()),
            np.concatenate(([0], np.cumsum(runs.field("counts")))),
            postings["doc_id"].to_numpy().astype(np.int64),
            postings["tf"].to_numpy().astype(np.int64),
            flat("positions"), flat("offsets"), None,
        ))
        if doclens.num_rows:
            batches.append(sentinel_batch(
                shard_id, doclens["doc_id"].to_numpy(),
                doclens["doclen"].to_numpy(),
            ))
        return pa.Table.from_batches(batches, SEGMENT_ARROW_SCHEMA)

    return by_shard(postings).cogroup(
        by_shard(docstats.select("doc_id", "doclen"))
    ).applyInArrow(encode_shard, SEGMENT_SCHEMA)


def prefetch_pages_col():
    """prefetch_pages from a bytes_docid_tf column — the reference's
    16-bit .tip prefetch-zone page count (flash_engine_dumper.h:44-49)."""
    return F.ceil(F.col("bytes_docid_tf") / PREFETCH_PAGE_BYTES).cast("int")


def dictionary_from_segments(segs: DataFrame) -> DataFrame:
    """(term, df, bytes_docid_tf, prefetch_pages) from written segment
    rows in ONE scan of three pruned columns — the .tip analogue (B13).
    df = sum(df_shard) because each doc lives in exactly one shard.
    Sentinel and bloom rows are excluded. The single definition behind
    every writer: the shuffle build, the map-side build, and the
    streaming sink's per-generation deltas."""
    return (
        segs.filter(
            (F.col("term") != DOCLEN_TERM)
            & ~F.substring("term", 1, 1).isin(*BLOOM_PREFIXES)
        )
        .groupBy("term")
        .agg(
            F.sum("df_shard").cast("int").alias("df"),
            F.sum(F.length("docids_blob") + F.length("tfs_blob"))
            .cast("long").alias("bytes_docid_tf"),
        )
        .withColumn("prefetch_pages", prefetch_pages_col())
    )


def await_all(futures, error: Exception | None = None) -> list:
    """Wait for EVERY future, then return their results in order, or
    raise the first failure: ``error`` (the caller's own concurrent
    step) ahead of the futures' in order. Later failures ride along as
    notes on the raised one, so no failure of a build thread is
    dropped."""
    errors = [error] if error is not None else []
    results = []
    for f in futures:
        try:
            results.append(f.result())
        except Exception as e:
            errors.append(e)
            results.append(None)
    if errors:
        for e in errors[1:]:
            errors[0].add_note(f"concurrent failure: {type(e).__name__}: {e}")
        raise errors[0]
    return results


def write_index(
    postings: DataFrame,
    docstats: DataFrame,
    dictionary: DataFrame,
    stats: CorpusStats,
    index_dir: str,
    config: IndexConfig | None = None,
) -> None:
    """Persist a queryable index: segments (partitioned by shard, sorted
    by term within files so parquet min/max stats prune term lookups,
    each shard ending in its doc-length sentinel row built from
    ``docstats``), dictionary, and a stats/metadata JSON. No phrase
    blooms: only the map-side writers build them."""
    config = config or IndexConfig()
    spark = postings.sparkSession
    # segments: already hash-partitioned by shard_id (the cogroup), rows
    # emitted in term order inside each shard — no extra shuffle before
    # the write
    build_segments(postings, docstats, config.n_shards).write.mode(
        "overwrite"
    ).partitionBy("shard_id").parquet(f"{index_dir}/segments")
    # dictionary (term, df, bytes_docid_tf, prefetch_pages) in ONE scan
    # of the written segment rows (3 pruned columns): df = sum of
    # df_shard (each doc lives in exactly one shard), bytes/pages = the
    # prefetch-zone field analogue (B13, flash_engine_dumper.h:44-49).
    # The caller-passed dictionary is not re-written — its (term, df)
    # is identical by construction (pinned by the dictionary tests)
    # and deriving here avoids a second aggregate over the postings.
    # The vocabulary count rides on the write via an Observation
    # instead of a follow-up count() job.
    from pyspark.sql import Observation

    obs = Observation()
    dictionary_from_segments(
        spark.read.schema(SEGMENT_SCHEMA).parquet(f"{index_dir}/segments")
    ).observe(obs, F.count(F.lit(1)).alias("n_terms")).write.mode(
        "overwrite"
    ).parquet(f"{index_dir}/dictionary")
    meta = {
        "n_docs": stats.n_docs,
        "avgdl": stats.avgdl,
        # vocabulary size rides in the metadata so readers can size the
        # driver dictionary cache without a count() job (ADVICE r03)
        "n_terms": int(obs.get["n_terms"]),
        "n_shards": config.n_shards,
        "k1": config.bm25.k1,
        "b": config.bm25.b,
        "format": "wiser-spark-segment-v2",
        "doclen_sentinel": True,
    }
    os.makedirs(index_dir, exist_ok=True)
    with open(f"{index_dir}/stats.json", "w") as f:
        json.dump(meta, f, indent=1)


# ---------------------------------------------------- shard query kernel
# module-level pieces shared by SegmentIndex.search (single query, with
# optional snippet extras) and SegmentIndex.search_batch (whole query
# log per shard pass)

def _parse_shard_rows(seg_pdf: "pd.DataFrame"):
    """Split a shard's segment rows into term rows, bloom rows (keyed by
    (side, term)) and the doc-length sentinel rows."""
    rows_by_term: dict[str, list] = {}
    bloom_rows: dict[tuple[str, str], list] = {}
    for _, r in seg_pdf.iterrows():
        t = r["term"]
        if t.startswith(BLOOM_PREFIX):
            bloom_rows.setdefault(("end", t[1:]), []).append(r)
        elif t.startswith(BLOOM_BEGIN_PREFIX):
            bloom_rows.setdefault(("begin", t[1:]), []).append(r)
        else:
            rows_by_term.setdefault(t, []).append(r)
    sentinel_rows = rows_by_term.pop(DOCLEN_TERM, None)
    return rows_by_term, bloom_rows, sentinel_rows


def _decode_terms(rows_by_term, terms: set, need_pos: bool, need_off: bool):
    """Decode each term's (possibly multi-generation) rows once:
    term -> (ids, tfs, plists, olists), docID-ascending."""
    decoded = {}
    for t in terms:
        parts = [
            decode_segment_row(r, with_positions=need_pos, with_offsets=need_off)
            for r in rows_by_term[t]
        ]
        parts.sort(key=lambda p: int(p[0][0]))
        ids = np.concatenate([p[0] for p in parts])
        tfs = np.concatenate([p[1] for p in parts])
        plists = [pl for p in parts for pl in p[2]] if need_pos else None
        olists = [ol for p in parts for ol in p[3]] if need_off else None
        decoded[t] = (ids, tfs, plists, olists)
    return decoded


# B13/Q14: the reference packs a 16-bit prefetch-zone page count into
# each .tip term entry (flash_engine_dumper.h:44-49) and gates madvise
# on it (vacuum_engine.h:221-236). The analogue: the dictionary carries
# (bytes_docid_tf, prefetch_pages) per term, and the shard kernel picks
# the decode strategy with it — a conjunction's non-smallest terms with
# at least this many pages decode ONLY the 128-posting bags that can
# hold a candidate (skip-based partial decode) instead of the whole
# column.
PREFETCH_PAGE_BYTES = 4096
PARTIAL_DECODE_MIN_PAGES = 4  # don't bother under ~16 KiB of docid+tf


def partial_decode_terms(
    qlist, pages_map, pos_terms, off_terms
) -> set:
    """Driver-side strategy pick: terms eligible for skip-based partial
    decode. A term qualifies when (a) its posting column is big enough
    that skipping frames pays (prefetch_pages >= PARTIAL_DECODE_MIN_
    PAGES — dictionaries without the field decode fully) and (b) no
    query needs its positions/offsets streams (those decode full).

    Terms SHARED by several queries are eligible too (round-4 upgrade;
    r03 decoded them fully): the shard kernel keeps one per-term BAG
    CACHE, so the batch effectively decodes the UNION of the sharing
    queries' candidate bags — each 128-posting bag decodes at most
    once, and a term whose cache grows past a third of its bags is
    promoted to one vectorized full decode instead."""
    terms = {t for _, terms_l, _ in qlist for t in terms_l}
    return {
        t
        for t in terms
        if t not in pos_terms
        and t not in off_terms
        and (pages_map.get(t) or 0) >= PARTIAL_DECODE_MIN_PAGES
    }


def _decode_bag(r, b, pre, n, n_bags):
    """Decode ONE 128-posting bag of a segment row -> (ids, tfs)."""
    if n_bags <= 1:
        ids, tfs, _ = decode_segment_row(r)
        return ids, tfs
    cnt = PACK_SIZE if b < n_bags - 1 else n - b * PACK_SIZE
    deltas = decode_column(
        np.frombuffer(r["docids_blob"], dtype=np.uint8),
        cnt,
        offset=int(r["skip_docid_offs"][b]),
    )
    ids = np.cumsum(deltas.astype(np.int64)) + pre[b]
    tfs = decode_column(
        np.frombuffer(r["tfs_blob"], dtype=np.uint8),
        cnt,
        offset=int(r["skip_tf_offs"][b]),
    ).astype(np.int64)
    return ids, tfs


def _decode_bag_positions(r, b, tfs_bag, n_bags) -> list:
    """Positions of ONE 128-posting bag as per-doc arrays aligned with
    the bag's postings. Bag boundaries coincide with doc starts and the
    per-doc delta runs reset at each doc (``_delta_varint_runs``), so
    decoding can begin at ``skip_pos_offs[b]`` with no earlier context
    — the positional analogue of ``_decode_bag``."""
    tfs_bag = np.asarray(tfs_bag, dtype=np.int64)
    off = 0 if n_bags <= 1 else int(r["skip_pos_offs"][b])
    vals, _ = varint_decode(
        np.frombuffer(r["pos_blob"], dtype=np.uint8),
        offset=off,
        count=int(tfs_bag.sum()),
    )
    flat = np.cumsum(vals.astype(np.int64))
    ends = np.cumsum(tfs_bag)
    starts = ends - tfs_bag
    carry = np.zeros(len(flat), dtype=np.int64)
    carry[starts[1:]] = flat[ends[:-1] - 1]
    flat = flat - np.maximum.accumulate(carry)
    return [flat[e - t : e] for t, e in zip(tfs_bag, ends)]


def _decode_term_selective(rows, cand, bag_cache: dict | None = None,
                           with_positions: bool = False,
                           pos_cache: dict | None = None):
    """Skip-based PARTIAL decode of one term's (possibly multi-
    generation) rows: decode only the 128-posting bags whose docID
    range can contain a candidate — the skip entries' pre_doc_id gives
    each bag's lower bound AND the delta base to rebuild absolute
    docIDs from the bag's frame alone (reference SkipForward,
    query_processing.h:810-852, done at decode granularity).

    ``bag_cache`` (one dict per term, owned by the shard kernel) keys
    (row_idx, bag_idx) -> (ids, tfs): when several queries in a batch
    share the term, each bag decodes at most ONCE across the whole
    batch — the union-of-candidates behavior without any cross-query
    coordination. ``with_positions`` additionally decodes the selected
    bags' POSITIONAL runs (phrase block-max) through ``pos_cache``,
    same keying.

    Returns (ids, tfs, plists|None, None) covering every candidate
    that exists in the term; non-selected bags are never touched."""
    if bag_cache is None:
        bag_cache = {}
    if with_positions and pos_cache is None:
        pos_cache = {}
    parts = []
    for ri, r in enumerate(rows):
        n = int(r["df_shard"])
        pre = np.asarray(r["skip_predocs"], dtype=np.int64)
        n_bags = len(pre)
        if n_bags <= 1:
            sel = [0]
        else:
            # bag b holds docIDs strictly greater than pre[b] (pre[b] IS
            # the last docID of bag b-1), so a candidate EQUAL to pre[b]
            # lives in bag b-1: side='left' puts it there; candidates
            # below the first real docID clamp to bag 0 (pre[0] is 0)
            sel = np.unique(
                np.maximum(np.searchsorted(pre, cand, side="left") - 1, 0)
            )
        for b in sel:
            key = (ri, int(b))
            if key not in bag_cache:
                bag_cache[key] = _decode_bag(r, int(b), pre, n, n_bags)
            ids_b, tfs_b = bag_cache[key]
            if with_positions:
                if key not in pos_cache:
                    pos_cache[key] = _decode_bag_positions(
                        r, int(b), tfs_b, n_bags
                    )
                parts.append((ids_b, tfs_b, pos_cache[key]))
            else:
                parts.append((ids_b, tfs_b, None))
    parts.sort(key=lambda p: int(p[0][0]) if len(p[0]) else 0)
    ids = np.concatenate([p[0] for p in parts])
    tfs = np.concatenate([p[1] for p in parts])
    plists = [pl for p in parts for pl in p[2]] if with_positions else None
    if ids.size > 1 and np.any(np.diff(ids) <= 0):
        # interleaved-generation doc ranges (a partially-compacted
        # stream): restore the global docID order the callers'
        # searchsorted math requires (docIDs are unique across
        # generations, so a stable argsort is a clean permutation)
        order = np.argsort(ids, kind="stable")
        ids, tfs = ids[order], tfs[order]
        if with_positions:
            plists = [plists[j] for j in order]
    return ids, tfs, plists, None


def _topk_blockmax_single(rows, k, idf_t, cache, k1, codes_for,
                          prune_fallback: bool = True,
                          bag_cache: dict | None = None):
    """Score-neutral BLOCK-MAX top-k for a single-term query — the
    north star's "block-max-WAND-style scorer" done the way SURVEY §2.5
    mandates: exact results, block maxima used only to SKIP provably
    non-competitive 128-posting bags (Lucene BlockMaxScorer shape; the
    reference itself scores every posting, qq_mem_engine.h:345-401).

    The writer stored max(tf) per bag (``skip_max_tfs``). With cmin =
    min of the 256-entry lossy length cache, bound(bag) = idf *
    max_tf*(k1+1)/(max_tf + cmin) is a true upper bound on any score in
    the bag (BM25 tf-norm is increasing in tf and decreasing in the
    cache term). Bags decode in descending bound order; once k exact
    scores exist, θ = k-th best, and the first bag with bound < θ ends
    the scan — every skipped posting satisfies score <= bound < θ
    STRICTLY, so the winner set, their exact scores, and the (score
    desc, doc_id asc) tie order all match the full-decode path.

    Returns (winner_ids, winner_scores) or None when the caller should
    take the full-decode path instead: any generation row predates the
    skip_max_tfs column, or θ turns out to prune under half the bags
    (flat tf distributions — e.g. tf=1 everywhere — bound θ below every
    bag's bound, and a per-bag Python loop over ALL bags loses to one
    vectorized whole-column decode; ``prune_fallback=False`` disables
    this escape for tests that pin exactness)."""
    cmin = float(cache.min())
    descs = []  # (bound, row_idx, bag_idx, posting_count)
    ctx = []
    for ri, r in enumerate(rows):
        mx = r["skip_max_tfs"] if "skip_max_tfs" in r else None
        if mx is None or (isinstance(mx, float) and np.isnan(mx)):
            return None
        n = int(r["df_shard"])
        pre = np.asarray(r["skip_predocs"], dtype=np.int64)
        n_bags = max(len(pre), 1)
        mxa = np.asarray(mx, dtype=np.float64)
        if mxa.size != n_bags:
            return None  # foreign/legacy row shape: stay exact via full path
        bounds = idf_t * (mxa * (k1 + 1.0)) / (mxa + cmin)
        ctx.append((r, pre, n, n_bags))
        for b in range(n_bags):
            cnt = PACK_SIZE if b < n_bags - 1 else n - b * PACK_SIZE
            descs.append((float(bounds[b]), ri, b, cnt))
    descs.sort(key=lambda d: -d[0])

    # decoded bags go through the shard's shared per-term bag cache (if
    # given): a term used by BOTH a single-term and a multi-term query
    # in one batch then decodes each bag at most once across the batch
    bc = bag_cache if bag_cache is not None else {}

    def decode_bag(ri, b, cnt):
        r, pre, n, n_bags = ctx[ri]
        key = (ri, b if n_bags > 1 else 0)
        if key not in bc:
            bc[key] = _decode_bag(r, b, pre, n, n_bags)
        return bc[key]

    ids_parts: list = []
    score_parts: list = []
    n_scored = 0
    theta = -np.inf
    topk_buf = np.zeros(0, dtype=np.float64)  # running k best scores

    def score_bag(ri, b, cnt):
        nonlocal n_scored, theta, topk_buf
        ids, tfs = decode_bag(ri, b, cnt)
        tf = tfs.astype(np.float64)
        scores = idf_t * ((tf * (k1 + 1.0)) / (tf + cache[codes_for(ids)]))
        ids_parts.append(ids)
        score_parts.append(scores)
        n_scored += ids.size
        # θ = exact k-th best so far, maintained O(bag + k) per bag
        merged = np.concatenate((topk_buf, scores))
        if merged.size >= k:
            cut = np.partition(merged, merged.size - k)[merged.size - k:]
            topk_buf = cut
            theta = cut[0]
        else:
            topk_buf = merged

    # phase 1: best-bound bags until k exact scores set θ
    i = 0
    while i < len(descs) and n_scored < k:
        _, ri, b, cnt = descs[i]
        score_bag(ri, b, cnt)
        i += 1
    # phase 2: θ tightens as bags decode. The budget (a third of the
    # bags — the measured per-bag vs whole-column break-even,
    # scripts/blockmax_bench.py) caps total per-bag work; the
    # CHECKPOINT every 16 bags predicts the remaining work from the
    # current θ (survivors = bounds still >= θ; θ only rises, so the
    # prediction is an upper bound) and cedes to the vectorized full
    # decode as soon as the projection exceeds the budget — flat/tied
    # tf distributions (every bag bound == θ, e.g. a replicated corpus)
    # bail after <= 17 wasted bag decodes instead of the whole budget.
    budget = max(4, len(descs) // 3) if prune_fallback else len(descs)
    bounds_sorted = np.array([d[0] for d in descs], dtype=np.float64)
    for bound, ri, b, cnt in descs[i:]:
        if bound < theta:
            break  # bounds descend: everything after is < θ too
        if i >= budget:
            return None  # θ buys too little here; full decode wins
        if prune_fallback and i % 16 == 0:
            n_surv = int(np.count_nonzero(bounds_sorted[i:] >= theta))
            if i + n_surv > budget:
                return None
        score_bag(ri, b, cnt)
        i += 1
    all_ids = np.concatenate(ids_parts)
    all_sc = np.concatenate(score_parts)
    order = np.lexsort((all_ids, -all_sc))[:k]
    return all_ids[order], all_sc[order]


def _topk_blockmax_conj(rows_by_term, terms_l, k, idfs, cache, k1,
                        codes_for, bag_caches: dict,
                        prune_fallback: bool = True,
                        phrase: bool = False,
                        pos_caches: dict | None = None):
    """Score-neutral BLOCK-MAX top-k for a CONJUNCTION — and, with
    ``phrase=True``, for a PHRASE — the multi-term extension of
    ``_topk_blockmax_single`` (the north star's "block-max-WAND-style
    scorer" at bag granularity; reference semantics stay exact,
    ``query_processing.h:810-852``).

    The LEAD term (smallest shard df) drives: every result doc is one
    of its postings, so its 128-posting bags partition the result
    space. Each lead bag [lo, hi] (lo/hi from the skip entries'
    pre-doc-ids; the last bag of a generation is open-ended —
    conservative) gets a TRUE upper bound on any conjunction score
    inside it:

        bound(bag) = Σ_t  w_t · idf_t · bnd(maxtf_t)

    where bnd(m) = m(k1+1)/(m+cmin) with cmin = min of the lossy
    length cache (BM25 tf-norm is increasing in tf, decreasing in the
    cache term), maxtf_lead = the bag's own skip_max_tfs entry, and
    maxtf_other = max of skip_max_tfs over that term's bags OVERLAPPING
    [lo, hi] (any result doc's posting for that term lives in an
    overlapping bag).

    MULTI-GENERATION terms (a streaming index between compactions) are
    eligible (round-5 upgrade): each term's bag table concatenates its
    generation rows' bags sorted by lo, and the window search uses the
    RUNNING MAX of the his — with interleaved generation doc ranges the
    interval windows only widen, so the bound stays a true upper bound
    and searchsorted's monotonicity requirement holds.

    Lead bags process in descending bound order; candidates decode
    through the shared per-term BAG CACHES (each bag of any term
    decodes at most once per batch), intersect, and score exactly.
    Once k exact scores exist, θ = k-th best, and the first bag with
    bound < θ ends the scan — every skipped doc scores <= bound < θ
    STRICTLY, so winners, exact scores, and the (score desc, doc_id
    asc) tie order all match the full-decode path.

    PHRASE mode (round-5, r04 item 2): phrase scoring is plain BM25 of
    the matching doc — the match only gates inclusion (reference
    ``query_processing.h:886-895``) — so the conjunction bound remains
    a true upper bound for phrase winners. The same lead-bag scan runs;
    surviving candidates additionally decode their POSITIONAL runs at
    bag granularity (``_decode_bag_positions`` via ``pos_caches``) and
    pass the exact adjusted-position intersect before scoring. Bags
    whose bound < θ never decode ids, tfs, OR positions. (The bloom
    pre-check is skipped here — it is pruning-only, and its filters
    index the FULL posting order, which this path never materializes.)

    Returns (winner_ids, winner_scores) or None when the caller should
    take the generic path: any row predates skip_max_tfs (or, in
    phrase mode, lacks a positional column), the lead is too small for
    per-bag work to pay, or the decode-work projection exceeds the
    budget (flat tf distributions — same escape as the single-term
    scorer; ``prune_fallback=False`` pins exactness in tests)."""
    INF = np.int64(2**62)
    cmin = float(cache.min())
    if phrase and pos_caches is None:
        pos_caches = {}

    def bnd(m):
        return (m * (k1 + 1.0)) / (m + cmin)

    weight: dict[str, float] = {}
    for t in terms_l:
        weight[t] = weight.get(t, 0.0) + 1.0
    uniq = list(weight)

    # per-term bag table ACROSS generation rows: (lo, hi, running-max
    # hi, max_tf, row_idx, bag_idx) per bag, sorted by lo
    rows_of: dict[str, list] = {}
    tables: dict[str, tuple] = {}
    total_bags = 0
    for t in uniq:
        rows = rows_by_term[t]
        lo_p, hi_p, mx_p, ctx = [], [], [], []
        for r in rows:
            mx = r["skip_max_tfs"] if "skip_max_tfs" in r else None
            if mx is None or (isinstance(mx, float) and np.isnan(mx)):
                return None
            n = int(r["df_shard"])
            pre = np.asarray(r["skip_predocs"], dtype=np.int64)
            n_bags = max(len(pre), 1)
            mxa = np.asarray(mx, dtype=np.int64)
            if mxa.size != n_bags:
                return None  # foreign/legacy row shape: stay exact
            if phrase:
                pb = r["pos_blob"] if "pos_blob" in r else None
                offs = (
                    r["skip_pos_offs"] if "skip_pos_offs" in r else None
                )
                if (
                    pb is None or len(pb) == 0
                    or (n_bags > 1
                        and (offs is None or len(offs) != n_bags))
                ):
                    return None  # no positional bags: generic path
            lo = (pre if len(pre) else np.zeros(1, dtype=np.int64)) + 1
            # hi of bag b = pre[b+1] (the EXACT last docID of bag b);
            # the final bag is open-ended (last docID isn't stored)
            hi = np.concatenate((lo[1:] - 1, np.asarray([INF])))
            lo_p.append(lo)
            hi_p.append(hi)
            mx_p.append(mxa)
            ctx.append((r, pre, n, n_bags))
            total_bags += n_bags
        lo = np.concatenate(lo_p)
        hi = np.concatenate(hi_p)
        mxa = np.concatenate(mx_p)
        ridx = np.concatenate(
            [np.full(p.size, j, dtype=np.int64) for j, p in enumerate(lo_p)]
        )
        bidx = np.concatenate(
            [np.arange(p.size, dtype=np.int64) for p in lo_p]
        )
        if len(rows) > 1:
            order = np.argsort(lo, kind="stable")
            lo, hi, mxa = lo[order], hi[order], mxa[order]
            ridx, bidx = ridx[order], bidx[order]
        # running max keeps hi monotone for searchsorted; with
        # interleaved generations it only WIDENS windows (conservative)
        tables[t] = (lo, hi, np.maximum.accumulate(hi), mxa, ridx, bidx)
        rows_of[t] = ctx
    lead = min(uniq, key=lambda t: sum(c[2] for c in rows_of[t]))
    l_lo, l_hi, _, l_max, l_ridx, l_bidx = tables[lead]
    n_lead = l_lo.size
    if n_lead < 4:
        return None  # tiny lead: the generic path is already minimal
    others = [t for t in uniq if t != lead]

    # per-lead-bag combined bound: overlap window per other term =
    # bags with bag_lo <= lead_hi and bag_hi >= lead_lo; window max via
    # a per-window slice max — windows of consecutive lead bags are
    # near-disjoint, so total work is O(n_lead + n_other)
    bounds = weight[lead] * idfs[lead] * bnd(l_max.astype(np.float64))
    for t in others:
        t_lo, _, t_hi_rm, t_max, _, _ = tables[t]
        j_end = np.searchsorted(t_lo, l_hi, side="right")
        j_start = np.searchsorted(t_hi_rm, l_lo, side="left")
        wmax = np.zeros(n_lead, dtype=np.float64)
        for i in range(n_lead):
            if j_start[i] < j_end[i]:
                wmax[i] = float(t_max[j_start[i]:j_end[i]].max())
        bounds += weight[t] * idfs[t] * bnd(wmax)

    desc = np.argsort(-bounds, kind="stable")

    def cache_fill():
        return sum(len(bag_caches.get(t, {})) for t in uniq)

    # phrase-mode work accounting: a bag's POSITIONAL decode (varint
    # runs + per-doc array splits) costs several times its ids+tfs
    # decode, and the generic phrase path decodes positions in ONE
    # vectorized pass — so positional fills count POS_WEIGHT-fold
    # against the same budget, and a scan that hasn't produced k phrase
    # matches (θ still -inf) after a few bounded-best bags bails before
    # the per-bag overhead exceeds what the generic path would spend
    # (the 20M-doc r05 run measured the unweighted version at 1.8-2.8x
    # SLOWER than generic on frequent-term phrases)
    POS_WEIGHT = 3
    NO_THETA_STEPS = 8

    def pos_fill():
        return sum(len(pos_caches.get(t, {})) for t in uniq)

    # the floor scales with the phrase weighting so a tiny prunable
    # phrase (one hot bag) is not priced out before its first step
    floor = 8 * (1 + (POS_WEIGHT if phrase else 0))
    budget = max(floor, total_bags // 3) if prune_fallback else (
        (total_bags + 1) * (1 + POS_WEIGHT)
    )
    spent0 = cache_fill()
    pspent0 = pos_fill() if phrase else 0

    def spend():
        s = cache_fill() - spent0
        if phrase:
            s += POS_WEIGHT * (pos_fill() - pspent0)
        return s

    work_per_bag = (1 + len(others)) * (1 + (POS_WEIGHT if phrase else 0))
    ids_parts: list = []
    score_parts: list = []
    theta = -np.inf
    topk_buf = np.zeros(0, dtype=np.float64)
    for step in range(desc.size):
        i = int(desc[step])
        if bounds[i] < theta:
            break  # bounds descend: everything after is < θ too
        if spend() >= budget:
            return None  # θ buys too little here; generic path wins
        if (
            prune_fallback and phrase and theta == -np.inf
            and step >= NO_THETA_STEPS
        ):
            return None  # no phrase winners among the best-bounded bags
        if prune_fallback and step % 16 == 0 and theta > -np.inf:
            n_surv = int(np.count_nonzero(bounds[desc[step:]] >= theta))
            if spend() + n_surv * work_per_bag > budget:
                return None
        ri, b = int(l_ridx[i]), int(l_bidx[i])
        r, pre, n, n_bags = rows_of[lead][ri]
        bc = bag_caches.setdefault(lead, {})
        key = (ri, b if n_bags > 1 else 0)
        if key not in bc:
            bc[key] = _decode_bag(r, b, pre, n, n_bags)
        cand, lead_tfs = bc[key]
        # per-term decoded VIEWS covering the candidates (the lead's
        # view is the bag itself); scoring + phrase intersect do their
        # own searchsorted into the views, so multi-generation
        # selective decodes need no alignment bookkeeping here
        if phrase:
            pc = pos_caches.setdefault(lead, {})
            if key not in pc:
                pc[key] = _decode_bag_positions(r, b, lead_tfs, n_bags)
            views = {lead: (cand, lead_tfs, pc[key], None)}
        else:
            views = {lead: (cand, lead_tfs, None, None)}
        for t in others:
            ids_t, tfs_t, pl_t, _ = _decode_term_selective(
                rows_by_term[t], cand, bag_caches.setdefault(t, {}),
                with_positions=phrase,
                pos_cache=(
                    pos_caches.setdefault(t, {}) if phrase else None
                ),
            )
            views[t] = (ids_t, tfs_t, pl_t, None)
            cand = cand[np.isin(cand, ids_t)]
            if cand.size == 0:
                break
        if cand.size == 0:
            continue
        if phrase:
            cand, _, _ = _phrase_intersect(views, terms_l, cand)
            if cand.size == 0:
                continue
        codes = codes_for(cand)
        scores = _bm25_scores(views, terms_l, cand, codes, idfs, cache, k1)
        ids_parts.append(cand)
        score_parts.append(scores)
        merged = np.concatenate((topk_buf, scores))
        if merged.size >= k:
            cut = np.partition(merged, merged.size - k)[merged.size - k:]
            topk_buf = cut
            theta = cut[0]
        else:
            topk_buf = merged
    if not ids_parts:
        return np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.float64)
    all_ids = np.concatenate(ids_parts)
    all_sc = np.concatenate(score_parts)
    order = np.lexsort((all_ids, -all_sc))[:k]
    return all_ids[order], all_sc[order]


def _bloom_prune(cand, decoded, terms_l, bloom_rows, rows_by_term,
                 bloom_cfg=None):
    """Phrase bloom pre-check (ref Q8): prune candidates whose blooms
    prove the adjacency impossible. No false negatives by construction,
    so this only prunes; the positional intersect stays the gate.
    Applied only when one bloom row pairs with one term row
    (single-generation indexes). Sided selection mirrors the reference
    (query_processing.h:796-807, bloom_enable_factor = 1): a 2-term
    phrase probes the SMALLER list's bloom — end bloom of t0 if
    |t0| <= |t1|, else begin bloom of t1; >2 terms fall back to the
    end-bloom chain (:784-793).

    Filters are sized bloom boxes (reference libbloom sizing + box
    layout; ``bloom_cfg`` carries bits/bytes/hashes from the index
    meta); a blob without the box magic is skipped, not probed."""
    from wiser_spark.functions.bloom import (
        BLOOM_BOX_MAGIC,
        bloom_boxes_decode,
        bloom_params,
        probe_rows,
        token_bloom_mask,
    )

    def prune(cnd, kind, term, probe_term):
        brows = bloom_rows.get((kind, term))
        if brows is None or len(brows) != 1 or len(rows_by_term[term]) != 1:
            return cnd
        n_post = int(brows[0]["df_shard"])
        blob = brows[0]["tfs_blob"]
        ids = decoded[term][0]
        if n_post != ids.size or len(blob) == 0 or blob[0] != BLOOM_BOX_MAGIC:
            return cnd
        at = np.searchsorted(ids, cnd)
        bp = bloom_cfg or bloom_params()
        blooms = bloom_boxes_decode(blob, n_post, bp.nbytes)
        return cnd[probe_rows(blooms[at], token_bloom_mask(probe_term, bp))]

    if len(terms_l) == 2:
        t0, t1 = terms_l
        if decoded[t0][0].size <= decoded[t1][0].size:
            return prune(cand, "end", t0, t1)
        return prune(cand, "begin", t1, t0)
    for i in range(len(terms_l) - 1):
        cand = prune(cand, "end", terms_l[i], terms_l[i + 1])
        if cand.size == 0:
            break
    return cand


def _phrase_intersect(decoded, terms_l, cand):
    """Fully vectorized adjusted-position intersect: one key per
    (candidate, position) as cand_idx * 2^32 + (pos - i + k_terms);
    phrase docs = docs surviving the k-way key intersection. Returns
    (cand_filtered, surviving_keys, cand_pre) — the keys feed snippet
    offset filtering. No per-candidate Python loop."""
    n_terms = len(terms_l)
    key_sets = []
    for i, t in enumerate(terms_l):
        ids, tfs, plists, _ = decoded[t]
        at = np.searchsorted(ids, cand)
        cand_tfs = tfs[at]
        pos_cat = (
            np.concatenate([plists[j] for j in at])
            if at.size
            else np.zeros(0, dtype=np.int64)
        )
        if pos_cat.size and int(pos_cat.max()) >= 2**31 - n_terms:
            # key packing safety: positions must fit 32 bits. A real
            # raise (not assert): PYTHONOPTIMIZE strips asserts and this
            # is a data-dependent invariant in the query kernel
            raise ValueError(
                f"token position {int(pos_cat.max())} overflows the "
                f"packed (owner<<32 | pos) phrase key"
            )
        owner = np.repeat(np.arange(cand.size, dtype=np.int64), cand_tfs)
        keys = (owner << np.int64(32)) | (pos_cat.astype(np.int64) - i + n_terms)
        key_sets.append(keys)
    key_sets.sort(key=lambda a: a.size)
    surv = key_sets[0]
    for ks in key_sets[1:]:
        surv = surv[np.isin(surv, ks)]
        if surv.size == 0:
            return surv[:0], surv, cand
    return cand[np.unique(surv >> np.int64(32))], surv, cand


def _winner_offsets(decoded, terms_l, winners, phrase_surv, cand_pre):
    """Matched offset pairs per term for the <= k shard-local winners
    only (per-doc Python over k docs — never over candidates):
    ExpandOffsets for term queries; FilterOffsetByPosition for phrases
    (reference query_processing.h:446-492). Returns one
    [per-term flat [s,e,...] list] per winner."""
    n_terms = len(terms_l)
    offs_col = []
    for doc in winners:
        per_term = []
        for i, t in enumerate(terms_l):
            ids, tfs, plists, olists = decoded[t]
            at = int(np.searchsorted(ids, doc))
            o = np.asarray(olists[at], dtype=np.int64)
            if o.size == 0:
                # index without stored offsets (positions-only builds):
                # emit no spans so the snippet layer falls back to
                # re-tokenization — also for phrase queries, which
                # would otherwise index into the empty span array
                per_term.append([])
                continue
            if phrase_surv is not None and n_terms > 1:
                ci = int(np.searchsorted(cand_pre, doc))
                mine = phrase_surv[(phrase_surv >> np.int64(32)) == ci]
                pos_i = np.unique(
                    (mine & np.int64(0xFFFFFFFF)) + i - n_terms
                )
                j = np.searchsorted(plists[at], pos_i)
                pairs = np.stack([o[2 * j], o[2 * j + 1]], axis=1).ravel()
                per_term.append(pairs.tolist())
            else:
                per_term.append(o.tolist())
        offs_col.append(per_term)
    return offs_col


def _doclen_code_fn(sentinel_rows):
    """Returns codes_for(cand) -> lossy doc-length byte per candidate,
    from the shard's sentinel rows (one per generation). The sentinel
    decode happens ONCE per shard, on first use — the block-max path
    calls this per decoded bag."""
    state: list = []

    def codes_for(cand):
        if not state:
            parts = [decode_doclen_sentinel(r) for r in sentinel_rows]
            parts.sort(key=lambda p: int(p[0][0]) if len(p[0]) else 0)
            state.append(np.concatenate([p[0] for p in parts]))
            state.append(np.concatenate([p[1] for p in parts]))
        sent_ids, sent_chars = state
        return sent_chars[np.searchsorted(sent_ids, cand)] & 0xFF

    return codes_for


def _bm25_scores(decoded, terms_l, cand, codes, idfs, cache, k1):
    scores = np.zeros(cand.size, dtype=np.float64)
    for t in terms_l:
        ids, tfs, _, _ = decoded[t]
        tf = tfs[np.searchsorted(ids, cand)].astype(np.float64)
        scores += idfs[t] * ((tf * (k1 + 1.0)) / (tf + cache[codes]))
    return scores


# ------------------------------------------------------------- compaction
def compact_segments(
    segments: DataFrame, bloom_nbytes: int | None = None
) -> DataFrame:
    """Merge multi-generation segment rows into ONE row per (shard,
    term) — the reference's qq->vacuum merge (B18,
    ``convert_qq_to_vacuum.cc:22-37``, which re-dumps through the
    build's dumper) and a Lucene segment merge. Generations' doc ranges
    are disjoint (docIDs append-only), so each shard's rows are decoded,
    concatenated per term in docID order and re-encoded in ONE call of
    the shared shard encoder (mapside.encode_postings).

    The shard's sentinel rows merge by docID concatenation and come
    first. Offsets survive only if every term row of the shard carries
    them. Each bloom SIDE merges by decoding its generations' boxes in
    the merged docID order, aligned on the ``generation`` column
    (streaming indexes partition by it); a term's side that
    cannot be aligned unambiguously is DROPPED, which is always
    result-neutral: blooms are pruning-only and queries skip the
    pre-check when the row is absent."""
    from wiser_spark.functions.bloom import (
        BLOOM_BOX_MAGIC,
        bloom_boxes_decode,
        bloom_params,
    )

    nbytes = bloom_nbytes or bloom_params().nbytes
    gen = F.col("generation") if "generation" in segments.columns else F.lit(0)
    segs = segments.select(
        "shard_id", "term", gen.cast("long").alias("gen"), "df_shard",
        "docids_blob", "tfs_blob", "pos_blob", "off_blob",
    )

    def merge_shard(
        batches: Iterator[pa.RecordBatch],
    ) -> Iterator[pa.RecordBatch]:
        from wiser_spark.operators.mapside import encode_postings

        rows = [r for rb in batches for r in rb.to_pylist()]
        shard_id = rows[0]["shard_id"]
        plain: dict[str, list] = {}
        sides: dict[str, dict] = {pref: {} for pref in BLOOM_PREFIXES}
        sentinels = []
        for r in rows:
            t = r["term"]
            if t == DOCLEN_TERM:
                sentinels.append(decode_doclen_sentinel(r))
            elif t[:1] in sides:
                sides[t[:1]].setdefault(t[1:], []).append(r)
            else:
                plain.setdefault(t, []).append(r)
        del rows
        if sentinels:
            # true lengths ride in pos_blob, so the merged Char4 bytes
            # re-derive exactly (the row builder re-sorts by docID)
            yield sentinel_batch(
                shard_id, np.concatenate([s[0] for s in sentinels]),
                np.concatenate([s[2] for s in sentinels]),
            )
        if not plain:  # orphan bloom rows (shouldn't happen): dropped
            return
        # offsets survive the merge only if EVERY generation carries
        # them (a mixed index can't produce a complete merged column)
        with_off = all(len(r["off_blob"]) for rs in plain.values() for r in rs)
        vocab = sorted(plain)
        ids, tfs, pos, offs, bounds = [], [], [], [], [0]
        blooms: dict[str, list] = {pref: [] for pref in BLOOM_PREFIXES}
        dropped = []  # bloom rows of the sides that cannot be aligned
        for base in vocab:
            parts = plain[base]
            for r in parts:
                r["ids"], r["tfs"], _ = decode_segment_row(r)
            parts.sort(key=lambda r: r["ids"][0])  # generations in docID order
            for r in parts:
                ids.append(r["ids"])
                tfs.append(r["tfs"])
                pos.append(_decode_runs(r["pos_blob"], r["tfs"]))
                if with_off:
                    offs.append(_decode_runs(r["off_blob"], 2 * r["tfs"]))
            bounds.append(bounds[-1] + sum(len(r["ids"]) for r in parts))
            gens = sorted(r["gen"] for r in parts)
            for pref, side in sides.items():
                brows = side.get(base, [])
                by_gen = {b["gen"]: b for b in brows}
                # aligned: one box-encoded bloom row per generation of
                # the term, as long as that generation's term row
                if sorted(by_gen) == sorted(b["gen"] for b in brows) == gens and all(
                    by_gen[r["gen"]]["tfs_blob"][:1] == bytes([BLOOM_BOX_MAGIC])
                    and by_gen[r["gen"]]["df_shard"] == len(r["ids"])
                    for r in parts
                ):
                    blooms[pref].append(np.concatenate([
                        bloom_boxes_decode(
                            by_gen[r["gen"]]["tfs_blob"], len(r["ids"]), nbytes
                        )
                        for r in parts
                    ]))
                else:  # drop: pruning-only, result-neutral
                    dropped.append(pref + base)
                    blooms[pref].append(
                        np.zeros((bounds[-1] - bounds[-2], nbytes), np.uint8)
                    )
        mats = None  # no bloom rows at all unless some side aligned
        if len(dropped) < len(BLOOM_PREFIXES) * len(vocab):
            mats = tuple(np.concatenate(blooms[pref]) for pref in BLOOM_PREFIXES)
        batches = encode_postings(
            shard_id, pa.array(vocab, pa.string()), np.array(bounds),
            np.concatenate(ids), np.concatenate(tfs),
            np.concatenate(pos), np.concatenate(offs) if with_off else None,
            mats,
        )
        del plain, sides, parts, ids, tfs, pos, offs, blooms, mats
        if not dropped:
            yield from batches
            return
        drop = pa.array(dropped, pa.string())
        for b in batches:
            yield b.filter(pc.invert(pc.is_in(b.column("term"), drop)))

    return segs.groupBy("shard_id").applyInArrow(merge_shard, SEGMENT_SCHEMA)


def require_sentinel_layout(meta: dict, index_dir: str) -> None:
    """Refuse an index whose doc lengths live outside its segment table
    (the removed v1 layout): no reader or merge handles it."""
    if not meta.get("doclen_sentinel"):
        raise ValueError(
            f"index at {index_dir!r} keeps doc lengths outside its "
            "segment table: it was written by a removed v1 writer "
            "and must be rebuilt"
        )


def compact_index(spark: SparkSession, index_dir: str, out_dir: str) -> None:
    """Compact a multi-generation index directory into a single-
    generation index at ``out_dir`` (segments merged per (shard, term)
    — including sentinel and bloom rows; dictionary / stats.json
    carried over). Queries over the compacted index are identical;
    per-term read cost drops to one row, and bloom pruning re-activates
    (multi-generation rows skip it)."""
    with open(f"{index_dir}/stats.json") as f:
        meta = json.load(f)
    require_sentinel_layout(meta, index_dir)
    # manifest-pinned read (read_segments lacks the generation column's
    # partition discovery only for non-generational dirs, where gen=0):
    # explicit paths + basePath keep `generation` available to the merge
    from wiser_spark.streaming.incremental import read_generations

    gens = read_generations(index_dir)
    if gens is None:
        segs = spark.read.parquet(f"{index_dir}/segments")
    elif not gens:
        # empty manifest (e.g. hand-repaired index): nothing to merge —
        # parquet(*[]) would raise an unable-to-infer-schema error
        segs = spark.createDataFrame(
            [], SEGMENT_SCHEMA + ", generation long"
        )
    else:
        base = f"{index_dir}/segments"
        segs = spark.read.option("basePath", base).parquet(
            *[f"{base}/generation={g}" for g in gens]
        )
    nbytes = (meta.get("bloom") or {}).get("nbytes")
    compact_segments(segs, nbytes).write.mode("overwrite").partitionBy(
        "shard_id"
    ).parquet(f"{out_dir}/segments")
    spark.read.parquet(f"{index_dir}/dictionary").write.mode(
        "overwrite"
    ).parquet(f"{out_dir}/dictionary")
    meta["compacted"] = True
    os.makedirs(out_dir, exist_ok=True)
    with open(f"{out_dir}/stats.json", "w") as f:
        json.dump(meta, f, indent=1)


# ------------------------------------------------------------------ read
def _decode_runs(blob, counts: np.ndarray) -> np.ndarray:
    """Decode a per-doc delta varint stream (pos_blob/off_blob layout):
    ``counts[i]`` values per run, delta reset at run starts. Returns the
    FLAT decoded values (split per run via counts by the caller)."""
    vals, _ = varint_decode(blob, count=int(counts.sum()))
    flat = np.cumsum(vals.astype(np.int64))
    ends = np.cumsum(counts)
    starts = ends - counts
    # undo the cross-run carry: subtract the running total before each run
    carry = np.zeros(len(flat), dtype=np.int64)
    carry[starts[1:]] = flat[ends[:-1] - 1]
    return flat - np.maximum.accumulate(carry)


def decode_segment_row(
    row: dict, with_positions: bool = False, with_offsets: bool = False
):
    """Segment row -> (doc_ids, tfs[, positions][, offsets]).

    positions: list of per-doc position arrays. offsets (returned only
    when with_offsets): list of per-doc flat [s,e,...] arrays, 2*tf
    values each."""
    n = int(row["df_shard"])
    doc_ids = delta_decode(decode_column(row["docids_blob"], n)).astype(np.int64)
    tfs = decode_column(row["tfs_blob"], n).astype(np.int64)
    positions = None
    if with_positions:
        flat = _decode_runs(row["pos_blob"], tfs)
        ends = np.cumsum(tfs)
        positions = [flat[e - t : e] for t, e in zip(tfs, ends)]
    if not with_offsets:
        return doc_ids, tfs, positions
    if len(row["off_blob"]) == 0:
        # index built without the offsets column (positions-only
        # builds): degrade to empty spans — the snippet path falls back
        # to re-tokenization
        offsets = [np.zeros(0, dtype=np.int64)] * n
    else:
        flat_off = _decode_runs(row["off_blob"], 2 * tfs)
        oends = np.cumsum(2 * tfs)
        offsets = [flat_off[e - 2 * t : e] for t, e in zip(tfs, oends)]
    return doc_ids, tfs, positions, offsets


def read_segments(spark: SparkSession, index_dir: str) -> DataFrame:
    """The segments table of an index dir, pinned to the LIVE
    generation set when a ``generations.json`` manifest exists (all
    streaming/batched writers publish one; the manifest flips with one
    atomic os.replace, so this read is consistent across a concurrent
    compaction swap). Non-generational indexes (write_index /
    write_index_mapside / compact_index outputs) and pre-manifest
    indexes read the directory as before.

    A PRE-MANIFEST index with a pending compaction journal (a legacy
    writer crashed mid-swap) has no consistent directory state to fall
    back on — silently listing it would drop the merged-away
    generations' documents. Those heal here through the lock-serialized
    ``recover_compaction`` (every journal application, including the
    writer's own live apply, goes through the same lock, so this cannot
    race it); if the journal survives (another process holds the lock
    right now), the read fails LOUDLY rather than returning silently
    incomplete results. Manifest-carrying indexes never take this path:
    their pre-flip manifest is already consistent."""
    from wiser_spark.streaming.incremental import (
        read_generations,
        recover_compaction,
    )

    base = f"{index_dir}/segments"
    gens = read_generations(index_dir)
    if gens is None and os.path.exists(f"{index_dir}/compaction.json"):
        recover_compaction(index_dir)
        gens = read_generations(index_dir)  # the apply may publish one
        if gens is None and os.path.exists(f"{index_dir}/compaction.json"):
            raise RuntimeError(
                f"index at {index_dir!r} has a pending compaction journal "
                "and no generations manifest (legacy torn swap), and "
                "another process holds compaction.lock — retry once its "
                "recovery completes (reading now would silently miss the "
                "merged-away generations)"
            )
    if gens is None:
        return spark.read.schema(SEGMENT_SCHEMA).parquet(base)
    if not gens:
        return empty_frame(spark, SEGMENT_SCHEMA)
    return (
        spark.read.option("basePath", base)
        .schema(SEGMENT_SCHEMA)
        .parquet(*[f"{base}/generation={g}" for g in gens])
    )


def _reply_schema(schema: str, return_snippets: bool, docs, doc_store_dir):
    """A search reply's schema, with the snippet column when asked for
    (which needs a content source)."""
    if not return_snippets:
        return schema
    if docs is None and doc_store_dir is None:
        raise ValueError(
            "return_snippets requires the docs table or a doc_store_dir"
        )
    return schema + ", snippet string"


class SegmentIndex:
    """Query engine over a written index directory."""

    def __init__(self, spark: SparkSession, index_dir: str,
                 scan_coalesce: int | None = None):
        """``scan_coalesce``: partition the segments scan to this many
        partitions (post-read, pre-cache); defaults to the session's
        defaultParallelism. The shard KERNEL still runs per shard group
        — correctness is untouched — but a big index otherwise scans
        one task per (shard, file) and an interactive single query then
        pays ~n_shards task schedulings for 10 rows (the round-4 3.4 s
        floor at 20M docs / 128 shards). Guideline: n_shards sizes
        SHUFFLE groups for the build (bounded by shard doc count),
        while scan parallelism for serving only needs ~the executor
        cores — set scan_coalesce to that when serving interactive
        single queries from a cached index.

        r06: the scan is hash-REPARTITIONED by shard_id (was: coalesce)
        so that a CACHED index pins a shard-clustered layout and every
        ``groupBy("shard_id").applyInPandas`` query reuses it with NO
        per-query Exchange (guide §2.4 — two operations keyed the same
        way share one exchange; cached plans keep their output
        partitioning because AQE leaves cached plans alone by default).
        Uncached reads are unchanged: the term filter still pushes
        below the repartition to the parquet scan, and the exchange the
        query pays is the one it always paid."""
        self.spark = spark
        self.index_dir = index_dir
        self.scan_coalesce = scan_coalesce
        with open(f"{index_dir}/stats.json") as f:
            self.meta = json.load(f)
        require_sentinel_layout(self.meta, index_dir)
        self.params = BM25Params(k1=self.meta["k1"], b=self.meta["b"])
        self.stats = CorpusStats(self.meta["n_docs"], self.meta["avgdl"])
        # explicit schemas keep a degenerate (empty-corpus) index
        # readable. Generational (streaming) indexes resolve the LIVE
        # generation set from the atomic manifest, NOT a directory
        # listing — a compaction swap is invisible until its single
        # manifest flip, so a reader of a crashed (torn) swap sees the
        # consistent pre-flip state with no recovery step; journal
        # application is writer-only (r04 advisory: a reader applying
        # the journal could race the writer's own application)
        self._scan_parts = (
            int(scan_coalesce)
            if scan_coalesce
            else spark.sparkContext.defaultParallelism
        )
        self.segments = read_segments(spark, index_dir).repartition(
            self._scan_parts, "shard_id"
        )
        # dictionary is the hot lookup table of every query (the
        # reference mmaps my.tip once) — cache it. bytes/prefetch_pages
        # are the reference's .tip prefetch-zone field analogue
        # (flash_engine_dumper.h:44-49); dictionaries written before the
        # field read as null (-> full decode, the conservative choice)
        self.dictionary = spark.read.schema(
            "term string, df int, bytes_docid_tf long, prefetch_pages int"
        ).parquet(f"{index_dir}/dictionary").cache()
        # sized-bloom geometry (bits/bytes/hashes); None when the index
        # has no phrase blooms
        from wiser_spark.functions.bloom import BloomParams

        b = self.meta.get("bloom")
        self.bloom_cfg = BloomParams(**b) if b else None
        self._dict_mem: dict[str, tuple[int, int | None]] | None = None
        self._dict_mem_tried = False
        # over-cap vocabularies: per-process memo of looked-up terms
        # (positive AND negative) — repeated lookups of a serving
        # process's working set cost zero Spark jobs (r06, VERDICT
        # item 7). Bounded by the distinct terms this process queries.
        self._dict_memo: dict[str, tuple[int, int | None] | None] = {}

    def close(self) -> None:
        """Release the cached frames this engine owns: the dictionary,
        and the segments when a caller cached them for serving."""
        self.dictionary.unpersist(blocking=False)
        if self.segments.is_cached:
            self.segments.unpersist(blocking=False)

    def __enter__(self) -> "SegmentIndex":
        return self

    def __exit__(self, *exc) -> None:
        self.close()

    # the reference mmaps the WHOLE .tip into the serving process once
    # (vacuum_engine.h:119-142). The analogue: when the vocabulary is
    # modest, pull (term -> (df, prefetch_pages)) to the driver ONCE —
    # every subsequent query's dictionary lookup (and every absent-term
    # early exit) then costs zero Spark jobs. The cap bounds DRIVER
    # memory, not correctness: ~150-200 bytes of PyObjects per entry
    # puts 200k terms around 30-40 MB — safe on a default-sized driver
    # (ADVICE r03; the old 2M cap could reach hundreds of MB). Past the
    # cap (10^12-file vocabularies) lookups stay distributed filters on
    # the cached dictionary DataFrame.
    DICT_DRIVER_CACHE_MAX = 200_000

    def _vocab_size(self) -> int:
        """Vocabulary size, from stats.json when the writer recorded it
        (every round-4+ writer does) — sizing the driver cache then
        costs zero Spark jobs; older indexes pay one count()."""
        n = self.meta.get("n_terms")
        return int(n) if n is not None else self.dictionary.count()

    def warmup(self) -> "SegmentIndex":
        """Build the driver dictionary cache (and materialize the
        cached dictionary DataFrame) OUTSIDE any query's timing — the
        reference pays its .tip mmap at engine load, not on the first
        query (vacuum_engine.h:119-142). Call once after __init__ in
        latency-sensitive serving; idempotent — including past the
        driver-cache cap, where the materialization job is memoized so
        a second warmup() costs zero Spark jobs (r04 item 6)."""
        if getattr(self, "_warmed", False):
            return self
        self._dict_lookup([])
        if self._dict_mem is None:
            # vocabulary over the driver-cache cap: lookups stay
            # distributed filters, so materialize the CACHED dictionary
            # DataFrame here instead — otherwise the first query pays
            # the parquet scan + cache fill this method exists to move
            self.dictionary.count()
        self._warmed = True
        return self

    def _dict_lookup(self, terms: list[str]) -> dict:
        """term -> (df, prefetch_pages) for the terms present."""
        if not self._dict_mem_tried:
            self._dict_mem_tried = True
            if self._vocab_size() <= self.DICT_DRIVER_CACHE_MAX:
                self._dict_mem = {
                    r["term"]: (int(r["df"]), r["prefetch_pages"])
                    for r in self.dictionary.collect()
                }
        if self._dict_mem is not None:
            return {t: self._dict_mem[t] for t in terms if t in self._dict_mem}
        if not terms:
            return {}
        # distributed lookup, memoized: only terms this process has
        # never asked about reach the Spark filter; absent terms are
        # memoized as None so repeated absent-term queries also cost
        # zero jobs
        missing = [t for t in terms if t not in self._dict_memo]
        if missing:
            rows = self.dictionary.filter(
                F.col("term").isin(missing)
            ).collect()
            found = {
                r["term"]: (int(r["df"]), r["prefetch_pages"]) for r in rows
            }
            for t in missing:
                self._dict_memo[t] = found.get(t)
        return {
            t: self._dict_memo[t]
            for t in terms
            if self._dict_memo.get(t) is not None
        }

    def term_prefix(self, prefix: str) -> DataFrame:
        """All dictionary terms with ``prefix`` and their dfs — the
        trie-backed term index's prefix seek (the reference's .tip is
        a hat-trie, ``vacuum_engine.h:119-142`` + vendored
        ``tsl/htrie``, whose prefix iteration the engine uses for
        dictionary walks). Serving reads the CACHED dictionary (an
        in-memory filter over vocabulary-sized rows); a cold read gets
        parquet min/max row-group pruning for free because the
        dictionary is written sorted by term — StringStartsWith pushes
        down to the scan (pinned by test_term_prefix_pushdown)."""
        if not prefix:
            raise ValueError("prefix must be non-empty")
        return self.dictionary.filter(
            F.col("term").startswith(prefix)
        ).select("term", "df")

    def doc_freqs(self, terms: list[str]) -> list[int]:
        """Global df per query term, 0 for absent terms — the reference's
        ``SearchResult.doc_freqs`` contract (``types.h:259-346``)."""
        m = self._dict_lookup(list(set(terms)))
        return [m[t][0] if t in m else 0 for t in terms]

    def _per_shard_topk(self, queries, k: int, offs_qids: frozenset = frozenset()):
        """The ONE shard-pass kernel behind both ``search`` and
        ``search_batch``: one scan + one Arrow stage answers every
        query in ``queries`` = [(query_id, terms, is_phrase)]. Each
        shard decodes every referenced term ONCE (shared across queries
        that reuse a term), conjuncts/bloom-prunes/phrase-intersects/
        scores per query, and emits <= k rows per (query, shard):
        (query_id, doc_id, score[, offs]).

        ``offs_qids``: query ids whose <= k shard winners also carry
        their MATCHED offset pairs per term — all occurrences for term
        queries, position-filtered for phrases (reference
        ``query_processing.h:446-492``) — the snippet feed. Offsets are
        read and decoded ONLY for those queries' terms.

        Returns None when no query can produce rows (empty/absent-term
        queries — AND semantics, reference qq_mem_engine.h:345-347)."""
        qlist = [
            (int(qid), [str(t) for t in terms], bool(ph) and len(terms) > 1)
            for qid, terms, ph in queries
            if terms
        ]
        if not qlist:
            return None
        all_terms = sorted({t for _, terms, _ in qlist for t in terms})
        looked = self._dict_lookup(all_terms)
        df_map = {t: v[0] for t, v in looked.items()}
        pages_map = {t: v[1] for t, v in looked.items()}
        # AND semantics: a query with any absent term is empty
        qlist = [q for q in qlist if all(t in df_map for t in q[1])]
        if not qlist:
            return None
        n_docs, avgdl = self.stats.n_docs, self.stats.avgdl
        idfs = {
            t: float(np.log(1.0 + (n_docs - df + 0.5) / (df + 0.5)))
            for t, df in df_map.items()
        }
        cache = tfnorm_cache(avgdl, self.params)
        k1 = self.params.k1
        # plain local: the UDF closure must not capture self (it drags
        # the SparkSession into pickle)
        bloom_cfg = self.bloom_cfg
        # positions are decoded ONLY for terms that appear in a phrase
        # query; offsets ONLY for snippet queries' terms — one long
        # phrase in a big log must not make every hot term's positional
        # stream decode
        pos_terms = {t for _, terms_l, ph in qlist if ph for t in terms_l}
        off_terms = {
            t for qid, terms_l, _ in qlist if qid in offs_qids for t in terms_l
        }
        need_pos, need_off = bool(pos_terms), bool(off_terms)
        # decode strategy per term, picked DRIVER-SIDE from the
        # dictionary's prefetch_pages field (B13/Q14 analogue): big,
        # single-use, docid+tf-only terms decode skip-based partially
        partial_set = partial_decode_terms(
            qlist, pages_map, pos_terms, off_terms
        )
        # phrase block-max eligibility (r04 item 2): a phrase TERM is
        # excluded from partial_set (its positions must decode), but
        # the phrase scorer decodes positions at BAG granularity for
        # surviving candidates only — so eligibility here ignores
        # pos_terms membership and keeps the size + no-offsets gates
        phrase_bm_set = {
            t
            for _, terms_l2, ph2 in qlist
            if ph2
            for t in terms_l2
            if t not in off_terms
            and (pages_map.get(t) or 0) >= PARTIAL_DECODE_MIN_PAGES
        }

        seg_cols = [
            "shard_id", "term", "df_shard", "docids_blob", "tfs_blob",
            "skip_predocs", "skip_docid_offs", "skip_tf_offs",
            "skip_max_tfs",
        ]
        if need_pos:
            seg_cols += ["pos_blob", "skip_pos_offs"]
        if need_off:
            seg_cols += ["off_blob", "skip_off_offs"]
        # the shard's sentinel rows, plus the phrase bloom rows
        # (pruning-only): end blooms for all but the last term, begin
        # blooms for all but the first (the sided 2-term choice needs
        # either available)
        wanted = set(all_terms) | {DOCLEN_TERM}
        for _, terms_l, ph in qlist:
            if ph:
                wanted.update(BLOOM_PREFIX + t for t in terms_l[:-1])
                wanted.update(BLOOM_BEGIN_PREFIX + t for t in terms_l[1:])
        seg = self.segments.filter(
            F.col("term").isin(sorted(wanted))
        ).select(*seg_cols)

        def shard_kernel(seg_pdf: pd.DataFrame) -> pd.DataFrame:
            rows_by_term, bloom_rows, sentinel_rows = _parse_shard_rows(seg_pdf)
            codes_for = _doclen_code_fn(sentinel_rows)
            # LAZY decode, shared across queries: a term decodes at most
            # once fully (at the richest level any query needs); terms
            # in partial_set instead decode only the bags that can hold
            # a candidate — through ONE per-term bag cache shared by
            # every query in the batch (each 128-posting bag decodes at
            # most once; shared rare terms cost the UNION of their
            # queries' candidate bags, not a full decode each)
            decoded: dict = {}
            bag_caches: dict[str, dict] = {}
            pos_bag_caches: dict[str, dict] = {}

            def get_full(t):
                if t not in decoded:
                    decoded[t] = _decode_terms(
                        rows_by_term, {t}, t in pos_terms, t in off_terms
                    )[t]
                return decoded[t]

            def get_partial(t, cand):
                bc = bag_caches.setdefault(t, {})
                nb = sum(
                    max(len(r["skip_predocs"]), 1) for r in rows_by_term[t]
                )
                if len(bc) > nb // 3:
                    # the cache already covers a third of the bags: one
                    # vectorized full decode beats more per-bag work
                    return get_full(t)
                return _decode_term_selective(rows_by_term[t], cand, bc)

            out_q: list[int] = []
            out_d: list[np.ndarray] = []
            out_s: list[np.ndarray] = []
            out_o: list[list] = []
            for qid, terms_l, ph in qlist:
                if any(t not in rows_by_term for t in terms_l):
                    continue  # empty in THIS shard
                # single-term block-max fast path: same eligibility as
                # partial decode (big, single-use, docid+tf-only term);
                # exact winners/scores, most bags never decoded
                if (
                    len(terms_l) == 1
                    and not ph
                    and terms_l[0] in partial_set
                    and terms_l[0] not in decoded
                ):
                    t0 = terms_l[0]
                    bm = _topk_blockmax_single(
                        rows_by_term[t0], k, idfs[t0], cache, k1, codes_for,
                        bag_cache=bag_caches.setdefault(t0, {}),
                    )
                    if bm is not None:
                        winners, wscores = bm
                        out_q.extend([qid] * winners.size)
                        out_d.append(winners)
                        out_s.append(wscores)
                        if need_off:
                            out_o.extend([None] * winners.size)
                        continue
                # conjunction block-max: lead bags scan in descending
                # combined-bound order, provably non-competitive bags
                # (and bags where some term can't overlap at all) are
                # never decoded; exact winners/scores/tie-order
                if (
                    len(terms_l) > 1
                    and not ph
                    and qid not in offs_qids
                    and all(
                        t in partial_set and t not in decoded
                        for t in set(terms_l)
                    )
                ):
                    bmc = _topk_blockmax_conj(
                        rows_by_term, terms_l, k, idfs, cache, k1,
                        codes_for, bag_caches,
                    )
                    if bmc is not None:
                        winners, wscores = bmc
                        if winners.size:
                            out_q.extend([qid] * winners.size)
                            out_d.append(winners)
                            out_s.append(wscores)
                            if need_off:
                                out_o.extend([None] * winners.size)
                        continue
                # phrase block-max (r04 item 2): the conjunction bound
                # is a true upper bound for phrase winners (phrase
                # score = plain BM25, the match only gates inclusion),
                # so the same lead-bag scan runs with a positional
                # check on surviving candidates — bags below θ never
                # decode ids, tfs, or positions
                if (
                    len(terms_l) > 1
                    and ph
                    and qid not in offs_qids
                    and all(
                        t in phrase_bm_set and t not in decoded
                        for t in set(terms_l)
                    )
                ):
                    bmp = _topk_blockmax_conj(
                        rows_by_term, terms_l, k, idfs, cache, k1,
                        codes_for, bag_caches, phrase=True,
                        pos_caches=pos_bag_caches,
                    )
                    if bmp is not None:
                        winners, wscores = bmp
                        if winners.size:
                            out_q.extend([qid] * winners.size)
                            out_d.append(winners)
                            out_s.append(wscores)
                            if need_off:
                                out_o.extend([None] * winners.size)
                        continue
                # smallest-first by shard df (zig-zag analogue) straight
                # from the segment rows — no decode needed to order
                tsorted = sorted(
                    set(terms_l),
                    key=lambda t: sum(
                        int(r["df_shard"]) for r in rows_by_term[t]
                    ),
                )
                qdec: dict = {}
                cand = None
                for t in tsorted:
                    if t in decoded or cand is None or t not in partial_set:
                        qdec[t] = get_full(t)
                    else:
                        qdec[t] = get_partial(t, cand)
                    ids = qdec[t][0]
                    cand = ids if cand is None else cand[np.isin(cand, ids)]
                    if cand.size == 0:
                        break
                if cand is None or cand.size == 0:
                    continue
                phrase_surv = None
                cand_pre = cand
                if ph:
                    cand = _bloom_prune(
                        cand, qdec, terms_l, bloom_rows, rows_by_term,
                        bloom_cfg,
                    )
                    if cand.size == 0:
                        continue
                    cand, phrase_surv, cand_pre = _phrase_intersect(
                        qdec, terms_l, cand
                    )
                    if cand.size == 0:
                        continue
                codes = codes_for(cand)
                scores = _bm25_scores(
                    qdec, terms_l, cand, codes, idfs, cache, k1
                )
                order = np.lexsort((cand, -scores))[:k]
                winners = cand[order]
                out_q.extend([qid] * len(order))
                out_d.append(winners)
                out_s.append(scores[order])
                if need_off:
                    out_o.extend(
                        _winner_offsets(
                            qdec, terms_l, winners, phrase_surv, cand_pre
                        )
                        if qid in offs_qids
                        else [None] * len(order)
                    )
            if not out_q:
                cols = {
                    "query_id": pd.Series(dtype="int32"),
                    "doc_id": pd.Series(dtype="int64"),
                    "score": pd.Series(dtype="float64"),
                }
                if need_off:
                    cols["offs"] = pd.Series(dtype="object")
                return pd.DataFrame(cols)
            out = {
                "query_id": np.asarray(out_q, dtype=np.int32),
                "doc_id": np.concatenate(out_d),
                "score": np.concatenate(out_s),
            }
            if need_off:
                out["offs"] = out_o
            return pd.DataFrame(out)

        shard_schema = "query_id int, doc_id long, score double"
        if need_off:
            shard_schema += ", offs array<array<long>>"
        return seg.groupBy("shard_id").applyInPandas(shard_kernel, shard_schema)

    def search(
        self,
        terms: list[str],
        k: int = 10,
        is_phrase: bool = False,
        return_snippets: bool = False,
        docs: DataFrame | None = None,
        n_passages: int = 3,
        content_col: str = "content",
        doc_store_dir: str | None = None,
    ) -> DataFrame:
        """Top-k (rank, doc_id, score) — a single-query run of the SAME
        shard kernel ``search_batch`` uses (one code path, one shard
        pass); the <= k rows per shard merge through a tiny global
        top-k (TakeOrderedAndProject).

        With ``return_snippets=True`` (requires ``docs`` = the content
        table) the result gains a ``snippet`` column: the shard kernel
        also emits each top doc's MATCHED offset pairs per term — all
        occurrences for term queries, position-filtered for phrases
        (reference ``query_processing.h:446-492``) — and the k result
        docs' content (broadcast join) is passage-scored with the
        reference's BM25-like highlighter (``highlighter.h:437-450``).

        ``doc_store_dir`` (alternative to ``docs``): the reference's
        serving flow — the <= k winner ids point-fetch their content
        from a chunked doc store written by ``write_doc_store``
        (extent min/max pruning, only the winners decompress;
        ``doc_store.h:277-362``) instead of joining the lake table."""
        out_schema = _reply_schema(
            "rank int, doc_id long, score double", return_snippets, docs,
            doc_store_dir,
        )
        per_shard = self._per_shard_topk(
            [(0, terms, is_phrase)], k,
            offs_qids=frozenset([0]) if return_snippets else frozenset(),
        )
        if per_shard is None:
            return empty_frame(self.spark, out_schema)
        top = per_shard.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
        from pyspark.sql import Window

        w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
        ranked = top.withColumn("rank", F.row_number().over(w))
        if not return_snippets:
            return ranked.select("rank", "doc_id", "score")

        return self._snippet_tail(
            ranked, [], {None: list(terms)}, out_schema, docs, content_col,
            doc_store_dir, n_passages,
        )

    def search_batch(
        self,
        queries: list[tuple[int, list[str], bool]],
        k: int = 10,
        return_snippets: bool = False,
        docs: DataFrame | None = None,
        n_passages: int = 3,
        content_col: str = "content",
        doc_store_dir: str | None = None,
    ) -> DataFrame:
        """Answer a WHOLE query log in ONE pass over the segment table:
        (query_id, rank, doc_id, score[, snippet]).

        The QPS path: one scan + one Arrow stage answers every query —
        the shared shard kernel (``_per_shard_topk``) decodes each
        referenced term once across all queries and emits <= k rows per
        (query, shard). The global merge is a window over <= k *
        n_shards rows per query. The reference serves a log through its
        processor dispatch loop (``query_processing.h:956-979``) one
        query at a time; batching is the Spark-native fan-in that
        amortizes scan and job cost.

        ``return_snippets`` adds the snippet column for EVERY query in
        the log (each winner's matched offset pairs ride out of the
        kernel, phrase queries position-filtered), with content from
        ``docs`` (lake table, broadcast join over <= k*|log| winner
        rows) or ``doc_store_dir`` (chunked-store point fetch of the
        distinct winner ids — the serving flow). A repeated query_id
        raises ValueError."""
        check_query_ids(queries)
        out_schema = _reply_schema(
            "query_id int, rank int, doc_id long, score double",
            return_snippets, docs, doc_store_dir,
        )
        offs_qids = (
            frozenset(int(q[0]) for q in queries)
            if return_snippets else frozenset()
        )
        # NOTE r06: a duplicate-shape dedup (answer each (terms,
        # is_phrase) shape once, fan out via a broadcast map — as
        # bm25_topk_batch does) was measured HERE and reverted: the
        # shard kernel already decodes each referenced term once across
        # the whole log, so dedup only trims the per-query numpy top-k
        # and the window input, while the extra mapping join costs more
        # on a first execution than it saves warm (0.88 -> 0.93-1.26 s
        # first-run at 50k docs; warm 0.71 -> 0.67).
        per_shard = self._per_shard_topk(queries, k, offs_qids=offs_qids)
        if per_shard is None:
            return empty_frame(self.spark, out_schema)
        from pyspark.sql import Window

        # <= k rows per (query, shard) reach this window — bounded input
        w = Window.partitionBy("query_id").orderBy(
            F.desc("score"), F.asc("doc_id")
        )
        ranked = per_shard.withColumn("rank", F.row_number().over(w)).filter(
            F.col("rank") <= k
        )
        if not return_snippets:
            return ranked.select("query_id", "rank", "doc_id", "score")

        terms_by_qid = {
            int(qid): [str(t) for t in terms] for qid, terms, _ in queries
        }
        return self._snippet_tail(
            ranked, ["query_id"], terms_by_qid, out_schema, docs,
            content_col, doc_store_dir, n_passages,
        )

    def _snippet_tail(
        self, ranked: DataFrame, qcols: list[str], terms_by_qid: dict,
        out_schema: str, docs: DataFrame | None, content_col: str,
        doc_store_dir: str | None, n_passages: int,
    ) -> DataFrame:
        """Snippets for the ranked winners of ``search`` (``qcols`` = [],
        its terms under key None) or ``search_batch`` (``qcols`` =
        ["query_id"]). Content comes from ``docs`` (broadcast join over
        the winner rows) or, in the serving flow, from a point fetch of
        the winner ids out of the chunked store at ``doc_store_dir``
        (a driver action over <= k ids per query, like the reference
        handing ids to its doc store)."""
        from wiser_spark.operators import docstore
        from wiser_spark.operators.highlight import snippet_from_stored_offsets

        ranked = ranked.localCheckpoint(eager=True)  # run topk once
        if docs is None:
            ids = ranked.select("doc_id")
            if qcols:
                ids = ids.distinct()  # one doc can win several queries
            docs = docstore.fetch_docs(
                self.spark, doc_store_dir, [int(r["doc_id"]) for r in ids.collect()]
            )
            content_col = "content"
        # LEFT-preserve the ranked winners: a winner whose content is
        # absent from the docs table / store (e.g. a doc added to a
        # live index after the store was written) keeps its entry with
        # an empty snippet instead of silently vanishing from the
        # reply. ranked and hits are <= k rows per query; checkpointing
        # them pins ONE shard-kernel run and ONE docs scan — the
        # anti-join below reuses the materialized rows instead of
        # recomputing the subtrees.
        hits = docs.select("doc_id", F.col(content_col).alias("content")).join(
            F.broadcast(ranked), "doc_id"
        ).localCheckpoint(eager=True)
        cols = [c.split()[0] for c in out_schema.split(", ")][:-1]

        def mk_snippets(batches):
            for pdf in batches:
                qids = pdf[qcols[0]].astype(int) if qcols else [None] * len(pdf)
                out = {c: pdf[c] for c in cols}
                out["snippet"] = [
                    snippet_from_stored_offsets(
                        c, [list(o) for o in offs], terms_by_qid[q], n_passages
                    )
                    for c, offs, q in zip(pdf["content"], pdf["offs"], qids)
                ]
                yield pd.DataFrame(out)

        snipped = hits.mapInPandas(mk_snippets, out_schema)
        keys = [*qcols, "doc_id"]
        missing = ranked.join(
            F.broadcast(hits.select(*keys)), keys, "left_anti"
        ).select(*cols, F.lit("").alias("snippet"))
        return snipped.unionByName(missing).orderBy(*qcols, "rank")
