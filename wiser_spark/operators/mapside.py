"""Map-side (zero-shuffle) index build — the scale path.

The groupBy-based build (segments.build_segments) shuffles every posting
row to its (shard) reducer: ~10^9 rows per TB. But a document's postings
are a pure function of the document, and intersection only needs all
terms of a doc to land in the SAME shard — so let the shard BE the input
partition: each task tokenizes its documents, groups postings per term
locally, and emits fully-encoded segment rows. NO posting ever crosses
the wire (the Lucene/Elasticsearch document-partitioned segment model).

Doc lengths ride along as one SENTINEL row per shard (term = "" — the
tokenizer can never emit an empty term): docIDs in docids_blob, lossy
Char4 bytes in tfs_blob, true lengths varint'd in pos_blob (for global
avgdl). Queries then need ONLY the segment table; global df comes from
summing df_shard per term (a vocabulary-sized aggregate, the one tiny
shuffle of the whole build).

Equivalent to the reference's AddDocument loop (qq_mem_engine.h:298-305)
run per-partition instead of per-process; differential tests pin the
results to the shuffle-based path and the oracle.

``encode_postings`` is THE shard encoder: every writer turns a shard's
postings into segment rows through it — ``encode_doc_batches`` below
after tokenizing, segments.build_segments (write_index,
IndexBuildPipeline) after sorting each shard's postings, and
segments.compact_segments (compact_index, the streaming sink) after
decoding each shard's generations, as the reference's qq->vacuum merge
re-dumps through its one dumper (``flash_engine_dumper.h:557-582``).

MEMORY CONTRACT of the map-side encode (``encode_doc_batches``): it
builds no Python object per term or per row. Every column is a flat
buffer plus offsets, handed to Arrow zero-copy, and only the few
df >= 128 terms take a per-term path. Its peak therefore follows the
shard's token count (a fixed number of numpy arrays per occurrence)
plus its output bytes, and the output leaves in batches of at most
OUT_BATCH_ROWS rows and about OUT_BATCH_BYTES bytes (pinned by
test_mapside's high-water-mark test).
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from wiser_spark.config import PACK_SIZE, IndexConfig
from wiser_spark.operators.segments import (
    BLOOM_PREFIXES,
    DOCLEN_TERM,
    SEGMENT_ARROW_SCHEMA,
    SEGMENT_SCHEMA,
    _delta_varint_stream,
    _encode_term_flat,
    await_all,
    bloom_row,
    decode_doclen_sentinel,
    sentinel_batch,
)

# The shard encoder's output batches hold at most this many rows and
# about this many payload bytes (whole terms only), so a shard of any
# size streams out in bounded pieces and no binary column comes near
# its int32 offset limit.
OUT_BATCH_ROWS = 1 << 15
OUT_BATCH_BYTES = 8 << 20


def build_segments_mapside(
    docs: DataFrame,
    n_shards: int | None = None,
    content_col: str = "content",
    reuse_partitions: bool = False,
    with_blooms: bool = True,
    bloom_cfg=None,
) -> DataFrame:
    """docs (doc_id, content) -> segment rows + one sentinel per shard.

    ``bloom_cfg`` (a BloomParams) pins the bloom sizing AND hash
    family — a sink appending generations to an EXISTING index must
    pass the index's recorded params or the new generations' masks
    would not match the probe side (None = current defaults, right for
    fresh builds).

    With ``reuse_partitions=True`` the INPUT partitioning is the
    sharding (shard correctness only needs each doc's postings in one
    shard — any doc-disjoint partitioning qualifies; contiguous ranges
    are not required), so the whole build has ZERO shuffles: parquet
    splits -> tokenize+encode -> write. Otherwise an explicit
    repartitionByRange(n_shards) pays one shuffle for contiguous ranges.
    """
    sel = docs.select("doc_id", content_col)
    if reuse_partitions:
        parted = sel
    else:
        if not n_shards:
            raise ValueError("n_shards required when not reusing partitions")
        parted = sel.repartitionByRange(n_shards, "doc_id")
    # JVM in-partition sort (no shuffle): the token stream then arrives
    # doc-ascending, so the encoder needs ONE stable key sort (term code)
    # instead of a 3-key lexsort — fewer memory passes per partition
    parted = parted.sortWithinPartitions("doc_id")

    def encode_partition(arrow_batches) -> Iterator[pa.RecordBatch]:
        from pyspark import TaskContext

        yield from encode_doc_batches(
            arrow_batches, TaskContext.get().partitionId(),
            content_col, with_blooms, bloom_cfg,
        )

    return parted.mapInArrow(encode_partition, SEGMENT_SCHEMA)


def encode_doc_batches(
    arrow_batches, shard_id: int, content_col: str, with_blooms: bool,
    bloom_cfg=None,
) -> Iterator[pa.RecordBatch]:
    """One shard's Arrow batches -> segment-row Arrow batches (sentinel
    last): tokenize, sort the occurrences into postings, then hand them
    to ``encode_postings``. Module-level (not a closure) so it can be
    profiled/driven without a Spark task."""
    from wiser_spark.config import TOKEN_SPLIT_REGEX

    # the ENTIRE tokenize+flatten+dictionary-encode pipeline runs in
    # Arrow C++ — no Python string objects exist in the hot path
    # (the earlier pandas/.findall variant was memory-bandwidth
    # bound on PyObject churn and capped multi-core scaling)
    from wiser_spark.functions.tokenize import token_spans_batch

    code_chunks, doc_chunks, pos_chunks = [], [], []
    start_chunks, end_chunks = [], []
    id_chunks, len_chunks = [], []
    vocab_chunks = []
    for rb in arrow_batches:
        ids_arr = rb.column(rb.schema.get_field_index("doc_id"))
        content = rb.column(rb.schema.get_field_index(content_col))
        ids = ids_arr.to_numpy(zero_copy_only=False).astype(np.int64)
        low = pc.utf8_lower(content)
        toks = pc.split_pattern_regex(low, pattern=TOKEN_SPLIT_REGEX)
        counts_raw = pc.list_value_length(toks).to_numpy(
            zero_copy_only=False
        ).astype(np.int64)
        flat = pc.list_flatten(toks)
        keep = pc.not_equal(flat, "")
        keep_np = keep.to_numpy(zero_copy_only=False)
        flat_kept = pc.filter(flat, keep)
        # per-doc token counts after dropping the empty split chunks
        ends_raw = np.cumsum(counts_raw)
        kept_cum = np.concatenate(([0], np.cumsum(keep_np)))
        counts = kept_cum[ends_raw] - kept_cum[ends_raw - counts_raw]
        total = int(counts.sum())
        # dictionary-encode kept tokens (C++ hash); codes local to batch
        denc = pc.dictionary_encode(flat_kept)
        if isinstance(denc, pa.ChunkedArray):
            denc = denc.combine_chunks()
        codes_local = denc.indices.to_numpy(zero_copy_only=False).astype(
            np.int64
        )
        vocab_chunks.append(denc.dictionary)
        code_chunks.append(codes_local)
        doc_chunks.append(np.repeat(ids, counts))
        ends = np.cumsum(counts)
        pos_chunks.append(
            np.arange(total, dtype=np.int64) - np.repeat(ends - counts, counts)
        )
        # byte spans of the SAME token stream (offsets column):
        # maximal [a-z0-9_] runs == non-empty split pieces, asserted
        sp_counts, sp_starts, sp_ends = token_spans_batch(low)
        assert sp_starts.size == total and np.array_equal(
            sp_counts, counts
        ), "token spans misaligned with split tokens"
        start_chunks.append(sp_starts)
        end_chunks.append(sp_ends)
        id_chunks.append(ids)
        # reference BodyLength(): non-empty ' '-split chunks (B3)
        len_chunks.append(
            pc.count_substring_regex(content, "[^ ]+")
            .to_numpy(zero_copy_only=False)
            .astype(np.int64)
        )
    if not id_chunks or sum(len(c) for c in id_chunks) == 0:
        return
    sentinel = sentinel_batch(
        shard_id, np.concatenate(id_chunks), np.concatenate(len_chunks)
    )
    del id_chunks, len_chunks
    # unify per-batch dictionaries into one partition vocabulary
    offsets = np.zeros(len(vocab_chunks), dtype=np.int64)
    sizes = np.array([len(v) for v in vocab_chunks], dtype=np.int64)
    offsets[1:] = np.cumsum(sizes)[:-1]
    all_vocab = pa.concat_arrays(
        [v.cast(pa.string()) for v in vocab_chunks]
    )
    del vocab_chunks
    # global codes: re-encode the concatenated vocab, map local->global
    genc = pc.dictionary_encode(all_vocab)
    if isinstance(genc, pa.ChunkedArray):
        genc = genc.combine_chunks()
    del all_vocab
    local_to_global = genc.indices.to_numpy(zero_copy_only=False).astype(
        np.int64
    )
    # sort the vocabulary so segment rows come out in term order — in
    # Arrow C++ (UTF-8 byte order == code-point order, identical to a
    # Python-string sort). Every vocabulary entry occurs, so term t of
    # the shard is vocab[t]: the term column is this array, sliced
    sort_perm = pc.sort_indices(genc.dictionary)
    vocab = genc.dictionary.take(sort_perm)
    rank_of = np.empty(len(sort_perm), dtype=np.int64)
    rank_of[sort_perm.to_numpy(zero_copy_only=False)] = np.arange(
        len(sort_perm)
    )
    del genc, sort_perm
    codes = np.concatenate(
        [
            rank_of[local_to_global[offsets[i] + code_chunks[i]]]
            for i in range(len(code_chunks))
        ]
    )
    del code_chunks, local_to_global, rank_of
    docs_rep = np.concatenate(doc_chunks)
    pos_all = np.concatenate(pos_chunks)
    starts_all = np.concatenate(start_chunks)
    ends_all = np.concatenate(end_chunks)
    del doc_chunks, pos_chunks, start_chunks, end_chunks
    if codes.size == 0:  # docs exist but none tokenized to anything
        yield sentinel
        return
    if with_blooms:
        # next/previous-token code per occurrence (stream is
        # doc-contiguous): feeds the per-posting end/begin blooms
        # (phrase pruning, ref B15/Q8)
        nxt = np.full(codes.size, -1, dtype=np.int64)
        prv = np.full(codes.size, -1, dtype=np.int64)
        same_doc = docs_rep[1:] == docs_rep[:-1]
        nxt[:-1][same_doc] = codes[1:][same_doc]
        prv[1:][same_doc] = codes[:-1][same_doc]
        del same_doc
    # input stream is doc-ascending with in-doc position order, so a
    # single STABLE sort on the term code yields (term, doc, pos)
    order = np.argsort(codes, kind="stable")
    c = codes[order]
    del codes
    d = docs_rep[order]
    del docs_rep
    # posting boundaries: change of (term, doc)
    new_posting = np.empty(len(c), dtype=bool)
    new_posting[0] = True
    np.logical_or(np.diff(c) != 0, np.diff(d) != 0, out=new_posting[1:])
    posting_of = np.cumsum(new_posting) - 1
    tfs_all = np.bincount(posting_of).astype(np.int64)
    del posting_of
    posting_doc = d[new_posting]
    posting_code = c[new_posting]
    del c, d
    # term boundaries over postings
    term_bounds = np.append(
        np.flatnonzero(
            np.diff(posting_code, prepend=posting_code[0] - 1) != 0
        ),
        len(posting_code),
    )
    del posting_code
    # per-posting end blooms: OR the next-token masks per posting.
    # SIZED filters (reference libbloom defaults entries=5 ratio=0.001
    # -> 71 bits / 9 bytes / k=10 per posting): one md5 per UNIQUE term
    # builds the (V, nbytes) mask table; per-occurrence rows are then a
    # fancy-index + one reduceat — no per-occurrence hashing
    blooms = None
    if with_blooms:
        from wiser_spark.functions.bloom import (
            bloom_params,
            fold_occurrence_bloom_rows,
            vocab_bloom_matrix,
        )

        bp = bloom_cfg or bloom_params()
        # row V is an all-zero mask: occurrences with no neighbor
        # (nxt/prv == -1) gather it — one fancy index, no multiply pass
        vm_ext = np.vstack(
            [vocab_bloom_matrix(vocab, bp),
             np.zeros((1, bp.nbytes), dtype=np.uint8)]
        )
        p_starts_idx = np.flatnonzero(new_posting)

        def fold(neighbor):
            sorted_nb = neighbor[order]
            return fold_occurrence_bloom_rows(
                vm_ext[np.where(sorted_nb >= 0, sorted_nb, len(vocab))],
                p_starts_idx,
            )

        # begin blooms: same fold over the PRECEDING-token masks
        # (reference builds both sides, bloom_filter.h:595-646)
        blooms_end = fold(nxt)
        del nxt
        blooms = (blooms_end, fold(prv))
        del blooms_end, prv, vm_ext, p_starts_idx
    del new_posting
    p = pos_all[order]
    del pos_all
    off_flat = np.empty(2 * p.size, dtype=np.int64)
    off_flat[0::2] = starts_all[order]
    del starts_all
    off_flat[1::2] = ends_all[order]
    del ends_all, order
    # the encoder holds the only references from here on, so it frees
    # each input as soon as it is consumed
    batches = encode_postings(
        shard_id, vocab, term_bounds, posting_doc, tfs_all, p, off_flat,
        blooms,
    )
    del vocab, term_bounds, posting_doc, tfs_all, p, off_flat, blooms
    yield from batches
    yield sentinel


def encode_postings(
    shard_id: int,
    vocab: pa.Array,
    term_bounds: np.ndarray,
    posting_doc: np.ndarray,
    tfs_all: np.ndarray,
    p: np.ndarray | None,
    off_flat: np.ndarray | None,
    blooms: tuple[np.ndarray, np.ndarray] | None,
) -> Iterator[pa.RecordBatch]:
    """THE shard encoder: one shard's postings -> its term and bloom
    rows, in Arrow batches of at most OUT_BATCH_ROWS rows and about
    OUT_BATCH_BYTES bytes; the caller adds the sentinel row.

    Term t = ``vocab[t]`` (ascending) owns postings [term_bounds[t],
    term_bounds[t+1]), doc-ascending. ``p`` holds the flat positions
    (tf per posting), ``off_flat`` the flat [s,e,...] pairs (2*tf per
    posting); None writes b"" blobs and empty skip lists. ``blooms`` is
    the per-posting (end, begin) filter matrices, or None for no bloom
    rows.

    Vocabulary-batched: almost every term of a code shard has df <
    PACK_SIZE (varint tail only), so each column is built for ALL
    terms at once as one flat buffer plus per-term byte offsets (one
    delta+varint pass per stream, tail and bloom boxes spliced in one
    vectorized pass, position/offset blobs as zero-copy slices). Only
    df >= PACK_SIZE terms take the framed per-term path. Rows are
    BYTE-IDENTICAL to _encode_term_flat / bloom_row, in term order,
    each term row followed by its end- then begin-bloom row."""
    from wiser_spark.functions.packing import varint_tail_boxes
    from wiser_spark.functions.varint import varint_encode_with_lengths

    schema = SEGMENT_ARROW_SCHEMA
    term_lo, term_hi = term_bounds[:-1], term_bounds[1:]
    n_terms = len(term_lo)
    if n_terms == 0:
        return
    df = term_hi - term_lo
    has_pos, has_off = p is not None, off_flat is not None
    R = 1 if blooms is None else 3  # output rows per term
    pos_starts = np.cumsum(tfs_all) - tfs_all
    occ_bounds = np.concatenate(([0], np.cumsum(tfs_all)))[term_bounds]

    def term_stream(vals, run_starts, value_bounds):
        # same encode _encode_term_flat uses (single source of truth
        # for the byte-identity guarantee) -> (uint8 stream, per-term
        # byte bounds); an absent stream is all-empty
        if vals is None:
            return np.zeros(0, np.uint8), np.zeros(n_terms + 1, np.int64)
        blob, val_offs = _delta_varint_stream(vals, run_starts)
        val_offs = np.append(val_offs, len(blob))
        return np.frombuffer(blob, dtype=np.uint8), val_offs[value_bounds]

    def tail_boxes(stream, bounds, rows):
        return _spread(
            varint_tail_boxes(stream, bounds[rows], bounds[rows + 1]),
            rows, n_terms,
        )

    tail = np.flatnonzero(df < PACK_SIZE)
    framed = np.flatnonzero(df >= PACK_SIZE)
    docid_stream, docid_bounds = term_stream(posting_doc, term_lo, term_bounds)
    docids = tail_boxes(docid_stream, docid_bounds, tail)
    del docid_stream
    tf_blob, tf_lens = varint_encode_with_lengths(tfs_all)
    tf_bounds = np.concatenate(([0], np.cumsum(tf_lens)))[term_bounds]
    tfs = tail_boxes(np.frombuffer(tf_blob, dtype=np.uint8), tf_bounds, tail)
    del tf_blob, tf_lens
    pos = term_stream(p, pos_starts, occ_bounds)
    offs = term_stream(off_flat, 2 * pos_starts, 2 * occ_bounds)
    max_tf = np.maximum.reduceat(tfs_all, term_lo)
    # per-term rows of the framed path, keyed by term index: the base
    # row, then (multi-box terms only) the end- and begin-bloom rows
    framed_rows: dict[int, list[dict]] = {}
    for t in framed.tolist():
        lo, hi = int(term_lo[t]), int(term_hi[t])
        o_lo, o_hi = int(occ_bounds[t]), int(occ_bounds[t + 1])
        term = vocab[t].as_py()
        rows = [_encode_term_flat(
            shard_id, term, posting_doc[lo:hi], tfs_all[lo:hi],
            p[o_lo:o_hi] if has_pos else None,
            off_flat[2 * o_lo:2 * o_hi] if has_off else None,
        )]
        if R == 3 and hi - lo > PACK_SIZE:
            rows += [
                bloom_row(shard_id, term, side[lo:hi], prefix=pref)
                for pref, side in zip(BLOOM_PREFIXES, blooms)
            ]
        framed_rows[t] = rows
    del posting_doc, tfs_all, p, off_flat, pos_starts
    blobs = [docids, tfs, pos, offs]
    if R == 3:
        from wiser_spark.functions.bloom import bloom_boxes_encode_ranges

        one_box = np.flatnonzero(df <= PACK_SIZE)
        bloom_boxes = [
            _spread(
                bloom_boxes_encode_ranges(
                    side, term_lo[one_box], term_hi[one_box]
                ),
                one_box, n_terms,
            )
            for side in blooms
        ]
        blobs += bloom_boxes
        del blooms
    # output batches: whole terms, bounded by rows and by payload bytes
    term_bytes = sum(np.diff(b[1]) for b in blobs)
    for t, rows in framed_rows.items():
        term_bytes[t] += sum(
            len(r["docids_blob"]) + len(r["tfs_blob"]) for r in rows
        )
    cum = np.concatenate(([0], np.cumsum(term_bytes)))
    del term_bytes
    t0 = 0
    while t0 < n_terms:
        fit = int(np.searchsorted(cum, cum[t0] + OUT_BATCH_BYTES, "right"))
        t1 = min(n_terms, t0 + OUT_BATCH_ROWS // R, max(t0 + 1, fit - 1))
        m = t1 - t0
        terms = vocab.slice(t0, m)
        consts = {
            "shard_id": pa.array(np.full(m, shard_id, dtype=np.int32)),
            "df_shard": pa.array(df[t0:t1].astype(np.int32)),
        }
        zero = _lists(np.arange(m + 1), np.zeros(m, dtype=np.int64))
        empty_list = _lists(np.zeros(m + 1), np.zeros(0, np.int64))
        parts = [_batch(schema, {
            **consts,
            "term": terms,
            "docids_blob": _binary(docids, t0, t1),
            "tfs_blob": _binary(tfs, t0, t1),
            "pos_blob": _binary(pos, t0, t1),
            "off_blob": _binary(offs, t0, t1),
            "skip_predocs": zero, "skip_docid_offs": zero,
            "skip_tf_offs": zero,
            "skip_pos_offs": zero if has_pos else empty_list,
            "skip_off_offs": zero if has_off else empty_list,
            "skip_max_tfs": _lists(np.arange(m + 1), max_tf[t0:t1]),
        })]
        if R == 3:
            empty_bin = _binary(
                (np.zeros(0, np.uint8), np.zeros(m + 1, np.int64)), 0, m
            )
            for pref, boxes in zip(BLOOM_PREFIXES, bloom_boxes):
                parts.append(_batch(schema, {
                    **consts,
                    "term": pc.binary_join_element_wise(pref, terms, ""),
                    "tfs_blob": _binary(boxes, t0, t1),
                    "skip_tf_offs": zero,
                    **dict.fromkeys(("docids_blob", "pos_blob", "off_blob"),
                                    empty_bin),
                    **dict.fromkeys(("skip_predocs", "skip_docid_offs",
                                     "skip_pos_offs", "skip_off_offs",
                                     "skip_max_tfs"), empty_list),
                }))
        # row u*R + j of the output is term t0+u's base (j=0) or bloom
        # row: part j's row u, or its framed-path row where one exists
        perm = (np.arange(R) * m + np.arange(m)[:, None]).astype(np.int64)
        spliced = []
        for t in framed[(framed >= t0) & (framed < t1)].tolist():
            rows = framed_rows.pop(t)
            perm[t - t0, :len(rows)] = R * m + len(spliced) + np.arange(
                len(rows)
            )
            spliced += rows
        if spliced:
            parts.append(pa.RecordBatch.from_pylist(spliced, schema=schema))
        perm = pa.array(perm.reshape(-1))
        yield pa.RecordBatch.from_arrays(
            [
                pa.concat_arrays([b.column(i) for b in parts]).take(perm)
                for i in range(len(schema))
            ],
            schema=schema,
        )
        t0 = t1



def _spread(boxes, rows: np.ndarray, n: int):
    """(buffer, offsets) of values for ``rows`` -> (buffer, offsets)
    over all ``n`` rows, the others empty."""
    buf, offs = boxes
    lens = np.zeros(n, dtype=np.int64)
    lens[rows] = np.diff(offs)
    full = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lens, out=full[1:])
    return buf, full


def _binary(blob, t0: int, t1: int) -> pa.Array:
    """Rows [t0, t1) of a (uint8 buffer, int64 offsets) column as a
    BinaryArray over the same memory (zero-copy)."""
    buf, offs = blob
    o = offs[t0:t1 + 1]
    if o[-1] - o[0] > np.iinfo(np.int32).max:
        raise OverflowError("segment rows exceed a binary column's 2 GiB")
    return pa.Array.from_buffers(
        pa.binary(), t1 - t0,
        [None, pa.py_buffer((o - o[0]).astype(np.int32)),
         pa.py_buffer(buf[o[0]:o[-1]])],
    )


def _lists(offsets: np.ndarray, values: np.ndarray) -> pa.Array:
    return pa.ListArray.from_arrays(
        pa.array(offsets.astype(np.int32)), pa.array(values)
    )


def _batch(schema, cols: dict) -> pa.RecordBatch:
    return pa.RecordBatch.from_arrays(
        [cols[f.name] for f in schema], schema=schema
    )


def write_index_mapside(
    docs: DataFrame,
    index_dir: str,
    config: IndexConfig | None = None,
    content_col: str = "content",
    reuse_partitions: bool = False,
    with_blooms: bool = True,
) -> None:
    """Full index build with ONE pass over the documents:
    segments (map-side) -> dictionary (vocab-sized agg over segment
    rows) -> global stats (decoded from the sentinel rows)."""
    config = config or IndexConfig()
    spark = docs.sparkSession
    segs = build_segments_mapside(
        docs, config.n_shards, content_col,
        reuse_partitions=reuse_partitions, with_blooms=with_blooms,
    )
    segs.write.mode("overwrite").partitionBy("shard_id").parquet(
        f"{index_dir}/segments"
    )
    # explicit schema: a DEGENERATE (empty) corpus writes no part files,
    # which would fail schema inference — the index stays readable
    written = spark.read.schema(SEGMENT_SCHEMA).parquet(f"{index_dir}/segments")
    # dictionary = (term, df, bytes_docid_tf, prefetch_pages): the
    # bytes/pages pair is the reference's .tip prefetch-zone field
    # (flash_engine_dumper.h:44-49) — queries pick full vs skip-based
    # partial decode with it (segments.partial_decode_terms)
    from wiser_spark.operators.segments import dictionary_from_segments

    # r06: the post-write bookkeeping jobs (dictionary agg+write,
    # sentinel stats scan, max-shard probe) are independent scans of
    # the just-written parquet — submit them from driver threads so
    # they overlap (guide §2.6), and fold the vocabulary count into
    # the dictionary write via an Observation instead of a follow-up
    # count() job.
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql import Observation

    obs = Observation()
    dict_df = dictionary_from_segments(written).observe(
        obs, F.count(F.lit(1)).alias("n_terms")
    )
    # global N and avgdl from the sentinels (no second scan of the docs)
    sent = written.filter(F.col("term") == DOCLEN_TERM)

    def stats_of(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ns, sums = [], []
            for _, row in pdf.iterrows():
                _, _, lens = decode_doclen_sentinel(row)
                ns.append(len(lens))
                sums.append(int(lens.sum()))
            yield pd.DataFrame({"n": ns, "s": sums})

    with ThreadPoolExecutor(max_workers=3) as pool:
        futures = [
            pool.submit(
                lambda: dict_df.write.mode("overwrite").parquet(
                    f"{index_dir}/dictionary"
                )
            ),
            pool.submit(
                lambda: sent.mapInPandas(stats_of, "n long, s long")
                .agg(F.sum("n").alias("n"), F.sum("s").alias("s"))
                .collect()[0]
            ),
        ]
        if reuse_partitions:
            futures.append(pool.submit(
                lambda: int(
                    written.agg(F.max("shard_id")).collect()[0][0] or 0
                )
                + 1
            ))
        _, agg, *max_shard = await_all(futures)
    n_shards_actual = max_shard[0] if max_shard else config.n_shards
    n_docs = int(agg["n"] or 0)
    avgdl = float(agg["s"]) / n_docs if n_docs else 1.0
    meta = {
        "n_docs": n_docs, "avgdl": avgdl,
        # vocabulary size in the metadata lets readers size the driver
        # dictionary cache with zero Spark jobs
        "n_terms": int(obs.get["n_terms"]),
        "n_shards": n_shards_actual,
        "k1": config.bm25.k1, "b": config.bm25.b,
        "format": "wiser-spark-segment-v2-mapside",
        "doclen_sentinel": True,
    }
    if with_blooms:
        from wiser_spark.functions.bloom import bloom_params

        meta["bloom"] = bloom_params()._asdict()
    os.makedirs(index_dir, exist_ok=True)
    with open(f"{index_dir}/stats.json", "w") as f:
        json.dump(meta, f, indent=1)
