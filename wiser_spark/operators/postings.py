"""Index build path: docID assignment, postings, dictionary.

All declarative DataFrame ops — tokenization is a JVM regexp expression
(whole-stage codegen), postings come from ``posexplode`` + ``groupBy``.
The reference does this single-threaded per document
(``qq_mem_engine.h:194-215``); here it is a map + one shuffle on
(term, doc_id), the natural distributed formulation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from wiser_spark.functions.tokenize import tokens_col

DEFAULT_ORDER = ("repo", "path", "commit")


def assign_doc_ids(
    df: DataFrame,
    order_cols=DEFAULT_ORDER,
    n_partitions: int | None = None,
) -> DataFrame:
    """Dense, deterministic docIDs: global rank over a total order.

    Mirrors the reference's sequential ``NextDocId``
    (``qq_mem_engine.h:444-446``) with a deterministic total order on
    ``order_cols`` so ranks are reproducible under any parallelism.

    SCALE NOTE: a bare ``row_number() over (order by ...)`` collapses to a
    single partition. Instead: range-repartition + local sort (a normal
    distributed sort), count rows per partition (one tiny action), then
    add the per-partition base offset to a partition-local row_number —
    every step is parallel; the driver only sees one int per partition.
    """
    # the sorted layout stays persisted while `out` is in use (it keeps
    # the pid->count map and the final pass on the SAME sampled range
    # boundaries); callers that must release it eagerly use
    # assign_doc_ids_with_stats, which returns the handle
    return assign_doc_ids_with_stats(df, order_cols, None, n_partitions)[0]


def assign_doc_ids_with_stats(
    df: DataFrame,
    order_cols=DEFAULT_ORDER,
    aggs: list | None = None,
    n_partitions: int | None = None,
):
    """assign_doc_ids PLUS batch statistics folded into the SAME job
    that materializes the sorted layout — the per-pid count/offset
    collect doubles as the stats pass, so callers (the streaming sink,
    the resumable batched build) need no separate count() or
    Observation scan over the slice.

    ``aggs``: extra SUM-DECOMPOSABLE aggregate columns (e.g.
    ``F.sum(doclen).alias("lensum")``) — each is evaluated per
    partition and summed across partitions, which is exact for
    sum/count shapes (the only shapes the engine needs).

    Returns ``(out, totals, pinned)``: the docID'd DataFrame (0-based
    ids), a dict of {"_n": total_rows, <agg alias>: global sum}, and
    the PINNED intermediate — callers MUST ``pinned.unpersist()`` after
    their one terminal action over ``out`` (prepare/encode pipelines
    overlap batches, so eager release matters at scale)."""
    order_cols = list(order_cols)
    if n_partitions is None:
        n_partitions = df.sparkSession.sparkContext.defaultParallelism
    sorted_df = df.repartitionByRange(
        n_partitions, *order_cols
    ).sortWithinPartitions(*order_cols)
    # persist so the pid->count map and the final pass see the SAME
    # partitioning (range boundaries come from sampling; pinning the
    # materialized layout removes any recompute nondeterminism)
    with_pid = sorted_df.withColumn("_pid", F.spark_partition_id()).persist()
    agg_rows = with_pid.groupBy("_pid").agg(
        F.count(F.lit(1)).alias("_n"), *(aggs or [])
    ).collect()
    counts = {r["_pid"]: r["_n"] for r in agg_rows}
    totals: dict = {"_n": sum(counts.values())}
    for alias in (agg_rows[0].asDict().keys() if agg_rows else []):
        if alias not in ("_pid", "_n"):
            totals[alias] = sum(
                (r[alias] or 0) for r in agg_rows
            )
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    offset_map = F.create_map(
        *[F.lit(x) for kv in offsets.items() for x in kv]
    )
    local = Window.partitionBy("_pid").orderBy(*order_cols)
    out = with_pid.withColumn(
        "doc_id",
        (F.row_number().over(local) - 1 + offset_map[F.col("_pid")]).cast(
            "long"
        ),
    ).drop("_pid")
    return out, totals, with_pid


def build_postings(
    docs: DataFrame, with_positions: bool = True, content_col: str = "content"
) -> DataFrame:
    """(term, doc_id, tf[, positions]) from a docID'd corpus.

    tf = occurrence count of the term in the token list (= number of
    offset pairs in the reference, ``qq_mem_engine.h:212``); positions
    are 0-based token indexes, ascending.
    """
    toks = docs.select(
        "doc_id", F.posexplode(tokens_col(F.col(content_col))).alias("pos", "term")
    )
    aggs = [F.count("*").cast("int").alias("tf")]
    if with_positions:
        aggs.append(F.sort_array(F.collect_list("pos")).alias("positions"))
    return toks.groupBy("term", "doc_id").agg(*aggs)


def build_postings_arrow(
    docs: DataFrame,
    with_positions: bool = True,
    content_col: str = "content",
    with_offsets: bool = False,
) -> DataFrame:
    """Shuffle-free posting construction (the build-path fast lane).

    A document's postings depend only on that document, so grouping by
    (term, doc_id) needs NO shuffle — this tokenizes, dictionary-encodes,
    and groups inside one mapInArrow pass with NO per-token Python (the
    same Arrow C++ kernels as the map-side index build; the reference's
    offline-analyzer stage S3, ``scripts/tokenize_wiki_linedoc.py``).
    Output is identical to build_postings() (differential-tested); use
    that one when a pure-Catalyst lineage is wanted, this one for bulk
    builds where the 1-row-per-token explode shuffle would dominate.

    with_offsets adds an ``offsets`` column: the flat [s,e,s,e,...] byte
    spans of each occurrence in the LOWERED content (2*tf ints, aligned
    with ``positions``) — the reference's per-posting offset pairs
    (``posting.h:42-152``).

    r06: the input is projected to (doc_id, content) BEFORE the opaque
    mapInArrow (guide §4.1 — Spark cannot prune columns through it) and,
    when the source has fewer partitions than the session's cores (the
    2-file bench corpus ran 2 tokenize tasks on 32 cores), repartitioned
    up to defaultParallelism — a one-off shuffle of the raw docs that
    lets the tokenize stage use the whole machine (guide §2.5 "input
    skew"). At real scale the input has >> cores partitions and this is
    a no-op.
    """
    sel = docs.select("doc_id", content_col)
    par = docs.sparkSession.sparkContext.defaultParallelism
    if sel.rdd.getNumPartitions() < par:
        sel = sel.repartition(par)

    def run(arrow_batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        from wiser_spark.config import TOKEN_SPLIT_REGEX
        from wiser_spark.functions.tokenize import token_spans_batch

        import numpy as np

        for rb in arrow_batches:
            ids = (
                rb.column(rb.schema.get_field_index("doc_id"))
                .to_numpy(zero_copy_only=False)
                .astype(np.int64)
            )
            content = rb.column(rb.schema.get_field_index(content_col))
            low = pc.utf8_lower(content)
            toks = pc.split_pattern_regex(low, pattern=TOKEN_SPLIT_REGEX)
            counts_raw = pc.list_value_length(toks).to_numpy(
                zero_copy_only=False
            ).astype(np.int64)
            flat = pc.list_flatten(toks)
            keep = pc.not_equal(flat, "")
            keep_np = keep.to_numpy(zero_copy_only=False)
            flat_kept = pc.filter(flat, keep)
            ends_raw = np.cumsum(counts_raw)
            kept_cum = np.concatenate(([0], np.cumsum(keep_np)))
            counts = kept_cum[ends_raw] - kept_cum[ends_raw - counts_raw]
            total = int(counts.sum())
            if total == 0:
                continue
            denc = pc.dictionary_encode(flat_kept)
            if isinstance(denc, pa.ChunkedArray):
                denc = denc.combine_chunks()
            codes = denc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
            vocab = denc.dictionary
            d_idx = np.repeat(np.arange(len(ids), dtype=np.int64), counts)
            ends = np.cumsum(counts)
            pos_all = np.arange(total, dtype=np.int64) - np.repeat(
                ends - counts, counts
            )
            # ONE stable sort on (doc, term): key = d_idx * V + code is
            # collision-free and keeps in-doc position order
            key = d_idx * np.int64(len(vocab)) + codes
            order = np.argsort(key, kind="stable")
            k_s, pos_s = key[order], pos_all[order]
            new_posting = np.empty(total, dtype=bool)
            new_posting[0] = True
            np.not_equal(np.diff(k_s), 0, out=new_posting[1:])
            posting_of = np.cumsum(new_posting) - 1
            tfs = np.bincount(posting_of).astype(np.int64)
            p_starts = np.flatnonzero(new_posting)
            p_key = k_s[p_starts]
            p_doc = ids[(p_key // len(vocab)).astype(np.int64)]
            p_code = (p_key % len(vocab)).astype(np.int64)
            arrays = [
                vocab.take(pa.array(p_code)).cast(pa.string()),
                pa.array(p_doc, type=pa.int64()),
                pa.array(tfs.astype(np.int32), type=pa.int32()),
            ]
            names = ["term", "doc_id", "tf"]
            list_offs = np.concatenate(
                ([0], np.cumsum(tfs))
            ).astype(np.int32)
            if with_positions:
                arrays.append(
                    pa.ListArray.from_arrays(
                        pa.array(list_offs),
                        pa.array(pos_s.astype(np.int32), type=pa.int32()),
                    )
                )
                names.append("positions")
            if with_offsets:
                sp_counts, sp_starts, sp_ends = token_spans_batch(low)
                assert sp_starts.size == total and np.array_equal(
                    sp_counts, counts
                ), "token spans misaligned with split tokens"
                st_s, en_s = sp_starts[order], sp_ends[order]
                flat_off = np.empty(2 * total, dtype=np.int32)
                flat_off[0::2] = st_s
                flat_off[1::2] = en_s
                arrays.append(
                    pa.ListArray.from_arrays(
                        pa.array((2 * list_offs.astype(np.int64)).astype(np.int32)),
                        pa.array(flat_off, type=pa.int32()),
                    )
                )
                names.append("offsets")
            yield pa.RecordBatch.from_arrays(arrays, names=names)

    schema = "term string, doc_id long, tf int"
    if with_positions:
        schema += ", positions array<int>"
    if with_offsets:
        schema += ", offsets array<int>"
    return sel.mapInArrow(run, schema)


def build_dictionary(postings: DataFrame) -> DataFrame:
    """(term, df) — document frequency per term (posting-list size, the
    reference's ``Size()`` used for idf, ``query_processing.h:544-548``)."""
    return postings.groupBy("term").agg(F.count("*").cast("int").alias("df"))
