"""Chunked compressed doc store (reference S7) — the .fdx/.fdt pair,
Spark-distributed.

The reference compresses each document with LZ4 into a byte stream
(``my.fdt``), optionally 4KB-aligning a doc when unaligned placement
would touch MORE 4KB blocks than aligned placement would
(``doc_store.h:73-78``), and records one encoded offset per doc in
``my.fdx``: ``(offset << 1) | aligned`` (``doc_store.h:277-362``); the
reader mmaps ``.fdt`` and slices per doc (``doc_store.h:365-455``).

This rendition keeps that structure but distributes it: docs pack into
EXTENT rows (~1 MiB of compressed stream each — the mmap-window
analogue, sized so a parquet row stays sane and a fetch reads one
bounded blob), each extent carrying its own fdx arrays:

  (first_doc, last_doc, n_docs, doc_ids, enc_offs, sizes, blob)

``enc_offs[i] = (offset_in_blob << 1) | aligned`` with the reference's
exact ShouldAlign rule; aligned docs are zero-padded to the next 4KB
boundary inside the extent. ``first_doc``/``last_doc`` give parquet
min/max row-group pruning, so fetching k docs reads only the extents
that can hold them — the distributed madvise-random story.

The codec is PLUGGABLE: LZ4 (the reference's codec, ``doc_store.h:
28-127``) is used when the ``lz4`` package is importable, else zlib
level 1 (stdlib) stands in. Each store records its codec in a
``meta.json`` next to the extents, and ``fetch_docs`` decodes with the
RECORDED codec — a store written under one environment reads correctly
under another (or raises an explicit error if the recorded codec is
unavailable, never silent corruption). The chunk/offset/alignment
layout — the part that matters for the format — is codec-independent.
The per-row content sha256 invariant (input-hint contract) is pinned by
test + the ``doc_store_roundtrip`` oracle entry.
"""

from __future__ import annotations

import json
import os
import zlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wiser_spark.plans.empty import empty_frame

KB4 = 4 * 1024
EXTENT_BYTES = 1 * 1024 * 1024

# predicate-size bound for point fetches: past this many requested ids
# the per-id OR chain is coalesced into at most this many [lo, hi]
# range clauses (ADVICE r03: analyzer cost grows with expression-tree
# size; winners cluster by extent so runs << ids)
MAX_FETCH_RANGES = 64

STORE_SCHEMA = (
    "first_doc long, last_doc long, n_docs int, "
    "doc_ids array<long>, enc_offs array<long>, sizes array<int>, "
    "blob binary"
)


# ------------------------------------------------------------------ codec
def _codec_fns(codec: str):
    """(compress, decompress) for a codec NAME — module-level dispatch
    so executor-side closures pickle a string, not a function object."""
    if codec == "lz4":
        import lz4.frame as _lz4  # raises if the env lacks it: explicit

        return _lz4.compress, _lz4.decompress
    if codec == "zlib":
        return (lambda data: zlib.compress(data, 1)), zlib.decompress
    raise ValueError(f"unknown doc-store codec {codec!r}")


def default_codec() -> str:
    """lz4 when importable (the reference's codec), else zlib.

    NOTE the portability trade: the default follows the WRITER's
    environment, so a store written where lz4 is installed needs lz4
    on the readers too (fetch_docs fails loudly, never silently).
    Fleets with heterogeneous environments should pass an explicit
    ``codec="zlib"`` (always available) to write_doc_store."""
    try:
        import lz4.frame  # noqa: F401

        return "lz4"
    except ImportError:
        return "zlib"


def should_align(start_off: int, size: int) -> bool:
    """Align when the unaligned placement spans more 4KB blocks than an
    aligned one — the INTENDED rule of the reference's ``ShouldAlign``
    (doc_store.h:73-78). (The reference's literal expression
    ``(start_off % 4*KB) + size`` parses as ``(start_off % 4)*KB`` under
    C precedence — a quirk, not a behavior to reproduce; no interop
    impact since the container format differs anyway.)"""
    n_aligned = -(-size // KB4)
    n_unaligned = -(-((start_off % KB4) + size) // KB4)
    return n_unaligned > n_aligned


def write_doc_store(
    docs: DataFrame,
    store_dir: str,
    content_col: str = "content",
    align: bool = True,
    extent_bytes: int = EXTENT_BYTES,
    codec: str | None = None,
) -> None:
    """Pack (doc_id, content) into compressed extents, one pass, no
    shuffle beyond an in-partition sort (any doc-disjoint partitioning
    qualifies; docIDs ascend within each extent). ``codec`` defaults to
    lz4 when available, else zlib; the choice is recorded in the
    store's meta.json and honored by ``fetch_docs``."""
    codec = codec or default_codec()
    _codec_fns(codec)  # validate driver-side before launching the job
    # meta.json is written atomically (tmp + os.replace). For a FRESH
    # store it goes down BEFORE the extents job — a crash mid-build can
    # leave extents without meta only in the legacy direction, never an
    # lz4 store that a reader would mis-decode with the zlib fallback
    # (r04 advisory). For a REWRITE of an existing store the old meta
    # must stay until the new extents are durable (flipping the codec
    # first + a failed job would leave lz4 meta over intact zlib
    # extents), so meta flips only after the overwrite succeeds.
    os.makedirs(store_dir, exist_ok=True)

    def _put_meta():
        tmp = f"{store_dir}/meta.json.tmp"
        with open(tmp, "w") as f:
            json.dump({"codec": codec, "align": bool(align)}, f)
        os.replace(tmp, f"{store_dir}/meta.json")

    if not os.path.isdir(f"{store_dir}/extents"):
        _put_meta()
    sel = docs.select(
        F.col("doc_id"), F.col(content_col).alias("content")
    ).sortWithinPartitions("doc_id")

    def pack(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        compress, _ = _codec_fns(codec)
        cur = bytearray()
        ids: list[int] = []
        offs: list[int] = []
        sizes: list[int] = []

        def flush():
            nonlocal cur, ids, offs, sizes
            if not ids:
                return None
            row = pd.DataFrame(
                {
                    "first_doc": [ids[0]],
                    "last_doc": [ids[-1]],
                    "n_docs": [len(ids)],
                    "doc_ids": [list(ids)],
                    "enc_offs": [list(offs)],
                    "sizes": [list(sizes)],
                    "blob": [bytes(cur)],
                }
            )
            cur, ids, offs, sizes = bytearray(), [], [], []
            return row

        for pdf in batches:
            for doc_id, content in zip(pdf["doc_id"], pdf["content"]):
                comp = compress(
                    content.encode("utf-8") if isinstance(content, str)
                    else bytes(content)
                )
                off = len(cur)
                do_align = align and should_align(off, len(comp))
                if do_align:
                    pad = (off // KB4 + 1) * KB4
                    cur.extend(b"\x00" * (pad - off))
                    off = pad
                cur.extend(comp)
                ids.append(int(doc_id))
                offs.append((off << 1) | int(do_align))
                sizes.append(len(comp))
                if len(cur) >= extent_bytes:
                    yield flush()
        row = flush()
        if row is not None:
            yield row

    # point-read row groups (r06, VERDICT item 5): with the default
    # 128 MB parquet block, ~128 extent rows share one first_doc/
    # last_doc min/max stat and a k-doc point fetch decodes a whole
    # block's worth of pages. A 4 MB block puts ~4 extents per row
    # group, so the range predicate prunes at near-extent granularity.
    # Write-side cost is a few more (still multi-MB) row groups — the
    # store remains sequential-scan friendly.
    sel.mapInPandas(pack, STORE_SCHEMA).write.mode("overwrite").option(
        "parquet.block.size", str(4 * 1024 * 1024)
    ).parquet(f"{store_dir}/extents")
    _put_meta()  # rewrite case: flip the codec only over durable extents


def _fetch_predicate(wanted: list[int]):
    """Extent-pruning predicate over SORTED distinct ids, with a bounded
    expression tree: exact per-id clauses up to MAX_FETCH_RANGES ids,
    else the ids coalesce into at most MAX_FETCH_RANGES [lo, hi] runs
    (split points = the largest id gaps, so the ranges hug the
    clusters). A run's clause ``first_doc <= hi AND last_doc >= lo``
    admits every extent a member id could live in; extra docs inside a
    range never leak — the fetch UDF keeps exact ``wset`` membership."""
    if len(wanted) <= MAX_FETCH_RANGES:
        pred = None
        for d in wanted:
            p = (F.col("first_doc") <= d) & (F.col("last_doc") >= d)
            pred = p if pred is None else pred | p
        return pred
    import numpy as np

    arr = np.asarray(wanted, dtype=np.int64)
    gaps = np.diff(arr)
    # the MAX_FETCH_RANGES-1 largest gaps split the ids into runs
    cuts = np.sort(
        np.argpartition(gaps, -(MAX_FETCH_RANGES - 1))[-(MAX_FETCH_RANGES - 1):]
    )
    starts = np.concatenate(([0], cuts + 1))
    ends = np.concatenate((cuts, [len(arr) - 1]))
    pred = None
    for lo, hi in zip(arr[starts], arr[ends]):
        p = (F.col("first_doc") <= int(hi)) & (F.col("last_doc") >= int(lo))
        pred = p if pred is None else pred | p
    return pred


def fetch_docs(
    spark: SparkSession, store_dir: str, doc_ids: list[int] | None = None
) -> DataFrame:
    """(doc_id, content) from the store. With ``doc_ids`` given, only
    extents whose [first_doc, last_doc] range can hold one are read
    (parquet min/max pruning on the range predicate) and only the
    requested docs decompress; with None, the full store streams out
    (the scan/export path).

    Predicate size is BOUNDED: up to MAX_FETCH_RANGES ids keep the
    exact per-id OR chain; larger requests (a whole query log's
    winners, k x |log| ids) coalesce the sorted ids into at most
    MAX_FETCH_RANGES [lo, hi] runs split at the LARGEST gaps — winners
    cluster by extent, so runs cover few extra extents — and exactness
    stays with the in-UDF ``wset`` membership check either way."""
    try:
        with open(f"{store_dir}/meta.json") as f:
            codec = json.load(f).get("codec", "zlib")
    except FileNotFoundError:  # stores written before meta.json: zlib
        codec = "zlib"
    _codec_fns(codec)  # fail fast driver-side if the codec is absent
    ext = spark.read.schema(STORE_SCHEMA).parquet(f"{store_dir}/extents")
    wanted = sorted(set(int(d) for d in doc_ids)) if doc_ids is not None else None
    wset = set(wanted) if wanted is not None else None
    if wanted is not None:
        if not wanted:  # explicit empty request: no scan at all
            return empty_frame(spark, "doc_id long, content string")
        ext = ext.filter(_fetch_predicate(wanted))

    def unpack(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        _, decompress = _codec_fns(codec)
        for pdf in batches:
            out_ids: list[int] = []
            out_docs: list[str] = []
            for ids, offs, sizes, blob in zip(
                pdf["doc_ids"], pdf["enc_offs"], pdf["sizes"], pdf["blob"]
            ):
                mv = memoryview(blob)
                for i, did in enumerate(ids):
                    if wanted is not None and int(did) not in wset:
                        continue
                    off = int(offs[i]) >> 1
                    comp = mv[off : off + int(sizes[i])]
                    out_ids.append(int(did))
                    out_docs.append(
                        decompress(bytes(comp)).decode("utf-8")
                    )
            yield pd.DataFrame({"doc_id": out_ids, "content": out_docs})

    return ext.mapInPandas(unpack, "doc_id long, content string")
