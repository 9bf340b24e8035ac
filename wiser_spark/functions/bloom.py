"""Phrase-acceleration bloom filters (reference B15/B16/Q8).

The reference stores, per (term, doc), a bloom filter of the tokens that
FOLLOW the term in that doc (an "end" bloom) and one of the tokens that
precede it ("begin"), probing them before the positional intersect
(``bloom_filter.h:255-472``, probe ``query_processing.h:766-807``). The
probe is SIDED: a 2-term phrase probes the smaller list's end/begin
bloom, longer phrases fall back to the end-bloom chain
(``query_processing.h:796-807``) — implemented in
``operators/segments.py:_bloom_prune``.

SIZING matches the reference's libbloom math exactly
(``libbloom/bloom.c:95-117``): bits-per-entry = -ln(ratio)/ln(2)^2,
bits = int(entries * bpe), bytes rounded up, k = ceil(ln(2) * bpe) —
with the reference defaults entries=5, ratio=0.001
(``create_qq_mem_dump.cc:14-15``) that is 71 bits / 9 bytes / k=10 per
posting. Bit positions come from md5 double hashing
(bit_i = (a + i*b) mod bits, a/b from the term's md5) rather than the
reference's murmur pair — the hash family is not part of the contract;
what matters (and is tested) is NO FALSE NEGATIVES: every token OR'd in
probes positive, so the pre-check only prunes and is provably
result-neutral.

STORAGE is the reference's bloom-box layout rendition
(``flash_containers.h:499-561``): boxes of up to 128 posting-aligned
bit arrays, each box = [0xF5 magic][count byte][presence bitmap,
MSB-first as in ``ProduceBitmap``][the PRESENT arrays, fixed
``nbytes`` each] — a posting whose neighbor set is empty (term only at
document edge) stores nothing and reads back as an all-zero filter
(probes negative, correctly). Per-box byte offsets ride in the segment
row's skip column — the analogue of the reference's BloomSkipList
(``flash_containers.h:616-646``).

The legacy 64-bit/k=2 single-word helpers (token_bloom_bits et al.)
are read by no index any more: no writer emits that format. They remain
only as the baseline that test_sized_blooms_prune_at_least_as_much_as_
legacy measures the sized filters against.
"""

from __future__ import annotations

import hashlib
import math
from typing import NamedTuple

import numpy as np
import pyarrow as pa

BLOOM_BOX_MAGIC = 0xF5  # reference BLOOM_BOX_FIRST_BYTE (types.h:47)
BOX_CAP = 128           # PACK_ITEM_CNT: postings per box

_LN2_SQ = 0.480453013918201   # ln(2)^2, as spelled in libbloom
_LN2 = 0.693147180559945


class BloomParams(NamedTuple):
    bits: int
    nbytes: int
    hashes: int
    entries: int
    ratio: float
    # bit-placement hash FAMILY, part of the on-disk contract: "dh" =
    # plain double hashing (every index written before round 4), "edh"
    # = enhanced double hashing (the round-4+ default). The default
    # here is "dh" ON PURPOSE: BloomParams(**meta["bloom"]) from an
    # older stats.json (which predates the field) must reconstruct the
    # family those masks were WRITTEN with, or probes false-negative.
    family: str = "dh"


def bloom_params(entries: int = 5, ratio: float = 0.0009) -> BloomParams:
    """libbloom sizing (``bloom.c:95-117``).

    Defaults = the reference's PRODUCTION indexer invocation
    (``tools/indexer.py:43-44``: entries=5, ratio=0.0009 -> 72 bits /
    9 bytes / k=11); the dump tool's ratio=0.001 pair
    (``create_qq_mem_dump.cc:14-15``: 71 bits / 9 bytes / k=10) stays
    reachable by passing ratio=0.001. Indexes record their geometry in
    stats.json, so readers always probe with the written sizing."""
    bpe = -(math.log(ratio) / _LN2_SQ)
    bits = int(entries * bpe)
    nbytes = bits // 8 + (1 if bits % 8 else 0)
    hashes = int(math.ceil(_LN2 * bpe))
    return BloomParams(bits, nbytes, hashes, entries, ratio, "edh")


def token_bloom_mask(term: str, bp: BloomParams) -> np.ndarray:
    """The k-bit byte mask a token sets/probes: md5 double hashing,
    bit_i = (a + i*b) mod bits, LSB-first within each byte."""
    h = hashlib.md5(term.encode()).digest()
    a = int.from_bytes(h[0:8], "little")
    # Family "edh" — ENHANCED double hashing (Dillinger & Manolios
    # 2004): bit_i = (a + i*b + (i^3 - i)/6) mod bits. Plain double
    # hashing needs the stride coprime with bits to avoid short orbits;
    # at the composite ratio=0.0009 sizing (bits=72, phi(72)=24) only a
    # third of strides qualify and stride COLLISIONS between probe and
    # member terms degenerate the FP rate. The cubic increment breaks
    # the shared-progression structure for ANY modulus — measured FP
    # returns to the ~ratio ballpark (pinned by the prune-rate test).
    # Family "dh" — the pre-round-4 plain progression, kept verbatim so
    # indexes whose stats.json predates the family field still probe
    # the masks they stored (the family IS part of the on-disk
    # contract; stats.json records it via BloomParams._asdict()).
    b = 1 + int.from_bytes(h[8:16], "little") % (bp.bits - 1)
    i_arr = np.arange(bp.hashes, dtype=np.uint64)
    incr = (
        (i_arr * (i_arr * i_arr - 1) // np.uint64(6)) % np.uint64(bp.bits)
        if bp.family == "edh"
        else np.zeros(bp.hashes, dtype=np.uint64)
    )
    idx = (
        (np.uint64(a) + i_arr * np.uint64(b) + incr) % np.uint64(bp.bits)
    ).astype(np.int64)
    mask = np.zeros(bp.nbytes, dtype=np.uint8)
    np.bitwise_or.at(mask, idx >> 3, (1 << (idx & 7)).astype(np.uint8))
    return mask


def vocab_bloom_matrix(uniques, bp: BloomParams) -> np.ndarray:
    """(V, nbytes) uint8 — one md5 per UNIQUE term; the bit placement
    is fully vectorized across the vocabulary (the per-term Python is
    just the md5 + two int.from_bytes, ~1 us), and byte-identical to
    ``token_bloom_mask`` per row (probe-side contract, pinned by
    test_bloom). ``uniques`` is a sequence of str or an Arrow string
    array; the latter is hashed straight from its data buffer, with no
    str object per term."""
    v = len(uniques)
    if isinstance(uniques, pa.Array):
        offs = np.frombuffer(uniques.buffers()[1], dtype=np.int32)
        offs = offs[uniques.offset:uniques.offset + v + 1].tolist()
        data = memoryview(uniques.buffers()[2] or b"")
        utf8 = (data[a:b] for a, b in zip(offs, offs[1:]))
    else:
        utf8 = (t.encode() for t in uniques)
    digests = b"".join(hashlib.md5(t).digest() for t in utf8)
    ab = np.frombuffer(digests, dtype="<u8").reshape(v, 2)
    b = (ab[:, 1] % np.uint64(bp.bits - 1)) + np.uint64(1)
    # same family dispatch as token_bloom_mask, formula-identical
    i_arr = np.arange(bp.hashes, dtype=np.uint64)
    incr = (
        (i_arr * (i_arr * i_arr - 1) // np.uint64(6)) % np.uint64(bp.bits)
        if bp.family == "edh"
        else np.zeros(bp.hashes, dtype=np.uint64)
    )
    idx = (
        (ab[:, 0][:, None] + i_arr[None, :] * b[:, None] + incr[None, :])
        % np.uint64(bp.bits)
    ).astype(np.int64)
    out = np.zeros((v, bp.nbytes), dtype=np.uint8)
    flat = out.reshape(-1)
    pos = np.arange(v, dtype=np.int64)[:, None] * bp.nbytes + (idx >> 3)
    np.bitwise_or.at(
        flat, pos.reshape(-1),
        (np.uint8(1) << (idx & 7).astype(np.uint8)).reshape(-1),
    )
    return out


def fold_occurrence_bloom_rows(
    occ_masks: np.ndarray, posting_starts: np.ndarray
) -> np.ndarray:
    """OR the per-occurrence neighbor masks into per-posting filters:
    (occ, nbytes) -> (postings, nbytes)."""
    if occ_masks.size == 0:
        return occ_masks.reshape(0, occ_masks.shape[-1] if occ_masks.ndim else 0)
    return np.bitwise_or.reduceat(occ_masks, posting_starts, axis=0)


def probe_rows(blooms: np.ndarray, qmask: np.ndarray) -> np.ndarray:
    """True where the posting's filter MAY contain the probed token
    ((n, nbytes) & mask == mask across every byte)."""
    return ((blooms & qmask) == qmask).all(axis=1)


# ------------------------------------------------------------ bloom boxes
def bloom_boxes_encode(mat: np.ndarray) -> tuple[bytes, list[int]]:
    """(n, nbytes) posting filters -> (blob, per-box byte offsets).

    Box: [0xF5][count 1..128][presence bitmap][present arrays]. All-zero
    rows are ABSENT (presence bit 0) — the dominant case for rare terms,
    where most docs contribute a filter but some postings sit at doc
    edges."""
    n = mat.shape[0]
    parts: list[bytes] = []
    offs: list[int] = []
    pos = 0
    for s in range(0, n, BOX_CAP):
        chunk = mat[s : s + BOX_CAP]
        pres = chunk.any(axis=1)
        box = (
            bytes([BLOOM_BOX_MAGIC, len(chunk)])
            + np.packbits(pres).tobytes()     # MSB-first (ProduceBitmap)
            + chunk[pres].tobytes()
        )
        offs.append(pos)
        parts.append(box)
        pos += len(box)
    return b"".join(parts), offs


def bloom_boxes_encode_ranges(
    mat: np.ndarray, lo: np.ndarray, hi: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Encode ONE box per [lo[t], hi[t]) row-range of ``mat`` in a
    single vectorized pass. Ranges must be non-empty, ascending,
    non-overlapping and fit one box (hi-lo <= BOX_CAP). Returns (flat
    uint8 buffer, int64 offsets): value t is byte-identical to
    ``bloom_boxes_encode(mat[lo[t]:hi[t]])[0]``.

    This is the vocabulary-batched fast path of the map-side build: a
    realistic code shard has ~10^5-10^6 distinct terms, almost all with
    df < 128, so no step here is per term: the presence bitmaps of ALL
    ranges pack in ONE np.packbits (each range zero-padded to a byte
    boundary), the payload is ONE mat[pres] gather, and the boxes are
    spliced from the head, bitmap and payload streams in one pass."""
    from wiser_spark.functions.packing import interleave_pieces, ranges_mask

    lo = np.asarray(lo, dtype=np.int64)
    hi = np.asarray(hi, dtype=np.int64)
    cnt = hi - lo
    if cnt.size and int(cnt.max()) > BOX_CAP:
        raise ValueError("batch encoder handles single-box ranges only")
    pres = mat.any(axis=1)
    pres_cum = np.concatenate(([0], np.cumsum(pres)))
    sel = ranges_mask(mat.shape[0], lo, hi)
    bm_len = (cnt + 7) // 8
    pad = bm_len * 8 - cnt
    bits, _ = interleave_pieces(
        [pres[sel].view(np.uint8), np.zeros(int(pad.sum()), np.uint8)],
        [cnt, pad],
    )
    heads = np.empty((cnt.size, 2), dtype=np.uint8)
    heads[:, 0] = BLOOM_BOX_MAGIC
    heads[:, 1] = cnt
    return interleave_pieces(
        [
            heads.reshape(-1),
            np.packbits(bits),  # MSB-first (ProduceBitmap)
            mat[pres & sel].reshape(-1),  # present rows, nbytes each
        ],
        [
            np.full(cnt.size, 2, dtype=np.int64),
            bm_len,
            (pres_cum[hi] - pres_cum[lo]) * mat.shape[1],
        ],
    )


def bloom_boxes_decode(
    blob: bytes | np.ndarray, n: int, nbytes: int, offset: int = 0
) -> np.ndarray:
    """Decode ``n`` posting filters -> (n, nbytes) uint8 (absent rows
    all-zero). ``offset`` allows partial decode from a box boundary."""
    buf = (
        np.frombuffer(blob, dtype=np.uint8)
        if not isinstance(blob, np.ndarray)
        else blob
    )
    out = np.zeros((n, nbytes), dtype=np.uint8)
    got, pos = 0, offset
    while got < n:
        if buf[pos] != BLOOM_BOX_MAGIC:
            raise ValueError(f"bad bloom box magic at {pos}: {buf[pos]:#x}")
        cnt = int(buf[pos + 1])
        bm_len = (cnt + 7) // 8
        pres = np.unpackbits(buf[pos + 2 : pos + 2 + bm_len])[:cnt].astype(bool)
        k = int(pres.sum())
        payload = buf[pos + 2 + bm_len : pos + 2 + bm_len + k * nbytes]
        take = min(cnt, n - got)
        rows = out[got : got + cnt] if take == cnt else None
        if rows is None:
            # caller asked for fewer than the box holds — decode whole
            # box shape then slice (boxes are posting-aligned, so this
            # only happens on a truncated read request)
            full = np.zeros((cnt, nbytes), dtype=np.uint8)
            full[pres] = payload.reshape(k, nbytes)
            out[got : got + take] = full[:take]
        else:
            rows[pres] = payload.reshape(k, nbytes)
        got += take
        pos += 2 + bm_len + k * nbytes
    return out


# ----------------------------------------------- legacy 64-bit rendition
BLOOM_BITS = 64


def token_bloom_bits(term: str) -> int:
    """Legacy fixed-64-bit mask (k=2 md5 bit positions) — kept for
    indexes written before the sized bloom-box format."""
    h = hashlib.md5(term.encode()).digest()
    h1 = h[0] % BLOOM_BITS
    h2 = ((h[1] << 8) | h[2]) % BLOOM_BITS
    return (1 << h1) | (1 << h2)


def vocab_bloom_table(uniques) -> np.ndarray:
    """Legacy: bits mask per vocabulary code (uint64)."""
    return np.fromiter(
        (token_bloom_bits(t) for t in uniques), dtype=np.uint64, count=len(uniques)
    )


def fold_occurrence_blooms(
    occ_bits: np.ndarray, posting_starts: np.ndarray
) -> np.ndarray:
    """Legacy: OR per-occurrence uint64 masks into per-posting blooms."""
    if occ_bits.size == 0:
        return np.zeros(0, dtype=np.uint64)
    return np.bitwise_or.reduceat(occ_bits, posting_starts)


def probe(blooms: np.ndarray, qbits: int) -> np.ndarray:
    """Legacy: True where the posting's bloom MAY contain the token."""
    q = np.uint64(qbits)
    return (blooms & q) == q
