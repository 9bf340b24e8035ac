"""LEB128-style varint codec, numpy-vectorized.

Wire format (reference ``utils.cc:246-270``, ``utils.h:230-283``): each
uint is written as 7-bit groups, least-significant first; the high bit of
a byte is set iff more bytes follow. Values up to 2^64 are supported
(posting blobs only need uint32, file offsets need more).

Both encode and decode are vectorized over whole arrays — the per-element
loop is over BYTE POSITION (<= 10 iterations), not over elements, so
encoding a million postings is a handful of numpy passes.
"""

from __future__ import annotations

import numpy as np

_MAX_BYTES = 10  # ceil(64 / 7)


def _n_bytes_of(v: np.ndarray, vmax: int) -> np.ndarray:
    """Per-value encoded length; compares only up to the width the max
    value actually needs (1-2 passes for typical delta streams, not 9)."""
    n_bytes = np.ones(v.shape, dtype=np.int64)
    for k in range(1, _MAX_BYTES):
        bound = np.uint64(1) << np.uint64(7 * k)
        if vmax < bound:
            break
        n_bytes += (v >= bound).astype(np.int64)
    return n_bytes


def varint_encode_with_lengths(values) -> tuple[bytes, np.ndarray]:
    """(byte stream, per-value encoded lengths) in one pass — the
    lengths are what skip entries are built from, so computing them
    alongside the encode avoids a second width scan."""
    v = np.asarray(values, dtype=np.uint64)
    if v.size == 0:
        return b"", np.zeros(0, dtype=np.int64)
    vmax = int(v.max())
    if vmax < 0x80:
        # all single-byte: the dominant case for delta streams
        return v.astype(np.uint8).tobytes(), np.ones(v.shape, dtype=np.int64)
    n_bytes = _n_bytes_of(v, vmax)
    starts = np.zeros(v.shape, dtype=np.int64)
    starts[1:] = np.cumsum(n_bytes)[:-1]
    out = np.zeros(int(n_bytes.sum()), dtype=np.uint8)
    rem = v.copy()
    for k in range(int(n_bytes.max())):
        mask = n_bytes > k
        byte = (rem[mask] & np.uint64(0x7F)).astype(np.uint8)
        more = (n_bytes[mask] > k + 1).astype(np.uint8)
        out[starts[mask] + k] = byte | (more << 7)
        rem[mask] >>= np.uint64(7)
    return out.tobytes(), n_bytes


def varint_encode(values) -> bytes:
    """Encode an array of non-negative ints to a varint byte stream."""
    return varint_encode_with_lengths(values)[0]


def varint_decode(buf: bytes | np.ndarray, offset: int = 0, count: int | None = None):
    """Decode a varint stream -> (uint64 array, bytes consumed).

    If ``count`` is given, decodes exactly that many values starting at
    ``offset``; otherwise decodes to the end of the buffer.
    """
    b = np.frombuffer(buf, dtype=np.uint8) if not isinstance(buf, np.ndarray) else buf
    b = b[offset:]
    if b.size == 0:
        return np.zeros(0, dtype=np.uint64), 0
    last = (b & 0x80) == 0
    ends = np.nonzero(last)[0]
    if count is not None:
        ends = ends[:count]
    starts = np.empty(ends.shape, dtype=np.int64)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    lengths = ends - starts + 1
    vals = np.zeros(ends.shape, dtype=np.uint64)
    for k in range(int(lengths.max()) if ends.size else 0):
        mask = lengths > k
        vals[mask] |= (b[starts[mask] + k].astype(np.uint64) & np.uint64(0x7F)) << np.uint64(
            7 * k
        )
    consumed = int(ends[-1]) + 1 if ends.size else 0
    return vals, consumed
