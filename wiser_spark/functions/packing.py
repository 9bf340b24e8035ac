"""Bit-packed integer frames + varint tail blobs ("cozy box" layout).

Mirrors the structure of WiSER's flash posting columns (reference
``packed_value.h:87-128`` and ``flash_engine_dumper.h:51-119``): a column
of N ints is stored as ``N // 128`` packed frames followed by one varint
tail for the remaining ``N % 128`` values.

Frame format:  ``[0xD6][max_bits]`` + ceil(128*max_bits/8) data bytes,
values bit-packed LSB-first at a fixed width of ``max_bits`` per value
(max_bits >= 1 even for all-zero frames, as in the reference writer).
Tail format:   ``[0x9B][varint n_data_bytes][varint stream]``
(reference ``packed_value.h:372-397``).

The bit-level layout inside a frame is LSB-first contiguous — a clean,
documented layout of the same shape and size (2 + 16*max_bits bytes per
frame) as the reference's turbopack32 output; byte-identity with the C++
library is NOT a goal (nothing ever exchanges blobs with the C++ engine),
round-trip + size parity is.

Everything is numpy-vectorized; the only Python loops are over frames'
byte positions, never over values.
"""

from __future__ import annotations

import numpy as np

from wiser_spark.config import PACK_SIZE, PACKED_FRAME_MAGIC, VINTS_MAGIC
from wiser_spark.functions.varint import (
    varint_decode,
    varint_encode,
    varint_encode_with_lengths,
)


def _bit_width(values: np.ndarray) -> int:
    m = int(values.max()) if values.size else 0
    return max(int(m).bit_length(), 1)


def pack_frame(values: np.ndarray) -> bytes:
    """Pack exactly PACK_SIZE uint32 values into one frame."""
    v = np.asarray(values, dtype=np.uint64)
    if v.shape != (PACK_SIZE,):
        raise ValueError(f"frame must have exactly {PACK_SIZE} values")
    width = _bit_width(v)
    total_bits = PACK_SIZE * width
    bits = np.zeros(total_bits, dtype=np.uint8)
    idx = np.arange(PACK_SIZE, dtype=np.int64) * width
    for k in range(width):
        bits[idx + k] = (v >> np.uint64(k)) & np.uint64(1)
    data = np.packbits(bits, bitorder="little")
    return bytes([PACKED_FRAME_MAGIC, width]) + data.tobytes()


def unpack_frame(buf: np.ndarray, offset: int) -> tuple[np.ndarray, int]:
    """Unpack one frame at ``offset`` -> (128 uint32 values, bytes consumed)."""
    if buf[offset] != PACKED_FRAME_MAGIC:
        raise ValueError(f"bad frame magic at {offset}: {buf[offset]:#x}")
    width = int(buf[offset + 1])
    n_data = (PACK_SIZE * width + 7) // 8
    data = buf[offset + 2 : offset + 2 + n_data]
    if width % 8 == 0:
        # byte-multiple width: values are truncated little-endian bytes
        nb = width // 8
        wide = np.zeros((PACK_SIZE, 8), dtype=np.uint8)
        wide[:, :nb] = data.reshape(PACK_SIZE, nb)
        return wide.view("<u8").reshape(PACK_SIZE).astype(np.uint64), 2 + n_data
    bits = np.unpackbits(data, bitorder="little")[: PACK_SIZE * width]
    bits = bits.reshape(PACK_SIZE, width).astype(np.uint64)
    weights = (np.uint64(1) << np.arange(width, dtype=np.uint64))
    vals = (bits * weights).sum(axis=1, dtype=np.uint64)
    return vals, 2 + n_data


def encode_column(
    values: np.ndarray, force_width: int | None = None
) -> tuple[bytes, np.ndarray]:
    """Encode a full int column -> (blob, frame_offsets).

    Blob = packed frames for each full group of 128 + one varint tail for
    the remainder (tail present only if remainder > 0). ``frame_offsets``
    holds the byte offset of every frame/tail start — this is what skip
    entries point at, enabling partial decode from any 128-aligned bag.

    Vectorized: frames are packed in batches grouped by bit width (the
    per-frame loop of the naive form dominated segment-build CPU). Byte
    output is identical to packing each frame with pack_frame().

    ``force_width`` pins every frame's bit width (must cover the data).
    Widths that are a multiple of 8 pack as raw little-endian bytes — a
    memcpy, no bit games; bloom columns force 64 for exactly this.
    """
    v = np.asarray(values, dtype=np.uint64)
    n_full = v.size // PACK_SIZE
    parts: list[bytes] = []
    offsets = np.zeros(0, dtype=np.int64)
    blob_head = b""
    if n_full:
        frames = v[: n_full * PACK_SIZE].reshape(n_full, PACK_SIZE)
        if force_width is not None:
            widths = np.full(n_full, force_width, dtype=np.int64)
        else:
            maxes = frames.max(axis=1)
            # exact bit widths: frexp on float64 can round values >= 2^53
            # upward (width 65 for a max near 2^64); the python loop is
            # over FRAMES (1/128th of values), cost negligible
            widths = np.fromiter(
                (max(int(m).bit_length(), 1) for m in maxes),
                dtype=np.int64, count=n_full,
            )
        data_bytes = (PACK_SIZE * widths + 7) // 8
        frame_sizes = 2 + data_bytes
        frame_offs = np.concatenate(([0], np.cumsum(frame_sizes)[:-1]))
        out = np.zeros(int(frame_sizes.sum()), dtype=np.uint8)
        out[frame_offs] = PACKED_FRAME_MAGIC
        out[frame_offs + 1] = widths
        uniq = np.unique(widths)
        if len(uniq) == 1 and int(uniq[0]) % 8 == 0:
            # single byte-multiple width (forced blooms): one memcpy
            nb = int(uniq[0]) // 8
            le = frames.astype("<u8", copy=False).view(np.uint8)
            out.reshape(n_full, 2 + PACK_SIZE * nb)[:, 2:] = le.reshape(
                n_full, PACK_SIZE, 8
            )[:, :, :nb].reshape(n_full, PACK_SIZE * nb)
            uniq = uniq[:0]
        for w in uniq:
            idx = np.nonzero(widths == w)[0]
            sub = frames[idx]
            if w % 8 == 0:
                # LSB-first at a byte-multiple width == truncated
                # little-endian bytes of each value: pure memcpy
                nb = int(w) // 8
                le = sub.astype("<u8", copy=False).view(np.uint8)
                packed = le.reshape(len(idx), PACK_SIZE, 8)[:, :, :nb].reshape(
                    len(idx), PACK_SIZE * nb
                )
            else:
                shifts = np.arange(w, dtype=np.uint64)
                bits = ((sub[:, :, None] >> shifts) & np.uint64(1)).astype(np.uint8)
                packed = np.packbits(
                    bits.reshape(len(idx), PACK_SIZE * int(w)), axis=1,
                    bitorder="little",
                )
            scatter = frame_offs[idx][:, None] + 2 + np.arange(packed.shape[1])
            out[scatter] = packed
        blob_head = out.tobytes()
        offsets = frame_offs
    pos = len(blob_head)
    parts.append(blob_head)
    rem = v[n_full * PACK_SIZE :]
    if rem.size:
        tail = varint_tail_box(varint_encode(rem))
        offsets = np.concatenate([offsets, [pos]])
        parts.append(tail)
    return b"".join(parts), np.asarray(offsets, dtype=np.int64)


def _scalar_varint(x: int) -> bytes:
    out = bytearray()
    while True:
        b = x & 0x7F
        x >>= 7
        out.append(b | (0x80 if x else 0))
        if not x:
            return bytes(out)


def varint_tail_box(payload: bytes) -> bytes:
    """Wrap a varint payload as a column TAIL blob — byte-identical to
    encode_column() for columns shorter than PACK_SIZE."""
    return bytes([VINTS_MAGIC]) + _scalar_varint(len(payload)) + payload


def ranges_mask(n: int, lo: np.ndarray, hi: np.ndarray) -> np.ndarray:
    """Boolean mask of length ``n`` set inside every [lo[t], hi[t]).
    Ranges must be non-empty, ascending and non-overlapping."""
    step = np.zeros(n + 1, dtype=np.int8)
    step[lo] += 1
    step[hi] -= 1
    return np.cumsum(step[:-1], dtype=np.int8).astype(bool)


def interleave_pieces(
    parts: list[np.ndarray], lens: list[np.ndarray]
) -> tuple[np.ndarray, np.ndarray]:
    """Assemble per-row values from flat piece streams: value t is the
    next ``lens[0][t]`` bytes of ``parts[0]``, then the next
    ``lens[1][t]`` bytes of ``parts[1]``, and so on (each part holds
    exactly its pieces, in row order). Returns (one flat uint8 buffer,
    int64 value offsets of length n+1) — no per-row Python objects."""
    ln = np.stack([np.asarray(x, dtype=np.int64) for x in lens], axis=1)
    offsets = np.zeros(ln.shape[0] + 1, dtype=np.int64)
    np.cumsum(ln.sum(axis=1), out=offsets[1:])
    kind = np.repeat(
        np.tile(np.arange(len(parts), dtype=np.uint8), ln.shape[0]),
        ln.reshape(-1),
    )
    out = np.empty(int(offsets[-1]), dtype=np.uint8)
    for j, part in enumerate(parts):
        out[kind == j] = part
    return out, offsets


def varint_tail_boxes(
    stream: np.ndarray, lo: np.ndarray, hi: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """One TAIL blob per byte range [lo[t], hi[t]) of a varint
    ``stream`` (uint8), in one vectorized pass: value t is
    byte-identical to ``varint_tail_box(stream[lo[t]:hi[t]])``.
    Returns (flat buffer, offsets) as ``interleave_pieces``."""
    plen = np.asarray(hi, dtype=np.int64) - lo
    head, head_len = varint_encode_with_lengths(plen)
    return interleave_pieces(
        [
            np.full(plen.size, VINTS_MAGIC, dtype=np.uint8),
            np.frombuffer(head, dtype=np.uint8),
            stream[ranges_mask(stream.size, lo, hi)],
        ],
        [np.ones(plen.size, dtype=np.int64), head_len, plen],
    )


def decode_column(blob: bytes | np.ndarray, count: int, offset: int = 0) -> np.ndarray:
    """Decode ``count`` values of a column blob starting at byte ``offset``."""
    buf = np.frombuffer(blob, dtype=np.uint8) if not isinstance(blob, np.ndarray) else blob
    out = np.zeros(count, dtype=np.uint64)
    got = 0
    pos = offset
    while got < count:
        magic = buf[pos]
        if magic == PACKED_FRAME_MAGIC:
            vals, used = unpack_frame(buf, pos)
            take = min(PACK_SIZE, count - got)
            out[got : got + take] = vals[:take]
            got += take
            pos += used
        elif magic == VINTS_MAGIC:
            size_arr, used_hdr = varint_decode(buf, pos + 1, count=1)
            n_data = int(size_arr[0])
            vals, _ = varint_decode(buf, pos + 1 + used_hdr, count=count - got)
            out[got : got + vals.size] = vals
            got += vals.size
            pos += 1 + used_hdr + n_data
        else:
            raise ValueError(f"bad blob magic at {pos}: {magic:#x}")
    return out


def delta_encode(values: np.ndarray) -> np.ndarray:
    """v[i] - v[i-1], first element kept (delta vs 0) — reference utils.h:573-584."""
    v = np.asarray(values, dtype=np.int64)
    return np.diff(v, prepend=0).astype(np.uint64) if v.size else v.astype(np.uint64)


def delta_decode(deltas: np.ndarray) -> np.ndarray:
    d = np.asarray(deltas, dtype=np.uint64)
    return np.cumsum(d, dtype=np.uint64)
