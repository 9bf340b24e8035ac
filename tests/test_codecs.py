"""Varint / packed-frame / column-blob round-trips (FIXTURES.md §3
``segment_roundtrip``: edge values mirroring reference tests_4/9/12)."""

import numpy as np
import pytest

from wiser_spark.config import PACK_SIZE, PACKED_FRAME_MAGIC, VINTS_MAGIC
from wiser_spark.functions.packing import (
    decode_column,
    delta_decode,
    delta_encode,
    encode_column,
    pack_frame,
    unpack_frame,
)
from wiser_spark.functions.varint import varint_decode, varint_encode

EDGES = [0, 1, 127, 128, 129, 16383, 16384, (1 << 31) - 1, (1 << 32) - 1]


def test_varint_edge_values():
    buf = varint_encode(EDGES)
    vals, used = varint_decode(buf)
    assert used == len(buf)
    np.testing.assert_array_equal(vals.astype(np.int64), EDGES)


def test_varint_sizes():
    assert len(varint_encode([0])) == 1
    assert len(varint_encode([127])) == 1
    assert len(varint_encode([128])) == 2
    assert len(varint_encode([1 << 14])) == 3


def test_varint_random_roundtrip():
    rng = np.random.default_rng(7)
    vals = rng.integers(0, 1 << 62, size=10_000, dtype=np.int64)
    out, _ = varint_decode(varint_encode(vals))
    np.testing.assert_array_equal(out.astype(np.int64), vals)


def test_varint_partial_decode():
    buf = varint_encode([5, 500, 50000])
    vals, used = varint_decode(buf, count=2)
    np.testing.assert_array_equal(vals.astype(np.int64), [5, 500])
    rest, _ = varint_decode(buf, offset=used, count=1)
    assert int(rest[0]) == 50000


@pytest.mark.parametrize("case", ["zeros", "small", "max32", "mixed"])
def test_pack_frame_roundtrip(case):
    rng = np.random.default_rng(11)
    frames = {
        "zeros": np.zeros(PACK_SIZE, dtype=np.int64),
        "small": rng.integers(0, 8, PACK_SIZE),
        "max32": np.full(PACK_SIZE, (1 << 32) - 1, dtype=np.int64),
        "mixed": rng.integers(0, 1 << 20, PACK_SIZE),
    }
    vals = frames[case].astype(np.uint64)
    blob = pack_frame(vals)
    assert blob[0] == PACKED_FRAME_MAGIC
    width = blob[1]
    assert len(blob) == 2 + (PACK_SIZE * width + 7) // 8
    out, used = unpack_frame(np.frombuffer(blob, dtype=np.uint8), 0)
    assert used == len(blob)
    np.testing.assert_array_equal(out, vals)


@pytest.mark.parametrize("n", [0, 1, 127, 128, 129, 1000])
def test_column_roundtrip(n):
    rng = np.random.default_rng(n)
    vals = rng.integers(0, 1 << 24, size=n, dtype=np.int64).astype(np.uint64)
    blob, offsets = encode_column(vals)
    assert len(offsets) == (n // PACK_SIZE) + (1 if n % PACK_SIZE else 0)
    out = decode_column(blob, n)
    np.testing.assert_array_equal(out, vals)
    if 0 < n < PACK_SIZE:
        assert blob[0] == VINTS_MAGIC  # pure tail


def test_column_partial_decode_from_skip_offset():
    """Skip entries point at frame offsets: decode from a mid-column frame."""
    vals = np.arange(500, dtype=np.uint64) * 3
    blob, offsets = encode_column(vals)
    # frame 2 starts at value index 256
    out = decode_column(blob, 500 - 256, offset=int(offsets[2]))
    np.testing.assert_array_equal(out, vals[256:])


def test_delta_roundtrip():
    docids = np.array([3, 4, 10, 100, 101, 4000], dtype=np.int64)
    deltas = delta_encode(docids)
    np.testing.assert_array_equal(deltas.astype(np.int64), [3, 1, 6, 90, 1, 3899])
    np.testing.assert_array_equal(delta_decode(deltas).astype(np.int64), docids)


def test_batched_boxes_match_per_range_encoders():
    """The flat-buffer batch encoders (one pass over every range) equal
    the per-range reference encoders byte for byte, across 1- and
    2-byte tail headers, absent bloom rows and partial-byte bitmaps."""
    from wiser_spark.functions.bloom import (
        BOX_CAP,
        bloom_boxes_encode,
        bloom_boxes_encode_ranges,
    )
    from wiser_spark.functions.packing import varint_tail_box, varint_tail_boxes

    rng = np.random.default_rng(5)
    stream = rng.integers(0, 256, 4000, dtype=np.uint8)
    cuts = np.unique(rng.integers(1, stream.size, 30))
    bounds = np.concatenate(([0], cuts, [stream.size]))
    keep = np.arange(bounds.size - 1) % 3 != 1  # gaps between ranges
    lo, hi = bounds[:-1][keep], bounds[1:][keep]
    assert (hi - lo).max() >= 128  # a 2-byte length header occurs
    buf, offs = varint_tail_boxes(stream, lo, hi)
    for t in range(lo.size):
        assert buf[offs[t]:offs[t + 1]].tobytes() == varint_tail_box(
            stream[lo[t]:hi[t]].tobytes()
        )

    mat = rng.integers(0, 256, (900, 9), dtype=np.uint8)
    mat[rng.random(900) < 0.3] = 0  # absent (all-zero) filters
    cuts = np.unique(rng.integers(1, 900, 40))
    bounds = np.concatenate(([0], cuts, [900]))
    lo, hi = bounds[:-1], bounds[1:]
    lo, hi = lo[hi - lo <= BOX_CAP], hi[hi - lo <= BOX_CAP]
    buf, offs = bloom_boxes_encode_ranges(mat, lo, hi)
    for t in range(lo.size):
        assert buf[offs[t]:offs[t + 1]].tobytes() == bloom_boxes_encode(
            mat[lo[t]:hi[t]]
        )[0]
    empty = np.zeros(0, dtype=np.int64)
    assert varint_tail_boxes(stream, empty, empty)[1].tolist() == [0]
    assert bloom_boxes_encode_ranges(mat, empty, empty)[1].tolist() == [0]
