"""Char4 lossy doc-length codec vs a literal spec implementation.

Spec transcribed from SURVEY.md §4.6 / reference utils.h:301-329.
"""

import numpy as np
import pytest

from wiser_spark.functions.char4 import (
    char4_decode_table,
    char4_to_uint,
    uint_to_char4,
)


def spec_encode(val: int) -> int:
    if val < 8:
        return val
    n = val.bit_length()
    shift = n - 4
    encoded = (val >> shift) & 0x07
    encoded |= (shift + 1) << 3
    return encoded


def spec_decode(c: int) -> int:
    # the reference computes in uint32, so large shifts WRAP:
    # Char4ToUint(240) == 0 (pinned by reference tests_8.cc)
    bits = c & 0x07
    shift = ((c & 0xFF) >> 3) - 1
    return bits if shift == -1 else ((bits | 0x08) << shift) & 0xFFFFFFFF


@pytest.mark.parametrize(
    "val",
    [0, 1, 7, 8, 9, 15, 16, 100, 127, 128, 129, 255, 256, 1000, 4096,
     65535, 1 << 20, (1 << 31) - 1],
)
def test_encode_matches_spec(val):
    assert int(uint_to_char4([val])[0]) == spec_encode(val)


def test_exhaustive_small_range():
    vals = np.arange(0, 1 << 16)
    enc = uint_to_char4(vals)
    expected = np.array([spec_encode(int(v)) for v in vals], dtype=np.uint8)
    np.testing.assert_array_equal(enc, expected)


def test_decode_all_bytes():
    dec = char4_to_uint(np.arange(256))
    expected = np.array([spec_decode(c) for c in range(256)])
    np.testing.assert_array_equal(dec, expected)


def test_roundtrip_properties():
    vals = np.unique(np.concatenate([
        np.arange(0, 4096),
        np.logspace(0, 30, 500, base=2).astype(np.int64),
    ]))
    dec = char4_to_uint(uint_to_char4(vals))
    # decoded value keeps the top 4 significant bits: dec <= val < dec*17/16 roughly
    assert np.all(dec <= vals)
    assert np.all(vals < np.maximum(dec + (dec >> 3) + 1, dec + 1))


def test_decode_table_monotone_on_encodable():
    table = char4_decode_table()
    # encoding then decoding is monotone non-decreasing in the input
    vals = np.arange(0, 1 << 16)
    dec = table[uint_to_char4(vals)]
    assert np.all(np.diff(dec) >= 0)


def test_jvm_encode_matches_numpy(spark):
    """The Catalyst Char4 encode (docstats' doclen_char, which v1
    indexes scored with) equals uint_to_char4 (the sentinel rows' byte)
    over every 16-bit length and the spec values up to 2^31 - 1."""
    from pyspark.sql import functions as F

    from wiser_spark.operators.docstats import char4_encode_col

    extra = [1 << 20, (1 << 24) + 1, (1 << 29) - 1, 1 << 29, (1 << 31) - 1]
    vals = np.concatenate([np.arange(0, (1 << 16) + 1), extra])
    df = spark.createDataFrame([(int(v),) for v in vals], "v long")
    got = {
        r["v"]: r["c"]
        for r in df.select("v", char4_encode_col(F.col("v")).alias("c")).collect()
    }
    want = uint_to_char4(vals)
    assert [got[int(v)] for v in vals] == want.astype(int).tolist()
