"""Okapi BM25 math, Elasticsearch-flavored, with the lossy length path.

idf    = ln(1 + (N - df + 0.5) / (df + 0.5))            (reference scoring.h:21-25)
tfnorm = tf*(k1+1) / (tf + k1*(1 - b + b*len/avgdl))    (reference scoring.h:28-40)

The production score path is LOSSY (reference scoring.h:148-160 routes
``CalcDocScore`` to ``CalcDocScoreLossy``): ``len`` is the Char4-decoded
1-byte doc length, via a 256-entry cache of
``k1*(1 - b + b*decode(byte)/avgdl)`` indexed by the raw byte
(reference scoring.h:85-90). All kernels are numpy-vectorized.
"""

from __future__ import annotations

import numpy as np

from wiser_spark.config import BM25Params
from wiser_spark.functions.char4 import char4_decode_table


def idf(n_docs: int, df) -> np.ndarray:
    d = np.asarray(df, dtype=np.float64)
    return np.log(1.0 + (n_docs - d + 0.5) / (d + 0.5))


def tfnorm_cache(avgdl: float, params: BM25Params) -> np.ndarray:
    """256-entry table: byte c -> k1*(1 - b + b*decode(c)/avgdl)."""
    lengths = char4_decode_table().astype(np.float64)
    return params.k1 * (1.0 - params.b + params.b * lengths / avgdl)
