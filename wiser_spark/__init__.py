"""wiser_spark — a PySpark-native full-text inverted-index builder and BM25
query engine with the query capabilities of WiSER (junhe/wiser, FAST'20).

Built from scratch on the Spark DataFrame API: the index build is a
declarative pipeline (tokenize -> explode -> groupBy term/doc -> shard by
doc range -> encode segments with the Arrow shard encoder); the query
side answers single-term, conjunctive (AND) and phrase queries with BM25
top-k, rank-identical to the reference engine's semantics (including its
lossy 1-byte doc-length encoding, reference ``utils.h:301-329``).

Nothing in this package is a port of the reference's C++ — the reference
defines WHAT is computed (see SURVEY.md); everything here is expressed in
terms of Spark DataFrames, Catalyst-optimizable expressions, and
Arrow-vectorized pandas UDFs.
"""

from wiser_spark.config import BM25Params, IndexConfig

__all__ = ["BM25Params", "IndexConfig"]
__version__ = "0.1.0"
