"""Print one SHA-1 per table of an index directory.

    python scripts/segment_digest.py <index_dir>

Each digest covers the table's rows (every column, partition columns
included) serialized one per line and sorted, so it does not depend on
file names, file count or row order. Two builds of the same corpus by
two versions of the writer print the same lines exactly when their
segment and dictionary rows are byte-identical. Reads the parquet files
with pyarrow; no Spark session is started.
"""

from __future__ import annotations

import hashlib
import os
import sys

import pyarrow.dataset as ds

TABLES = ("segments", "dictionary")


def table_digest(path: str) -> tuple[int, str]:
    """(row count, SHA-1 over the sorted row lines) of one parquet table."""
    table = ds.dataset(path, format="parquet", partitioning="hive").to_table()
    cols = sorted(table.column_names)
    lines = sorted(
        repr(tuple(row[c] for c in cols)).encode()
        for row in table.to_pylist()
    )
    h = hashlib.sha1()
    for line in lines:
        h.update(line + b"\n")
    return len(lines), h.hexdigest()


def main(index_dir: str) -> None:
    for name in TABLES:
        path = os.path.join(index_dir, name)
        if os.path.isdir(path):
            n, digest = table_digest(path)
            print(f"{name} rows={n} sha1={digest}")


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    main(sys.argv[1])
