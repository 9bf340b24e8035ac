"""Print the on-disk footprint of an index directory, per table and column.

    python scripts/index_footprint.py <index_dir>

Every top-level directory of ``<index_dir>`` that holds parquet files is a
table (``segments``, ``dictionary``, ``dictionary_deltas``, ...). For each
table it prints the bytes of its files, then one line per column: the
compressed and uncompressed bytes of the column's chunks, the column's null
count (from the chunk statistics; ``?`` when a chunk records none), their
codecs and their encodings. Everything is read from the parquet footers
with pyarrow; no Spark session starts and no data page is read.
"""

from __future__ import annotations

import os
import sys
from collections import defaultdict

import pyarrow.parquet as pq


def parquet_files(table_dir: str) -> list[str]:
    return sorted(
        os.path.join(root, f)
        for root, _, files in os.walk(table_dir)
        for f in files
        if f.endswith(".parquet")
    )


def column_footprint(files: list[str]) -> dict[str, dict]:
    """column path -> {compressed, uncompressed, nulls, codecs,
    encodings}, summed over every row group of every file; ``nulls`` is
    None when a chunk has no null count in its statistics."""
    cols: dict[str, dict] = defaultdict(lambda: {
        "compressed": 0, "uncompressed": 0, "nulls": 0,
        "codecs": set(), "encodings": set(),
    })
    for path in files:
        md = pq.ParquetFile(path).metadata
        for rg in range(md.num_row_groups):
            group = md.row_group(rg)
            for c in range(group.num_columns):
                chunk = group.column(c)
                col = cols[chunk.path_in_schema]
                col["compressed"] += chunk.total_compressed_size
                col["uncompressed"] += chunk.total_uncompressed_size
                stats = chunk.statistics
                if stats is None or not stats.has_null_count:
                    col["nulls"] = None
                elif col["nulls"] is not None:
                    col["nulls"] += stats.null_count
                col["codecs"].add(chunk.compression)
                col["encodings"].update(chunk.encodings)
    return cols


def main(index_dir: str) -> None:
    for name in sorted(os.listdir(index_dir)):
        files = parquet_files(os.path.join(index_dir, name))
        if not files:
            continue
        file_bytes = sum(os.path.getsize(f) for f in files)
        print(f"{name}: {len(files)} files, {file_bytes} bytes")
        print(f"  {'column':36s} {'compressed':>12s} {'uncompressed':>12s}"
              f" {'nulls':>8s}  codecs  encodings")
        cols = column_footprint(files)
        for path, col in sorted(
            cols.items(), key=lambda kv: -kv[1]["compressed"]
        ):
            print(
                f"  {path:36s} {col['compressed']:>12d} "
                f"{col['uncompressed']:>12d} "
                f"{'?' if col['nulls'] is None else col['nulls']:>8}  "
                f"{','.join(sorted(col['codecs']))}  "
                f"{','.join(sorted(col['encodings']))}"
            )


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    main(sys.argv[1])
