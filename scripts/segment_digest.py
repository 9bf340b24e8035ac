"""Print one SHA-1 per table of an index directory.

    python scripts/segment_digest.py [--logical | --no-blooms] <index_dir>
    python scripts/segment_digest.py --blooms-vs <other_index_dir> <index_dir>

Each digest covers the table's rows (every column, partition columns
included) serialized one per line and sorted, so it does not depend on
file names, file count or row order. For the segments table, "every
column" means those of the current ``segments.SEGMENT_SCHEMA`` (plus
the ``generation`` partition): a column an older layout wrote and no
reader selects (v3's ``off_blob``, ``skip_off_offs``) is left out, so
one version of this script compares an index built by an older writer
with one built by the current writer. Two builds of the same corpus by
two versions of the writer print the same lines exactly when their
segment and dictionary rows are byte-identical. Reads the parquet files
with pyarrow; no Spark session is started.

``--logical`` digests the segments table by (shard, term) entry
instead of by row, so two segment layouts can be compared: an entry
holds the term row's posting columns (partition columns included) and
the (blob, box offsets) of its end and begin phrase blooms, read from
the bloom columns of the term row, or from the older layout's separate
bloom rows (term prefixed "\\x01" for end, "\\x02" for begin, the
boxes in ``tfs_blob``/``skip_tf_offs``). Equal logical lines mean the
same postings and the same bloom bytes, whichever layout wrote them.
The dictionary line stays the plain row digest.

An index with no ``dictionary/`` table (no writer stores one now; the
reader derives it) gets its ``dictionary`` line from the segments of
the live generations, by the definition of
``segments.dictionary_from_segments``: per term other than the
doc-length sentinel, df = sum(df_shard), bytes_docid_tf = sum of
len(docids_blob) + len(tfs_blob), prefetch_pages = ceil(bytes_docid_tf
/ PREFETCH_PAGE_BYTES). It equals the digest of that dictionary written
as a table, so it compares with an older writer's stored one.

``--no-blooms`` digests every table with the four bloom columns dropped,
and ``--blooms-vs`` compares the bloom columns of ``<index_dir>``'s
segments with those of the same (shard, generation, term) rows of
``<other_index_dir>``: it prints how many rows of two or more postings
carry the other index's bloom columns exactly, and how many rows of one
posting carry none. Together they check a change of bloom policy
against the index it replaces.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import pyarrow.compute as pc
import pyarrow.dataset as ds

TABLES = ("segments", "dictionary")
# the columns of segments.SEGMENT_SCHEMA (this script imports no Spark
# code; tests/test_segments.py pins the two equal)
SEGMENT_COLUMNS = (
    "shard_id", "term", "df_shard", "docids_blob", "tfs_blob", "pos_blob",
    "skip_predocs", "skip_docid_offs", "skip_tf_offs", "skip_pos_offs",
    "skip_max_tfs", "bloom_end_blob", "bloom_begin_blob",
    "skip_bloom_end_offs", "skip_bloom_begin_offs",
)
# the bloom sides: (column pair of the term row, term prefix of the
# older layout's bloom row)
SIDES = (
    (("bloom_end_blob", "skip_bloom_end_offs"), "\x01"),
    (("bloom_begin_blob", "skip_bloom_begin_offs"), "\x02"),
)
BLOOM_COLS = {c for cols, _ in SIDES for c in cols}
# segments.PREFETCH_PAGE_BYTES and segments.DOCLEN_TERM (this script
# imports no Spark code)
PREFETCH_PAGE_BYTES = 4096
DOCLEN_TERM = ""


def _digest(lines: list[bytes]) -> tuple[int, str]:
    h = hashlib.sha1()
    for line in sorted(lines):
        h.update(line + b"\n")
    return len(lines), h.hexdigest()


def _dataset(path: str):
    return ds.dataset(path, format="parquet", partitioning="hive")


def _stale(names) -> set:
    """The columns of a segments table outside the current schema."""
    return set(names) - set(SEGMENT_COLUMNS) - {"generation"}


def table_digest(path: str, drop=()) -> tuple[int, str]:
    """(row count, SHA-1 over the sorted row lines) of one parquet
    table, without the columns in ``drop``."""
    table = _dataset(path).to_table()
    cols = sorted(c for c in table.column_names if c not in drop)
    return _digest([
        repr(tuple(row[c] for c in cols)).encode()
        for row in table.to_pylist()
    ])


def derived_dictionary_digest(index_dir: str) -> tuple[int, str]:
    """(row count, SHA-1) of the dictionary derived from the segments
    of the index's live generations (all of them without a
    ``generations.json``), hashed as ``table_digest`` hashes a written
    dictionary."""
    manifest = os.path.join(index_dir, "generations.json")
    live = None
    if os.path.exists(manifest):
        with open(manifest) as f:
            # as strings: a lone generation id past 32 bits reads as a
            # string partition value
            live = [str(int(g)) for g in json.load(f)["generations"]]
    cols = ["term", "df_shard", "docids_blob", "tfs_blob"]
    table = _dataset(os.path.join(index_dir, "segments")).to_table(
        columns=cols,
        filter=None if live is None
        else ds.field("generation").cast("string").isin(live),
    ).filter(pc.field("term") != DOCLEN_TERM)
    nbytes = pc.add(pc.binary_length(table["docids_blob"]),
                    pc.binary_length(table["tfs_blob"])).cast("int64")
    agg = table.select(["term", "df_shard"]).append_column(
        "nbytes", nbytes
    ).group_by("term").aggregate([("df_shard", "sum"), ("nbytes", "sum")])
    return _digest([
        repr((b, df, -(-b // PREFETCH_PAGE_BYTES), term)).encode()
        for term, df, b in zip(agg["term"].to_pylist(),
                               agg["df_shard_sum"].to_pylist(),
                               agg["nbytes_sum"].to_pylist())
    ])


def logical_digest(path: str) -> tuple[int, str]:
    """(entry count, SHA-1 over the sorted (shard, term) entry lines) of
    a segments table in either bloom layout; one shard in memory at a
    time."""
    dataset = _dataset(path)
    names = dataset.schema.names
    base = sorted(c for c in names if c not in BLOOM_COLS | _stale(names))
    part_cols = [c for c in ("shard_id", "generation") if c in names]
    no_sides = [(None, None)] * len(SIDES)
    shards = pc.unique(
        dataset.to_table(columns=["shard_id"])["shard_id"]
    ).to_pylist()
    lines: list[bytes] = []
    for shard in shards:
        rows = dataset.to_table(filter=ds.field("shard_id") == shard).to_pylist()
        entries: dict[tuple, dict] = {}
        sides: dict[tuple, list] = {}
        for r in rows:
            term = r["term"]
            side = next(
                (s for s, (_, pref) in enumerate(SIDES)
                 if term.startswith(pref)), None,
            )
            part = tuple(r[c] for c in part_cols)
            if side is not None:  # older layout: a bloom row
                key = part + (term[1:],)
                got = sides.setdefault(key, list(no_sides))
                got[side] = (r["tfs_blob"], r["skip_tf_offs"])
                continue
            key = part + (term,)
            entries[key] = r
            if BLOOM_COLS <= r.keys():
                sides[key] = [tuple(r[c] for c in cols) for cols, _ in SIDES]
        for key, r in entries.items():
            entry = tuple(r[c] for c in base) + tuple(sides.get(key, no_sides))
            lines.append(hashlib.sha1(repr(entry).encode()).digest())
    return _digest(lines)


def blooms_vs(path: str, other: str) -> str:
    """The bloom columns of the segments at ``path`` against those of
    the same (shard, generation, term) rows at ``other``."""
    def rows(p):
        names = _dataset(p).schema.names
        key = [c for c in ("shard_id", "generation", "term") if c in names]
        table = _dataset(p).to_table(
            columns=key + ["df_shard"] + sorted(BLOOM_COLS))
        return {tuple(r[c] for c in key): r for r in table.to_pylist()}

    mine, theirs = rows(path), rows(other)
    if mine.keys() != theirs.keys():
        return "rows differ"
    multi = [k for k, r in mine.items() if r["df_shard"] >= 2 and k[-1]]
    single = [k for k, r in mine.items() if r["df_shard"] < 2 and k[-1]]
    same = sum(
        all(mine[k][c] == theirs[k][c] for c in BLOOM_COLS) for k in multi
    )
    null = sum(all(mine[k][c] is None for c in BLOOM_COLS) for k in single)
    return (f"df>=2 rows={len(multi)} equal={same} "
            f"df==1 rows={len(single)} null={null}")


def main(index_dir: str, mode: str | None = None) -> None:
    for name in TABLES:
        path = os.path.join(index_dir, name)
        if (name == "dictionary" and not os.path.isdir(path)
                and os.path.isdir(os.path.join(index_dir, "segments"))):
            n, digest = derived_dictionary_digest(index_dir)
            print(f"{name} rows={n} sha1={digest}")
            continue
        if not os.path.isdir(path):
            continue
        if mode == "--logical" and name == "segments":
            n, digest = logical_digest(path)
            print(f"{name} entries={n} logical_sha1={digest}")
        else:
            drop = BLOOM_COLS if mode == "--no-blooms" else set()
            if name == "segments":
                drop = drop | _stale(_dataset(path).schema.names)
            n, digest = table_digest(path, drop)
            print(f"{name} rows={n} sha1={digest}")


if __name__ == "__main__":
    args = sys.argv[1:]
    if len(args) == 3 and args[0] == "--blooms-vs":
        print(blooms_vs(os.path.join(args[2], "segments"),
                        os.path.join(args[1], "segments")))
    elif len(args) == 2 and args[0] in ("--logical", "--no-blooms"):
        main(args[1], args[0])
    elif len(args) == 1:
        main(args[0])
    else:
        sys.exit(__doc__)
