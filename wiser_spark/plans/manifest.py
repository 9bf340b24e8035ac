"""Per-batch build manifest: lineage and metrics of a resumable build.

The reference has no checkpointing (single-process build); the rebuild
spec requires the distributed build to be resumable with per-partition
lineage and rows/bytes metrics. ``build_index_mapside_batched`` records
one entry per committed batch here; what it resumes from is the
streaming commit log (``commits.json``), not this file.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from dataclasses import asdict, dataclass, field


@dataclass
class StageEntry:
    stage: str
    status: str = "pending"  # pending | complete
    input_fingerprint: str = ""
    output_fingerprint: str = ""
    rows: int = 0
    bytes: int = 0
    wall_s: float = 0.0
    files: list[dict] = field(default_factory=list)  # per-partition lineage


class Manifest:
    def __init__(self, work_dir: str):
        self.path = os.path.join(work_dir, "manifest.json")
        self.entries: dict[str, StageEntry] = {}
        if os.path.exists(self.path):
            with open(self.path) as f:
                raw = json.load(f)
            self.entries = {k: StageEntry(**v) for k, v in raw.items()}

    def save(self) -> None:
        os.makedirs(os.path.dirname(self.path), exist_ok=True)
        tmp = self.path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({k: asdict(v) for k, v in self.entries.items()}, f, indent=1)
        os.replace(tmp, self.path)  # atomic: a killed run never half-writes

    def record(self, entry: StageEntry) -> None:
        self.entries[entry.stage] = entry
        self.save()


def dir_lineage(path: str) -> tuple[list[dict], int]:
    """Per-file (relative path, bytes) lineage of a written output dir."""
    files, total = [], 0
    for root, _, names in os.walk(path):
        for n in sorted(names):
            if n.startswith((".", "_")) and not n.startswith("_SUCCESS"):
                continue
            p = os.path.join(root, n)
            size = os.path.getsize(p)
            files.append({"file": os.path.relpath(p, path), "bytes": size})
            total += size
    return files, total


def fingerprint(*parts) -> str:
    h = hashlib.sha256()
    for p in parts:
        h.update(str(p).encode())
        h.update(b"\x00")
    return h.hexdigest()[:16]


class StageTimer:
    def __enter__(self):
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.wall_s = round(time.perf_counter() - self.t0, 3)
