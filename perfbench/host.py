"""Host-drift record and memory high-water marks, read from /proc."""

from __future__ import annotations

import hashlib
import os
import statistics
import time


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies of the aggregate cpu line of /proc/stat."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return 0, 0
    # user nice system idle iowait irq softirq steal [guest guest_nice];
    # guest time is already counted in user/nice
    return (fields[7] if len(fields) > 7 else 0), sum(fields[:8])


def steal_pct(start: tuple[int, int], end: tuple[int, int]) -> float:
    total = end[1] - start[1]
    return 100.0 * (end[0] - start[0]) / total if total > 0 else 0.0


def load_1min() -> float:
    try:
        return os.getloadavg()[0]
    except OSError:
        return 0.0


def cpu_calib_ms(reps: int = 5) -> float:
    """Median time of a fixed single-threaded Python loop: the host's
    speed at this moment, recorded so that host drift can be told apart
    from a code effect."""
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        acc = 0
        for i in range(300_000):
            acc += i * i % 7
        times.append((time.perf_counter() - t0) * 1000)
    return statistics.median(times)


def source_digest(root: str) -> str:
    """The commit hash when the tree is a git checkout, else a sha1 over
    the engine's source files (benchmark checkouts carry no .git)."""
    head = os.path.join(root, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(root, ".git", ref[5:])) as f:
                return f.read().strip()
        return ref
    except OSError:
        pass
    h = hashlib.sha1()
    pkg = os.path.join(root, "wiser_spark")
    for dirpath, dirnames, files in sorted(os.walk(pkg)):
        dirnames.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, root).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return "src-" + h.hexdigest()


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; ppid follows its closing paren
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def memory_mb(spark, driver_base_kb: int, n_workers: int
              ) -> tuple[float, dict]:
    """Memory the program holds, in MB: the driver Python's kernel
    high-water mark (``VmHWM``) above ``driver_base_kb`` (taken after the
    benchmark made its inputs, oracle and query log, before Spark
    started), the JVM's live heap after a full collection plus its
    non-heap use (read through ``MemoryMXBean``, so the configured heap
    size does not count), and the high-water marks of the ``n_workers``
    largest Python workers the JVM forked (one per task slot; idle
    workers come and go with Spark's idle timeout, so their count is not
    stable).  Returns the total and the per-part breakdown."""
    mx = spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    mx.gc()
    heap = mx.getHeapMemoryUsage().getUsed()
    non_heap = mx.getNonHeapMemoryUsage().getUsed()
    me = os.getpid()
    workers = sorted((vm_hwm_kb(p) for p in descendants(me)
                      if p != me and _comm(p) != "java"), reverse=True)
    parts = {"driver": max(vm_hwm_kb(me) - driver_base_kb, 0) / 1024.0,
             "jvm_heap": heap / 2**20, "jvm_non_heap": non_heap / 2**20,
             "workers": sum(workers[:n_workers]) / 1024.0,
             "other_workers": sum(workers[n_workers:]) / 1024.0}
    total = sum(v for k, v in parts.items() if k != "other_workers")
    return total, parts
