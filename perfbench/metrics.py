"""Arithmetic of the benchmark's figures, kept free of Spark so the
self-tests can check it on synthetic inputs."""

from __future__ import annotations

import math
import os
import statistics
from collections.abc import Iterable, Sequence

#: percentiles tried for the tail figure, highest first.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def median(values: Sequence[float]) -> float:
    return float(statistics.median(values))


def tail(values: Sequence[float], min_beyond: int = 10,
         ladder: Sequence[float] = TAIL_LADDER) -> tuple[float, float, int]:
    """The highest percentile of ``ladder`` that has at least
    ``min_beyond`` samples ranked above it.

    Nearest-rank percentile: the p-th percentile of n sorted samples is
    the sample at rank ``ceil(p/100 * n)``; the samples beyond it are
    the ``n - rank`` ranked higher. Returns ``(p, value, n_beyond)``.
    When no rung qualifies (fewer than ``2 * min_beyond`` samples) the
    median is returned with its true count beyond, so the caller can
    state that the rule was not met.
    """
    if not values:
        raise ValueError("tail of no samples")
    xs = sorted(values)
    n = len(xs)
    for p in ladder:
        rank = max(1, math.ceil(round(p * n / 100.0, 9)))
        if n - rank >= min_beyond:
            return p, float(xs[rank - 1]), n - rank
    rank = max(1, math.ceil(0.5 * n))
    return 50.0, float(xs[rank - 1]), n - rank


def attribute_jobs(jobs: Iterable[dict], spans: Sequence[dict]) -> dict[int, str | None]:
    """Assign each job to one span id.

    ``jobs``: dicts with ``job_id``, ``group`` (job group or None) and
    ``submit_ms`` (epoch ms). ``spans``: dicts with ``id``, ``group``
    and the epoch-ms window ``start_ms``/``end_ms``.

    A job goes to the innermost span whose window holds its submit
    time. When a span set the job's group, only that span and the
    spans nested in it are candidates, so a job is never charged
    outside the operation that tagged it. Jobs outside every span's
    group (streaming queries submit under their own UUID group) are
    placed by window alone; a job in no window maps to ``None``.
    """
    by_group = {s["group"]: s for s in spans if s.get("group")}
    out: dict[int, str | None] = {}
    for j in jobs:
        t = j["submit_ms"]
        owner = by_group.get(j.get("group"))
        if owner is None:
            cands = [s for s in spans if s["start_ms"] <= t <= s["end_ms"]]
        else:
            cands = [owner] + [s for s in spans
                               if owner["start_ms"] <= s["start_ms"] <= t <= s["end_ms"]
                               <= owner["end_ms"]]
        best = max(cands, key=lambda s: (s["start_ms"], -s["end_ms"]), default=None)
        out[j["job_id"]] = None if best is None else best["id"]
    return out


def busy_cores(task_s: float, wall_s: float) -> float:
    """Mean cores busy over a span: task-seconds per wall second."""
    return task_s / wall_s if wall_s > 0 else 0.0


def write_amp(bytes_written: float, batch_bytes: float) -> float:
    """Bytes an upsert wrote per byte of batch data it was given."""
    return bytes_written / batch_bytes if batch_bytes > 0 else 0.0


def row_bytes(rows: Iterable[Sequence]) -> int:
    """Payload size of scraper rows: the UTF-8 bytes of every field."""
    return sum(len(str(v).encode()) for r in rows for v in r if v is not None)


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def _proc_children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree_hwm_mb(root: int | None = None) -> float:
    """Sum of peak resident sizes (VmHWM) over a process and all its
    descendants: the Python driver, the JVM and the Python workers."""
    root = os.getpid() if root is None else root
    kids = _proc_children()
    todo, total_kb = [root], 0
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0
