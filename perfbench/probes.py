"""Host-side probes around a benchmark call: process-tree peak RSS, the
Spark ERROR-line count, and the JVM-only calibration query."""

from __future__ import annotations

import os
import time
from pathlib import Path


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.scandir("/proc"):
        if not entry.name.isdigit():
            continue
        try:
            with open(f"/proc/{entry.name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may contain spaces; ppid follows the closing paren
        ppid = int(stat[stat.rindex(b")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(entry.name))
    return kids


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status", "rb") as f:
            for line in f:
                if line.startswith(b"VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(root: int) -> tuple[float, float, int]:
    """Kernel-tracked peak RSS (VmHWM) of every descendant of ``root`` — the
    Spark JVM and the Python workers it forks — excluding ``root`` itself
    → (summed MB, largest process MB, process count). Python workers are
    reused across jobs, so each one's peak covers the job just run."""
    kids = _children()
    stack, sizes = list(kids.get(root, [])), []
    while stack:
        pid = stack.pop()
        sizes.append(_hwm_kb(pid) / 1024.0)
        stack.extend(kids.get(pid, []))
    return sum(sizes), max(sizes, default=0.0), len(sizes)


class SparkLog:
    """Routes this process's stderr (inherited by the Spark JVM when it
    launches) into a file, so ERROR lines can be counted per call. Call
    ``start`` before the first SparkSession is created."""

    def __init__(self, path: Path):
        self.path = path
        self._saved: int | None = None
        self._offset = 0

    def start(self) -> None:
        self.path.parent.mkdir(parents=True, exist_ok=True)
        fd = os.open(self.path, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
        self._saved = os.dup(2)
        os.dup2(fd, 2)
        os.close(fd)

    def restore(self) -> None:
        if self._saved is not None:
            os.dup2(self._saved, 2)
            os.close(self._saved)
            self._saved = None

    def error_lines(self) -> int:
        """ERROR log lines written since the previous call."""
        with open(self.path, "rb") as f:
            f.seek(self._offset)
            chunk = f.read()
        self._offset += len(chunk)
        return sum(1 for line in chunk.splitlines() if b" ERROR " in line)


def calibrate(spark) -> float:
    """A fixed JVM-only query (no Python, no input files): its time tracks
    host load, so a slow call with a slow stamp beside it reads as a gust,
    not a regression."""
    t0 = time.perf_counter()
    spark.range(0, 4_000_000, 1, 4).selectExpr("sum(hash(id) % 1009) AS s").collect()
    return time.perf_counter() - t0
