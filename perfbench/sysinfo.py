"""Process-tree memory sampling and result stamping, read from /proc and
the installed packages (psutil is not available)."""

from __future__ import annotations

import os
import platform
import subprocess
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")
SAMPLE_S = 0.1  # seconds between memory samples
TREE_EVERY = 10  # samples between re-reads of the process tree


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may contain spaces; ppid follows the last ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(root: int) -> list[int]:
    """``root`` and every process below it."""
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def rss_bytes(pids: list[int]) -> int:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            continue
    return total


class PeakRss:
    """Samples the resident memory of this process tree (this Python
    process, the JVM and the Python workers) every ``SAMPLE_S`` seconds;
    ``peak`` is the largest sum seen. The tree itself is re-read every
    ``TREE_EVERY`` samples, which keeps each sample to a few small reads."""

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me, n, pids = os.getpid(), 0, []
        while not self._stop.is_set():
            if n % TREE_EVERY == 0:
                pids = descendants(me)
            n += 1
            self.peak = max(self.peak, rss_bytes(pids))
            self._stop.wait(SAMPLE_S)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, rss_bytes(descendants(os.getpid())))


def host_ram_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    return 0


def git_commit(root: str) -> str:
    """The checked-out commit, or "unknown" when ``root`` is not itself a
    git work tree (git would otherwise search the parent directories)."""
    if not os.path.isdir(os.path.join(root, ".git")):
        return "unknown"
    try:
        out = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def stamp(root: str, nproc: int) -> dict:
    import numpy
    import pyarrow
    import pyspark

    return {
        "nproc": nproc,
        "ram_gb": round(host_ram_bytes() / 2**30, 2),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
        "commit": git_commit(root),
    }
