"""What the benchmark knows about the machine: usable cores, the host
fingerprint recorded with every result, and the resident memory of the
process tree (driver JVM, Python driver and Python workers), read from
``/proc``.
"""

from __future__ import annotations

import os
import platform
import threading

#: fingerprint keys that must match before two results may be compared
FINGERPRINT_KEYS = ("nproc", "mem_total_kb", "python", "spark", "java")


def usable_cores() -> int:
    """Cores this process may run on (affinity mask, not the machine's
    core count): the parallelism ceiling for every Spark level."""
    return len(os.sched_getaffinity(0))


def mem_total_kb(meminfo: str = "/proc/meminfo") -> int:
    with open(meminfo) as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    raise ValueError(f"no MemTotal in {meminfo}")


def fingerprint(spark_version: str, java_version: str) -> dict:
    return {
        "nproc": usable_cores(),
        "mem_total_kb": mem_total_kb(),
        "python": platform.python_version(),
        "spark": spark_version,
        "java": java_version,
    }


def fingerprint_mismatch(a: dict, b: dict) -> list[str]:
    """Keys on which two fingerprints differ ([] = comparable)."""
    return [k for k in FINGERPRINT_KEYS if a.get(k) != b.get(k)]


# -- resident memory of a process tree ----------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _ppid(stat: str) -> int:
    # the command name in field 2 may contain spaces and parentheses:
    # fields after the last ')' are "state ppid ..."
    return int(stat[stat.rindex(")") + 2 :].split()[1])


def tree_pids(root: int, proc: str = "/proc") -> list[int]:
    """``root`` and all its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir(proc):
        if not name.isdigit():
            continue
        try:
            with open(f"{proc}/{name}/stat") as f:
                ppid = _ppid(f.read())
        except (OSError, ValueError, IndexError):
            continue  # exited between listdir and open
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_rss_bytes(root: int, proc: str = "/proc") -> int:
    """Summed resident set size of ``root``'s process tree."""
    total = 0
    for pid in tree_pids(root, proc):
        try:
            with open(f"{proc}/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except (OSError, ValueError, IndexError):
            continue
    return total


class RssSampler:
    """Background sampler of the peak summed RSS of this process's tree.

    Use as a context manager; :attr:`peak_bytes` is valid after exit (and
    readable, as the peak so far, while running)."""

    def __init__(self, interval_s: float = 0.1, root: int | None = None):
        self.interval_s = interval_s
        self.root = os.getpid() if root is None else root
        self.peak_bytes = 0
        self.samples = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _sample(self) -> None:
        self.peak_bytes = max(self.peak_bytes, tree_rss_bytes(self.root))
        self.samples += 1

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def __enter__(self) -> "RssSampler":
        self._sample()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()

