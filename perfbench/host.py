"""Host fingerprint, process-tree memory and process hygiene, from /proc."""

from __future__ import annotations

import hashlib
import os
import platform
import statistics
import threading
import time
from pathlib import Path

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _proc_table() -> dict[int, tuple[int, str]]:
    """pid -> (parent pid, command name) for every live process."""
    table = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # comm may hold spaces and parentheses: split at the last ')'.
        comm = stat[stat.index("(") + 1 : stat.rindex(")")]
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        table[int(entry)] = (ppid, comm)
    return table


def descendants(pid: int, table: dict | None = None) -> set[int]:
    table = _proc_table() if table is None else table
    children: dict[int, list[int]] = {}
    for child, (ppid, _) in table.items():
        children.setdefault(ppid, []).append(child)
    out: set[int] = set()
    todo = [pid]
    while todo:
        for child in children.get(todo.pop(), []):
            if child not in out:
                out.add(child)
                todo.append(child)
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * _PAGE
    except (OSError, IndexError, ValueError):
        return 0


def other_jvms() -> list[int]:
    """Live ``java`` processes that this process did not start."""
    table = _proc_table()
    mine = descendants(os.getpid(), table)
    return sorted(p for p, (_, comm) in table.items() if comm == "java" and p not in mine)


def process_start_time() -> float:
    """This process's start as a Unix time, from /proc (10 ms resolution)."""
    with open("/proc/self/stat") as fh:
        stat = fh.read()
    start_ticks = int(stat[stat.rindex(")") + 2 :].split()[19])
    with open("/proc/stat") as fh:
        btime = next(int(line.split()[1]) for line in fh if line.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def cpu_times() -> list[int]:
    """The host's aggregate CPU time counters (jiffies) from /proc/stat."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_fraction(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests in between."""
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / sum(delta) if sum(delta) else 0.0


def source_digest(package_dir: Path) -> str:
    """sha256 over the engine's Python sources, for runs outside git."""
    h = hashlib.sha256()
    for path in sorted(package_dir.rglob("*.py")):
        h.update(str(path.relative_to(package_dir)).encode())
        h.update(path.read_bytes())
    return h.hexdigest()[:16]


def git_commit(root: Path) -> str | None:
    head = root / ".git" / "HEAD"
    try:
        ref = head.read_text().strip()
        if ref.startswith("ref: "):
            return (root / ".git" / ref[5:]).read_text().strip()
        return ref
    except OSError:
        return None


def fingerprint(root: Path, package_dir: Path) -> dict:
    import pyarrow
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg_before": list(os.getloadavg()),
        "commit": git_commit(root),
        "source_digest": source_digest(package_dir),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "other_jvms": other_jvms(),
    }


class RssSampler:
    """Summed RSS of this process and all its descendants (the driver JVM
    and the Python workers it forks), sampled on a thread."""

    INTERVAL_S = 0.2

    def __init__(self) -> None:
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)
        #: (unix time, bytes)
        self.samples: list[tuple[float, int]] = []

    def _sample(self) -> None:
        pids = descendants(os.getpid()) | {os.getpid()}
        self.samples.append((time.time(), sum(_rss_bytes(p) for p in pids)))

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.INTERVAL_S)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    def peak_mb(self) -> float:
        return max(b for _, b in self.samples) / 2**20

    def median_mb(self, t0: float, t1: float) -> float:
        """Median of the samples taken between ``t0`` and ``t1``."""
        inside = [b for t, b in self.samples if t0 <= t <= t1] or [self.samples[-1][1]]
        return statistics.median(inside) / 2**20


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            stat = fh.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"


def wait_gone(pids) -> list[int]:
    """Wait up to a minute until every pid in ``pids`` has exited; SIGKILL
    the ones still alive then, wait for those too, and return them."""
    deadline = time.time() + 60
    while time.time() < deadline:
        if not any(_alive(p) for p in pids):
            return []
        time.sleep(0.1)
    left = [p for p in pids if _alive(p)]
    for pid in left:
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass
    deadline = time.time() + 10
    while time.time() < deadline and any(_alive(p) for p in left):
        time.sleep(0.1)
    return left
