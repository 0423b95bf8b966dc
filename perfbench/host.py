"""Host-side measurements: process-tree CPU and memory, and the host probe.

The driver Python process launches the Spark JVM, which forks the Python
workers, so the process tree rooted at this process is everything a
cluster would pay for. CPU is user+sys of every live descendant plus the
time of children they already reaped (``cutime``/``cstime``), which keeps
the sum monotonic when a worker exits mid-unit.
"""

from __future__ import annotations

import os
import sys
import threading
import time

_CLK = os.sysconf("SC_CLK_TCK")
RSS_INTERVAL_S = 0.25
SPIN_LOOPS = 2_000_000
REAP_TIMEOUT_S = 30.0


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm (field 2) may hold spaces: split after its closing paren
    return raw[raw.rindex(")") + 2:].split()


def tree_pids() -> list[int]:
    """This process and all of its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(int(name))
        if f is not None:
            children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    total = 0
    for pid in tree_pids():
        f = _stat_fields(pid)
        if f is not None:
            # utime, stime, cutime, cstime are fields 14-17 (index 11-14
            # after dropping pid and comm)
            total += sum(int(x) for x in f[11:15])
    return total / _CLK


def tree_rss_mb() -> float:
    """Resident memory of the tree as the sum of each process's proportional
    set size: a page shared by the forked Python workers counts once."""
    total_kb = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024


class RssPeak:
    """Samples the tree's resident memory on a background thread while
    active."""

    def __init__(self):
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def __enter__(self) -> "RssPeak":
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, tree_rss_mb())

    def _loop(self) -> None:
        while not self._stop.wait(RSS_INTERVAL_S):
            self.peak_mb = max(self.peak_mb, tree_rss_mb())


def spin_probe_s() -> float:
    """Wall time of a fixed single-thread pure-Python loop. Reported next
    to a run's figures to explain host drift; never used to rescale them."""
    t0 = time.perf_counter()
    x = 1.0
    for _ in range(SPIN_LOOPS):
        x = x * 1.0000001 % 7
    return time.perf_counter() - t0


def reap_tree() -> list[int]:
    """Terminates whatever descendants outlived Spark's shutdown and waits
    for them to exit; returns the pids that had to be signalled."""
    import signal

    left = [p for p in tree_pids() if p != os.getpid()]
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.time() + REAP_TIMEOUT_S
        while time.time() < deadline and any(
                (_stat_fields(p) or ["Z"])[0] != "Z" for p in left):
            time.sleep(0.1)
    for pid in left:
        try:
            os.waitpid(pid, os.WNOHANG)
        except ChildProcessError:
            pass
    if left:
        print(f"perfbench: terminated leftover processes {left}",
              file=sys.stderr)
    return left
