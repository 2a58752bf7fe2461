"""Small statistics and process helpers shared by the benchmark."""

from __future__ import annotations

import math
import os
import threading
import time

#: percentiles the benchmark may report, lowest first
PERCENTILE_LEVELS = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
#: samples that must lie beyond a reported percentile
MIN_BEYOND = 10


def samples_beyond(n: int, p: float) -> int:
    """Samples strictly above the nearest-rank ``p``-th percentile of ``n``."""
    return n - math.ceil(n * p / 100.0)


def tail_percentile(n: int) -> float | None:
    """The highest level in :data:`PERCENTILE_LEVELS` with at least
    :data:`MIN_BEYOND` samples beyond it, or None when not even the median
    has that many."""
    ok = [p for p in PERCENTILE_LEVELS if samples_beyond(n, p) >= MIN_BEYOND]
    return ok[-1] if ok else None


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile (a value that was actually measured)."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    return s[max(0, math.ceil(len(s) * p / 100.0) - 1)]


# -- process tree ------------------------------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _ppid_map() -> dict[int, int]:
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name sits in parentheses and may contain spaces
        fields = stat[stat.rfind(b")") + 2 :].split()
        out[int(name)] = int(fields[1])
    return out


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid`` (children, grandchildren, ...)."""
    kids: dict[int, list[int]] = {}
    for p, pp in _ppid_map().items():
        kids.setdefault(pp, []).append(p)
    out, todo = [], [pid]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


def tree_rss_bytes(pid: int) -> int:
    total = 0
    for p in [pid, *descendants(pid)]:
        try:
            with open(f"/proc/{p}/statm") as fh:
                total += int(fh.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


class RssSampler:
    """Samples the resident set of this process and all its descendants
    (the Spark JVM and its Python workers) until stopped; keeps the peak."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(me))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def become_subreaper() -> None:
    """Make this process the reaper of its orphaned descendants (Linux), so a
    Python worker whose parent died still shows up in :func:`descendants`."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    try:
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def _alive(pid: int) -> bool:
    """Running, not exited: reaps ``pid`` if it is an exited child of ours."""
    try:
        if os.waitpid(pid, os.WNOHANG)[0] == pid:
            return False
    except ChildProcessError:
        pass
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            stat = fh.read()
    except OSError:
        return False
    return stat[stat.rfind(b")") + 2 : stat.rfind(b")") + 3] != b"Z"


def wait_gone(pids: list[int], timeout_s: float) -> list[int]:
    """Poll until none of ``pids`` is alive; return the ones still alive."""
    deadline = time.monotonic() + timeout_s
    alive = list(pids)
    while alive:
        alive = [p for p in alive if _alive(p)]
        if not alive or time.monotonic() >= deadline:
            break
        time.sleep(0.1)
    return alive


def kill_tree(pids: list[int]) -> None:
    """SIGKILL ``pids`` and every process below this one, and wait for all."""
    import signal

    for _ in range(3):
        todo = set(pids) | set(descendants(os.getpid()))
        todo = [p for p in todo if _alive(p)]
        if not todo:
            return
        for pid in todo:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        wait_gone(todo, 15)
