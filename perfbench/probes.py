"""Probes the benchmark attaches from outside the engine: a resident-memory
sampler over this process tree and a streaming progress listener."""

from __future__ import annotations

import json
import os
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener

_PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024


def _proc_table() -> dict[int, tuple[int, str, int]]:
    """pid -> (ppid, command name, resident kB) for every visible process."""
    table = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
            with open(f"/proc/{entry}/statm") as f:
                rss_pages = int(f.read().split()[1])
        except (OSError, IndexError, ValueError):
            continue  # the process ended between listdir and open
        lp, rp = stat.find("("), stat.rfind(")")
        ppid = int(stat[rp + 2 :].split()[1])
        table[int(entry)] = (ppid, stat[lp + 1 : rp], rss_pages * _PAGE_KB)
    return table


def _descendants(table: dict, root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, stack = [], list(children.get(root, ()))
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, ()))
    return out


def descendants(root: int) -> list[int]:
    return _descendants(_proc_table(), root)


def tree_rss_kb(root: int) -> dict[str, int]:
    """Resident kB of ``root``'s process tree, split into the driver side
    (this Python process and its direct children: the JVM) and the Python
    workers (python processes further down: the pyspark daemon and its
    forks). Other processes the JVM starts are skipped: between fork and
    exec they report the JVM's own pages, which would count it twice."""
    table = _proc_table()
    out = {"driver": table.get(root, (0, "", 0))[2], "worker": 0}
    for pid in _descendants(table, root):
        ppid, comm, rss = table[pid]
        if comm.startswith("python"):
            out["worker"] += rss
        elif ppid == root:
            out["driver"] += rss
    return out


class RssSampler:
    """Samples :func:`tree_rss_kb` at a fixed interval on one daemon thread
    and keeps per-window peaks; :meth:`take_window` returns and resets them."""

    def __init__(self, interval_s: float = 0.25):
        # a /proc scan costs ~5 ms of driver CPU under the GIL; sampling
        # faster would perturb the timings it runs beside
        self._interval = interval_s
        self._root = os.getpid()
        self._lock = threading.Lock()
        self._peaks = {"driver": 0, "worker": 0, "total": 0}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    def _loop(self) -> None:
        while not self._stop.wait(self._interval):
            self.sample()

    def sample(self) -> None:
        rss = tree_rss_kb(self._root)
        rss["total"] = rss["driver"] + rss["worker"]
        with self._lock:
            for k, v in rss.items():
                self._peaks[k] = max(self._peaks[k], v)

    def take_window(self) -> dict[str, float]:
        """Peak MB per side since the previous call."""
        self.sample()
        with self._lock:
            peaks, self._peaks = self._peaks, dict.fromkeys(self._peaks, 0)
        return {k: v / 1024 for k, v in peaks.items()}


class ProgressLog(StreamingQueryListener):
    """Collects every streaming query's progress as a dict."""

    def __init__(self):
        self.progress: list[dict] = []
        self._last = time.monotonic()

    def onQueryStarted(self, event) -> None:
        self._last = time.monotonic()

    def onQueryProgress(self, event) -> None:
        self.progress.append(json.loads(event.progress.json))
        self._last = time.monotonic()

    def onQueryTerminated(self, event) -> None:
        self._last = time.monotonic()

    def drain(self, quiet_s: float = 1.0, limit_s: float = 10.0) -> None:
        """Wait until no event has arrived for ``quiet_s``: the listener bus
        delivers asynchronously, after the query that posted the event
        has returned."""
        end = time.monotonic() + limit_s
        while time.monotonic() < end and time.monotonic() - self._last < quiet_s:
            time.sleep(0.1)
