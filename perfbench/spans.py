"""Spans, process-tree RSS sampling and on-disk table stats.

Spans are recorded from the benchmark's side of each call into the
library: the op itself (one build, or one append-plus-retention cycle),
``run_retention``, and every ``KeyedTable`` commit. A span sets the Spark
job description in its calling thread, so jobs and stages in the event log
carry the span's name.
"""

from __future__ import annotations

import functools
import os
import threading
import time
from contextlib import contextmanager

from hastl_spark.sources.tables import KeyedTable

COMMIT_METHODS = ("merge_upsert", "overwrite", "drop_partitions")


class Tracer:
    """In-memory spans: (name, op index, start s, end s), epoch clock."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[tuple[str, int, float, float]] = []
        self.op = -1
        self._lock = threading.Lock()
        self._saved = {}

    @contextmanager
    def span(self, name: str):
        prev = self.sc.getLocalProperty("spark.job.description")
        self.sc.setJobDescription(f"op{self.op}:{name}")
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            self.sc.setJobDescription(prev)
            with self._lock:
                self.spans.append((name, self.op, t0, t1))

    def install(self) -> None:
        """Wrap the KeyedTable commit calls in ``commit:<table>`` spans."""
        for meth in COMMIT_METHODS:
            orig = getattr(KeyedTable, meth)
            self._saved[meth] = orig

            def wrapped(table, *a, _orig=orig, **kw):
                with self.span("commit:" + os.path.basename(table.path)):
                    return _orig(table, *a, **kw)

            setattr(KeyedTable, meth, functools.wraps(orig)(wrapped))

    def uninstall(self) -> None:
        for meth, orig in self._saved.items():
            setattr(KeyedTable, meth, orig)
        self._saved.clear()

    def of_op(self, op: int, prefix: str = "") -> list:
        return [s for s in self.spans if s[1] == op and s[0].startswith(prefix)]


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree_rss_bytes(root_pid: int) -> int:
    """Summed resident set of ``root_pid`` and all its descendants: the
    driver, the JVM it launched and the JVM's Python workers."""
    kids = _children()
    page = os.sysconf("SC_PAGE_SIZE")
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            pass
    return total


class RssSampler:
    """Background thread keeping the peak of ``tree_rss_bytes``."""

    def __init__(self, period_s: float = 0.25):
        self.period_s = period_s
        self.peak = 0
        self._stop = threading.Event()
        self._th = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(pid))
            self._stop.wait(self.period_s)

    def __enter__(self):
        self._th.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._th.join(timeout=10)


def dir_files(path: str) -> dict[str, int]:
    """Relative path -> size of every regular file under ``path``."""
    out = {}
    for root, _, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            out[os.path.relpath(p, path)] = os.path.getsize(p)
    return out
