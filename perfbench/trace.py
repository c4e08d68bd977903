"""In-memory spans around the benchmark's calls into the engine, Spark job
labels, and the process-tree memory sampler.

A span is (name, start, end, parent span id, op id), times in epoch
seconds so they line up with the millisecond timestamps of Spark's event
log. Spans stay in memory and are written out once, at the end of a run.
When tracing is off, ``call`` only times: no job description is set and
no span is kept.
"""

from __future__ import annotations

import contextlib
import os
import threading
import time


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.sc = None  # SparkContext of the current session

    @contextlib.contextmanager
    def span(self, name: str, op_id: int | None = None, label: str | None = None):
        """Record one span; with ``label`` set, Spark jobs submitted from
        this thread meanwhile carry the job description
        ``"<op_id>:<label>"``."""
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "op": op_id,
            "parent": self._stack[-1] if self._stack else None,
            "label": f"{op_id}:{label}" if label else None,
            "start": time.time(),
            "end": None,
        }
        if self.enabled:
            self.spans.append(rec)
            self._stack.append(sid)
            if label and self._live():
                self.sc.setJobDescription(rec["label"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            if self.enabled:
                self._stack.pop()
                if label and self._live():
                    self.sc.setJobDescription(None)

    def _live(self) -> bool:
        # the compaction job stops the session it runs in
        return self.sc is not None and self.sc._jsc is not None

    def call(self, op_id: int, layer: str):
        """A labelled call into one engine layer."""
        return self.span(layer, op_id=op_id, label=layer)


#: task flag: forked and not yet exec'd
PF_FORKNOEXEC = 0x40


def _proc_table() -> tuple[dict[int, list[int]], dict[int, int]]:
    """({ppid: [child pids]}, {pid: rss bytes}) of every process.

    The JVM starts processes (the Python daemon, and ``chmod`` for every
    file a write creates) through vfork: until the child has exec'd, it
    runs in the JVM's memory and /proc reports the JVM's whole resident
    size for it too. A child of a ``java`` process that has not exec'd
    counts 0 bytes."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    comm: dict[int, str] = {}
    unexeced: list[tuple[int, int]] = []
    page = os.sysconf("SC_PAGE_SIZE")
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                name, rest = f.read().rsplit(")", 1)
            parts = rest.split()
            # after the comm field: state, ppid, ...; flags is field 9 and
            # rss field 24 overall
            ppid, flags, pages = int(parts[1]), int(parts[6]), int(parts[21])
        except (OSError, IndexError, ValueError):
            continue
        pid = int(d)
        children.setdefault(ppid, []).append(pid)
        rss[pid], comm[pid] = pages * page, name.split("(", 1)[-1]
        if flags & PF_FORKNOEXEC:
            unexeced.append((pid, ppid))
    for pid, ppid in unexeced:
        if comm.get(ppid) == "java":
            rss[pid] = 0
    return children, rss


def descendants(root: int) -> list[int]:
    children, _ = _proc_table()
    out, todo = [], list(children.get(root, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo += children.get(p, [])
    return out


def _tree_rss_bytes(root: int) -> int:
    """Summed resident memory of ``root`` and all its descendants."""
    children, rss = _proc_table()
    total, todo = 0, [root]
    while todo:
        p = todo.pop()
        total += rss.get(p, 0)
        todo += children.get(p, [])
    return total


class RssSampler:
    """Background sampler of the peak summed RSS of this process tree:
    the Python driver, the JVM it launched and the JVM's Python workers."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(me))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
