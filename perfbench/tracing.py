"""In-memory span recorder, memory peak and Spark job counter.

Spans are recorded from the benchmark's own files around calls into the
program's public functions; the program itself is not instrumented.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from contextlib import contextmanager


class Tracer:
    """Spans of one benchmark run: (id, name, start, end, parent, run_id).

    A disabled tracer records nothing, so untraced runs pay one
    attribute check per span.
    """

    def __init__(self, run_id: str, enabled: bool) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "start": time.monotonic(),
               "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "run_id": self.run_id}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.monotonic()

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a version that records a span."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(owner, attr, traced)

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: duration minus child spans.

        Spans nest strictly (one stack per run), so children never
        overlap and their durations can simply be subtracted.
        """
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            if s["end"] is not None:
                out[s["name"]] = (out.get(s["name"], 0.0)
                                  + s["end"] - s["start"] - child[s["id"]])
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"run_id": self.run_id, "spans": self.spans,
                       "self_s": self.self_times()}, fh, indent=1)


def _python_children() -> dict[int, list[int]]:
    """Parent pid -> pids of its child processes that run Python."""
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; fields after ')' are fixed
        comm = stat[stat.index("(") + 1:stat.rindex(")")]
        ppid = int(stat[stat.rindex(")") + 1:].split()[1])
        if comm.startswith("python"):
            kids.setdefault(ppid, []).append(int(entry))
    return kids


def workers_rss_bytes(root_pid: int) -> int:
    """Resident bytes of the Python processes below ``root_pid``.

    Other children are left out: a JVM that forks a helper shows the
    child with the parent's whole resident set until it execs.
    """
    kids = _python_children()
    page = os.sysconf("SC_PAGE_SIZE")
    total, todo = 0, list(kids.get(root_pid, ()))
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except OSError:
            pass
    return total


class MemoryPeak:
    """Peak memory of the Spark driver during a block.

    The JVM part is the peak use of each of its memory pools (heap and
    non-heap), reset on entry and summed on exit, so it follows the
    heap the job uses rather than the heap the JVM reserved. Eden is
    left out: it fills to its capacity before every young collection,
    so its peak is the size the collector chose for it, not the job's
    use. A full collection before the reset makes every run start from
    the live heap, so the old-generation peak does not depend on how
    much garbage earlier work left. The Python workers' RSS is sampled
    on a thread and its peak added.
    """

    def __init__(self, sc, interval_s: float = 0.1) -> None:
        self.jvm = sc._jvm
        self.pools = [p for p in sc._jvm.java.lang.management
                      .ManagementFactory.getMemoryPoolMXBeans()
                      if "Eden" not in p.getName()]
        self.jvm_pid = sc._gateway.proc.pid
        self.interval_s = interval_s
        self.pool_bytes: dict[str, int] = {}
        self.workers_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @property
    def peak_bytes(self) -> int:
        return sum(self.pool_bytes.values()) + self.workers_bytes

    def _run(self) -> None:
        while not self._stop.is_set():
            self.workers_bytes = max(self.workers_bytes,
                                     workers_rss_bytes(self.jvm_pid))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "MemoryPeak":
        self.jvm.java.lang.System.gc()
        for pool in self.pools:
            pool.resetPeakUsage()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.pool_bytes = {pool.getName(): pool.getPeakUsage().getUsed()
                           for pool in self.pools}


def spark_counts(sc, group: str) -> dict[str, int]:
    """Jobs, stages and tasks run under one Spark job group."""
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = tasks = 0
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        for sid in info.stageIds:
            st = tracker.getStageInfo(sid)
            if st is not None:
                stages += 1
                tasks += st.numTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks}
