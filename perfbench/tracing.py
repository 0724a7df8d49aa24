"""Spans, Spark status-store totals and process memory for one run.

:class:`Tracer` records a span (name, start, end, parent, op id) around
each call the benchmark makes into a layer.  With tracing off every
``span`` is a no-op, so the untraced run pays nothing for it.  Spans
are kept in memory and written out by the caller when the run ends.

:func:`status_store` reads Spark's own status store (jobs with their
job group and wall span, stages with executor run/CPU/GC time, shuffle,
spill and input bytes).  It works with the UI disabled.

:class:`RssSampler` samples the resident set of the JVM and every
process under it (the Python workers) from ``/proc``.
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.op_id: int | None = None
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op_id,
            "start": time.time(),
        }
        rec.update(attrs)
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def total(self, name: str, op_ids: set[int]) -> float:
        """Summed duration of the spans called ``name`` under ``op_ids``."""
        return sum(
            s["end"] - s["start"]
            for s in self.spans
            if s["name"] == name and s["op"] in op_ids and "end" in s
        )


def _seq(jseq) -> list:
    return [jseq.apply(i) for i in range(jseq.size())]


def _opt(jopt):
    return jopt.get() if jopt.isDefined() else None


def status_store(sc) -> tuple[list[dict], dict[int, dict]]:
    """(jobs, stages by id) from the live application's status store.

    Job times are epoch seconds with millisecond resolution; stage
    times are seconds; byte counts are bytes."""
    jvm = sc._jvm
    store = sc._jsc.sc().statusStore()
    empty = jvm.java.util.ArrayList()
    jobs = []
    for j in _seq(store.jobsList(empty)):
        sub, end = _opt(j.submissionTime()), _opt(j.completionTime())
        jobs.append({
            "job_id": j.jobId(),
            "group": _opt(j.jobGroup()),
            "start": sub.getTime() / 1e3 if sub is not None else None,
            "end": end.getTime() / 1e3 if end is not None else None,
            "stage_ids": list(_seq(j.stageIds())),
        })
    no_quantiles = sc._gateway.new_array(jvm.double, 0)
    stages = {}
    for s in _seq(store.stageList(empty, False, False, no_quantiles, empty)):
        stages[s.stageId()] = {
            "status": s.status().toString(),
            "tasks": s.numCompleteTasks(),
            "run_s": s.executorRunTime() / 1e3,
            "cpu_s": s.executorCpuTime() / 1e9,
            "gc_s": s.jvmGcTime() / 1e3,
            "shuffle_write_bytes": s.shuffleWriteBytes(),
            "shuffle_read_bytes": s.shuffleReadBytes(),
            "fetch_wait_s": s.shuffleFetchWaitTime() / 1e3,
            "spill_memory_bytes": s.memoryBytesSpilled(),
            "spill_disk_bytes": s.diskBytesSpilled(),
            "input_bytes": s.inputBytes(),
        }
    return jobs, stages


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total, cur_start, cur_end = 0.0, None, None
    for a, b in sorted(intervals):
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces: fields resume after ")"
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_rss_mb(root_pid: int) -> float:
    kids = _children()
    todo, total = [root_pid], 0
    while todo:
        pid = todo.pop()
        total += _rss_kb(pid)
        todo.extend(kids.get(pid, ()))
    return total / 1024


class RssSampler:
    """Peak summed RSS of a process tree, sampled every ``interval`` s
    on a daemon thread between :meth:`start` and :meth:`stop`."""

    def __init__(self, root_pid: int, interval: float = 0.1):
        self.root_pid = root_pid
        self.interval = interval
        self.peak_mb = 0.0
        self._done = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._done.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(self.root_pid))
            self._done.wait(self.interval)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._done.set()
        self._thread.join(timeout=5)
        return self.peak_mb


def host_record() -> dict:
    """1-minute load and runnable task count from ``/proc/loadavg``."""
    with open("/proc/loadavg") as f:
        parts = f.read().split()
    return {"load_1m": float(parts[0]), "runnable": int(parts[3].split("/")[0])}
