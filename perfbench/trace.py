"""Span tracing for the traced benchmark run, plus OS process accounting.

A span is one call of a public stage function (or a named block).  Spans
nest; while a span is open it is the only benchmark tag on the session
(``SparkSession.addTag``), so every Spark job, including AQE-submitted and
broadcast jobs, is attributed to the INNERMOST open span.  After the run
the Spark status store is read back and each job's stages (executor CPU,
shuffle bytes) are summed per tag.  Self time is a span's wall time minus
that of its direct children.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import threading
import time
import urllib.request
from dataclasses import dataclass

TAG_PREFIX = "perfbench-"


@dataclass
class Span:
    name: str
    start: float
    parent: int | None
    end: float = 0.0
    child_s: float = 0.0


class Tracer:
    """In-memory span stack.  With ``spark`` None (the untraced runs) a
    span does nothing, so the timed code path is the same either way."""

    def __init__(self, spark=None):
        self.spark = spark
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.overhead_s = 0.0  # time spent switching tags

    def _retag(self, old: str | None, new: str | None) -> None:
        t = time.perf_counter()
        if old is not None:
            self.spark.removeTag(TAG_PREFIX + old)
        if new is not None:
            self.spark.addTag(TAG_PREFIX + new)
        self.overhead_s += time.perf_counter() - t

    @contextlib.contextmanager
    def span(self, name: str):
        if self.spark is None:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        parent_name = self.spans[parent].name if parent is not None else None
        self._retag(parent_name, name)
        self.spans.append(Span(name, time.perf_counter(), parent))
        idx = len(self.spans) - 1
        self._stack.append(idx)
        try:
            yield
        finally:
            sp = self.spans[idx]
            sp.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.spans[parent].child_s += sp.end - sp.start
            self._retag(name, parent_name)

    @contextlib.contextmanager
    def patched(self, targets: list[tuple[object, str, str]]):
        """Wrap ``getattr(owner, attr)`` in a span named ``name`` for every
        (owner, attr, name) in ``targets``; restore the originals on exit."""
        saved = []
        try:
            for owner, attr, name in targets:
                orig = getattr(owner, attr)
                saved.append((owner, attr, orig))
                setattr(owner, attr, self._wrap(orig, name))
            yield
        finally:
            for owner, attr, orig in reversed(saved):
                setattr(owner, attr, orig)

    def _wrap(self, fn, name):
        @functools.wraps(fn)
        def inner(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return inner

    def self_times(self) -> dict[str, tuple[float, int]]:
        """name -> (summed self seconds, calls)."""
        out: dict[str, tuple[float, int]] = {}
        for sp in self.spans:
            s, n = out.get(sp.name, (0.0, 0))
            out[sp.name] = (s + (sp.end - sp.start) - sp.child_s, n + 1)
        return out

    def dump(self, path: str) -> None:
        """Write the raw span records (name, start, end, parent) as JSON."""
        t0 = self.spans[0].start if self.spans else 0.0
        with open(path, "w") as fh:
            json.dump([{"name": s.name, "start": round(s.start - t0, 6),
                        "end": round(s.end - t0, 6), "parent": s.parent}
                       for s in self.spans], fh)


def _rest(spark, endpoint: str) -> list:
    base = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    with urllib.request.urlopen(
            f"{base}/api/v1/applications/{app}/{endpoint}", timeout=30) as r:
        return json.load(r)


def _snapshot(spark) -> tuple[list, list]:
    return _rest(spark, "jobs"), _rest(spark, "stages")


def work_by_tag(spark, since_job: int) -> dict[str, dict]:
    """Per-span Spark work of jobs with id >= ``since_job``: job count,
    executor CPU seconds and shuffle-write MB.  Each stage is charged to
    the lowest-id job that lists it (the job that ran it; later jobs only
    skip it).  The status store is fed by an asynchronous listener, so it
    is re-read until two snapshots agree."""
    jobs, stages = _snapshot(spark)
    for _ in range(20):
        time.sleep(0.25)
        nxt = _snapshot(spark)
        if nxt == (jobs, stages):
            break
        jobs, stages = nxt
    owner: dict[int, str] = {}
    out: dict[str, dict] = {}
    for job in sorted(jobs, key=lambda j: j["jobId"]):
        if job["jobId"] < since_job:
            continue
        tag = next((t.split(TAG_PREFIX, 1)[1] for t in job.get("jobTags", [])
                    if TAG_PREFIX in t), "untagged")
        w = out.setdefault(tag, {"jobs": 0, "exec_cpu_s": 0.0, "shuffle_mb": 0.0})
        w["jobs"] += 1
        for sid in job.get("stageIds", []):
            owner.setdefault(sid, tag)
    for st in stages:
        tag = owner.get(st["stageId"])
        if tag is None:
            continue
        out[tag]["exec_cpu_s"] += st.get("executorCpuTime", 0) / 1e9
        out[tag]["shuffle_mb"] += st.get("shuffleWriteBytes", 0) / 1e6
    return out


def last_job_id(spark) -> int:
    jobs = _rest(spark, "jobs")
    return max((j["jobId"] for j in jobs), default=-1)


# -- OS process accounting ---------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")


def _proc_table() -> dict[int, tuple[int, int, str]]:
    """pid -> (ppid, cpu ticks incl. reaped children, comm)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                raw = fh.read()
        except OSError:
            continue
        comm = raw[raw.index("(") + 1:raw.rindex(")")]
        f = raw[raw.rindex(")") + 2:].split()
        out[int(name)] = (int(f[1]), sum(int(x) for x in f[11:15]), comm)
    return out


def _tree(table, root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and all its descendants
    (the Spark JVM and its Python workers)."""
    table = _proc_table()
    return sum(table[p][1] for p in _tree(table, os.getpid())) / _TICK


def jvm_pid() -> int | None:
    table = _proc_table()
    return next((p for p in _tree(table, os.getpid())
                 if table[p][2] == "java"), None)


class RssPeak:
    """Samples a process's resident set every ``interval`` seconds in a
    background thread; ``peak_mb`` is the largest sample seen."""

    def __init__(self, pid: int | None, interval: float = 0.05):
        self.pid, self.interval = pid, interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        try:
            with open(f"/proc/{self.pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmRSS:"):
                        self.peak_mb = max(self.peak_mb, int(line.split()[1]) / 1024)
                        return
        except OSError:
            pass

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def __enter__(self):
        if self.pid is not None:
            self._sample()
            self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join()
            self._sample()
