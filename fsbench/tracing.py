"""Measurement from outside the program: spans, Spark stage metrics by job
group, and memory/storage accounting from ``/proc`` and the filesystem.

* :class:`Tracer` keeps spans in memory (name, start, end, parent, job
  group) and writes them out once, at the end of a run.
* :func:`wrap_version_store` puts a span around every public method of
  ``ParquetVersionStore`` (patched on the class, so the store is used as
  shipped) and measures the bytes under the store root around each write.
* :func:`stage_metrics` reads Spark's status store, which keeps per-job
  and per-stage data with the UI disabled, and sums it by job group.
"""

from __future__ import annotations

import functools
import json
import os
import time
from contextlib import contextmanager
from pathlib import Path

REGISTRY_METHODS = ("write_version", "read_version", "drop_version",
                    "rewrite_version", "rollback_version", "meta",
                    "versions", "exists")


class Tracer:
    """``overhead_s`` accumulates the time spent in tracing code itself
    (span bookkeeping, job-group calls, store-size walks): the cost a
    traced run adds over an untraced one."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.active = False
        self.overhead_s = 0.0

    @contextmanager
    def span(self, name: str, group: str | None = None, **attrs):
        if not self.active:
            yield None
            return
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        if group is None and parent is not None:
            group = self.spans[parent]["group"]  # Spark jobs inherit the caller's group
        rec = {"name": name, "parent": parent, "group": group,
               "start": time.time(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        self.overhead_s += time.perf_counter() - t0
        try:
            yield rec
        finally:
            t0 = time.perf_counter()
            rec["end"] = time.time()
            self._stack.pop()
            self.overhead_s += time.perf_counter() - t0

    @contextmanager
    def cost(self):
        """Count the enclosed tracing work as overhead."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.overhead_s += time.perf_counter() - t0

    def self_times(self) -> dict[str, float]:
        """Self time per layer (the prefix of the span name before the first
        dot): span duration minus the part covered by its child spans.
        Children run strictly nested on one thread, so the covered part is
        the sum of the children's durations."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s, c in zip(self.spans, child):
            layer = s["name"].split(".", 1)[0]
            out[layer] = out.get(layer, 0.0) + (s["end"] - s["start"]) - c
        return out

    def dump(self, path: Path, **extra) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps({**extra, "spans": self.spans}))


def dir_bytes(root: Path) -> int:
    return sum(os.lstat(os.path.join(d, f)).st_size
               for d, _, files in os.walk(root) for f in files)


def wrap_version_store(cls, tracer: Tracer) -> None:
    """Span every registry method of ``cls``; a ``write_version`` span also
    records the bytes under the store root before and after the write."""
    for name in REGISTRY_METHODS:
        orig = getattr(cls, name)

        def make(orig=orig, name=name):
            @functools.wraps(orig)
            def wrapped(self, *a, **kw):
                if not tracer.active:
                    return orig(self, *a, **kw)
                if name != "write_version":
                    with tracer.span(f"registry.{name}"):
                        return orig(self, *a, **kw)
                with tracer.cost():
                    before = dir_bytes(self.root)
                with tracer.span(f"registry.{name}") as rec:
                    out = orig(self, *a, **kw)
                with tracer.cost():
                    rec["bytes_written"] = dir_bytes(self.root) - before
                return out
            return wrapped

        setattr(cls, name, make())


def _opt(o):
    return o.get() if o.isDefined() else None


def stage_metrics(sc, groups) -> dict[str, dict]:
    """Per job group: jobs, stages run, tasks, executor run time, shuffle
    bytes, spill, and the [submit, complete] interval of every stage run.
    Stages skipped because their shuffle output was reused are not counted."""
    groups = set(groups)
    store = sc._jsc.sc().statusStore()
    jobs = store.jobsList(None)
    stage_group: dict[int, str] = {}
    out = {g: {"jobs": 0, "stages": 0, "tasks": 0, "executor_run_s": 0.0,
               "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
               "spill_bytes": 0, "intervals": []} for g in groups}
    for i in range(jobs.size()):
        j = jobs.apply(i)
        g = _opt(j.jobGroup())
        if g not in groups:
            continue
        out[g]["jobs"] += 1
        ids = j.stageIds()
        for k in range(ids.size()):
            stage_group[int(ids.apply(k))] = g
    jvm = sc._jvm
    stages = store.stageList(jvm.java.util.ArrayList(), False, False,
                             sc._gateway.new_array(jvm.double, 0),
                             jvm.java.util.ArrayList())
    for i in range(stages.size()):
        s = stages.apply(i)
        g = stage_group.get(int(s.stageId()))
        if g is None or s.status().toString() == "SKIPPED":
            continue
        m = out[g]
        m["stages"] += 1
        m["tasks"] += int(s.numCompleteTasks())
        m["executor_run_s"] += s.executorRunTime() / 1000.0
        m["shuffle_read_bytes"] += int(s.shuffleReadBytes())
        m["shuffle_write_bytes"] += int(s.shuffleWriteBytes())
        m["spill_bytes"] += int(s.memoryBytesSpilled()) + int(s.diskBytesSpilled())
        sub, done = _opt(s.submissionTime()), _opt(s.completionTime())
        if sub is not None and done is not None:
            m["intervals"].append((sub.getTime() / 1000.0, done.getTime() / 1000.0))
    return out


def uncovered(start: float, end: float, intervals) -> float:
    """Length of [start, end] not covered by any of ``intervals``."""
    covered, cur = 0.0, start
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, end)
        if b > a:
            covered += b - a
            cur = b
    return max(0.0, (end - start) - covered)


def peak_rss_mb(pid: int) -> float:
    """Peak resident set size (VmHWM) of ``pid`` in MiB, from /proc."""
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")
