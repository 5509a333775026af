"""Tracing for the benchmark's traced run, installed from outside the program.

``Tracer`` wraps the public entry points of each layer (the program is not
edited) and records one span per call: name, start, end, the enclosing
span and the op that caused it. Spans stay in memory until ``dump``.
``SparkOps`` tags each op's jobs with a job group and reads their stages
back from the live status store; ``JvmCpu`` reads the JVM's CPU seconds
from ``/proc``.
"""

from __future__ import annotations

import functools
import json
import os
import time
from contextlib import contextmanager

#: (module, class or None, attribute, span name)
TARGETS = (
    ("meerschaum_spark.dataframe", None, "to_spark_df", "dataframe.to_spark_df"),
    ("meerschaum_spark.store", "ParquetPipeStore", "append", "store.append"),
    ("meerschaum_spark.store", "ParquetPipeStore", "merge", "store.merge"),
    ("meerschaum_spark.store", "ParquetPipeStore", "read", "store.read"),
    ("meerschaum_spark.registry", "PipeRegistry", "load", "registry.load"),
    ("meerschaum_spark.registry", "PipeRegistry", "save", "registry.save"),
    ("meerschaum_spark.pipe", "Pipe", "sync", "pipe.sync"),
    ("meerschaum_spark.pipe", "Pipe", "get_data", "pipe.get_data"),
)


class Tracer:
    """Span recorder around ``TARGETS``; records only inside ``op``."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._op: str | None = None
        self._saved: list[tuple] = []

    def install(self) -> None:
        import importlib
        for mod_name, cls_name, attr, name in TARGETS:
            owner = importlib.import_module(mod_name)
            if cls_name:
                owner = getattr(owner, cls_name)
            orig = owner.__dict__[attr]
            self._saved.append((owner, attr, orig))
            setattr(owner, attr, self._wrap(orig, name))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._saved):
            setattr(owner, attr, orig)
        self._saved.clear()

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if self._op is None:
                return fn(*args, **kwargs)
            span = {"id": len(self.spans), "name": name, "op": self._op,
                    "parent": self._stack[-1] if self._stack else None,
                    "start": time.perf_counter(), "end": None}
            self.spans.append(span)
            self._stack.append(span["id"])
            try:
                return fn(*args, **kwargs)
            finally:
                self._stack.pop()
                span["end"] = time.perf_counter()
        return traced

    @contextmanager
    def op(self, op_id: str):
        self._op = op_id
        try:
            yield
        finally:
            self._op = None

    def op_spans(self, op_id: str) -> list[dict]:
        return [s for s in self.spans if s["op"] == op_id]

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def summed_ms(spans: list[dict], name: str) -> float:
    """Total duration of the spans called ``name``, in ms."""
    return sum(s["end"] - s["start"] for s in spans if s["name"] == name) * 1e3


def self_ms(spans: list[dict], name: str) -> float:
    """Self time of the spans called ``name``: duration minus the part of
    that interval their direct children cover, in ms."""
    total = 0.0
    for s in spans:
        if s["name"] != name:
            continue
        kids = [(c["start"], c["end"]) for c in spans if c["parent"] == s["id"]]
        total += (s["end"] - s["start"]) - union_length(kids, s["start"], s["end"])
    return total * 1e3


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    out, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted(intervals):
        a, b = max(a, lo), min(b, hi)
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                out += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        out += cur_hi - cur_lo
    return out


class SparkOps:
    """Per-op Spark work, read back through the job group the benchmark
    sets: jobs, stages, executor CPU, shuffle bytes and the driver floor
    (op wall time not covered by any stage's run interval)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()

    def tag(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def untag(self) -> None:
        self.sc._jsc.clearJobGroup()

    def collect(self, group: str, t0_epoch: float, t1_epoch: float) -> dict:
        """Stats of the jobs in ``group``; ``t0/t1`` bound the op (epoch s)."""
        self._bus.waitUntilEmpty()
        tracker = self.sc.statusTracker()
        jobs = sorted(tracker.getJobIdsForGroup(group))
        n_stages, cpu_ns, shuffle, runs = 0, 0, 0, []
        for jid in jobs:
            for sid in tracker.getJobInfo(jid).stageIds:
                st = self._store.lastStageAttempt(sid)
                sub, done = st.submissionTime(), st.completionTime()
                if not (sub.isDefined() and done.isDefined()):
                    continue  # skipped: its output was reused
                n_stages += 1
                cpu_ns += st.executorCpuTime()
                shuffle += st.shuffleWriteBytes()
                runs.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
        wall = t1_epoch - t0_epoch
        return {
            "jobs": len(jobs),
            "stages": n_stages,
            "executor_cpu_ms": cpu_ns / 1e6,
            "shuffle_write_bytes": shuffle,
            "driver_floor_ms": (wall - union_length(runs, t0_epoch, t1_epoch)) * 1e3,
        }


class JvmCpu:
    """CPU seconds (user + system) of the session's JVM."""

    def __init__(self, spark):
        jvm = spark.sparkContext._jvm
        self._stat = f"/proc/{jvm.java.lang.ProcessHandle.current().pid()}/stat"
        self._tick = os.sysconf("SC_CLK_TCK")

    def seconds(self) -> float:
        with open(self._stat) as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
        return (int(fields[11]) + int(fields[12])) / self._tick
