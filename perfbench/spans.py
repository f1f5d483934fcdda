"""Spans, counters and Spark event-log counters for the traced pass.

Spans are recorded in the benchmark's own code, around calls into the
package's public functions: ``Tracer.wrap`` replaces an attribute of a
module or class with a wrapper that records one span per call and
``Tracer.restore`` puts the original back. Spans carry a name, start
and end (``perf_counter`` seconds), the id of the enclosing span on the
same thread, the id of the outermost span (the request that caused
them) and the run id. They stay in memory until ``dump``.

Spark work is attributed with job groups: each traced call runs under
its own ``setJobGroup`` and ``spark_counters`` reads the per-group
job, stage, task, shuffle, spill, run-time and GC totals from the
uncompressed Spark event log once the session has stopped.
"""

from __future__ import annotations

import collections
import functools
import itertools
import json
import os
import threading
import time


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[tuple] = []
        self.counts: collections.Counter = collections.Counter()
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._undo: list[tuple] = []

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def span(self, name: str):
        return _Span(self, name)

    def in_span(self, name: str) -> bool:
        """True when a span named ``name`` is open on this thread."""
        return any(sp[1] == name for sp in self._stack())

    def wrap(self, owner, attr: str, name: str, hook=None) -> None:
        """Record a span named ``name`` around every call of
        ``owner.attr``; ``hook(tracer, args, kwargs, result, exc)``
        may add counts after each call, including calls that raised."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            out = exc = None
            try:
                with _Span(tracer, name):
                    out = orig(*args, **kwargs)
                return out
            except Exception as e:
                exc = e
                raise
            finally:
                if hook is not None:
                    hook(tracer, args, kwargs, out, exc)

        self._undo.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def count_calls(self, owner, attr: str, name: str) -> None:
        """Count calls of ``owner.attr`` under ``name``, per enclosing
        span name as well (``name@parent``)."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def counted(*args, **kwargs):
            tracer.counts[name] += 1
            for sp in tracer._stack():
                tracer.counts[f"{name}@{sp[1]}"] += 1
            return orig(*args, **kwargs)

        self._undo.append((owner, attr, orig))
        setattr(owner, attr, counted)

    def restore(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans,
                       "counts": dict(self.counts)}, f)


class _Span:
    __slots__ = ("tracer", "name", "sid", "t0")

    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name = tracer, name

    def __enter__(self):
        self.sid = next(self.tracer._ids)
        self.t0 = time.perf_counter()
        self.tracer._stack().append((self.sid, self.name, self.t0))
        return self

    def __exit__(self, *exc):
        t1 = time.perf_counter()
        stack = self.tracer._stack()
        stack.pop()
        parent = stack[-1][0] if stack else 0
        root = stack[0][0] if stack else self.sid
        self.tracer.spans.append((self.sid, parent, root, self.name,
                                  self.t0, t1, self.tracer.run_id))
        return False


def layer_times(spans: list) -> dict[str, dict]:
    """Per span name: calls, total seconds and self seconds (duration
    minus the time its direct child spans cover)."""
    child = collections.defaultdict(float)
    for sid, parent, _root, _name, t0, t1, _run in spans:
        if parent:
            child[parent] += t1 - t0
    out: dict[str, dict] = {}
    for sid, _parent, _root, name, t0, t1, _run in spans:
        d = out.setdefault(name, {"calls": 0, "total_s": 0.0, "self_s": 0.0})
        d["calls"] += 1
        d["total_s"] += t1 - t0
        d["self_s"] += max(0.0, (t1 - t0) - child.get(sid, 0.0))
    return out


class Layers:
    """Calls and seconds per span name of a span list."""

    def __init__(self, spans: list):
        self.t = layer_times(spans)

    def calls(self, name: str) -> int:
        return self.t.get(name, {}).get("calls", 0)

    def total(self, name: str) -> float:
        return self.t.get(name, {}).get("total_s", 0.0)

    def mean(self, name: str, field: str = "total_s") -> float:
        c = self.calls(name)
        return self.t[name][field] / c if c else 0.0


def merge_dumps(paths: list[str]) -> tuple[list, collections.Counter]:
    spans: list = []
    counts: collections.Counter = collections.Counter()
    for p in paths:
        with open(p) as f:
            d = json.load(f)
        spans += [tuple(s) for s in d["spans"]]
        counts.update(d["counts"])
    return spans, counts


def write_trace(path: str, run_id: str, spans: list, counts) -> None:
    """The trace file: every span plus per-layer self time."""
    with open(path, "w") as f:
        json.dump({"run_id": run_id,
                   "fields": ["id", "parent", "request", "name", "start",
                              "end", "run_id"],
                   "spans": spans, "counts": dict(counts),
                   "layers": layer_times(spans)}, f)


class JobGroups:
    """Run each traced Spark call under its own job group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._n = itertools.count()

    def run(self, group: str, fn, *args, **kwargs):
        gid = f"{group}#{next(self._n)}"
        self.sc.setJobGroup(gid, group)
        try:
            return fn(*args, **kwargs)
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)


_ACC = {
    "internal.metrics.executorRunTime": "run_ms",
    "internal.metrics.jvmGCTime": "gc_ms",
    "internal.metrics.shuffle.read.remoteBytesRead": "shuffle_bytes",
    "internal.metrics.shuffle.read.localBytesRead": "shuffle_bytes",
    "internal.metrics.memoryBytesSpilled": "spill_bytes",
    "internal.metrics.diskBytesSpilled": "spill_bytes",
    "internal.metrics.input.bytesRead": "input_bytes",
}
COUNTER_KEYS = ("jobs", "stages", "tasks", "run_ms", "gc_ms",
                "shuffle_bytes", "spill_bytes", "input_bytes")


def spark_counters(eventlog_dir: str) -> dict[str, dict]:
    """Per job-group label (the part of the group id before ``#``):
    jobs, completed stages, tasks, executor run ms, GC ms, shuffle
    bytes read, bytes spilled and input bytes read."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = {}
    paths = sorted(os.path.join(root, n)
                   for root, _dirs, names in os.walk(eventlog_dir)
                   for n in names if not n.startswith((".", "appstatus")))
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    gid = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if not gid:
                        continue
                    label = gid.split("#", 1)[0]
                    c = out.setdefault(label, dict.fromkeys(COUNTER_KEYS, 0))
                    c["jobs"] += 1
                    for s in ev.get("Stage IDs", []):
                        stage_group.setdefault(s, label)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    label = stage_group.get(info["Stage ID"])
                    if label is None:
                        continue
                    c = out[label]
                    c["stages"] += 1
                    c["tasks"] += info.get("Number of Tasks", 0)
                    for acc in info.get("Accumulables", []):
                        key = _ACC.get(acc.get("Name"))
                        if key:
                            c[key] += int(acc.get("Value") or 0)
    return out
