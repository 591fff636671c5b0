"""In-memory spans around calls into the program's layers, and the
Spark layer read back from the event log.

A span is [name, start_ns, end_ns, parent index, op id, thread id]; its
layer is the part of the name before the first dot. Spans stay in memory and
are written out once, at the end of the run.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import threading
import time
from collections import defaultdict


class Tracer:
    def __init__(self) -> None:
        self.spans: list = []
        self.op = None
        self._local = threading.local()
        self._lock = threading.Lock()

    def span(self, name: str):
        return _Span(self, name)

    def wrap(self, obj, layer: str, methods) -> None:
        """Shadow ``obj``'s bound methods with traced ones (instance
        attributes, so the class and its source stay untouched)."""
        for m in methods:
            fn = getattr(obj, m)

            @functools.wraps(fn)
            def traced(*a, _fn=fn, _name=f"{layer}.{m}", **kw):
                if self.op is None:  # an untraced op: no span
                    return _fn(*a, **kw)
                with self.span(_name):
                    return _fn(*a, **kw)
            setattr(obj, m, traced)

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    # ---- aggregation -------------------------------------------------

    def ops_spans(self, ops=None):
        return [s for s in self.spans if ops is None or s[4] in ops]

    def total_ms(self, name: str, ops=None) -> float:
        return sum(s[2] - s[1] for s in self.ops_spans(ops)
                   if s[0] == name) / 1e6

    def count(self, name: str, ops=None) -> int:
        return sum(1 for s in self.ops_spans(ops) if s[0] == name)

    def self_ms_by_layer(self, ops=None) -> dict:
        """Span duration minus the part its children cover, per layer."""
        child = defaultdict(int)
        for s in self.spans:
            if s[3] is not None:
                p = self.spans[s[3]]
                child[s[3]] += s[2] - s[1] if p[5] == s[5] else 0
        out = defaultdict(float)
        for i, s in enumerate(self.spans):
            if ops is None or s[4] in ops:
                out[s[0].split(".", 1)[0]] += (s[2] - s[1] - child[i]) / 1e6
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({"name": s[0], "start_ns": s[1],
                                    "end_ns": s[2], "parent": s[3],
                                    "op": s[4]}) + "\n")


class _Span:
    def __init__(self, tracer: Tracer, name: str) -> None:
        self.t, self.name = tracer, name

    def __enter__(self):
        st = self.t._stack()
        self.parent = st[-1] if st else None
        self.start = time.perf_counter_ns()
        with self.t._lock:
            self.idx = len(self.t.spans)
            # the thread id keeps self time honest when a pool thread
            # works under a span opened on another thread
            self.t.spans.append([self.name, self.start, self.start,
                                 self.parent, self.t.op,
                                 threading.get_ident()])
        st.append(self.idx)
        return self

    def __exit__(self, *exc):
        self.t._stack().pop()
        self.t.spans[self.idx][2] = time.perf_counter_ns()
        return False


def plan_ms(df) -> float:
    """Catalyst phase time of the last execution of ``df``: the
    ``queryExecution().tracker()`` phases (parsing .. planning)."""
    phases = df._jdf.queryExecution().tracker().phases()  # noqa: SLF001
    it = phases.valuesIterator()
    total = 0
    while it.hasNext():
        total += it.next().durationMs()
    return float(total)


def read_event_log(log_dir: str) -> dict:
    """Task totals per job group from an uncompressed event log.

    Returns {group: {jobs, tasks, run_ms, cpu_ms, gc_ms, shuffle_bytes,
    spill_bytes, py_run_ms, py_cpu_ms}}; the ``py_*`` fields cover only
    stages that scan a Python DataSource."""
    stage_group, py_stage = {}, set()
    groups: dict = defaultdict(lambda: defaultdict(float))
    for path in sorted(glob.glob(f"{log_dir}/**/*", recursive=True)):
        if not os.path.isfile(path):
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if g is None:
                        continue
                    groups[g]["jobs"] += 1
                    for sid in ev.get("Stage IDs", ()):
                        stage_group[sid] = g
                    for st in ev.get("Stage Infos", ()):
                        # the program's Python DataSources register as
                        # sidecar_cached_<format>
                        if any("BatchScan sidecar_cached" in r.get("Scope", "")
                               for r in st.get("RDD Info", ())):
                            py_stage.add(st["Stage ID"])
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics")
                    if g is None or not m:
                        continue
                    a = groups[g]
                    a["tasks"] += 1
                    run = m.get("Executor Run Time", 0)
                    cpu = m.get("Executor CPU Time", 0) / 1e6
                    a["run_ms"] += run
                    a["cpu_ms"] += cpu
                    a["gc_ms"] += m.get("JVM GC Time", 0)
                    a["shuffle_bytes"] += (m.get("Shuffle Write Metrics")
                                           or {}).get("Shuffle Bytes Written", 0)
                    a["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                         + m.get("Disk Bytes Spilled", 0))
                    if ev.get("Stage ID") in py_stage:
                        a["py_run_ms"] += run
                        a["py_cpu_ms"] += cpu
    return groups
