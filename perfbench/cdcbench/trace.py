"""Layer spans recorded from outside the program.

``Tracer.install()`` wraps each layer's public entry point where callers
look it up (``streaming`` binds ``apply_batch`` at import, ``pipeline``
and ``laketable`` import ``lww_latest`` by name, ``laketable`` calls
``commitlog`` through the module). Spans stay in memory — name, start,
end, parent, request id — and are written once at exit. A layer's self
time is its duration minus the part of it covered by child spans.

In trace mode each request also runs under its own Spark job group, so
``jobs(group)`` counts the Spark jobs that request launched.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import threading
import time
from collections import defaultdict

# (span name, owner spec, attribute). Owner spec "module:Class" patches a
# method on the class; "module" patches a module attribute.
TARGETS = [
    ("pipeline.apply_batch", "replicator_spark.pipeline", "apply_batch"),
    ("pipeline.apply_batch", "replicator_spark.streaming", "apply_batch"),
    ("pipeline.infer_payload_schema", "replicator_spark.pipeline", "infer_payload_schema"),
    ("pipeline.normalize", "replicator_spark.pipeline", "normalize"),
    ("filters.apply", "replicator_spark.filters:EventFilter", "apply"),
    ("transform.apply", "replicator_spark.transform:TransformEngine", "apply"),
    ("dedup.lww_latest", "replicator_spark.pipeline", "lww_latest"),
    ("dedup.lww_latest", "replicator_spark.laketable", "lww_latest"),
    ("dedup.lww_collapse_partial", "replicator_spark.pipeline", "lww_collapse_partial"),
    ("laketable.merge", "replicator_spark.laketable:LakeTable", "merge"),
    ("laketable.compact", "replicator_spark.laketable:LakeTable", "compact"),
    ("laketable.read", "replicator_spark.laketable:LakeTable", "read"),
    ("laketable.lookup", "replicator_spark.laketable:LakeTable", "lookup"),
    ("laketable.read_changes", "replicator_spark.laketable:LakeTable", "read_changes"),
    ("commitlog.commit_snapshot", "replicator_spark.commitlog", "commit_snapshot"),
    ("commitlog.load_snapshot", "replicator_spark.commitlog", "load_snapshot"),
    ("metrics.append_metrics", "replicator_spark.metrics", "append_metrics"),
    ("metrics.append_lineage", "replicator_spark.metrics", "append_lineage"),
]

SPAN_NAMES = list(dict.fromkeys(name for name, _, _ in TARGETS))


def _owner(spec: str):
    import importlib

    mod, _, cls = spec.partition(":")
    m = importlib.import_module(mod)
    return getattr(m, cls) if cls else m


def _batch_key(args, kwargs):
    if "batch_key" in kwargs:
        return kwargs["batch_key"]
    return args[2] if len(args) > 2 else None


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[tuple] = []  # (id, name, start, end, parent, req)
        self.apply_results: list = []  # (batch key, BatchResult, spark jobs)
        self._ids = itertools.count(1)
        self._tls = threading.local()
        self._lock = threading.Lock()
        self._undo: list[tuple] = []

    # -- per-thread state ------------------------------------------------
    def _stack(self) -> list:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    @contextlib.contextmanager
    def untraced(self):
        """Suppress spans in this thread (the benchmark's own metadata
        reads must not count as program work)."""
        prev = getattr(self._tls, "off", False)
        self._tls.off = True
        try:
            yield
        finally:
            self._tls.off = prev

    @contextlib.contextmanager
    def request(self, req: str):
        """Run a request (lookup, poll, write) under its id and its own
        Spark job group."""
        sc = self.spark.sparkContext
        self._tls.req = req
        sc.setJobGroup(req, req)
        try:
            yield
        finally:
            self._tls.req = None
            sc.setLocalProperty("spark.jobGroup.id", None)

    def jobs(self, group: str) -> int:
        return len(self.spark.sparkContext.statusTracker().getJobIdsForGroup(group))

    # -- patching --------------------------------------------------------
    def _wrap(self, name: str, fn):
        tracer = self
        is_apply = name == "pipeline.apply_batch"

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            tls = tracer._tls
            if getattr(tls, "off", False):
                return fn(*args, **kwargs)
            stack = tracer._stack()
            parent = stack[-1] if stack else (None, getattr(tls, "req", None))
            req = parent[1]
            group = None
            if is_apply:
                req = _batch_key(args, kwargs) or req
                if getattr(tls, "req", None) is None:
                    # streaming micro-batches arrive on the callback thread
                    # with no request set: give each its own job group
                    group = req
                    tracer.spark.sparkContext.setJobGroup(group, group)
            with tracer._lock:
                sid = next(tracer._ids)
            stack.append((sid, req))
            t0 = time.perf_counter()
            try:
                out = fn(*args, **kwargs)
            finally:
                t1 = time.perf_counter()
                stack.pop()
                if group is not None:
                    tracer.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
                with tracer._lock:
                    tracer.spans.append((sid, name, t0, t1, parent[0], req))
            if is_apply:
                jobs = tracer.jobs(group or getattr(tls, "req", None) or req)
                with tracer._lock:
                    tracer.apply_results.append((req, out, jobs))
            return out

        return wrapper

    def install(self) -> None:
        # import every target first: a module imported after a patch
        # would bind the wrapper by name and be wrapped twice
        owners = [_owner(spec) for _, spec, _ in TARGETS]
        for (name, _spec, attr), owner in zip(TARGETS, owners):
            orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
            setattr(owner, attr, self._wrap(name, orig))
            self._undo.append((owner, attr, orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    # -- results ---------------------------------------------------------
    def self_times(self) -> dict[int, float]:
        """span id -> self seconds (duration minus union of children)."""
        children = defaultdict(list)
        for sid, _n, t0, t1, parent, _r in self.spans:
            if parent is not None:
                children[parent].append((t0, t1))
        out = {}
        for sid, _n, t0, t1, _p, _r in self.spans:
            covered, cur_end = 0.0, t0
            for c0, c1 in sorted(children.get(sid, ())):
                c0, c1 = max(c0, cur_end), min(c1, t1)
                if c1 > c0:
                    covered += c1 - c0
                    cur_end = c1
            out[sid] = (t1 - t0) - covered
        return out

    def layer_table(self) -> dict[str, dict]:
        """name -> {calls, ms, self_ms}."""
        selfs = self.self_times()
        agg = {n: {"calls": 0, "ms": 0.0, "self_ms": 0.0} for n in SPAN_NAMES}
        for sid, name, t0, t1, _p, _r in self.spans:
            a = agg[name]
            a["calls"] += 1
            a["ms"] += (t1 - t0) * 1000
            a["self_ms"] += selfs[sid] * 1000
        return agg

    def self_ms_by_req(self, name: str) -> dict[str, float]:
        selfs = self.self_times()
        out: dict[str, float] = defaultdict(float)
        for sid, n, _t0, _t1, _p, req in self.spans:
            if n == name:
                out[req] += selfs[sid] * 1000
        return out

    def count_under(self, name: str, ancestor: str) -> int:
        """Spans named ``name`` with an ``ancestor``-named span above them."""
        by_id = {s[0]: s for s in self.spans}
        n = 0
        for s in self.spans:
            if s[1] != name:
                continue
            p = s[4]
            while p is not None:
                ps = by_id.get(p)
                if ps is None:
                    break
                if ps[1] == ancestor:
                    n += 1
                    break
                p = ps[4]
        return n

    def dump(self, path: str, t_origin: float) -> None:
        with open(path, "w") as f:
            for sid, name, t0, t1, parent, req in sorted(self.spans, key=lambda s: s[2]):
                f.write(
                    json.dumps(
                        {
                            "id": sid,
                            "name": name,
                            "start_ms": round((t0 - t_origin) * 1000, 3),
                            "end_ms": round((t1 - t_origin) * 1000, 3),
                            "parent": parent,
                            "req": req,
                        }
                    )
                    + "\n"
                )
