"""Tracing for the traced run: spans around calls into the program's
public functions, recorded from outside the program, plus the Spark
status-store counters of the jobs each operation caused.

Spans are kept in memory and written when the run ends. A span is
(id, name, start, end, parent, op): ``name`` is ``<layer>.<function>``,
``op`` the operation it belongs to. Self time is a span's duration minus
the part of it its child spans cover.
"""

from __future__ import annotations

import contextlib
import functools
import json
import threading
import time
from collections import defaultdict


class Tracer:
    """Span recorder. ``enabled=False`` makes every hook a no-op, so
    the untraced run pays nothing but the attribute lookups."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.overhead_s = 0.0
        self._local = threading.local()
        self._lock = threading.Lock()
        self._op_stack: list[dict] = []  # span stack of the op's thread
        self._patched: list[tuple[object, str, object]] = []

    # -- spans -----------------------------------------------------------
    def _stack(self) -> list[dict]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _open(self, name: str, op_id: str | None = None) -> dict:
        t0 = time.perf_counter()
        st = self._stack()
        # a span opened on another thread (a streaming micro-batch runs
        # on the stream's callback thread) hangs under the innermost
        # span open on the thread that started the operation
        parent = (st[-1] if st else self._op_stack[-1] if self._op_stack
                  else None)
        span = {"id": 0, "name": name, "start": time.time(), "end": None,
                "parent": parent["id"] if parent else None,
                "op": op_id or (parent["op"] if parent else None),
                "thread": threading.get_ident()}
        st.append(span)
        with self._lock:
            span["id"] = len(self.spans)
            self.spans.append(span)
            self.overhead_s += time.perf_counter() - t0
        return span

    def _close(self, span: dict) -> None:
        t0 = time.perf_counter()
        span["end"] = time.time()
        st = self._stack()
        if st and st[-1] is span:
            st.pop()
        with self._lock:
            self.overhead_s += time.perf_counter() - t0

    @contextlib.contextmanager
    def op(self, kind: str, op_id: str):
        """One operation: a root span that every span opened inside it,
        on any thread, belongs to."""
        if not self.enabled:
            yield
            return
        self._op_stack = self._stack()
        span = self._open(f"op.{kind}", op_id)
        try:
            yield
        finally:
            self._close(span)
            self._op_stack = []

    def wrap(self, owner: object, attr: str, name: str, hit=None) -> None:
        """Replace the function, method or classmethod ``owner.attr`` by
        a span-recording wrapper; ``hit(result)``, if given, is stored
        on the span. Undone by unwrap()."""
        if not self.enabled:
            return
        raw = vars(owner)[attr]
        is_cm = isinstance(raw, classmethod)
        fn = raw.__func__ if is_cm else raw
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            span = tracer._open(name)
            try:
                out = fn(*args, **kwargs)
                if hit is not None:
                    span["hit"] = bool(hit(out))
                return out
            finally:
                tracer._close(span)

        self._patched.append((owner, attr, raw))
        setattr(owner, attr, classmethod(wrapper) if is_cm else wrapper)

    def unwrap(self) -> None:
        for owner, attr, raw in reversed(self._patched):
            setattr(owner, attr, raw)
        self._patched.clear()

    # -- analysis --------------------------------------------------------
    def self_times(self, ops: set[str] | None = None) -> dict[str, float]:
        """Self time summed per span name, over spans of ``ops``."""
        children: dict[int, list[dict]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append(s)
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s["end"] is None or (ops is not None and s["op"] not in ops):
                continue
            covered = union_length(
                [(max(c["start"], s["start"]), min(c["end"] or s["end"],
                                                   s["end"]))
                 for c in children[s["id"]]])
            out[s["name"]] += (s["end"] - s["start"]) - covered
        return dict(out)


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of [start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class StatusCollector:
    """Reads job and stage metrics from the Spark app status store (the
    same JVM store the UI serves; it is populated with the UI off).

    Operations tag their jobs with ``setJobGroup(op_id)``. Jobs of a
    streaming query run on the stream thread under the job group the
    stream sets itself, its run id; ``alias`` maps such a group to the
    operation that started the stream."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jvm = self.sc._gateway.jvm
        self.store = self.sc._jsc.sc().statusStore()
        # the REST API's serializer: one Py4J call per list, not one per
        # field of every job and stage
        self.mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala,
                               "DefaultScalaModule$")
        self.mapper.registerModule(getattr(scala_module, "MODULE$"))
        self.aliases: dict[str, str] = {}
        self.seen_jobs = -1

    def tag(self, op_id: str) -> None:
        self.sc.setJobGroup(op_id, op_id)

    def alias(self, group: str, op_id: str) -> None:
        self.aliases[group] = op_id

    def _json(self, jobj) -> list[dict]:
        return json.loads(self.mapper.writeValueAsString(jobj))

    def collect(self) -> dict[str, dict]:
        """Per-operation totals of the jobs finished since the last call:
        jobs, stages, tasks, job_s, intervals (epoch s), executor
        run/cpu seconds, shuffle bytes and spill."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        gw = self.sc._gateway
        jvm = gw.jvm
        jobs = [j for j in self._json(self.store.jobsList(
                    jvm.java.util.ArrayList()))
                if j["jobId"] > self.seen_jobs and j.get("completionTime")]
        if not jobs:
            return {}
        self.seen_jobs = max(j["jobId"] for j in jobs)
        stage_of_op: dict[int, str] = {}
        out: dict[str, dict] = {}
        for j in jobs:
            op = self.aliases.get(j["jobGroup"], j["jobGroup"])
            rec = out.setdefault(op, _empty())
            t0, t1 = j["submissionTime"] / 1e3, j["completionTime"] / 1e3
            rec["jobs"] += 1
            rec["job_s"] += t1 - t0
            rec["intervals"].append((t0, t1))
            for sid in j["stageIds"]:
                stage_of_op[sid] = op
        stages = self._json(self.store.stageList(
            jvm.java.util.ArrayList(), False, False,
            gw.new_array(jvm.double, 0), jvm.java.util.ArrayList()))
        for s in stages:
            op = stage_of_op.get(s["stageId"])
            if op is None or s["status"] != "COMPLETE":
                continue
            rec = out[op]
            rec["stages"] += 1
            rec["tasks"] += s["numCompleteTasks"]
            rec["executor_run_s"] += s["executorRunTime"] / 1e3
            rec["executor_cpu_s"] += s["executorCpuTime"] / 1e9
            rec["shuffle_read_bytes"] += s["shuffleReadBytes"]
            rec["shuffle_write_bytes"] += s["shuffleWriteBytes"]
            rec["spill_bytes"] += (s["memoryBytesSpilled"]
                                   + s["diskBytesSpilled"])
        return out


def _empty() -> dict:
    return {"jobs": 0, "stages": 0, "tasks": 0, "job_s": 0.0,
            "intervals": [], "executor_run_s": 0.0, "executor_cpu_s": 0.0,
            "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
            "spill_bytes": 0}
