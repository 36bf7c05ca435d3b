"""Per-layer accounting for a traced run.

Spans are recorded from the benchmark's side of each layer boundary
(wrappers around the engine's public methods, and blocks around calls into
the service, ``functions`` and ``operators``), kept in memory and written
out when the run ends. Spark costs are read from the scheduler's status
store after each op; jobs are attributed to ops by job-id range.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

from .stats import OpWindow, attribute_jobs

# Engine methods whose calls are recorded as ``engine.<name>`` spans.
ENGINE_METHODS = ("import_file", "delete_rows", "preview", "preview_arrow",
                  "execute_query", "table_info", "profile",
                  "register_project_views", "read_table")


class Tracer:
    """Span recorder. Inactive (every call a pass-through) until
    ``active`` is set, so untraced ops pay only a flag test."""

    def __init__(self) -> None:
        self.active = False
        self.op: int | None = None
        self.spans: list[dict] = []
        self._tls = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str):
        if not self.active:
            yield
            return
        stack = getattr(self._tls, "stack", None)
        if stack is None:
            stack = self._tls.stack = []
        parent = stack[-1] if stack else None
        stack.append(name)
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            stack.pop()
            with self._lock:
                self.spans.append({"op": self.op, "name": name,
                                   "parent": parent, "depth": len(stack),
                                   "thread": threading.get_ident(),
                                   "start": t0, "end": t1})

    def wrap_engine(self, engine) -> None:
        """Shadow the engine's public methods on the instance with
        span-recording wrappers; internal ``self.<method>`` calls (e.g.
        ``register_project_views`` → ``read_table``) go through them too."""
        for name in ENGINE_METHODS:
            orig = getattr(engine, name)

            def wrapped(*a, _orig=orig, _name="engine." + name, **kw):
                with self.span(_name):
                    return _orig(*a, **kw)
            setattr(engine, name, functools.wraps(orig)(wrapped))

    def op_spans(self, op: int) -> list[dict]:
        with self._lock:
            return [s for s in self.spans if s["op"] == op]

    def dump(self, path: str, ops: list[dict]) -> None:
        """Write the spans and the per-op records as one JSON file."""
        with self._lock:
            spans = list(self.spans)
        with open(path, "w") as f:
            json.dump({"ops": ops, "spans": spans}, f)


def top_level(spans: list[dict], prefix: str) -> list[dict]:
    """Spans named ``prefix*`` that are not nested in another such span."""
    return [s for s in spans if s["name"].startswith(prefix)
            and not (s["parent"] or "").startswith(prefix)]


def view_cache_hits(spans: list[dict]) -> tuple[int, int]:
    """(hits, calls) of ``register_project_views``: a hit is a call with no
    ``read_table`` span nested inside it on the same thread."""
    regs = [s for s in spans if s["name"] == "engine.register_project_views"]
    reads = [s for s in spans if s["name"] == "engine.read_table"
             and s["parent"] == "engine.register_project_views"]
    hits = 0
    for r in regs:
        if not any(x["thread"] == r["thread"] and r["start"] <= x["start"]
                   and x["end"] <= r["end"] for x in reads):
            hits += 1
    return hits, len(regs)


class SparkStatus:
    """Reads job and stage costs from the live status store (the same
    store the UI renders; it is kept even with the UI disabled)."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._counted_stages: set[int] = set()
        self._unread = self.next_job_id()

    def next_job_id(self) -> int:
        return int(self._jsc.dagScheduler().nextJobId())

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        store holds the final state of all finished jobs."""
        self._jsc.listenerBus().waitUntilEmpty()

    @staticmethod
    def _ms(opt) -> float | None:
        return opt.get().getTime() / 1000.0 if opt.isDefined() else None

    def op_costs(self, window: OpWindow) -> dict:
        """Costs of the jobs one op ran. Every job submitted since the last
        call is considered; those of untraced ops and of checks between
        ops fall outside the op's job-id range and are left out.

        A stage is counted once, and only if it was submitted during the op:
        a later job that reuses a shuffle lists the earlier stage again."""
        ids = range(self._unread, window.end_job)
        self._unread = window.end_job
        start, end = window.start, window.end
        store = self._jsc.statusStore()
        tracker = self.sc.statusTracker()
        out = {"jobs": 0, "stages": 0, "tasks": 0, "run_s": 0.0,
               "cpu_s": 0.0, "shuffle_write_bytes": 0, "input_bytes": 0,
               "output_bytes": 0, "result_bytes": 0, "intervals": []}
        for j in sorted(attribute_jobs([window], ids)):
            info = tracker.getJobInfo(j)
            if info is None:
                continue
            out["jobs"] += 1
            jd = store.job(j)
            js = self._ms(jd.submissionTime())
            je = self._ms(jd.completionTime())
            if js is not None:
                out["intervals"].append((js, je if je is not None else end))
            for sid in info.stageIds:
                if sid in self._counted_stages:
                    continue
                try:
                    st = store.lastStageAttempt(sid)
                except Py4JJavaError:
                    # evicted by the spark.ui.retainedStages cap, so an
                    # old stage a job reuses, not one this op submitted
                    continue
                if str(st.status()) not in ("COMPLETE", "FAILED"):
                    continue
                sub = self._ms(st.submissionTime())
                if sub is None or sub < start - 0.005:
                    continue
                self._counted_stages.add(sid)
                out["stages"] += 1
                out["tasks"] += int(st.numTasks())
                out["run_s"] += st.executorRunTime() / 1e3
                out["cpu_s"] += st.executorCpuTime() / 1e9
                out["shuffle_write_bytes"] += int(st.shuffleWriteBytes())
                out["input_bytes"] += int(st.inputBytes())
                out["output_bytes"] += int(st.outputBytes())
                out["result_bytes"] += int(st.resultSize())
        return out


def data_files(warehouse: str) -> dict[str, int]:
    """Size of every live table data file (``.../<table>/data/...``)."""
    out = {}
    for root, _dirs, files in os.walk(warehouse):
        if "data" not in root[len(warehouse):].split(os.sep):
            continue          # staging (data.tmp-*) and non-table dirs
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(root, f)
                out[p] = os.path.getsize(p)
    return out
