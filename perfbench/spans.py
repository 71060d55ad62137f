"""In-memory spans with Spark counters attached, recorded from outside
the engine.

A span is opened around each call into a package layer. It records its
name, parent, request id (workload/day/row), wall start and end, and the
range of Spark job ids submitted while it was open. Job ids are taken
from the DAG scheduler's counter, so jobs started on other driver threads
(``foreachBatch`` micro-batches, which do not inherit the caller's job
group) are attributed by id range like every other job. Each request also
sets the Spark job group to its request id; jobs that ran outside that
group are counted as ``exec.ungrouped_jobs``.

Counters are read from Spark's status store when a top-level span closes
(the store keeps the last 1000 jobs, far more than one request runs), and
each job is charged to the innermost span whose range holds its id. Spans
are written out once, by :meth:`Tracer.dump`, when the run ends.

A disabled tracer keeps no state and does no work: ``span`` is then a
bare ``yield``.
"""

from __future__ import annotations

import contextlib
import json
import time

# A stage runs Python (Arrow/pandas or pickled-row UDF workers) when its
# RDD operation scopes name one of these operators.
_PY_SCOPES = ("Pandas", "Arrow", "Python")

COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "input_bytes",
    "output_bytes",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "exchanges",
    "python_stages",
    "python_stage_s",
    "ungrouped_jobs",
)


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spark = spark
        self.spans: list[dict] = []
        self.overhead_s = 0.0  # wall time spent inside the tracer itself
        self._stack: list[dict] = []
        self._request = ""
        self._py_stage: dict[int, bool] = {}

    def _sc(self):
        return self.spark.sparkContext._jsc.sc()

    def _next_job(self) -> int:
        return self._sc().dagScheduler().nextJobId()

    def request(self, request_id: str) -> None:
        """Start a new request: later spans carry ``request_id`` and Spark
        jobs submitted from this thread run in job group ``request_id``."""
        self._request = request_id
        if self.enabled:
            self.spark.sparkContext.setJobGroup(request_id, request_id)

    @contextlib.contextmanager
    def span(self, name: str, kind: str | None = None, table: str | None = None):
        """``kind`` marks a phase leaf: ``build`` (the driver call that
        returns a DataFrame, with any eager jobs it runs), ``plan`` or
        ``action`` (the call that executes a plan). ``table`` names the
        warehouse table a sink call touches."""
        if not self.enabled:
            yield
            return
        t0 = time.perf_counter()
        s = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "request": self._request,
            "kind": kind,
            "table": table,
            "job_lo": self._next_job(),
        }
        self.spans.append(s)
        self._stack.append(s)
        s["start"] = time.perf_counter()
        self.overhead_s += s["start"] - t0
        try:
            yield
        finally:
            s["end"] = time.perf_counter()
            s["job_hi"] = self._next_job()
            self._stack.pop()
            if not self._stack:
                self._collect(s)
            self.overhead_s += time.perf_counter() - s["end"]

    # -- counters -----------------------------------------------------------

    def _is_python_stage(self, store, sid: int) -> bool:
        if sid not in self._py_stage:
            found = False
            pending = [store.operationGraphForStage(sid).rootCluster()]
            while pending and not found:
                c = pending.pop()
                kids = c.childClusters()
                for i in range(kids.size()):
                    k = kids.apply(i)
                    found = found or any(p in k.name() for p in _PY_SCOPES)
                    pending.append(k)
            self._py_stage[sid] = found
        return self._py_stage[sid]

    def _job_counters(self, store, jid: int, group: str) -> dict:
        c = dict.fromkeys(COUNTERS, 0)
        c["jobs"] = 1
        job = store.job(jid)
        if not (job.jobGroup().isDefined() and job.jobGroup().get() == group):
            c["ungrouped_jobs"] = 1
        sids = job.stageIds()
        for i in range(sids.size()):
            sid = sids.apply(i)
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 — stage evicted or never attempted
                continue
            if st.status().toString() != "COMPLETE":
                continue  # skipped: its output was reused from an earlier job
            run_s = st.executorRunTime() / 1e3
            c["stages"] += 1
            c["tasks"] += st.numCompleteTasks()
            c["executor_run_s"] += run_s
            c["executor_cpu_s"] += st.executorCpuTime() / 1e9
            c["gc_s"] += st.jvmGcTime() / 1e3
            c["input_bytes"] += st.inputBytes()
            c["output_bytes"] += st.outputBytes()
            c["shuffle_read_bytes"] += st.shuffleReadBytes()
            c["shuffle_write_bytes"] += st.shuffleWriteBytes()
            c["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            c["exchanges"] += int(st.shuffleWriteRecords() > 0)
            if self._is_python_stage(store, sid):
                c["python_stages"] += 1
                c["python_stage_s"] += run_s
        return c

    def _collect(self, top: dict) -> None:
        """Charge every job of a finished top-level span to the innermost
        span whose job-id range holds it. Spans opened after ``top`` are
        all its descendants: the driver calls layers one at a time."""
        store = self._sc().statusStore()
        tree = self.spans[top["id"]:]
        for s in tree:
            s["self"] = dict.fromkeys(COUNTERS, 0)
        for jid in range(top["job_lo"], top["job_hi"]):
            owner = top
            for s in tree:
                if s["job_lo"] <= jid < s["job_hi"] and s["job_hi"] - s["job_lo"] <= owner["job_hi"] - owner["job_lo"]:
                    owner = s
            try:
                c = self._job_counters(store, jid, owner["request"])
            except Exception:  # noqa: BLE001 — job evicted from the status store
                continue
            for k, v in c.items():
                owner["self"][k] += v

    # -- output -------------------------------------------------------------

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"overhead_s": self.overhead_s, "spans": self.spans}, f)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the part of it its children cover (children of
    one span never overlap: the driver calls layers one at a time)."""
    out = {s["id"]: s["end"] - s["start"] for s in spans}
    for s in spans:
        if s["parent"] is not None:
            out[s["parent"]] -= s["end"] - s["start"]
    return out


def layer_totals(spans: list[dict]) -> dict[str, dict]:
    """Per span name: count, inclusive seconds, self seconds, self counters."""
    selfs = self_times(spans)
    out: dict[str, dict] = {}
    for s in spans:
        t = out.setdefault(s["name"], {"calls": 0, "incl_s": 0.0, "self_s": 0.0, **dict.fromkeys(COUNTERS, 0)})
        t["calls"] += 1
        t["incl_s"] += s["end"] - s["start"]
        t["self_s"] += selfs[s["id"]]
        for k, v in s.get("self", {}).items():
            t[k] += v
    return out
