"""Traced-run instrumentation, recorded from outside the program.

- Spans: one per op call and one per layer boundary under it (``fn``,
  ``collect``, ``tables.scan_load``, ``tables.finalize_cached``), kept in memory
  and written out when the run ends.
- ``tables`` counters: wrappers installed on ``cdc_pubsub_spark.tables.load``
  and ``finalize_cached`` before the operator modules are imported (many of
  them bind ``load`` at import time).
- Scheduler and executor counters: read from the status store right after
  each call, by the call's job group and by the run ids of the streaming
  queries it started (micro-batch jobs run under the query's own group).
- Streaming counters: a ``StreamingQueryListener`` registered by the
  benchmark.
"""

from __future__ import annotations

import threading
import time
from collections import defaultdict

from pyspark.sql.streaming import StreamingQueryListener

STAGE_FIELDS = {
    "executor_run_s": ("executorRunTime", 1e-3),
    "executor_cpu_s": ("executorCpuTime", 1e-9),
    "jvm_gc_s": ("jvmGcTime", 1e-3),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "spill_bytes": ("memoryBytesSpilled", 1),
    "input_bytes": ("inputBytes", 1),
    "tasks": ("numCompleteTasks", 1),
}
STREAM_DURATIONS = {
    "stream_trigger_s": "triggerExecution",
    "stream_add_batch_s": "addBatch",
    "stream_query_planning_s": "queryPlanning",
    "stream_wal_commit_s": "walCommit",
    "stream_commit_offsets_s": "commitOffsets",
}


class Tracer:
    """Spans and per-call layer counters for one traced run."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next_span = 0
        self.calls: dict[int, dict] = {}
        self.active: set[int] = set()
        self.queries: dict[str, dict] = {}  # runId -> query record

    # --- spans ---------------------------------------------------------

    def _span_id(self) -> int:
        with self._lock:
            self._next_span += 1
            return self._next_span

    def span(self, name: str, call_id: int | None, parent: int | None, t0: float, t1: float) -> int:
        sid = self._span_id()
        with self._lock:
            self.spans.append(
                {"id": sid, "name": name, "call": call_id, "parent": parent, "start": t0, "end": t1}
            )
        return sid

    def current_call(self) -> int | None:
        return getattr(self._local, "call", None)

    def set_current_call(self, call_id: int | None) -> None:
        self._local.call = call_id

    # --- tables wrappers -------------------------------------------------

    def install_table_wrappers(self, tables_mod) -> None:
        """Wrap ``tables.load`` and ``tables.finalize_cached``; must run
        before the operator modules import ``load``."""
        for attr, key in (("load", "scan_load"), ("finalize_cached", "finalize_cached")):
            inner = getattr(tables_mod, attr)
            setattr(tables_mod, attr, self._wrap(inner, key))

    def _wrap(self, inner, key: str):
        tracer = self

        def wrapped(*args, **kwargs):
            call_id = tracer.current_call()
            if call_id is None:
                return inner(*args, **kwargs)
            t0 = time.perf_counter()
            try:
                return inner(*args, **kwargs)
            finally:
                t1 = time.perf_counter()
                tracer.span(f"tables.{key}", call_id, tracer.calls[call_id]["span"], t0, t1)
                with tracer._lock:
                    rec = tracer.calls[call_id]
                    rec[f"{key}_calls"] += 1
                    rec[f"{key}_s"] += t1 - t0

        wrapped.__wrapped__ = inner
        wrapped.__doc__ = inner.__doc__
        return wrapped

    # --- call bookkeeping ------------------------------------------------

    def begin_call(self, call_id: int, op: str) -> None:
        rec = defaultdict(float)
        rec.update(op=op, span=self._span_id(), runs=[])
        rec["t0"] = time.perf_counter()
        with self._lock:
            self.calls[call_id] = rec
            self.active.add(call_id)
        self.set_current_call(call_id)

    def end_call(self, call_id: int) -> None:
        rec = self.calls[call_id]
        with self._lock:
            self.active.discard(call_id)
            self.spans.append(
                {"id": rec["span"], "name": f"op:{rec['op']}", "call": call_id,
                 "parent": None, "start": rec["t0"], "end": time.perf_counter()}
            )
        self.set_current_call(None)

    # --- streaming listener ---------------------------------------------

    def listener(self) -> StreamingQueryListener:
        tracer = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):  # noqa: N802 (pyspark API)
                # Called synchronously with start(): the starting call is
                # still active. With more than one call in flight the query
                # cannot be attributed and is recorded without a call.
                with tracer._lock:
                    owner = next(iter(tracer.active)) if len(tracer.active) == 1 else None
                    tracer.queries[str(event.runId)] = {
                        "call": owner, "started": time.perf_counter(),
                        "progress": [], "terminated": False,
                    }
                    if owner is not None:
                        tracer.calls[owner]["runs"].append(str(event.runId))

            def onQueryProgress(self, event):  # noqa: N802
                p = event.progress
                state = [(s.numRowsTotal, s.memoryUsedBytes) for s in p.stateOperators]
                with tracer._lock:
                    q = tracer.queries.get(str(p.runId))
                    if q is not None:
                        q["progress"].append(
                            {"rows": p.numInputRows, "ms": dict(p.durationMs), "state": state}
                        )

            def onQueryIdle(self, event):  # noqa: N802
                pass

            def onQueryTerminated(self, event):  # noqa: N802
                with tracer._lock:
                    q = tracer.queries.get(str(event.runId))
                    if q is not None:
                        q["terminated"] = True

        return _Listener()

    def wait_streams(self, timeout: float = 20.0) -> bool:
        """Wait until every recorded query's termination event arrived (its
        last progress event precedes it on the listener bus)."""
        deadline = time.perf_counter() + timeout
        while time.perf_counter() < deadline:
            with self._lock:
                if all(q["terminated"] for q in self.queries.values()):
                    return True
            time.sleep(0.05)
        return False

    def stream_totals(self, call_id: int) -> dict[str, float]:
        rec = self.calls[call_id]
        out: dict[str, float] = defaultdict(float)
        for run in rec["runs"]:
            q = self.queries[run]
            out["stream_queries"] += 1
            if out["stream_queries"] == 1:
                out["stream_start_s"] = q["started"] - rec["t0"]
            rows_max = mem_max = 0
            for p in q["progress"]:
                out["stream_batches"] += 1
                out["stream_input_rows"] += p["rows"]
                for metric, key in STREAM_DURATIONS.items():
                    out[metric] += p["ms"].get(key, 0) / 1000.0
                rows_max = max(rows_max, sum(r for r, _ in p["state"]))
                mem_max = max(mem_max, sum(m for _, m in p["state"]))
            out["stream_state_rows"] += rows_max
            out["stream_state_memory_bytes"] += mem_max
        return out


class StatusReader:
    """Scheduler and executor counters from the application status store."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.store = sc._jsc.sc().statusStore()
        self.tracker = sc.statusTracker()
        self._empty = sc._jvm.java.util.ArrayList()
        self._quantiles = sc._gateway.new_array(sc._jvm.double, 0)

    def drain(self) -> None:
        """Block until the listener bus has delivered every posted event,
        so the status store holds every finished job."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def max_job_id(self) -> int:
        jobs = self.store.jobsList(None)
        return jobs.head().jobId() if jobs.nonEmpty() else -1

    def group_jobs(self, group: str) -> list[int]:
        return list(self.tracker.getJobIdsForGroup(group))

    def job_counters(self, job_ids: list[int]) -> dict[str, float]:
        out: dict[str, float] = defaultdict(float)
        stage_ids: set[int] = set()
        for j in job_ids:
            out["jobs"] += 1
            seq = self.store.job(j).stageIds()
            stage_ids.update(seq.apply(i) for i in range(seq.size()))
        for s in sorted(stage_ids):
            attempts = self.store.stageData(s, False, self._empty, False, self._quantiles)
            if attempts.isEmpty():
                continue
            data = attempts.head()
            if data.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            for metric, (getter, scale) in STAGE_FIELDS.items():
                out[metric] += getattr(data, getter)() * scale
            out["spill_bytes"] += data.diskBytesSpilled()
        return out
