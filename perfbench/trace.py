"""Tracing for the per-layer run.

Three sources, all outside the engine:

* ``Tracer`` records spans (name, start, end, parent, op id) in memory. The
  benchmark opens spans around the public entry points it calls, and
  ``instrument`` wraps the engine's public layer functions for the duration
  of a traced window (module/class attributes are swapped and restored; no
  engine file changes).
* ``ProgressCollector`` is a public ``StreamingQueryListener`` that keeps
  each microbatch's ``durationMs`` breakdown.
* ``StatusStore`` reads per-job and per-stage metrics (shuffle, spill,
  executor run time, GC) from Spark's status store. That API is private to
  Spark, so every call is guarded: if it is missing or fails, the wrapper
  reports itself unavailable and the benchmark falls back to timings only.
"""

from __future__ import annotations

import contextlib
import json
import re
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener


class Tracer:
    def __init__(self, enabled: bool = True):
        self.enabled = enabled
        self.t0 = time.perf_counter()
        self.epoch0 = time.time()
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next_id = 0
        # time spent in the tracer's own bookkeeping and listener callbacks
        self.cost_s = 0.0
        # spans opened on one thread and still open: a span started on a
        # thread with an empty stack (a foreachBatch callback thread) takes
        # the innermost of these as its parent
        self._open: list[tuple[int, str]] = []

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str, op_id=None, **attrs):
        if not self.enabled:
            yield attrs
            return
        c0 = time.perf_counter()
        stack = self._stack()
        with self._lock:
            sid = self._next_id
            self._next_id += 1
            if stack:
                parent = stack[-1]
            else:
                parent = self._open[-1][0] if self._open else None
            self._open.append((sid, name))
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield attrs
        finally:
            end = time.perf_counter()
            stack.pop()
            with self._lock:
                self._open.remove((sid, name))
                self.spans.append({
                    "id": sid, "name": name, "parent": parent, "op": op_id,
                    "start": start - self.t0, "end": end - self.t0, **attrs,
                })
                self.cost_s += (start - c0) + (time.perf_counter() - end)

    def add_cost(self, seconds: float) -> None:
        with self._lock:
            self.cost_s += seconds

    def rel(self, epoch_s: float) -> float:
        """An epoch time on the spans' clock (seconds since t0)."""
        return epoch_s - self.epoch0

    def window(self, start: float, end: float) -> list[dict]:
        """Spans that started inside [start, end] (perf_counter seconds)."""
        a, b = start - self.t0, end - self.t0
        return [s for s in self.spans if a <= s["start"] <= b]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(sorted(self.spans, key=lambda s: s["start"]), f)


def total(spans: list[dict], name: str) -> float:
    return sum(s["end"] - s["start"] for s in spans if s["name"] == name)


def self_times(spans: list[dict]) -> dict[str, float]:
    """Per span name: summed duration minus the durations of child spans."""
    child = {}
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
    out: dict[str, float] = {}
    for s in spans:
        out[s["name"]] = out.get(s["name"], 0.0) + (
            s["end"] - s["start"] - child.get(s["id"], 0.0)
        )
    return out


@contextlib.contextmanager
def instrument(tracer: Tracer):
    """Wrap the engine's public layer functions with tracer spans."""
    from sfr_ingest_pipeline_spark.streaming import replay as replay_mod
    from sfr_ingest_pipeline_spark.table.transcript_table import TranscriptTable

    if not tracer.enabled:
        yield
        return

    from sfr_ingest_pipeline_spark.table.bloom import BloomReader

    orig_apply = replay_mod.apply_batch
    orig_load = TranscriptTable.__dict__["load"]
    orig_harvest = TranscriptTable.harvest_files
    orig_commit = TranscriptTable.commit
    # driver-side target-scan planning and pruning inside apply_batch
    planning = [(TranscriptTable, "scan"), (TranscriptTable, "files_in_buckets"),
                (TranscriptTable, "delta_file_counts"), (BloomReader, "may_contain_any")]
    orig_planning = [getattr(cls, name) for cls, name in planning]

    def apply_batch(spark, table_root, batch_df, batch_id, *a, **k):
        with tracer.span("merge.apply_batch", op_id=batch_id) as rec:
            res = orig_apply(spark, table_root, batch_df, batch_id, *a, **k)
            rec.update(rows_in=res.rows_in, events_applied=res.events_applied,
                       dedup_dropped=res.dedup_dropped,
                       merge_conflicts=res.merge_conflicts,
                       files_read=res.files_read, files_pruned=res.files_pruned,
                       touched_buckets=len(res.touched_buckets))
            return res

    def load(cls, root, *a, **k):
        with tracer.span("table.load"):
            return orig_load.__func__(cls, root, *a, **k)

    def harvest_files(self, *a, **k):
        with tracer.span("table.harvest_files") as rec:
            files = orig_harvest(self, *a, **k)
            rec["base_files"] = sum(1 for f in files if f.kind == "base")
            rec["delta_files"] = sum(1 for f in files if f.kind == "delta")
            return files

    def commit(self, *a, **k):
        with tracer.span("table.commit"):
            return orig_commit(self, *a, **k)

    def planned(fn):
        def wrapper(*a, **k):
            with tracer.span("table.target_plan"):
                return fn(*a, **k)
        return wrapper

    replay_mod.apply_batch = apply_batch
    TranscriptTable.load = classmethod(load)
    TranscriptTable.harvest_files = harvest_files
    TranscriptTable.commit = commit
    for (cls, name), fn in zip(planning, orig_planning):
        setattr(cls, name, planned(fn))
    try:
        yield
    finally:
        replay_mod.apply_batch = orig_apply
        TranscriptTable.load = orig_load
        TranscriptTable.harvest_files = orig_harvest
        TranscriptTable.commit = orig_commit
        for (cls, name), fn in zip(planning, orig_planning):
            setattr(cls, name, fn)


class ProgressCollector(StreamingQueryListener):
    """Keeps every StreamingQueryProgress as a small dict."""

    def __init__(self, tracer: Tracer):
        self.progress: list[dict] = []
        self._lock = threading.Lock()
        self._tracer = tracer

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        c0 = time.perf_counter()
        p = event.progress
        with self._lock:
            self.progress.append({
                "batch_id": p.batchId,
                "timestamp": p.timestamp,
                "duration_ms": dict(p.durationMs),
                "input_rows": p.numInputRows,
            })
        self._tracer.add_cost(time.perf_counter() - c0)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def data_batches(self) -> list[dict]:
        """Triggers that ran a batch (idle triggers have no addBatch)."""
        with self._lock:
            return [p for p in self.progress if "addBatch" in p["duration_ms"]]

    def wait_for(self, n: int, timeout: float = 5.0) -> None:
        """Listener events arrive asynchronously; wait for ``n`` data batches."""
        deadline = time.monotonic() + timeout
        while len(self.data_batches()) < n and time.monotonic() < deadline:
            time.sleep(0.05)


_MERGE_DESC = re.compile(r"merge\[(\d+)\]: (.*)")


class StatusStore:
    """Guarded access to Spark's (private) status stores: per-stage resource
    metrics and per-SQL-execution wall time, both tagged with the job
    description the engine sets (``merge[N]: <phase>``)."""

    def __init__(self, spark):
        self.available = True
        self.reason = None
        try:
            self._jvm = spark._jvm
            self._gateway = spark.sparkContext._gateway
            self._store = spark.sparkContext._jsc.sc().statusStore()
            self._sql_store = spark._jsparkSession.sharedState().statusStore()
            self._list = self._jvm.java.util.ArrayList
        except Exception as e:  # noqa: BLE001 - any failure means "timings only"
            self._disable(e)

    def _disable(self, e: Exception) -> None:
        self.available = False
        self.reason = f"{type(e).__name__}: {str(e).splitlines()[0][:200] if str(e) else ''}"

    @staticmethod
    def _opt(o):
        return o.get() if o.isDefined() else None

    def stages(self) -> list[dict] | None:
        """All retained stages, or None when the status store is unavailable."""
        if not self.available:
            return None
        try:
            empty = self._list()
            seq = self._store.stageList(
                empty, False, False, self._gateway.new_array(self._jvm.double, 0), empty
            )
            out = []
            it = seq.iterator()
            while it.hasNext():
                s = it.next()
                out.append({
                    "stage_id": s.stageId(),
                    "description": self._opt(s.description()),
                    "shuffle_write_bytes": s.shuffleWriteBytes(),
                    "shuffle_read_bytes": s.shuffleReadBytes(),
                    "disk_spilled_bytes": s.diskBytesSpilled(),
                    "executor_run_ms": s.executorRunTime(),
                    "jvm_gc_ms": s.jvmGcTime(),
                })
            return out
        except Exception as e:  # noqa: BLE001
            self._disable(e)
            return None

    def sql_executions(self) -> list[dict] | None:
        """Completed SQL executions (planning + jobs) with epoch-second bounds."""
        if not self.available:
            return None
        try:
            out = []
            it = self._sql_store.executionsList().iterator()
            while it.hasNext():
                e = it.next()
                end = self._opt(e.completionTime())
                if end is None:
                    continue
                out.append({
                    "id": e.executionId(),
                    "description": e.description(),
                    "start": e.submissionTime() / 1000.0,
                    "end": end.getTime() / 1000.0,
                })
            return out
        except Exception as e:  # noqa: BLE001
            self._disable(e)
            return None

    def mark(self) -> dict:
        """Highest stage and execution ids so far; a window is the ids above."""
        stages, execs = self.stages(), self.sql_executions()
        return {
            "stage": max((s["stage_id"] for s in stages or []), default=-1),
            "execution": max((e["id"] for e in execs or []), default=-1),
        }

    def merge_metrics(self, since: dict) -> dict | None:
        """Merge-stage resource totals and SQL executions after ``since``;
        None when unavailable."""
        stages, execs = self.stages(), self.sql_executions()
        if stages is None or execs is None:
            return None
        res = {"shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
               "disk_spilled_bytes": 0, "executor_run_ms": 0, "jvm_gc_ms": 0}
        for s in stages:
            if s["stage_id"] <= since["stage"] or not (s["description"] or "").startswith("merge["):
                continue
            for k in res:
                res[k] += s[k]
        return {"stages": res,
                "executions": [e for e in execs if e["id"] > since["execution"]]}


def phase_of(description: str | None) -> str:
    """merge phase named by an execution's job description."""
    m = _MERGE_DESC.match(description or "")
    if not m:
        return "other_sql"
    if m.group(2).startswith("bucket discovery"):
        return "discovery"
    if m.group(2).startswith("fused LWW merge"):
        return "merge_write"
    return "other_sql"
