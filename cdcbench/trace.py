"""Layer tracing from outside the engine.

Three sources, none of which needs an engine change:

* **spans** -- ``Tracer.install`` wraps the engine's public layer entry
  points at runtime (module functions and ``LakeTable`` methods, plus the
  pipeline's ``foreachBatch`` sink) and records a span per call. A span's
  self time is its duration minus its child spans' (same thread);
* **stream progress** -- Spark's public ``StreamingQueryListener``
  (``ProgressLog``), on in every run: the trigger-loop phases and the
  dedup state-store gauges per micro-batch;
* **Spark status** -- jobs, stages and task metrics from the status
  store (``SparkStatus``), read after the measured phase.
"""

from __future__ import annotations

import functools
import importlib
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener


def _merge_attrs(args, kwargs) -> dict:
    touched = kwargs.get("touched_buckets")
    return {"touched": len(touched) if touched is not None else 0, "salt": kwargs.get("write_salt", 1)}


#: (module, attribute path, span name, attrs from the call) -- the layer
#: boundaries the per-layer metrics are named after
ENGINE_SPANS = [
    ("odibel_spark.cdc.pipeline", "TranscriptCdcPipeline._apply_batch", "sink", None),
    ("odibel_spark.cdc.pipeline", "discover_wal_schema", "evolution.discover", None),
    ("odibel_spark.cdc.pipeline", "merge_upsert", "merge", _merge_attrs),
    ("odibel_spark.lake.merge", "compact_buckets", "compact", None),
    ("odibel_spark.lake.table", "LakeTable.append", "lake.write", None),
    ("odibel_spark.lake.table", "LakeTable.replace_buckets", "lake.write", None),
    ("odibel_spark.lake.table", "LakeTable.append_rows", "lake.side", None),
    ("odibel_spark.lake.table", "LakeTable.manifest", "lake.meta", None),
    ("odibel_spark.lake.table", "LakeTable.read", "read.plan", None),
    ("odibel_spark.lake.table", "LakeTable.changes", "read.plan", None),
]

#: spans whose return value (a planned DataFrame) is kept, so the files
#: each read plans can be counted after the measured phase
KEEP_RESULT = {"read.plan"}


class Tracer:
    """In-memory span recorder. Only the traced run creates one, so the
    untraced run executes unmodified engine code."""

    def __init__(self):
        self.spans: list[dict] = []
        self._tls = threading.local()
        self._lock = threading.Lock()
        self._undo: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._tls.__dict__.setdefault("stack", [])
        rec = {"name": name, "child_s": 0.0, **attrs}
        parent = stack[-1] if stack else None
        stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            if parent is not None:
                parent["child_s"] += rec["end"] - rec["start"]
            with self._lock:
                self.spans.append(rec)

    def _wrap(self, owner, attr: str, name: str, attrs_fn) -> None:
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with tracer.span(name, **(attrs_fn(args, kwargs) if attrs_fn else {})) as rec:
                out = orig(*args, **kwargs)
                if name in KEEP_RESULT:
                    rec["result"] = out
                return out

        setattr(owner, attr, traced)
        self._undo.append((owner, attr, orig))

    def install(self) -> None:
        for module, path, name, attrs_fn in ENGINE_SPANS:
            owner = importlib.import_module(module)
            *outer, attr = path.split(".")
            for part in outer:
                owner = getattr(owner, part)
            self._wrap(owner, attr, name, attrs_fn)

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    def summary(self, t0: float, t1: float) -> dict[str, dict]:
        """name -> {calls, self_s, total_s, attrs...} over spans that
        started inside [t0, t1)."""
        out: dict[str, dict] = defaultdict(lambda: {"calls": 0, "self_s": 0.0, "total_s": 0.0})
        with self._lock:
            spans = [s for s in self.spans if t0 <= s["start"] < t1]
        for s in spans:
            agg = out[s["name"]]
            dur = s["end"] - s["start"]
            agg["calls"] += 1
            agg["total_s"] += dur
            agg["self_s"] += dur - s["child_s"]
            for k in ("touched", "salt", "result"):
                if k in s:
                    agg.setdefault(k, []).append(s[k])
        return dict(out)


class ProgressLog(StreamingQueryListener):
    """Keeps every ``StreamingQueryProgress`` of data batches."""

    def __init__(self):
        self.batches: list[dict] = []
        self._terminated = 0
        self._cv = threading.Condition()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        dur = dict(p.durationMs or {})
        if "addBatch" not in dur:
            return
        state = list(p.stateOperators or [])
        rec = {
            "batch": p.batchId,
            "t": time.perf_counter(),
            "input_rows": p.numInputRows,
            "dur_ms": dur,
            "state_rows": sum(s.numRowsTotal for s in state),
            "state_bytes": sum(s.memoryUsedBytes for s in state),
            "state_commit_ms": sum(s.commitTimeMs for s in state),
            "dropped_by_watermark": sum(s.numRowsDroppedByWatermark for s in state),
        }
        with self._cv:
            self.batches.append(rec)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        with self._cv:
            self._terminated += 1
            self._cv.notify_all()

    def terminated(self) -> int:
        with self._cv:
            return self._terminated

    def wait_terminated(self, n: int, timeout: float = 30.0) -> None:
        """Block until ``n`` queries have terminated: progress events
        travel on Spark's listener bus and may trail ``awaitTermination``."""
        with self._cv:
            if not self._cv.wait_for(lambda: self._terminated >= n, timeout):
                raise TimeoutError("streaming listener did not see the query terminate")

    def since(self, t0: float) -> list[dict]:
        with self._cv:
            return [b for b in self.batches if b["t"] >= t0]


class SparkStatus:
    """Job, stage and task metrics from Spark's status store."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._store = self._sc._jsc.sc().statusStore()
        gw = self._sc._gateway
        self._quantiles = gw.new_array(gw.jvm.double, 2)
        self._quantiles[0], self._quantiles[1] = 0.5, 1.0

    def _jobs(self) -> list:
        """Every job the store retains (micro-batch jobs run in the
        stream's job group, so the status tracker's ungrouped list misses
        them)."""
        seq = self._store.jobsList(self._sc._gateway.jvm.java.util.ArrayList())
        return [seq.apply(i) for i in range(seq.size())]

    def last_job_id(self) -> int:
        return max((j.jobId() for j in self._jobs()), default=-1)

    def since(self, after_job: int) -> dict:
        jobs = [j for j in self._jobs() if j.jobId() > after_job]
        stage_ids = set()
        for j in jobs:
            ids = j.stageIds()
            stage_ids.update(ids.apply(i) for i in range(ids.size()))
        out = {"jobs": len(jobs), "stages": 0, "tasks": 0, "executor_run_s": 0.0,
               "shuffle_write_mb": 0.0, "spill_mb": 0.0, "task_max_s": 0.0, "task_p50_s": 0.0}
        for sid in sorted(stage_ids):
            for sd in self._attempts(sid):
                out["stages"] += 1
                out["tasks"] += sd.numCompleteTasks()
                out["executor_run_s"] += sd.executorRunTime() / 1e3
                out["shuffle_write_mb"] += sd.shuffleWriteBytes() / 2**20
                out["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / 2**20
                if sd.numCompleteTasks() > 1:
                    dist = self._store.taskSummary(sid, sd.attemptId(), self._quantiles)
                    if dist.isDefined():
                        run = dist.get().executorRunTime()
                        out["task_p50_s"] += run.apply(0) / 1e3
                        out["task_max_s"] += run.apply(1) / 1e3
        return out

    def _attempts(self, stage_id: int) -> list:
        gw = self._sc._gateway
        try:
            seq = self._store.stageData(stage_id, False, gw.jvm.java.util.ArrayList(), False,
                                        gw.new_array(gw.jvm.double, 0))
        except Py4JJavaError:  # evicted from the store (retention limit)
            return []
        return [seq.apply(i) for i in range(seq.size())]
