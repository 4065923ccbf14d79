"""Spans and Spark counters, read from outside the program.

``Tracer`` wraps calls into the package in named spans (``<layer>.<op>``).
Each span runs under its own Spark job group, so after a cycle the jobs a
span submitted come back from ``statusTracker().getJobIdsForGroup`` and their
stage metrics from ``statusStore().lastStageAttempt`` — no hook inside the
package. Catalyst phase times come from a held DataFrame's
``queryExecution().tracker()``; micro-batch progress from a Python
``StreamingQueryListener``. A stream runs its micro-batch jobs on its own
thread under its run id as job group; the listener's start events give
those run ids, so a span that runs a stream collects its jobs too. With
tracing off every span is a bare timer.
"""

from __future__ import annotations

import itertools
import time
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener

# stage counters summed per cycle: (metric name, StageData getter, scale)
STAGE_COUNTERS = (
    ("executor_run_s", "executorRunTime", 1e-3),
    ("jvm_gc_s", "jvmGcTime", 1e-3),
    ("shuffle_read_bytes", "shuffleReadBytes", 1),
    ("shuffle_write_bytes", "shuffleWriteBytes", 1),
    ("spill_bytes", "diskBytesSpilled", 1),
    ("input_bytes", "inputBytes", 1),
    ("output_bytes", "outputBytes", 1),
)
PHASES = ("analysis", "optimization", "planning")


def _union_s(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _clip(intervals, lo: float, hi: float):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


class _ProgressListener(StreamingQueryListener):
    """Collects the run id of every started stream, and micro-batch
    duration and state rows per progress event."""

    def __init__(self):
        self.runs: list[str] = []
        self.batches: list[tuple[float, int]] = []

    def onQueryStarted(self, event):
        self.runs.append(str(event.runId))

    def onQueryProgress(self, event):
        p = event.progress
        state_rows = sum(s.numRowsTotal for s in p.stateOperators)
        self.batches.append((p.durationMs.get("triggerExecution", 0), state_rows))

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


class Tracer:
    """Spans for one run. ``enabled`` is fixed per cycle by the harness, so a
    traced run can alternate traced and untraced cycles."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count(1)
        self._op = None
        self._listener = None
        self.phases_ms = {p: 0.0 for p in PHASES}

    # -- spans -----------------------------------------------------------
    @contextmanager
    def span(self, name: str, op: bool = False, streams: bool = False):
        """Time ``name``; with tracing on, record it and give it its own
        job group. ``op=True`` marks a top-level operation: nested spans
        inherit its id. ``streams=True`` also claims the job groups of the
        streams started inside the span."""
        if not self.enabled:
            yield
            return
        if streams:
            self._drain_bus()
            runs0 = len(self._listener.runs)
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        if op:
            self._op = sid
        rec = {"id": sid, "name": name, "parent": parent["id"] if parent else None,
               "op": self._op, "group": f"perfbench-{sid}", "start": time.time()}
        self._stack.append(rec)
        self.sc.setJobGroup(rec["group"], name)
        try:
            yield
        finally:
            rec["end"] = time.time()
            if streams:
                self._drain_bus()
                rec["stream_runs"] = self._listener.runs[runs0:]
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(rec)

    def add_phases(self, df) -> None:
        """Add a just-executed DataFrame's Catalyst phase times."""
        if not self.enabled:
            return
        phases = df._jdf.queryExecution().tracker().phases()
        for p in PHASES:
            got = phases.get(p)
            if got.isDefined():
                self.phases_ms[p] += got.get().durationMs()

    # -- streaming ---------------------------------------------------------
    def listen_streams(self) -> None:
        if self._listener is None:
            self._listener = _ProgressListener()
            self.spark.streams.addListener(self._listener)

    def close(self) -> None:
        if self._listener is not None:
            self.spark.streams.removeListener(self._listener)
            self._listener = None

    # -- reading counters ----------------------------------------------------
    def _drain_bus(self) -> None:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def collect(self, spans: list[dict]) -> dict:
        """Jobs, stages and stage counters of ``spans``' job groups, plus
        per-span job intervals (``rec["jobs"]``); returns cycle totals."""
        self._drain_bus()
        store = self.sc._jsc.sc().statusStore()
        tracker = self.sc.statusTracker()
        out = {"jobs": 0, "stages": 0, "tasks": 0}
        out.update({k: 0.0 for k, _, _ in STAGE_COUNTERS})
        for rec in spans:
            rec["jobs"] = []
            jids = [j for g in (rec["group"], *rec.get("stream_runs", ()))
                    for j in tracker.getJobIdsForGroup(g)]
            for jid in jids:
                jd = store.job(jid)
                if not jd.completionTime().isDefined():
                    continue
                rec["jobs"].append((jd.submissionTime().get().getTime() / 1000.0,
                                    jd.completionTime().get().getTime() / 1000.0))
                out["jobs"] += 1
                for sid in tracker.getJobInfo(jid).stageIds:
                    sd = store.lastStageAttempt(sid)
                    if sd.status().toString() != "COMPLETE":
                        continue
                    out["stages"] += 1
                    out["tasks"] += sd.numTasks()
                    for key, getter, scale in STAGE_COUNTERS:
                        out[key] += getattr(sd, getter)() * scale
        return out

    def streaming_batches(self) -> list[tuple[float, int]]:
        """Progress events seen so far (drains the listener bus first)."""
        if self._listener is None:
            return []
        self._drain_bus()
        return list(self._listener.batches)


def layer_times(spans: list[dict], by_layer: bool = True) -> dict[str, dict[str, float]]:
    """Per layer (span name up to the first dot), or per span name: self
    time — the span's duration minus what its child spans cover — and
    wait, the part of the self time during which the span's own Spark jobs
    ran."""
    children: dict[int, list[dict]] = {}
    for rec in spans:
        if rec["parent"] is not None:
            children.setdefault(rec["parent"], []).append(rec)
    out: dict[str, dict[str, float]] = {}
    for rec in spans:
        lo, hi = rec["start"], rec["end"]
        kids = [(c["start"], c["end"]) for c in children.get(rec["id"], [])]
        self_s = (hi - lo) - _union_s(_clip(kids, lo, hi))
        jobs = _clip(rec.get("jobs", []), lo, hi)
        wait = _union_s(jobs) - _union_s(
            [iv for k in kids for iv in _clip(jobs, *k)])
        key = rec["name"].split(".")[0] if by_layer else rec["name"]
        acc = out.setdefault(key, {"self_s": 0.0, "wait_s": 0.0})
        acc["self_s"] += self_s
        acc["wait_s"] += max(0.0, wait)
    return out


def job_seconds(spans: list[dict]) -> float:
    """Wall time during which at least one traced Spark job ran."""
    return _union_s([iv for rec in spans for iv in rec.get("jobs", [])])
