"""Tracing for the benchmark's traced runs: layer spans and the Spark
event-log rollup.

Spans are recorded from outside the program: :meth:`Tracer.wrap`
replaces a layer's public function at class or module level for the
traced phase only and :meth:`Tracer.restore` puts it back.  A span's
*self* time is its duration minus the part its child spans cover, so
the layer self times plus the uncovered remainder add up to the op.

The Spark side comes from the event log (written uncompressed, since
the stdlib cannot read zstd): every job is attributed to the op whose
job group it ran under — or, for jobs launched from threads that do not
inherit the group, to the op whose time window holds its submission —
and its stages' task metrics are summed per op.
"""

from __future__ import annotations

import functools
import json
import time
from collections import defaultdict
from dataclasses import dataclass, field
from pathlib import Path


@dataclass
class OpRecord:
    """One timed op of the traced phase."""

    key: str  # unique job-group id
    family: str
    start_ms: float
    end_ms: float
    #: top-level layer spans inside the op: (start_ms, end_ms)
    spans: list[tuple[float, float]] = field(default_factory=list)


class Tracer:
    """In-memory span recorder with class/module-level wrappers; each op
    runs under its own Spark job group (``sc`` is the SparkContext)."""

    def __init__(self, sc) -> None:
        self.sc = sc
        #: layer name -> summed self seconds
        self.self_s: dict[str, float] = defaultdict(float)
        self.ops: list[OpRecord] = []
        self._stack: list[list[float]] = []  # [child_seconds] per open span
        self._patched: list[tuple[object, str, object]] = []
        self._op: OpRecord | None = None

    def begin_op(self, key: str, family: str) -> None:
        self.sc.setJobGroup(key, family)
        self._op = OpRecord(key, family, time.time() * 1000, 0.0)

    def end_op(self) -> None:
        op, self._op = self._op, None
        op.end_ms = time.time() * 1000
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.ops.append(op)

    def call(self, layer: str, fn, *args, **kwargs):
        """Run ``fn`` as a span of ``layer``."""
        self._stack.append([0.0])
        t0 = time.time()
        try:
            return fn(*args, **kwargs)
        finally:
            t1 = time.time()
            child = self._stack.pop()[0]
            self.self_s[layer] += (t1 - t0) - child
            if self._stack:
                self._stack[-1][0] += t1 - t0
            elif self._op is not None:
                self._op.spans.append((t0 * 1000, t1 * 1000))

    def wrap(self, owner: object, attr: str, layer: str) -> None:
        """Record every call of ``owner.attr`` as a span of ``layer``,
        until :meth:`restore`."""
        orig = getattr(owner, attr)
        self._patched.append((owner, attr, orig))
        setattr(owner, attr, functools.wraps(orig)(
            lambda *args, **kwargs: self.call(layer, orig, *args, **kwargs)
        ))

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()


#: task metrics, summed per op from each stage's totals (event-log
#: name -> rollup key)
_STAGE_METRICS = {
    "internal.metrics.executorRunTime": "task_ms",
    "internal.metrics.executorCpuTime": "cpu_ns",
    "internal.metrics.jvmGCTime": "gc_ms",
    "internal.metrics.diskBytesSpilled": "spill_bytes",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_bytes",
    "internal.metrics.output.bytesWritten": "output_bytes",
}
#: SQL metrics of the Python operators, summed per op from each task's
#: update: one such metric may be updated by several stages, so a
#: stage's total can include earlier stages' counts
_TASK_METRICS = {
    "time to start Python workers": "py_start_ms",
    "time to initialize Python workers": "py_init_ms",
    "time to run Python workers": "py_run_ms",
    "data sent to Python workers": "py_sent_bytes",
    "data returned from Python workers": "py_returned_bytes",
}


def read_event_log(log_dir: Path, app_id: str) -> list[dict]:
    """All events of application ``app_id`` logged under ``log_dir``
    (single-file or rolling layout)."""
    files = [
        p for p in sorted(log_dir.rglob("*"))
        if p.is_file() and app_id in p.name and not p.name.startswith((".", "appstatus"))
    ]
    events = []
    for p in files:
        with p.open() as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    return events


def _union_ms(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def rollup(events: list[dict], ops: list[OpRecord]) -> dict[str, dict]:
    """Per-op Spark totals: jobs, stages, tasks, the stage metrics
    above, the largest task's peak execution memory, and
    ``gap_ms``/``untraced_ms`` — op wall time outside any of its Spark
    jobs, and outside any job or layer span."""
    by_key = {op.key: op for op in ops}
    job_op: dict[int, OpRecord] = {}
    job_span: dict[int, list[float]] = {}
    stage_op: dict[int, OpRecord] = {}
    for ev in events:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            op = by_key.get(ev.get("Properties", {}).get("spark.jobGroup.id"))
            if op is None:
                t = ev["Submission Time"]
                op = next((o for o in ops if o.start_ms <= t <= o.end_ms), None)
            if op is not None:
                job_op[ev["Job ID"]] = op
                job_span[ev["Job ID"]] = [ev["Submission Time"], ev["Submission Time"]]
                for sid in ev["Stage IDs"]:
                    stage_op[sid] = op
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in job_span:
            job_span[ev["Job ID"]][1] = ev["Completion Time"]
    out: dict[str, dict] = {op.key: defaultdict(float) for op in ops}
    for op in job_op.values():
        out[op.key]["jobs"] += 1
    for ev in events:
        if ev["Event"] == "SparkListenerTaskEnd" and ev["Stage ID"] in stage_op:
            agg = out[stage_op[ev["Stage ID"]].key]
            peak = (ev.get("Task Metrics") or {}).get("Peak Execution Memory", 0)
            agg["peak_exec_bytes"] = max(agg["peak_exec_bytes"], peak)
            for acc in ev.get("Task Info", {}).get("Accumulables", []):
                key = _TASK_METRICS.get(acc.get("Name"))
                if key is not None:
                    agg[key] += float(acc.get("Update") or 0)
        if ev["Event"] != "SparkListenerStageCompleted":
            continue
        info = ev["Stage Info"]
        op = stage_op.get(info["Stage ID"])
        if op is None:
            continue
        agg = out[op.key]
        agg["stages"] += 1
        agg["tasks"] += info["Number of Tasks"]
        for acc in info.get("Accumulables", []):
            key = _STAGE_METRICS.get(acc.get("Name"))
            if key is not None:
                agg[key] += float(acc.get("Value") or 0)
    for op in ops:
        jobs = [tuple(job_span[j]) for j, o in job_op.items() if o is op]
        wall = op.end_ms - op.start_ms
        out[op.key]["gap_ms"] = wall - _union_ms(jobs, op.start_ms, op.end_ms)
        out[op.key]["untraced_ms"] = wall - _union_ms(jobs + op.spans, op.start_ms, op.end_ms)
    return out
