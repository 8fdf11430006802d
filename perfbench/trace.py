"""Spans recorded around the package's public calls, and the summary of
Spark's event log per span.

A span has a name, start, end, parent and run id. While a span is open,
every Spark job the calling thread submits carries the span's id as its
job group (``spark.jobGroup.id``) and its name as the job description,
so the event log can be cut by span afterwards. Spans stay in memory and
are written out once, when the run ends (``layers.traced_run``). Nothing inside the package is
instrumented.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field

import pyarrow as pa

_GROUP = "spark.jobGroup.id"
_DESC = "spark.job.description"


@dataclass
class Span:
    id: str
    name: str
    parent: str | None
    run_id: str
    start: float  # epoch seconds, comparable with event-log timestamps
    end: float = 0.0
    tags: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class Tracer:
    """Opens nested spans on the calling thread."""

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, **tags):
        parent = self._stack[-1] if self._stack else None
        s = Span(f"{self.run_id}-{len(self.spans)}", name,
                 parent.id if parent else None, self.run_id, time.time(), tags=tags)
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setLocalProperty(_GROUP, s.id)
        self.sc.setLocalProperty(_DESC, name)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self.sc.setLocalProperty(_GROUP, parent.id if parent else None)
            self.sc.setLocalProperty(_DESC, parent.name if parent else None)


def maybe_span(tracer: Tracer | None, name: str, **tags):
    """``tracer.span(...)``, or a context yielding None when not tracing."""
    return nullcontext() if tracer is None else tracer.span(name, **tags)


# ----------------------------- event log ---------------------------------
def read_event_log(directory: str) -> list[dict]:
    """Events of the single application logged under ``directory``.

    Spark 4.1 writes a rolling log (``eventlog_v2_*/events_<n>_*``),
    zstd-compressed by default; pyarrow decompresses it."""
    files = sorted(
        glob.glob(os.path.join(directory, "eventlog_v2_*", "events_*")),
        key=lambda f: int(os.path.basename(f).split("_")[1]),
    )
    if not files:
        raise FileNotFoundError(f"no rolling event log under {directory}")
    events = []
    for f in files:
        comp = "zstd" if f.endswith(".zstd") else None
        with pa.input_stream(f, compression=comp) as s:
            text = s.read().decode()
        events += [json.loads(line) for line in text.splitlines() if line.strip()]
    return events


@dataclass
class SpanStats:
    """Spark work attributed to one span (its own job group only)."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    job_busy_s: float = 0.0  # union of the span's job intervals
    run_s: float = 0.0  # executor run time, summed over tasks
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    #: plan node name (MapInPandas, FlatMapGroupsInPandas, ...) ->
    #: {"python_s", "python_bytes_in", "python_bytes_out"}
    python: dict[str, dict[str, float]] = field(default_factory=dict)

    def py(self, node: str, key: str) -> float:
        return self.python.get(node, {}).get(key, 0.0)


#: SQL metrics of Python-evaluating plan nodes -> (key, scale to s / B)
_ACCUMS = {
    "time to run Python workers": ("python_s", 1e-3),
    "data sent to Python workers": ("python_bytes_in", 1),
    "data returned from Python workers": ("python_bytes_out", 1),
}


def _plan_accumulators(node: dict, out: dict[int, str]) -> None:
    """Accumulator id -> plan node name, for the Python SQL metrics."""
    for m in node.get("metrics", []):
        if m["name"] in _ACCUMS:
            out[m["accumulatorId"]] = node["nodeName"]
    for c in node.get("children", []):
        _plan_accumulators(c, out)


def _union_s(intervals: list[tuple[float, float]]) -> float:
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


def summarise(events: list[dict]) -> dict[str, SpanStats]:
    """Span id (job group) -> Spark work done under it."""
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    stage_job: dict[int, int] = {}
    intervals: dict[str, list[tuple[float, float]]] = {}
    acc_node: dict[int, str] = {}
    out: dict[str, SpanStats] = {}
    for e in events:
        ev = e["Event"]
        if "sparkPlanInfo" in e:  # SQL execution start and AQE re-plans
            _plan_accumulators(e["sparkPlanInfo"], acc_node)
        elif ev == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get(_GROUP)
            if group is None:
                continue
            jid = e["Job ID"]
            job_group[jid] = group
            job_start[jid] = e["Submission Time"] / 1000.0
            for sid in e["Stage IDs"]:
                stage_job.setdefault(sid, jid)
            out.setdefault(group, SpanStats()).jobs += 1
        elif ev == "SparkListenerJobEnd" and e["Job ID"] in job_group:
            jid = e["Job ID"]
            intervals.setdefault(job_group[jid], []).append(
                (job_start[jid], e["Completion Time"] / 1000.0))
        elif ev == "SparkListenerStageCompleted":
            sid = e["Stage Info"]["Stage ID"]
            if sid in stage_job:
                out[job_group[stage_job[sid]]].stages += 1
        elif ev == "SparkListenerTaskEnd":
            sid = e["Stage ID"]
            if sid not in stage_job:
                continue
            st = out[job_group[stage_job[sid]]]
            st.tasks += 1
            m = e.get("Task Metrics") or {}
            st.run_s += m.get("Executor Run Time", 0) / 1e3
            st.cpu_s += m.get("Executor CPU Time", 0) / 1e9
            st.gc_s += m.get("JVM GC Time", 0) / 1e3
            st.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            for a in e["Task Info"].get("Accumulables", []):
                hit = _ACCUMS.get(a.get("Name"))
                if hit and a.get("Update") is not None:
                    key, scale = hit
                    node = st.python.setdefault(acc_node.get(a["ID"], "?"), {})
                    node[key] = node.get(key, 0.0) + float(a["Update"]) * scale
    for group, st in out.items():
        st.job_busy_s = _union_s(intervals.get(group, []))
    return out
