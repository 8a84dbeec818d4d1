"""Traced run: spans recorded by the benchmark's own wrappers, Spark work
attributed to them through Spark's event log.

Each wrapper opens a span around one public eager call of the program and
sets the ``graft.span`` local property to the span's id, so every job the
call submits carries the id in its ``SparkListenerJobStart`` properties. A
job without the property (the streaming engine's own jobs) goes to the
innermost span open at its submission time. Spans live in memory until the
run ends; the event log is parsed after the session stops.

Counters per span name (summed over its instances):
``calls``, ``busy_s`` (wall, inclusive of nested spans), ``self_s`` (wall
minus nested spans), ``idle_s`` (wall with no Spark task running: driver
planning, listing and commit), and, from the jobs attributed to the span
itself (not its nested spans), ``jobs``, ``tasks``, ``executor_cpu_s``,
``gc_s``, ``shuffle_write_mb``, ``input_mb``, ``output_mb``,
``failed_tasks``.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import time
from dataclasses import dataclass, field

SPAN_PROPERTY = "graft.span"
SPANS = ("session", "landing", "structured", "curated", "domains",
         "merge_write", "catalog_read", "materialize", "corpus",
         "stream_batch")
# Spans that are pipeline stages: their union over the timed steps is the
# attributed share of step wall time.
STAGE_SPANS = ("landing", "structured", "curated", "domains",
               "merge_write", "corpus")
JOB_COUNTERS = ("jobs", "tasks", "executor_cpu_s", "gc_s",
                "shuffle_write_mb", "input_mb", "output_mb", "failed_tasks")
SPAN_COUNTERS = ("calls", "busy_s", "self_s", "idle_s") + JOB_COUNTERS
# ``session`` runs no Spark job: only its call count and wall time mean
# anything, which keeps the metric list under the 128-name limit.
SESSION_COUNTERS = ("calls", "busy_s")


# Counts read from the outputs (and the oracle the gate checked them with).
COUNT_NAMES = ("cdc.events_in", "cdc.keys_touched", "cdc.rows_deleted",
               "cdc.chain_rejected", "cdc.chain_accept_ratio",
               "io.files_written", "io.partitions_touched", "domains.rows_out",
               "corpus.near_pairs", "corpus.kept_ratio")
TRACE_NAMES = ("trace.overhead_ratio", "trace.unattributed_share")


def metric_names() -> list[str]:
    """Every per-layer metric the traced run reports, in order."""
    names = []
    for span in SPANS:
        counters = SESSION_COUNTERS if span == "session" else SPAN_COUNTERS
        names += [f"{span}.{c}" for c in counters]
    return names + list(COUNT_NAMES) + list(TRACE_NAMES)


def unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("_ratio", "_share")):
        return "ratio"
    return "count"


@dataclass
class Span:
    sid: int
    name: str
    start: float   # epoch seconds
    end: float = 0.0
    parent: int | None = None


@dataclass
class Tracer:
    """In-memory span recorder. ``active`` gates recording, so the wrappers
    can stay installed while set-up runs untraced."""

    sc: object = None
    active: bool = False
    spans: list = field(default_factory=list)
    stack: list = field(default_factory=list)

    def _set_property(self, value) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty(SPAN_PROPERTY, value)

    def open(self, name: str) -> Span:
        parent = self.stack[-1].sid if self.stack else None
        span = Span(len(self.spans), name, time.time(), parent=parent)
        self.spans.append(span)
        self.stack.append(span)
        self._set_property(str(span.sid))
        return span

    def close(self, span: Span) -> None:
        span.end = time.time()
        self.stack.remove(span)
        self._set_property(str(self.stack[-1].sid) if self.stack else None)

    def add(self, name: str, start: float, end: float) -> None:
        """Record a span after the fact (a micro-batch, whose start the
        benchmark only learns from the previous batch's end). Top-level
        spans inside the interval become its children."""
        span = Span(len(self.spans), name, start, end)
        for s in self.spans:
            if s.parent is None and start <= s.start and s.end <= end:
                s.parent = span.sid
        self.spans.append(span)

    def call(self, name: str, fn, *args, **kwargs):
        if not self.active:
            return fn(*args, **kwargs)
        span = self.open(name)
        try:
            return fn(*args, **kwargs)
        finally:
            self.close(span)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            return self.call(name, fn, *args, **kwargs)

        setattr(owner, attr, traced)


def install(tracer: Tracer) -> None:
    """Wrap the public eager calls named in ``SPANS`` (``session``,
    ``corpus`` and ``stream_batch`` are recorded by the workloads)."""
    from hmpps_digital_prison_reporting_glue_poc_spark import catalog
    from hmpps_digital_prison_reporting_glue_poc_spark.operators import pipeline_e2e
    from hmpps_digital_prison_reporting_glue_poc_spark.plans import pipeline
    from hmpps_digital_prison_reporting_glue_poc_spark.sources import io

    for attr, name in (("run_landing", "landing"),
                       ("run_structured", "structured"),
                       ("run_curated", "curated"),
                       ("run_domains", "domains")):
        tracer.wrap(pipeline, attr, name)
    # run_pipeline_streaming imports merge_write from sources.io per call
    tracer.wrap(io, "merge_write", "merge_write")
    tracer.wrap(catalog.Catalog, "read", "catalog_read")
    tracer.wrap(pipeline_e2e, "materialize", "materialize")


# ------------------------------------------------------------ event log

def _union_length(intervals: list[tuple[float, float]]) -> float:
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


def _clip(intervals, start, end):
    return [(max(s, start), min(e, end)) for s, e in intervals
            if e > start and s < end]


def read_event_log(log_dir: str) -> list[dict]:
    events = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if os.path.isfile(path):
            with open(path) as fh:
                events += [json.loads(line) for line in fh if line.strip()]
    return events


def _plan_metric_names(info: dict, out: dict) -> None:
    for m in info.get("metrics", ()):
        out[m["accumulatorId"]] = m["name"]
    for child in info.get("children", ()):
        _plan_metric_names(child, out)


def attribute(spans: list[Span], events: list[dict],
              window: tuple[float, float]) -> dict:
    """Per-span-name counters plus SQL write totals inside ``window``."""
    closed = [s for s in spans if s.end > 0]
    by_id = {s.sid: s for s in closed}

    def innermost(t: float):
        best = None
        for s in closed:
            if s.start <= t <= s.end and (
                best is None or s.end - s.start < best.end - best.start
            ):
                best = s
        return best

    stage_span: dict[int, Span] = {}
    job_count: dict[int, int] = {}
    tasks: list[tuple[float, float]] = []
    per_sid: dict[int, dict] = {}
    accum_names: dict[int, str] = {}
    exec_start: dict[int, float] = {}
    accum_values: list[tuple[int, int, int]] = []
    for ev in events:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            t = ev["Submission Time"] / 1000
            props = ev.get("Properties") or {}
            sid = props.get(SPAN_PROPERTY)
            span = by_id.get(int(sid)) if sid is not None else None
            if span is None:
                span = innermost(t)
            if span is None:
                continue
            job_count[span.sid] = job_count.get(span.sid, 0) + 1
            for stage in ev.get("Stage IDs", ()):
                stage_span.setdefault(stage, span)
        elif kind == "SparkListenerTaskEnd":
            info = ev["Task Info"]
            tasks.append((info["Launch Time"] / 1000, info["Finish Time"] / 1000))
            span = stage_span.get(ev["Stage ID"])
            if span is None:
                continue
            c = per_sid.setdefault(span.sid, dict.fromkeys(JOB_COUNTERS, 0.0))
            m = ev.get("Task Metrics") or {}
            c["tasks"] += 1
            c["failed_tasks"] += 1 if info.get("Failed") else 0
            c["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            c["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            c["shuffle_write_mb"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0) / 1e6
            c["input_mb"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0) / 1e6
            c["output_mb"] += (m.get("Output Metrics") or {}).get(
                "Bytes Written", 0) / 1e6
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            exec_start[ev["executionId"]] = ev.get("time", 0) / 1000
            _plan_metric_names(ev.get("sparkPlanInfo") or {}, accum_names)
        elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            _plan_metric_names(ev.get("sparkPlanInfo") or {}, accum_names)
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            for acc, value in ev.get("accumUpdates", ()):
                accum_values.append((ev["executionId"], acc, value))

    out: dict[str, float] = {}
    for name in SPANS:
        insts = [s for s in closed if s.name == name]
        counters = dict.fromkeys(SPAN_COUNTERS, 0.0)
        for s in insts:
            wall = s.end - s.start
            children = [c for c in closed if c.parent == s.sid]
            counters["calls"] += 1
            counters["busy_s"] += wall
            counters["self_s"] += wall - _union_length(
                [(c.start, c.end) for c in children])
            counters["idle_s"] += wall - _union_length(
                _clip(tasks, s.start, s.end))
            counters["jobs"] += job_count.get(s.sid, 0)
            for k, v in per_sid.get(s.sid, {}).items():
                counters[k] += v
        keep = SESSION_COUNTERS if name == "session" else SPAN_COUNTERS
        for k in keep:
            out[f"{name}.{k}"] = counters[k]

    lo, hi = window
    files = parts = 0
    for exe, acc, value in accum_values:
        if not lo <= exec_start.get(exe, -1) <= hi:
            continue
        name = accum_names.get(acc)
        if name == "number of written files":
            files += value
        elif name == "number of dynamic part":
            parts += value
    out["io.files_written"] = files
    out["io.partitions_touched"] = parts
    return out


def unattributed_share(spans: list[Span], steps: list[tuple[float, float]]) -> float:
    """Share of timed step wall time covered by no pipeline-stage span."""
    wall = sum(e - s for s, e in steps)
    stages = [(s.start, s.end) for s in spans
              if s.name in STAGE_SPANS and s.end > 0]
    covered = sum(_union_length(_clip(stages, s, e)) for s, e in steps)
    return (wall - covered) / wall if wall > 0 else 0.0
