"""Spans around the benchmark's calls into each layer, and Spark's own
counters per span read back from the event log.

A span has a name, start, end, parent and run id; spans are kept in
memory and written out when the run ends. Entering a span sets the Spark
job description to ``perfbench:<span id>:<name>``, so every job, stage
and SQL execution the span triggers is attributed to it exactly. py4j
round trips are counted by wrapping the gateway client's
``send_command`` for the life of the tracer; the tracer's own calls
(job descriptions, materializations, observations) are not counted.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from collections import defaultdict
from dataclasses import dataclass, field

from py4j.java_gateway import GatewayClient
from pyspark.sql import Observation

DESC_PREFIX = "perfbench:"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run: str
    start: float
    end: float = 0.0
    py4j_calls: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Py4jCounter:
    """Counts gateway round trips while installed; ``paused`` hides the
    tracer's own calls."""

    def __init__(self):
        self.calls = 0
        self.paused = 0
        self._orig = None

    def install(self) -> None:
        orig = GatewayClient.send_command
        counter = self

        def send_command(client, *args, **kwargs):
            if not counter.paused:
                counter.calls += 1
            return orig(client, *args, **kwargs)

        self._orig = orig
        GatewayClient.send_command = send_command

    def uninstall(self) -> None:
        if self._orig is not None:
            GatewayClient.send_command = self._orig
            self._orig = None


class Tracer:
    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.run_id = run_id
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.py4j = Py4jCounter()
        self.py4j.install()

    def close(self) -> None:
        self.py4j.uninstall()

    @contextlib.contextmanager
    def quiet(self):
        """Tracer-side work: not counted as the program's py4j calls."""
        self.py4j.paused += 1
        try:
            yield
        finally:
            self.py4j.paused -= 1

    def _describe(self, span: Span | None) -> None:
        desc = f"{DESC_PREFIX}{span.id}:{span.name}" if span else None
        with self.quiet():
            self.spark.sparkContext.setJobDescription(desc)

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        parent = self.stack[-1] if self.stack else None
        s = Span(len(self.spans), name, parent.id if parent else None, self.run_id,
                 time.time(), attrs=attrs)
        self.spans.append(s)
        self.stack.append(s)
        self._describe(s)
        calls0 = self.py4j.calls
        try:
            yield s
        finally:
            s.end = time.time()
            s.py4j_calls = self.py4j.calls - calls0
            self.stack.pop()
            self._describe(parent)

    def materialize(self, df, *observed, path: str | None = None):
        """Execute ``df`` inside the current span: written to ``path`` as
        parquet when given (a committed result), else cached and run to a
        noop sink so the next layer reads this layer's result instead of
        recomputing it. ``observed`` are (name, Column) aggregates
        computed in the same pass; returns (frame, their values)."""
        with self.quiet():
            out = df if path else df.persist()
            target, obs = out, None
            if observed:
                obs = Observation(f"obs{len(self.spans)}")
                target = out.observe(obs, *[c.alias(n) for n, c in observed])
            if not path:
                target.write.format("noop").mode("overwrite").save()
        if path:
            target.write.mode("overwrite").parquet(path)
        with self.quiet():
            return out, (obs.get if obs else {})

    def self_time(self, span: Span) -> float:
        """Span duration minus the part of it its children cover."""
        kids = [c for c in self.spans if c.parent == span.id]
        return span.duration - sum(c.duration for c in kids)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__, default=str) + "\n")


@dataclass
class Counters:
    spark_jobs: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    gc_s: float = 0.0
    shuffle_bytes: int = 0  # written to shuffle
    spill_bytes: int = 0
    input_bytes: int = 0
    peak_exec_mem_mb: float = 0.0
    job_intervals: list = field(default_factory=list)
    # (node name, metric name) -> summed task updates of SQL metrics
    sql: dict = field(default_factory=lambda: defaultdict(int))

    def add(self, o: "Counters") -> None:
        for k in ("spark_jobs", "tasks", "executor_run_s", "gc_s",
                  "shuffle_bytes", "spill_bytes", "input_bytes"):
            setattr(self, k, getattr(self, k) + getattr(o, k))
        self.peak_exec_mem_mb = max(self.peak_exec_mem_mb, o.peak_exec_mem_mb)
        self.job_intervals += o.job_intervals
        for k, v in o.sql.items():
            self.sql[k] += v

    def job_time(self) -> float:
        """Seconds covered by at least one running Spark job."""
        total, cur_s, cur_e = 0.0, None, None
        for s, e in sorted(self.job_intervals):
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    total += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            total += cur_e - cur_s
        return total


def _span_id(props: dict | None) -> int | None:
    desc = (props or {}).get("spark.job.description") or ""
    if not desc.startswith(DESC_PREFIX):
        return None
    return int(desc[len(DESC_PREFIX):].split(":", 1)[0])


def _plan_metrics(plan: dict, out: dict) -> None:
    for m in plan.get("metrics", []):
        out[m["accumulatorId"]] = (plan["nodeName"], m["name"])
    for child in plan.get("children", []):
        _plan_metrics(child, out)


def _events(files: list[str]):
    for path in files:
        with open(path) as f:
            for line in f:
                yield json.loads(line)


def read_event_log(event_dir: str) -> dict[int, Counters]:
    """Per-span counters from the (uncompressed) event log of a stopped
    session."""
    # event log v2: one directory per application, events_<n>_<app id>
    files = sorted(
        glob.glob(os.path.join(event_dir, "*", "events_*")),
        key=lambda f: int(os.path.basename(f).split("_")[1]),
    )
    if not files:
        raise RuntimeError(f"no event log under {event_dir}")
    per: dict[int, Counters] = defaultdict(Counters)
    stage_span: dict[int, int] = {}
    job_start: dict[int, tuple[int, float]] = {}
    accum_name: dict[int, tuple[str, str]] = {}
    for ev in _events(files):
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            sid = _span_id(ev.get("Properties"))
            if sid is not None:
                job_start[ev["Job ID"]] = (sid, ev["Submission Time"] / 1000)
                per[sid].spark_jobs += 1
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in job_start:
                sid, t0 = job_start.pop(ev["Job ID"])
                per[sid].job_intervals.append((t0, ev["Completion Time"] / 1000))
        elif kind == "SparkListenerStageSubmitted":
            sid = _span_id(ev.get("Properties"))
            if sid is not None:
                stage_span[ev["Stage Info"]["Stage ID"]] = sid
        elif kind == "SparkListenerTaskEnd":
            sid = stage_span.get(ev["Stage ID"])
            m = ev.get("Task Metrics")
            if sid is None or not m:
                continue
            c = per[sid]
            c.tasks += 1
            c.executor_run_s += m["Executor Run Time"] / 1000
            c.gc_s += m["JVM GC Time"] / 1000
            c.shuffle_bytes += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
            c.spill_bytes += m["Disk Bytes Spilled"]
            c.input_bytes += m["Input Metrics"]["Bytes Read"]
            c.peak_exec_mem_mb = max(
                c.peak_exec_mem_mb, m["Peak Execution Memory"] / 2**20
            )
            for acc in ev["Task Info"].get("Accumulables", []):
                key = accum_name.get(acc["ID"])
                if key is not None and "Update" in acc:
                    c.sql[key] += int(acc["Update"])
        elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
            "SparkListenerSQLAdaptiveExecutionUpdate"
        ):
            found: dict = {}
            _plan_metrics(ev["sparkPlanInfo"], found)
            accum_name.update(found)
    return per
