"""Spans around the benchmark's calls into the engine, and their
attribution to Spark jobs through the Spark event log.

A span is opened by the benchmark around one public call into the
package (or around a group of calls, as a parent). With tracing on,
each span sets a Spark job group named after its id, so every job the
call submits carries the span id in its ``spark.jobGroup.id`` property;
the Spark event log of the run then ties jobs, stages and task metrics
to spans. Spans are kept in memory and written out once, at the end of
the run.

Everything below :class:`Tracer` is pure: it takes parsed event-log
records and spans and returns numbers, so it is unit-tested without a
Spark session.
"""

from __future__ import annotations

import json
import re
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.\-]{0,63}$")

# metrics every layer reports, and the extra ones some layers add
LAYER_METRICS = ("wall_s", "jobs", "tasks", "driver_s", "executor_cpu_s", "shuffle_write_mb")
LAYER_EXTRAS = {
    "sources": ("failed_tasks",),
    "format": ("output_mb_per_input_mb",),
    "embed": ("output_mb_per_input_mb",),
    "operators.export_catalog": ("output_mb_per_input_mb",),
    "operators.similarity": ("records_read_per_result",),
    "operators.sq8": ("records_read_per_result",),
    "operators.sparse_index": ("records_read_per_result",),
    "operators.hybrid": ("records_read_per_result",),
    "operators.dedup": ("spill_mb",),
    "operators.semdedup": ("spill_mb",),
    "operators.graph": ("spill_mb",),
}
LAYERS = (
    "sources", "format", "embed", "operators.export_catalog",
    "operators.similarity", "operators.sq8", "operators.sparse_index",
    "operators.hybrid", "operators.dedup", "operators.semdedup",
    "operators.graph", "operators.sketches", "operators.bpe",
    "operators.decomposition", "operators.pq_exact", "operators.events",
    "operators.corpus", "queries",
)
# run-level numbers of the traced record that are not per layer
RUN_METRICS = (
    "session.wall_s", "trace.overhead_s", "trace.unattributed_jobs",
    "run.bytes_written_per_input_byte", "run.peak_rss_mb",
)

MB = 1_000_000.0


def check_name(name: str) -> str:
    """Validate a metric or span name: starts with a letter or digit, then
    at most 63 more letters, digits, ``_``, ``.`` or ``-``."""
    if not NAME_RE.match(name):
        raise ValueError(f"invalid metric name {name!r}")
    return name


def metric_unit(name: str) -> str:
    """Unit of a per-layer metric, from its name's last part."""
    m = name.rsplit(".", 1)[1]
    if "_per_" in m:
        return "ratio"
    if m.endswith("_s"):
        return "s"
    return "MB" if m.endswith("_mb") else "count"


def per_layer_metric_names() -> list[str]:
    names = list(RUN_METRICS)
    for layer in LAYERS:
        names += [f"{layer}.{m}" for m in LAYER_METRICS + LAYER_EXTRAS.get(layer, ())]
    return [check_name(n) for n in names]


@dataclass
class Span:
    id: str
    name: str
    layer: str | None
    parent: str | None
    run_id: str
    start: float
    end: float = 0.0
    results: int = 0  # rows the call returned, for pruning ratios
    jobs: list[int] = field(default_factory=list)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Opens spans; with ``enabled`` it also tags Spark jobs per span.

    ``set_group`` is called with the innermost open span's id (or None
    when the outermost span closes); the workload passes a function that
    sets the Spark job group. With tracing off the tracer still times
    each span, because per-call latency is an end-to-end metric, but it
    keeps no records and touches no Spark state."""

    def __init__(self, run_id: str, enabled: bool, set_group=None):
        self.run_id = run_id
        self.enabled = enabled
        self._set_group = set_group
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._seq = 0

    @contextmanager
    def span(self, name: str, layer: str | None = None):
        self._seq += 1
        parent = self._stack[-1].id if self._stack else None
        s = Span(f"{self.run_id}-{self._seq}", name, layer, parent, self.run_id, time.time())
        self._stack.append(s)
        if self.enabled:
            self._set_group(s.id)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if self.enabled:
                self._set_group(self._stack[-1].id if self._stack else None)
                self.spans.append(s)


# ---------------------------------------------------------------- pure logic

def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[Span]) -> dict[str, float]:
    """Each span's duration minus the part of it its child spans cover."""
    children: dict[str, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append((s.start, s.end))
    return {s.id: s.wall - union_length(children[s.id], s.start, s.end) for s in spans}


@dataclass
class Job:
    id: int
    group: str | None
    submit: float  # seconds since epoch
    end: float
    stages: list[int]


def parse_event_log(lines) -> tuple[dict[int, Job], dict[int, list[dict]]]:
    """Jobs by id, and finished task records by stage id, from the JSON
    lines of a Spark event log."""
    jobs: dict[int, Job] = {}
    tasks: dict[int, list[dict]] = defaultdict(list)
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jid = ev["Job ID"]
            jobs[jid] = Job(
                jid, props.get("spark.jobGroup.id"), ev["Submission Time"] / 1000.0,
                ev["Submission Time"] / 1000.0, list(ev.get("Stage IDs", [])),
            )
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
            jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            info, m = ev.get("Task Info") or {}, ev.get("Task Metrics") or {}
            tasks[ev["Stage ID"]].append({
                "failed": bool(info.get("Failed")),
                "cpu_ns": m.get("Executor CPU Time", 0),
                "shuffle_write": (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                "spill": m.get("Disk Bytes Spilled", 0),
                "records_read": (m.get("Input Metrics") or {}).get("Records Read", 0),
                "bytes_read": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
                "bytes_written": (m.get("Output Metrics") or {}).get("Bytes Written", 0),
            })
    return jobs, tasks


def attribute_jobs(spans: list[Span], jobs: dict[int, Job], windows) -> list[int]:
    """Attach each job to the span whose id is its job group. Returns the
    ids of jobs submitted inside one of the timed ``windows`` (a list of
    ``(start, end)``) that belong to no span of the run."""
    by_id = {s.id: s for s in spans}
    unattributed = []
    for job in sorted(jobs.values(), key=lambda j: j.id):
        span = by_id.get(job.group)
        if span is not None:
            span.jobs.append(job.id)
        elif any(a <= job.submit <= b for a, b in windows):
            unattributed.append(job.id)
    return unattributed


def layer_metrics(spans: list[Span], jobs: dict[int, Job], tasks: dict[int, list[dict]]) -> dict[str, float]:
    """Per-layer sums over the spans that name a layer (see LAYER_METRICS),
    plus ``run.output_mb``: bytes written by the jobs of all spans.
    A stage listed by several jobs counts once, for the first job."""
    owner: dict[int, int] = {}
    for jid in sorted(jobs):
        for st in jobs[jid].stages:
            owner.setdefault(st, jid)
    job_tasks: dict[int, list[dict]] = defaultdict(list)
    for st, recs in tasks.items():
        if st in owner:
            job_tasks[owner[st]].extend(recs)

    acc: dict[str, dict[str, float]] = {
        layer: defaultdict(float) for layer in LAYERS
    }
    written = 0.0
    for s in spans:
        recs = [t for j in s.jobs for t in job_tasks[j]]
        written += sum(t["bytes_written"] for t in recs)
        if s.layer not in acc:
            continue
        a = acc[s.layer]
        ivals = [(jobs[j].submit, jobs[j].end) for j in s.jobs]
        a["wall_s"] += s.wall
        a["jobs"] += len(s.jobs)
        a["tasks"] += len(recs)
        a["driver_s"] += s.wall - union_length(ivals, s.start, s.end)
        a["executor_cpu_s"] += sum(t["cpu_ns"] for t in recs) / 1e9
        a["shuffle_write_mb"] += sum(t["shuffle_write"] for t in recs) / MB
        a["failed_tasks"] += sum(t["failed"] for t in recs)
        a["spill_mb"] += sum(t["spill"] for t in recs) / MB
        a["records_read"] += sum(t["records_read"] for t in recs)
        a["bytes_read"] += sum(t["bytes_read"] for t in recs)
        a["bytes_written"] += sum(t["bytes_written"] for t in recs)
        a["results"] += s.results

    out: dict[str, float] = {"run.output_mb": written / MB}
    for layer, a in acc.items():
        for m in LAYER_METRICS:
            out[f"{layer}.{m}"] = a[m]
        for m in LAYER_EXTRAS.get(layer, ()):
            if m == "output_mb_per_input_mb":
                out[f"{layer}.{m}"] = a["bytes_written"] / a["bytes_read"] if a["bytes_read"] else 0.0
            elif m == "records_read_per_result":
                out[f"{layer}.{m}"] = a["records_read"] / a["results"] if a["results"] else 0.0
            else:
                out[f"{layer}.{m}"] = a[m]
    return out


def layer_self_times(spans: list[Span]) -> dict[str, float]:
    """Summed self time per layer; spans without a layer are grouped
    under their own name (the workload's unit spans)."""
    st = self_times(spans)
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        out[s.layer or s.name] += st[s.id]
    return dict(out)


def trace_record(spans: list[Span], unattributed: list[int], extra: dict) -> dict:
    return {
        "spans": [asdict(s) for s in spans],
        "self_time_s": layer_self_times(spans),
        "unattributed_jobs": unattributed,
        **extra,
    }
