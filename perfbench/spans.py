"""Spans around the calls into each engine layer, and Spark stage metrics
attributed to them.

A span records its name, start, end, parent and pass id, and is kept in
memory until the run ends.  While a span is open its own id is the Spark job
group (the ``spark.jobGroup.id`` local property), so every job it starts is
tagged with it; Spark's event log then says which stages and tasks each span
paid for.  Per-span metrics:

- ``wall_s``: span duration; ``self_s``: duration minus the part covered
  by child spans;
- ``driver_s``: duration covered by none of the jobs of the span or its
  descendants (planning, Python, result handling);
- ``executor_cpu_s``, ``gc_s``, ``shuffle_write_bytes``, ``spill_bytes``:
  task metrics summed over the span's jobs, descendants included;
- ``task_wait_s``: summed over those tasks, launch time minus the time their
  stage was submitted (time a task queued for a free core).

Per-layer values are the sum over a run's spans of one name divided by the
number of timed passes, i.e. the cost per pass.
"""

from __future__ import annotations

import contextlib
import json
import time
from dataclasses import asdict, dataclass, field

JOB_GROUP_KEY = "spark.jobGroup.id"
GROUP_PREFIX = "pb-"
_TASK_METRICS = ("executor_cpu_s", "gc_s", "shuffle_write_bytes", "spill_bytes", "task_wait_s")


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    pass_id: int | None
    start: float  # epoch seconds, to line up with event-log timestamps
    end: float | None = None

    @property
    def duration(self) -> float:
        return self.end - self.start


def group_id(span_id: int) -> str:
    return f"{GROUP_PREFIX}{span_id}"


class Tracer:
    """Records spans; with a SparkContext, tags each span's jobs."""

    enabled = True

    def __init__(self, sc=None):
        self.spans: list[Span] = []
        self.pass_id: int | None = None
        self._stack: list[int] = []
        self._sc = sc

    @contextlib.contextmanager
    def span(self, name: str):
        sp = Span(len(self.spans), name, self._stack[-1] if self._stack else None,
                  self.pass_id, time.time())
        self.spans.append(sp)
        self._stack.append(sp.id)
        prev = None
        if self._sc is not None:
            prev = self._sc.getLocalProperty(JOB_GROUP_KEY)
            self._sc.setLocalProperty(JOB_GROUP_KEY, group_id(sp.id))
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            if self._sc is not None:
                self._sc.setLocalProperty(JOB_GROUP_KEY, prev)

    def wrap(self, name: str, fn):
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return traced

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for sp in self.spans:
                fh.write(json.dumps(asdict(sp)) + "\n")


class NullTracer:
    """Tracing off: spans cost one no-op context manager."""

    enabled = False
    pass_id = None
    spans = ()

    def span(self, name: str):
        return contextlib.nullcontext()

    def wrap(self, name: str, fn):
        return fn


# -- interval arithmetic -------------------------------------------------------

def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def _children(spans) -> dict[int, list[Span]]:
    kids: dict[int, list[Span]] = {}
    for sp in spans:
        if sp.parent is not None:
            kids.setdefault(sp.parent, []).append(sp)
    return kids


def self_times(spans) -> dict[int, float]:
    """Span id → duration minus the time its direct children cover."""
    kids = _children(spans)
    return {
        sp.id: sp.duration - union_length(
            [(c.start, c.end) for c in kids.get(sp.id, [])], sp.start, sp.end
        )
        for sp in spans
    }


def _subtree(spans) -> dict[int, list[int]]:
    kids = _children(spans)
    out: dict[int, list[int]] = {}

    def walk(sid: int) -> list[int]:
        if sid not in out:
            ids = [sid]
            for c in kids.get(sid, []):
                ids += walk(c.id)
            out[sid] = ids
        return out[sid]

    for sp in spans:
        walk(sp.id)
    return out


# -- Spark event log -----------------------------------------------------------

def parse_event_log(lines) -> tuple[list[dict], dict[str, dict[str, float]]]:
    """Read Spark event-log JSON lines into ``(jobs, by_group)``.

    ``jobs``: one ``{"group", "start", "end"}`` per finished job, times in
    epoch seconds.  ``by_group``: job group → summed task metrics (see the
    module docstring) over the stages that group submitted."""
    jobs: dict[int, dict] = {}
    stage_group: dict[tuple[int, int], str | None] = {}
    stage_submit: dict[tuple[int, int], float] = {}
    by_group: dict[str, dict[str, float]] = {}
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jobs[ev["Job ID"]] = {
                "group": (ev.get("Properties") or {}).get(JOB_GROUP_KEY),
                "start": ev["Submission Time"] / 1000.0,
                "end": None,
            }
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            key = (info["Stage ID"], info["Stage Attempt ID"])
            stage_group[key] = (ev.get("Properties") or {}).get(JOB_GROUP_KEY)
            stage_submit[key] = info.get("Submission Time", 0) / 1000.0
        elif kind == "SparkListenerTaskEnd":
            key = (ev["Stage ID"], ev["Stage Attempt ID"])
            group = stage_group.get(key)
            tm = ev.get("Task Metrics")
            if group is None or not tm:
                continue
            g = by_group.setdefault(group, dict.fromkeys(_TASK_METRICS, 0.0))
            g["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            g["gc_s"] += tm.get("JVM GC Time", 0) / 1000.0
            g["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            g["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
            launch = ev["Task Info"]["Launch Time"] / 1000.0
            g["task_wait_s"] += max(0.0, launch - stage_submit.get(key, launch))
    done = [j for j in jobs.values() if j["end"] is not None]
    return done, by_group


def span_metrics(spans, jobs, by_group) -> dict[int, dict[str, float]]:
    """Span id → the per-span metrics of the module docstring; jobs and
    task metrics of descendant spans count in their ancestors too."""
    selfs = self_times(spans)
    sub = _subtree(spans)
    jobs_by_group: dict[str, list[tuple[float, float]]] = {}
    for j in jobs:
        if j["group"] is not None:
            jobs_by_group.setdefault(j["group"], []).append((j["start"], j["end"]))
    out = {}
    for sp in spans:
        groups = [group_id(i) for i in sub[sp.id]]
        intervals = [iv for g in groups for iv in jobs_by_group.get(g, [])]
        m = {
            "wall_s": sp.duration,
            "self_s": selfs[sp.id],
            "driver_s": sp.duration - union_length(intervals, sp.start, sp.end),
        }
        for k in _TASK_METRICS:
            m[k] = sum(by_group.get(g, {}).get(k, 0.0) for g in groups)
        out[sp.id] = m
    return out


def layer_metrics(spans, jobs, by_group, n_passes: int) -> dict[str, float]:
    """``<span name>.<suffix>`` → per-pass cost, summed over every span of
    that name that ran inside a timed pass."""
    per_span = span_metrics(spans, jobs, by_group)
    out: dict[str, float] = {}
    for sp in spans:
        if sp.pass_id is None:
            continue
        for k, v in per_span[sp.id].items():
            key = f"{sp.name}.{k}"
            out[key] = out.get(key, 0.0) + v / n_passes
    return out
