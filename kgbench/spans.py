"""Spans, job-group tags and event-log attribution for the traced run.

The tracer wraps the names a caller looks up at call time (for example
``plans.pipeline.validate``), so the package itself is not edited.  Each
wrapped call records a span (name, start, end, parent, job) and, when it
belongs to a layer, sets the Spark job group ``<job>|<layer>``.

Spark is lazy: ``extract_raw_triples_from_html`` returns a plan and the
pipeline's own ``.write`` runs it after the call returned.  So a wrapper
for a function that returns a plan leaves its tag in place ("sticky") and
the jobs that follow are attributed to that layer until the next layer's
call is entered.  A wrapper for eager driver work (shape compilation)
restores the previous tag on exit.

Executor CPU, shuffle, GC, job, stage and task counts per tag are read back
from Spark's local event log after the session stopped.

The tracer's own cost is timed directly: ``own_s`` sums, per job, the time
spent in span bookkeeping and in the ``setJobGroup`` calls into the JVM.
"""

from __future__ import annotations

import functools
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float | None
    parent: int | None
    job: str | None
    layer: str | None


class Tracer:
    """Records spans and sets job-group tags while ``job`` is not None."""

    def __init__(self, spark_context_getter):
        self._sc = spark_context_getter
        self.spans: list[Span] = []
        self.calls: dict[str, tuple] = {}  # last (args, kwargs, result) per wrapped name
        self.job: str | None = None
        self.own_s: dict[str, float] = defaultdict(float)  # tracer's own time per job
        self._stack: list[int] = []
        self._tag: str | None = None

    # -- tags ---------------------------------------------------------------

    def set_group(self, group: str) -> None:
        self._sc().setJobGroup(group, group)

    def tag(self, layer: str | None) -> None:
        self._tag = layer
        if self.job is not None and layer is not None:
            self.set_group(f"{self.job}|{layer}")

    @contextmanager
    def traced_job(self, job: str):
        self.job, self._tag = job, None
        try:
            with self.span("job", "job"):
                yield
        finally:
            t = time.perf_counter()
            self.set_group("bench|outside-job")
            self.own_s[job] += time.perf_counter() - t
            self.job = None

    # -- spans --------------------------------------------------------------

    @contextmanager
    def span(self, name: str, layer: str | None = None, sticky: bool = True):
        if self.job is None:
            yield
            return
        job, t = self.job, time.perf_counter()
        prev_tag = self._tag
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, t, None, parent, job, layer))
        self._stack.append(idx)
        if layer is not None:
            self.tag(layer)
        self.own_s[job] += time.perf_counter() - t
        try:
            yield
        finally:
            t = time.perf_counter()
            self.spans[idx].end = t
            self._stack.pop()
            if not sticky:
                self.tag(prev_tag)
            self.own_s[job] += time.perf_counter() - t

    def wrap(self, module, attr: str, layer: str, sticky: bool = True) -> None:
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if self.job is None:
                return orig(*args, **kwargs)
            with self.span(f"{module.__name__}.{attr}", layer, sticky):
                out = orig(*args, **kwargs)
            self.calls[attr] = (args, kwargs, out)
            return out

        setattr(module, attr, wrapper)

    # -- summaries ----------------------------------------------------------

    def self_times(self) -> list[float]:
        """Span duration minus the part of it covered by child spans."""
        child: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent].append((s.start, s.end))
        out = []
        for i, s in enumerate(self.spans):
            covered, last = 0.0, s.start
            for a, b in sorted(child.get(i, [])):
                a = max(a, last)
                if b > a:
                    covered += b - a
                    last = b
            out.append(s.end - s.start - covered)
        return out

    def layer_seconds(self, job: str, layer: str) -> float:
        """Summed time of the spans of one job and layer."""
        return sum(s.end - s.start for s in self.spans if s.job == job and s.layer == layer)

    def span_seconds(self, job: str, name: str) -> float:
        return sum(s.end - s.start for s in self.spans if s.job == job and s.name == name)

    def write(self, path: str) -> None:
        times = self.self_times()
        t0 = self.spans[0].start if self.spans else 0.0
        with open(path, "w", encoding="utf-8") as f:
            for s, st in zip(self.spans, times):
                row = asdict(s)
                row["start"] = round(s.start - t0, 6)
                row["end"] = round(s.end - t0, 6)
                row["self_s"] = round(st, 6)
                f.write(json.dumps(row) + "\n")


# -- event log ------------------------------------------------------------------

_ACC = {
    "internal.metrics.executorCpuTime": ("executor_cpu_s", 1e-9),
    "internal.metrics.jvmGCTime": ("gc_s", 1e-3),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_bytes", 1),
    "internal.metrics.output.recordsWritten": ("records_written", 1),
}


def event_log_totals(log_dir: str) -> dict[str, dict[str, float]]:
    """Per job-group totals: jobs, stages, tasks, executor_cpu_s, gc_s,
    shuffle_bytes, records_written.  Stages are attributed by the group of
    the job that submitted them; skipped stages are not counted."""
    totals: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for app in sorted(os.listdir(log_dir)):
        stage_group: dict[int, str | None] = {}
        with open(os.path.join(log_dir, app), encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    totals[group]["jobs"] += 1
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    stage_group[info["Stage ID"]] = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    t = totals[stage_group.get(info["Stage ID"])]
                    t["stages"] += 1
                    t["tasks"] += info.get("Number of Tasks", 0)
                    for acc in info.get("Accumulables", []):
                        key = _ACC.get(acc.get("Name"))
                        if key is not None:
                            t[key[0]] += float(acc.get("Value") or 0) * key[1]
    return {g: dict(v) for g, v in totals.items()}
