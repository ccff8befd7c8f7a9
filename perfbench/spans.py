"""Spans recorded from outside the library, around calls into each layer.

A traced iteration installs wrappers on the public functions of the
library's modules (``Tracer.install``). Each wrapper opens a span, calls
the function, materializes the DataFrames it returns (persist + count, so
the layer's lazy work runs inside its own span) and closes the span. Every
span records name, layer, start, end, parent and the run id; Spark jobs
submitted inside a span carry the span's job group, so job and failed-task
counts are read back from the StatusTracker after the run. Counters that
need an extra Spark action (candidate pairs, passed pairs, edges, …) run
after the span closes, in a ``trace`` span of their own, so they are
charged to tracing rather than to the layer.

Wall and CPU are attributed on the timeline: between two consecutive span
boundaries, the elapsed wall and the container CPU consumed are split
evenly among the innermost spans open at that moment. Layer self times
therefore sum exactly to the traced iteration's wall, also when lanes run
concurrently on driver threads.

Spans stay in memory and are summarized once, when the iteration ends.
"""

from __future__ import annotations

import functools
import sys
import threading
import time
import uuid
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass

from harness import container_cpu_s

_JOB_GROUP = "spark.jobGroup.id"


@dataclass
class Span:
    name: str
    layer: str
    parent: int | None
    start: float = 0.0
    end: float = 0.0
    cpu0: float = 0.0
    cpu1: float = 0.0


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[Span] = []
        self.counters: dict[str, float] = defaultdict(float)
        self.gates: list[dict] = []
        self._stacks: dict[int, list[int]] = {}
        self._main = threading.get_ident()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []
        self._cached: list = []

    # -- spans ----------------------------------------------------------------
    def _stack(self) -> list[int]:
        with self._lock:
            return self._stacks.setdefault(threading.get_ident(), [])

    def current(self) -> Span | None:
        stack = self._stack() or self._stacks.get(self._main, [])
        return self.spans[stack[-1]] if stack else None

    @contextmanager
    def span(self, layer: str, name: str):
        """Open a span on the calling thread. A span opened on a thread with
        no open span (a lane thread of the library's pool) takes the main
        thread's innermost span as its parent."""
        stack = self._stack()
        parent_stack = stack or self._stacks.get(self._main, [])
        with self._lock:
            idx = len(self.spans)
            self.spans.append(
                Span(name, layer, parent_stack[-1] if parent_stack else None)
            )
        s = self.spans[idx]
        prev_group = self.sc.getLocalProperty(_JOB_GROUP)
        self.sc.setLocalProperty(_JOB_GROUP, f"{self.run_id}:{idx}")
        stack.append(idx)
        s.cpu0, s.start = container_cpu_s(), time.perf_counter()
        try:
            yield s
        finally:
            s.end, s.cpu1 = time.perf_counter(), container_cpu_s()
            stack.pop()
            self.sc.setLocalProperty(_JOB_GROUP, prev_group)

    # -- wrappers -------------------------------------------------------------
    def materialize(self, out):
        from pyspark.sql import DataFrame

        if isinstance(out, DataFrame):
            out = out.persist()
            out.count()
            self._cached.append(out)
            return out
        if isinstance(out, tuple):
            return tuple(self.materialize(v) for v in out)
        if isinstance(out, dict):
            return {k: self.materialize(v) for k, v in out.items()}
        return out

    def wrap(self, layer: str, fn, after=None):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(layer, fn.__qualname__):
                out = tracer.materialize(fn(*args, **kwargs))
            if after is not None:
                caller = tracer.current()
                with tracer.span("trace", f"count {fn.__qualname__}"):
                    after(tracer, caller, args, kwargs, out)
            return out

        return traced

    def install(self, patches) -> None:
        """``patches``: (layer, owner, attribute, after-callback or None).
        A class attribute is replaced in place; a module function is
        replaced in every loaded library module that bound it by name."""
        for layer, owner, attr, after in patches:
            original = getattr(owner, attr)
            wrapper = self.wrap(layer, original, after)
            if isinstance(owner, type):
                targets = [owner]
            else:
                targets = [
                    m
                    for name, m in list(sys.modules.items())
                    if name.startswith("datasketches_cpp_spark") and m is not None
                    and getattr(m, attr, None) is original
                ]
            for t in targets:
                setattr(t, attr, wrapper)
                self._patched.append((t, attr, original))

    def uninstall(self) -> None:
        for target, attr, original in reversed(self._patched):
            setattr(target, attr, original)
        self._patched.clear()
        for df in self._cached:
            df.unpersist()
        self._cached.clear()

    def add(self, key: str, value: float) -> None:
        """Counter update; lanes call it from concurrent driver threads."""
        with self._lock:
            self.counters[key] += value

    def gate(self, name: str, statistic: float, threshold: float, side: str) -> None:
        with self._lock:
            self.gates.append(
                {"gate": name, "statistic": statistic, "threshold": threshold, "side": side}
            )

    # -- summary --------------------------------------------------------------
    def _self_times(self) -> tuple[dict, dict]:
        """Per-layer (wall, cpu) self time by timeline attribution."""
        spans = self.spans
        children: dict[int, list[int]] = defaultdict(list)
        for i, s in enumerate(spans):
            if s.parent is not None:
                children[s.parent].append(i)
        cpu_at: dict[float, float] = {}
        for s in spans:
            cpu_at[s.start], cpu_at[s.end] = s.cpu0, s.cpu1
        points = sorted(cpu_at)
        wall: dict[str, float] = defaultdict(float)
        cpu: dict[str, float] = defaultdict(float)
        for t0, t1 in zip(points, points[1:]):
            active = {i for i, s in enumerate(spans) if s.start <= t0 and s.end >= t1}
            inner = [i for i in active if not any(c in active for c in children[i])]
            if not inner:
                continue
            dt, dc = t1 - t0, max(0.0, cpu_at[t1] - cpu_at[t0])
            for i in inner:
                wall[spans[i].layer] += dt / len(inner)
                cpu[spans[i].layer] += dc / len(inner)
        return wall, cpu

    def _jobs(self) -> tuple[dict, dict]:
        """Per-layer Spark job count and failed-task count, by job group."""
        tracker = self.sc.statusTracker()
        jobs: dict[str, int] = defaultdict(int)
        failed: dict[str, int] = defaultdict(int)
        seen_stages: set[int] = set()
        for i, s in enumerate(self.spans):
            for job_id in tracker.getJobIdsForGroup(f"{self.run_id}:{i}"):
                jobs[s.layer] += 1
                info = tracker.getJobInfo(job_id)
                for stage_id in info.stageIds if info else ():
                    stage = tracker.getStageInfo(stage_id)
                    if stage is not None and stage_id not in seen_stages:
                        seen_stages.add(stage_id)
                        failed[s.layer] += stage.numFailedTasks
        return jobs, failed

    def layer_metrics(self, layers, families, cores: int) -> dict[str, float]:
        """Five metrics per layer, wall and CPU per ``functions`` family
        (spans named ``functions.<family>``), and the time spent in the
        root span's own code and in trace counters."""
        wall, cpu = self._self_times()
        jobs, failed = self._jobs()
        out: dict[str, float] = {}
        for layer in layers:
            out[f"{layer}.wall_s"] = wall[layer]
            out[f"{layer}.cpu_s"] = cpu[layer]
            out[f"{layer}.idle_core_s"] = wall[layer] * cores - cpu[layer]
            out[f"{layer}.jobs"] = jobs[layer]
            out[f"{layer}.failed_tasks"] = failed[layer]
        for fam in families:
            out[f"functions.{fam}.wall_s"] = wall[f"functions.{fam}"]
            out[f"functions.{fam}.cpu_s"] = cpu[f"functions.{fam}"]
        out["functions.jobs"] = sum(jobs[f"functions.{fam}"] for fam in families)
        out["trace.unattributed_s"] = wall["root"]
        out["trace.count_s"] = wall["trace"]
        return out

    def span_rows(self) -> list[dict]:
        t0 = min((s.start for s in self.spans), default=0.0)
        return [
            {
                "run_id": self.run_id,
                "id": i,
                "name": s.name,
                "layer": s.layer,
                "parent": s.parent,
                "start_s": round(s.start - t0, 6),
                "end_s": round(s.end - t0, 6),
            }
            for i, s in enumerate(self.spans)
        ]
