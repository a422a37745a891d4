"""Spans recorded from outside the program, around each call into a
layer. Spans stay in memory until the run ends.

`instrument` wraps the package's layer entry points in place (module
attributes, so calls the package makes internally are seen too) and
tags Spark jobs with a job group per pass and layer, so stage metrics
split into build and execute. Used only by traced runs.
"""

from __future__ import annotations

import contextlib
import threading
import time
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None  # index into Tracer.spans


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self._local = threading.local()
        self.group = "setup"  # job-group prefix of the current pass

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str):
        stack = self._stack()
        idx = len(self.spans)
        self.spans.append(Span(name, time.perf_counter(), 0.0, stack[-1] if stack else None))
        stack.append(idx)
        try:
            yield idx
        finally:
            self.spans[idx].end = time.perf_counter()
            stack.pop()

    def self_times(self, root: int) -> dict[str, float]:
        """Self time per span name inside the tree under `root`: each
        span's duration minus the part its children cover (children
        run sequentially on one thread, so that is their sum)."""
        kids: dict[int, list[int]] = {}
        for i, s in enumerate(self.spans):
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(i)
        out: dict[str, float] = {}
        todo = [root]
        while todo:
            i = todo.pop()
            s = self.spans[i]
            child = sum(self.spans[c].end - self.spans[c].start for c in kids.get(i, ()))
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - child
            todo.extend(kids.get(i, ()))
        return out


def instrument(tracer: Tracer, spark, per_pass: bool = True) -> contextlib.ExitStack:
    """Wrap the layer entry points; closing the returned stack restores
    them. With per_pass=False only the conf front-end is wrapped (the
    daemon's micro-batches are read from its progress events, and its
    jobs keep the job group the streaming engine gives them)."""
    from syslog_ng_spark import config, sinks

    sc = spark.sparkContext
    stack = contextlib.ExitStack()
    # the job group is a thread-local property: clear it on exit, or the
    # jobs of the next (untraced) pass would join this pass's group
    stack.callback(sc.setLocalProperty, "spark.jobGroup.id", None)

    def patch(module, attr, make):
        orig = getattr(module, attr)
        setattr(module, attr, make(orig))
        stack.callback(setattr, module, attr, orig)

    def timed(name, group=None):
        def make(orig):
            def wrapper(*a, **kw):
                if group:
                    sc.setJobGroup(f"{tracer.group}.{group}", name)
                with tracer.span(name):
                    return orig(*a, **kw)
            return wrapper
        return make

    def planned_write(orig):
        def wrapper(df, *a, **kw):
            with tracer.span("catalyst.plan"):
                df._jdf.queryExecution().executedPlan()
            sc.setJobGroup(f"{tracer.group}.exec", "exec")
            with tracer.span("exec"):
                return orig(df, *a, **kw)
        return wrapper

    patch(config, "parse_conf", timed("conflang.parse"))
    patch(config, "compile_conf", timed("confcompile.compile"))
    if per_pass:
        patch(config, "build_pipeline", timed("config.build", group="build"))
        patch(config, "_destination", timed("sinks.build", group="build"))
        patch(sinks, "write_text", planned_write)
    return stack
