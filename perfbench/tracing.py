"""Spans and per-layer counters, recorded from outside the program.

A traced op opens one span with child spans (``build`` and ``action``
for a query; ``write``, ``trigger`` and ``compute`` for an event).
``io.load_table`` is wrapped in every loaded module of the package so
each call becomes a ``load_table`` child of ``build``. Every span that
can start Spark jobs gets its own job group; after the op, off the
clock, the jobs of each group are read back from Spark's status tracker
and status store (stages, tasks, executor time, shuffle, spill), and
the result DataFrame's Catalyst phase times from its query execution.
Spans stay in memory until ``write_spans``.
"""

from __future__ import annotations

import contextlib
import functools
import json
import sys
import time
from collections import defaultdict

from dask_lambda_example_spark import io

PKG = "dask_lambda_example_spark"
ACTION_SPANS = ("action", "write", "trigger", "compute")
_GROUP_KEY = "spark.jobGroup.id"


class NullTracer:
    """Tracing off: spans cost one no-op context manager."""

    active = False

    def span(self, name: str):
        return contextlib.nullcontext()

    def op(self, key: str):
        return contextlib.nullcontext()


class Tracer(NullTracer):
    def __init__(self, spark, t0: float):
        self._sc = spark.sparkContext
        self._store = self._sc._jsc.sc().statusStore()
        self._t0 = t0
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._patched: list[tuple] = []
        self.active = False  # spans are recorded only inside a traced op

    # -- instrumentation ---------------------------------------------------
    def install(self) -> None:
        """Route every module's ``load_table`` through a span."""
        original = io.load_table

        @functools.wraps(original)
        def load_table(*args, **kwargs):
            with self.span("load_table"):
                return original(*args, **kwargs)

        for name, mod in list(sys.modules.items()):
            if name.startswith(PKG) and getattr(mod, "load_table",
                                                None) is original:
                setattr(mod, "load_table", load_table)
                self._patched.append((mod, original))

    def uninstall(self) -> None:
        for mod, original in self._patched:
            mod.load_table = original
        self._patched.clear()

    @contextlib.contextmanager
    def op(self, key: str):
        """One traced op: the root span; its children share its id."""
        self.active = True
        try:
            with self.span("op", key=key):
                yield
        finally:
            self.active = False

    @contextlib.contextmanager
    def span(self, name: str, key: str | None = None):
        if not self.active:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = {"id": len(self.spans), "name": name,
             "op": parent["op"] if parent else len(self.spans),
             "parent": parent["id"] if parent else None,
             "key": key, "groups": []}
        if name != "op":
            s["groups"].append(f"perfbench-{s['op']}-{s['id']}")
        self.spans.append(s)
        self._stack.append(s)
        prev = self._sc.getLocalProperty(_GROUP_KEY)
        if s["groups"]:
            self._sc.setJobGroup(s["groups"][0], name)
        s["start"] = time.perf_counter() - self._t0
        try:
            yield s
        finally:
            s["end"] = time.perf_counter() - self._t0
            if s["groups"]:
                self._sc.setLocalProperty(_GROUP_KEY, prev)
            self._stack.pop()

    # -- read-back, off the clock ------------------------------------------
    def _jobs(self, group: str) -> list[list[dict]]:
        """The stages that ran, per job of ``group``."""
        tracker = self._sc.statusTracker()
        out = []
        for job in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job)
            stages = []
            for sid in (info.stageIds if info else []):
                st = self._store.lastStageAttempt(sid)
                if str(st.status()) == "SKIPPED":
                    continue
                stages.append({
                    "tasks": st.numTasks(),
                    "run_s": st.executorRunTime() / 1e3,
                    "cpu_s": st.executorCpuTime() / 1e9,
                    "gc_s": st.jvmGcTime() / 1e3,
                    "shuffle_read": st.shuffleReadBytes(),
                    "shuffle_write": st.shuffleWriteBytes(),
                    "spill": st.memoryBytesSpilled() + st.diskBytesSpilled(),
                })
            out.append(stages)
        return out

    def op_layers(self, op_span: dict, slots: int,
                  result_df=None) -> dict[str, float]:
        """Per-layer numbers of one finished op, read from Spark."""
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()
        kids = [s for s in self.spans if s["op"] == op_span["id"]
                and s is not op_span]
        out: dict[str, float] = defaultdict(float)
        for s in kids:
            wall = s["end"] - s["start"]
            out[f"span.{s['name']}_s"] += wall
            jobs = [j for g in s["groups"] for j in self._jobs(g)]
            stages = [st for j in jobs for st in j]
            run_s = sum(st["run_s"] for st in stages)
            out["sched.jobs"] += len(jobs)
            out["sched.stages"] += len(stages)
            if s["name"] in ("build", "load_table"):
                out["registry.build_jobs"] += len(jobs)
            if s["name"] == "load_table":
                out["io.load_table_calls"] += 1
                out["io.schema_jobs"] += len(jobs)
            if s["name"] in ACTION_SPANS:
                out["sched.nonexec_s"] += wall - run_s / slots
            for st in stages:
                out["sched.tasks"] += st["tasks"]
                out["exec.run_s"] += st["run_s"]
                out["exec.cpu_s"] += st["cpu_s"]
                out["exec.gc_s"] += st["gc_s"]
                out["shuffle.read_bytes"] += st["shuffle_read"]
                out["shuffle.write_bytes"] += st["shuffle_write"]
                out["spill.bytes"] += st["spill"]
        out["op.wall_s"] = op_span["end"] - op_span["start"]
        if result_df is not None:
            phases = result_df._jdf.queryExecution().tracker().phases()
            for phase in ("analysis", "optimization", "planning"):
                summary = phases.get(phase)
                if summary.isDefined():
                    out[f"catalyst.{phase}_s"] = (
                        summary.get().durationMs() / 1e3)
        return dict(out)

    def write_spans(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)
