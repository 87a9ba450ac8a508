"""Per-layer tracing for the benchmark's traced runs (``--trace 1``).

Nothing here edits the engine.  ``Tracer.install`` wraps the public entry
points the workload drives (registry loads, ``EngineSession.sql``, the plan
rewrites and spatial dispatch, py4j's command send) and records spans, each
with its parent and the run id.  Spark-side numbers come from three places:

* Catalyst phases from the forcing action's ``QueryPlanningTracker``;
* row and Python-byte metrics from a walk of the final physical plan;
* job, stage and task metrics from Spark's event log, attributed to spans
  through the job group the tracer sets around each action.

``Py4jCounter`` counts only commands sent on the calling thread, and never
py4j's memory commands (``m``: the finalizers' object releases), so the
count of a deterministic query construction repeats exactly.
"""

from __future__ import annotations

import collections
import functools
import glob
import itertools
import json
import os
import threading
import time
from contextlib import contextmanager

class Py4jCounter:
    """Counts py4j commands sent by one thread while active."""

    def __init__(self) -> None:
        self.thread: int | None = None
        self.kinds: collections.Counter = collections.Counter()

    @contextmanager
    def count(self):
        self.thread = threading.get_ident()
        before = sum(self.kinds.values())
        box = {"n": 0}
        try:
            yield box
        finally:
            self.thread = None
            box["n"] = sum(self.kinds.values()) - before

    def install(self) -> None:
        import py4j.clientserver
        import py4j.java_gateway

        counter = self
        for cls in (py4j.clientserver.ClientServerConnection, py4j.java_gateway.GatewayConnection):
            orig = cls.send_command

            @functools.wraps(orig)
            def send_command(conn, command, *a, _orig=orig, **k):
                if counter.thread == threading.get_ident() and not command.startswith("m\n"):
                    counter.kinds[command[0]] += 1
                return _orig(conn, command, *a, **k)

            cls.send_command = send_command


class Tracer:
    """Span recorder plus the wrappers that feed it."""

    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.enabled = False
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._stack = threading.local()
        self.py4j = Py4jCounter()

    # -- spans -------------------------------------------------------------
    def _parents(self) -> list:
        if not hasattr(self._stack, "ids"):
            self._stack.ids = []
        return self._stack.ids

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield {}
            return
        parents = self._parents()
        sid = f"{self.run_id}-{next(self._ids)}"
        rec = {"id": sid, "parent": parents[-1] if parents else None, "run": self.run_id,
               "name": name, **attrs}
        parents.append(sid)
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["dur_s"] = time.perf_counter() - t0
            parents.pop()
            self.spans.append(rec)

    def _wrap(self, name: str, fn, on_result=None):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*a, **k):
            with tracer.span(name) as rec:
                out = fn(*a, **k)
                if on_result is not None and tracer.enabled:
                    on_result(rec, a, out)
                return out

        return wrapper

    # -- wrappers around the engine's public entry points ---------------------
    def install(self) -> None:
        import sys

        from dataclod_spark import registry, session
        from dataclod_spark.plans import rewrites, spatial_dispatch

        self.py4j.install()

        orig_load = registry.load
        traced_load = self._wrap("registry.load", orig_load)
        for mod in list(sys.modules.values()):
            if (getattr(mod, "__name__", "") or "").startswith("dataclod_spark") and getattr(
                mod, "load", None
            ) is orig_load:
                mod.load = traced_load

        def spread(rec, a, out):
            rec["spread"] = out is not a[1]

        registry._spread_unsplittable_scan = self._wrap(
            "registry.spread", registry._spread_unsplittable_scan, spread
        )
        session.EngineSession.sql = self._wrap("session.sql", session.EngineSession.sql)

        def rewrote(rec, a, out):
            rec["rewrote"] = out is not None

        for name in dir(spatial_dispatch):
            if name.startswith("try_"):
                fn = getattr(spatial_dispatch, name)
                setattr(spatial_dispatch, name, self._wrap("plans.dispatch", fn, rewrote))
        for name in dir(rewrites):
            if name.startswith("rewrite_"):
                setattr(rewrites, name, self._wrap("plans.rewrite", getattr(rewrites, name)))

    # -- per-layer sums ----------------------------------------------------
    @staticmethod
    def layer_sums(spans: list[dict]) -> dict:
        """Seconds and counts per layer over the given spans.  Nested spans
        of one layer (EngineSession.sql calling itself) count once."""
        by_id = {s["id"]: s for s in spans}

        def nested_in(s, name):
            p = by_id.get(s["parent"])
            while p is not None:
                if p["name"] == name:
                    return True
                p = by_id.get(p["parent"])
            return False

        out = collections.Counter()
        dispatched_sql = set()
        for s in spans:
            n = s["name"]
            if nested_in(s, n):
                continue
            if n == "registry.load":
                out["registry.load_s"] += s["dur_s"]
                out["registry.loads"] += 1
            elif n == "registry.spread":
                out["registry.spread_scans"] += int(s.get("spread", False))
            elif n == "session.sql":
                out["session.sql_s"] += s["dur_s"]
                out["session.statements"] += 1
            elif n in ("plans.dispatch", "plans.rewrite"):
                if not nested_in(s, "plans.dispatch") and not nested_in(s, "plans.rewrite"):
                    out["plans.dispatch_s"] += s["dur_s"]
                if s.get("rewrote"):
                    p = by_id.get(s["parent"])
                    while p is not None and p["name"] != "session.sql":
                        p = by_id.get(p["parent"])
                    dispatched_sql.add(p["id"] if p else s["id"])
        out["plans.dispatched"] = len(dispatched_sql)
        return dict(out)


def catalyst_phases(df) -> dict:
    """Analysis/optimization/planning seconds of an executed DataFrame."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        out[f"catalyst.{phase}_s"] = opt.get().durationMs() / 1000.0 if opt.isDefined() else 0.0
    return out


def _plan_nodes(plan):
    name = plan.nodeName()
    if name == "AdaptiveSparkPlan":
        yield from _plan_nodes(plan.executedPlan())
        return
    if name.endswith("QueryStage"):
        yield from _plan_nodes(plan.plan())
        return
    yield plan
    children = plan.children()
    for i in range(children.size()):
        yield from _plan_nodes(children.apply(i))


def _metrics(node) -> dict:
    out = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2().value()
    return out


def plan_metrics(df) -> dict:
    """Python-node bytes and spatial-join row counts of the final plan.

    The grid spatial join is an equi-join on its ``__cell`` key: its output
    rows are the candidate pairs, and a Filter directly above it (the
    refine verdict) keeps the matched pairs.  Without a refine Filter every
    candidate is a match."""
    nodes = list(_plan_nodes(df._jdf.queryExecution().executedPlan()))
    python_bytes = 0
    candidates = matched = 0
    parent_of = {}
    for node in nodes:
        children = node.children()
        for i in range(children.size()):
            parent_of[children.apply(i).id()] = node
    for node in nodes:
        m = _metrics(node)
        python_bytes += sum(v for k, v in m.items() if k.startswith("pythonData"))
        if "Join" in node.nodeName() and "__cell" in node.simpleString(200):
            rows = m.get("numOutputRows", 0)
            candidates += rows
            parent = parent_of.get(node.id())
            if parent is not None and parent.nodeName() == "Filter":
                matched += _metrics(parent).get("numOutputRows", 0)
            else:
                matched += rows
    return {
        "exec.python_bytes": python_bytes,
        "spatial.candidate_pairs": candidates,
        "spatial.matched_pairs": matched,
    }


def event_log_metrics(log_dir: str, groups: set[str]) -> dict:
    """Job/stage/task sums from Spark's event log for the given job groups."""
    stage_group: dict[int, str] = {}
    out = collections.Counter()
    stages = set()
    for path in glob.glob(f"{log_dir}/**/*", recursive=True):
        if not os.path.isfile(path):
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group in groups:
                        out["exec.jobs"] += 1
                        for sid in ev.get("Stage IDs", []):
                            stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd" and ev.get("Stage ID") in stage_group:
                    stages.add((ev["Stage ID"], ev.get("Stage Attempt ID", 0)))
                    out["exec.tasks"] += 1
                    if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                        out["exec.failed_tasks"] += 1
                    tm = ev.get("Task Metrics") or {}
                    out["exec.executor_run_s"] += tm.get("Executor Run Time", 0) / 1e3
                    out["exec.executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                    out["exec.gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                    out["exec.spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                        "Disk Bytes Spilled", 0
                    )
                    sr = tm.get("Shuffle Read Metrics") or {}
                    out["exec.shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    sw = tm.get("Shuffle Write Metrics") or {}
                    out["exec.shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
    out["exec.stages"] = len(stages)
    for k in ("exec.jobs", "exec.tasks", "exec.failed_tasks"):
        out.setdefault(k, 0)
    return dict(out)
