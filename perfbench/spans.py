"""Per-layer tracing from outside the engine.

`Tracer.install()` wraps the engine's public layer functions (module
attributes, so `pipeline.run` and `incremental.run_incremental` pick the
wrappers up untouched) and records:

- flat spans on the driver thread: a layer's span runs from the call into
  its function to the next layer call (or the end of the traced call),
  which is where the pipeline materializes that layer's lazy plan.
  `attribute` splits the traced call into each layer's busy time (inside
  a layer call or a driver-thread Spark job, within the layer's span) and
  the unattributed rest (query planning between jobs, waits on
  background commits, Python orchestration);
- a Spark job group per span, so the event log attributes every Spark
  job to the layer that ran it; `Warehouse.write` on a background commit
  thread tags its jobs `catalog.<table>` instead;
- worker-side timers around the `mapInPandas` kernels (accumulators):
  wall time of the Python task versus time inside the NumPy kernel.

`read_event_log` turns Spark's event log into per-group task totals and
the wall interval of every job.
"""

from __future__ import annotations

import collections
import functools
import json
import statistics
import threading
import time
from typing import NamedTuple

GROUP = "spark.jobGroup.id"

#: (module, attribute, layer) for every wrapped layer entry point
LAYER_FUNCS = (
    ("dedup.stages", "stage12_fused", "udfs"),
    ("dedup.stages", "stage3_candidates", "stage3"),
    ("dedup.stages", "stage4_verify", "stage4"),
    ("dedup.pipeline", "connected_components", "cc"),
    ("dedup.pipeline", "connected_components_contracted", "cc"),
    ("dedup.incremental", "connected_components", "cc"),
    ("dedup.stages", "stage6_canonical", "stage6"),
)
CATALOG_METHODS = ("read", "write", "replace", "register_delta", "write_metrics_table")
PIPELINE_LAYERS = ("udfs", "stage3", "stage4", "cc", "stage6", "catalog")


class Call(NamedTuple):
    """One call into a wrapped function during the traced call."""

    name: str
    layer: str
    on_main: bool
    depth: int  # 0 = not nested inside another wrapped call
    t0: float
    t1: float
    args: tuple
    out: object


def _traced_udf(fn, accs):
    """Wrap a mapInPandas function. Runs in the Python worker; only
    closure variables and stdlib imports, so it pickles by value."""
    worker_s, kernel_s, rows_acc, distinct_acc = accs

    def traced(batches):
        import time as _t

        pc = _t.perf_counter
        state = {"in_s": 0.0, "rows": 0, "distinct": 0}

        def feed():
            it = iter(batches)
            while True:
                t = pc()
                try:
                    pdf = next(it)
                except StopIteration:
                    state["in_s"] += pc() - t
                    return
                state["in_s"] += pc() - t
                state["rows"] += len(pdf)
                if "text" in pdf.columns:
                    state["distinct"] += int(pdf["text"].nunique())
                yield pdf

        t0, kernel = pc(), 0.0
        inner = fn(feed())
        while True:
            t, before = pc(), state["in_s"]
            try:
                out = next(inner)
            except StopIteration:
                kernel += pc() - t - (state["in_s"] - before)
                break
            kernel += pc() - t - (state["in_s"] - before)
            yield out
        worker_s.add(pc() - t0)
        kernel_s.add(kernel)
        rows_acc.add(state["rows"])
        distinct_acc.add(state["distinct"])

    return traced


class Tracer:
    """Spans, counters and captured layer outputs of one traced call."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.main = threading.get_ident()
        self._tls = threading.local()
        self._lock = threading.Lock()
        self._undo: list[tuple[object, str, object]] = []
        self.accs = {
            kind: tuple(self.sc.accumulator(v) for v in (0.0, 0.0, 0, 0))
            for kind in ("fused", "substr")
        }
        self.reset()

    # -- bookkeeping ----------------------------------------------------------
    def reset(self) -> None:
        self.spans: list[list] = []  # [layer, t0, t1] on the driver thread
        self.calls: list[Call] = []
        self.t0 = self.t1 = None

    def begin(self) -> None:
        self.reset()
        # epoch and perf_counter read together, to place event-log times
        self.wall0, self.t0 = time.time(), time.perf_counter()
        self.sc.setLocalProperty(GROUP, "pipeline")

    def end(self) -> None:
        self.t1 = time.perf_counter()
        if self.spans:
            self.spans[-1][2] = self.t1
        self.sc.setLocalProperty(GROUP, None)

    def switch(self, layer: str) -> None:
        now = time.perf_counter()
        if self.spans:
            self.spans[-1][2] = now
        self.spans.append([layer, now, None])
        self.sc.setLocalProperty(GROUP, layer)

    # -- wrapping -------------------------------------------------------------
    def _wrap(self, fn, name: str, layer: str, bg_group=None):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kw):
            tls = tracer._tls
            depth = getattr(tls, "depth", 0)
            on_main = threading.get_ident() == tracer.main
            active = tracer.t0 is not None and tracer.t1 is None
            tag_bg = active and depth == 0 and not on_main and bg_group is not None
            if active and depth == 0 and on_main:
                tracer.switch(layer)
            if tag_bg:
                prev = tracer.sc.getLocalProperty(GROUP)
                tracer.sc.setLocalProperty(GROUP, bg_group(args, kw))
            tls.depth = depth + 1
            t0 = time.perf_counter()
            try:
                out = fn(*args, **kw)
            finally:
                tls.depth = depth
                if tag_bg:
                    tracer.sc.setLocalProperty(GROUP, prev)
            if active:
                with tracer._lock:
                    tracer.calls.append(
                        Call(name, layer, on_main, depth, t0, time.perf_counter(), args, out)
                    )
            return out

        return wrapper

    def _patch(self, obj, attr: str, new) -> None:
        self._undo.append((obj, attr, getattr(obj, attr)))
        setattr(obj, attr, new)

    def install(self) -> None:
        import importlib

        from dedup import udfs
        from dedup.catalog import Warehouse

        for mod_name, attr, layer in LAYER_FUNCS:
            mod = importlib.import_module(mod_name)
            self._patch(mod, attr, self._wrap(getattr(mod, attr), attr, layer))

        def table_group(args, kw):
            table = kw.get("table", args[2] if len(args) > 2 else "?")
            return f"catalog.{table}"

        for attr in CATALOG_METHODS:
            self._patch(
                Warehouse, attr,
                self._wrap(getattr(Warehouse, attr), attr, "catalog", table_group),
            )
        for attr, kind in (("make_fused_fn", "fused"), ("make_substr_fn", "substr")):
            make, accs = getattr(udfs, attr), self.accs[kind]
            self._patch(
                udfs, attr,
                functools.wraps(make)(lambda cfg, _m=make, _a=accs: _traced_udf(_m(cfg), _a)),
            )

    def uninstall(self) -> None:
        while self._undo:
            obj, attr, orig = self._undo.pop()
            setattr(obj, attr, orig)

    # -- results --------------------------------------------------------------
    def attribute(self, jobs: list[tuple]) -> tuple[dict[str, float], float]:
        """Busy seconds per layer and the unattributed seconds of the traced
        call. Busy means inside a layer call on the driver thread or inside
        a Spark job of a driver-thread group; a layer gets the busy time
        within its spans. Unattributed is measured on its own, as the gaps
        between busy intervals, so the two add up to the traced wall time
        only if every busy interval falls inside some span."""
        main = {"pipeline", *PIPELINE_LAYERS}
        to_perf = lambda ms: self.t0 + ms / 1000.0 - self.wall0  # noqa: E731
        busy = [(c.t0, c.t1) for c in self.calls if c.on_main and c.depth == 0]
        busy += [(to_perf(a), to_perf(b)) for g, a, b in jobs if g in main]
        merged: list[list[float]] = []
        for a, b in sorted((max(a, self.t0), min(b, self.t1)) for a, b in busy):
            if a >= b:
                continue
            if merged and a <= merged[-1][1]:
                merged[-1][1] = max(merged[-1][1], b)
            else:
                merged.append([a, b])
        out = collections.Counter()
        for layer, s0, s1 in self.spans:
            out[layer] += sum(max(0.0, min(b, s1) - max(a, s0)) for a, b in merged)
        edges = [self.t0, *(x for ab in merged for x in ab), self.t1]
        gaps = sum(edges[k + 1] - edges[k] for k in range(0, len(edges), 2))
        return dict(out), gaps

    def called(self, name: str) -> list[Call]:
        return [c for c in self.calls if c.name == name]

    def acc_values(self, kind: str) -> tuple:
        return tuple(a.value for a in self.accs[kind])


def read_event_log(path: str) -> tuple[dict, list[tuple]]:
    """Per job group: jobs, tasks, failed tasks, shuffle and spill bytes,
    GC and scheduler-delay seconds, and the skew (max over median task
    duration) of the group's heaviest stage. Also every job's (group,
    submission ms, completion ms), epoch milliseconds."""
    stage_group: dict[int, str | None] = {}
    jobs = collections.Counter()
    started: dict[int, tuple] = {}
    intervals: list[tuple] = []
    tasks: dict[int, list[dict]] = collections.defaultdict(list)
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get(GROUP)
                jobs[g] += 1
                started[ev["Job ID"]] = (g, ev["Submission Time"])
                for sid in ev.get("Stage IDs", ()):
                    stage_group.setdefault(sid, g)
            elif kind == "SparkListenerJobEnd" and ev["Job ID"] in started:
                intervals.append((*started.pop(ev["Job ID"]), ev["Completion Time"]))
            elif kind == "SparkListenerTaskEnd":
                tasks[ev["Stage ID"]].append(ev)

    groups: dict[str | None, dict] = collections.defaultdict(
        lambda: collections.defaultdict(float)
    )
    heaviest: dict[str | None, tuple[float, list[float]]] = {}
    for sid, evs in tasks.items():
        g = stage_group.get(sid)
        acc = groups[g]
        durations, run_total = [], 0.0
        for ev in evs:
            info, m = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
            ok = (ev.get("Task End Reason") or {}).get("Reason") == "Success"
            acc["tasks"] += 1
            acc["failed_tasks"] += 0 if ok else 1
            dur = max(0, info.get("Finish Time", 0) - info.get("Launch Time", 0))
            run = m.get("Executor Run Time", 0)
            got = info.get("Getting Result Time", 0)
            fetch = info.get("Finish Time", 0) - got if got else 0
            acc["scheduler_delay_s"] += max(
                0,
                dur - run - m.get("Executor Deserialize Time", 0)
                - m.get("Result Serialization Time", 0) - fetch,
            ) / 1000.0
            acc["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            sr = m.get("Shuffle Read Metrics") or {}
            acc["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            acc["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            acc["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
            durations.append(float(dur))
            run_total += run
        if run_total > heaviest.get(g, (-1.0, None))[0]:
            heaviest[g] = (run_total, durations)
    for g, acc in groups.items():
        acc["jobs"] = jobs.get(g, 0)
        durs = heaviest.get(g, (0, []))[1]
        med = statistics.median(durs) if durs else 0.0
        acc["skew"] = max(durs) / med if med > 0 else 1.0
    for g in jobs:
        if g not in groups:
            groups[g]["jobs"] = jobs[g]
    return {g: dict(v) for g, v in groups.items()}, intervals


def merge_groups(groups: dict, match) -> dict:
    """Sum the counters of every group whose id satisfies `match`; skew is
    the maximum."""
    out: dict[str, float] = collections.defaultdict(float)
    for g, acc in groups.items():
        if g is None or not match(g):
            continue
        for k, v in acc.items():
            out[k] = max(out[k], v) if k == "skew" else out[k] + v
    return out
