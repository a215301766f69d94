"""Spans around calls into the package's layers, with Spark counters per span.

Spans are recorded from the benchmark's own files: call sites in the
workloads open them directly, and :func:`installed` swaps the package's
module attributes for wrapped versions while the run lasts (nothing inside
the package changes). Each span carries a name, layer, start, end, parent id
and request id, and tags the Spark jobs submitted under it with a
thread-local job tag. When the run ends, the status store is read once and
each job's counters go to the innermost span that tagged it.

The refresh runs on Spark's stream thread (the ``foreachBatch`` sink) while
the request that landed the file waits for it, so its spans nest under that
request; its jobs carry the tags the sink's own spans add on that thread.

With tracing off every span is a no-op, so end-to-end runs pay nothing.
"""

from __future__ import annotations

import importlib
import itertools
import json
import threading
from contextlib import contextmanager
from functools import wraps
from time import perf_counter

GRID_LAYERS = (
    "sources.discovery",
    "grid.ingest",
    "grid.model",
    "grid.registry",
    "grid.interpolate",
    "streaming.files",
)
OPS_LAYERS = ("ops.dedup", "ops.graph", "ops.ml", "ops.scan")
LAYERS = GRID_LAYERS + OPS_LAYERS
COUNTERS = {
    "self_s": "s",
    "calls": "count",
    "jobs": "count",
    "stages": "count",
    "stages_skipped": "count",
    "tasks": "count",
    "exec_cpu_s": "s",
    "shuffle_mb": "MB",
    "result_mb": "MB",
}
JOB_COUNTERS = tuple(c for c in COUNTERS if c not in ("self_s", "calls"))
OPS_COUNTERS = {"plan_s": "s", "floor_share": "ratio"}
CONTEXT_METRICS = {
    "session.sched_job_s": "s",
    "session.spark_sum_s": "s",
    "trace.overhead_share": "ratio",
}

#: (module, attribute, layer): package functions and methods called from
#: inside the package (or by Spark, for the ``foreachBatch`` sink), so they
#: can only be traced by swapping the attribute the caller looks up. A dotted
#: attribute names a method on a class. Functions the workloads call directly
#: are traced at the call site instead.
PATCHES = (
    ("kamodo_dask_spark.grid.ingest", "fetch_file_range", "sources.discovery"),
    ("kamodo_dask_spark.grid.registry", "validate_dense", "grid.model"),
    ("kamodo_dask_spark.grid.registry", "grid_axes", "grid.model"),
    ("kamodo_dask_spark.grid.registry", "KamodoSpark.__init__", "grid.registry"),
    ("kamodo_dask_spark.grid.registry", "interpolate_points_broadcast", "grid.interpolate"),
    ("kamodo_dask_spark.grid.registry", "build_cell_relation", "grid.interpolate"),
    ("kamodo_dask_spark.grid.registry", "interpolate_points_cells", "grid.interpolate"),
    ("kamodo_dask_spark.grid.interpolate", "interpolate_points_broadcast", "grid.interpolate"),
    ("kamodo_dask_spark.streaming.files", "SlabRefresher.__call__", "streaming.files"),
)

_MB = 1024.0 * 1024.0


def metric_units() -> dict[str, str]:
    """Every per-layer metric name the traced run prints, with its unit."""
    units = {}
    for layer in LAYERS:
        for counter, unit in COUNTERS.items():
            units[f"{layer}.{counter}"] = unit
        if layer in OPS_LAYERS:
            for counter, unit in OPS_COUNTERS.items():
                units[f"{layer}.{counter}"] = unit
    units.update(CONTEXT_METRICS)
    return units


class Tracer:
    """In-memory span recorder. ``enabled=False`` makes every span a no-op."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self.overhead_s = 0.0
        self._stack: list[dict] = []
        self._ids = itertools.count(1)
        self._request = None
        # spans open on the main thread and on Spark's stream thread
        self._lock = threading.Lock()

    @contextmanager
    def request(self, kind: str):
        """Root span of one benchmark request; children share its id."""
        with self.span("request", kind) as rec:
            if rec is not None:
                self._request = rec["id"]
                rec["request"] = rec["id"]
            try:
                yield rec
            finally:
                self._request = None

    @contextmanager
    def span(self, layer: str, name: str):
        if not self.enabled:
            yield None
            return
        t0 = perf_counter()
        with self._lock:
            rec = {
                "id": next(self._ids),
                "layer": layer,
                "name": name,
                "parent": self._stack[-1]["id"] if self._stack else None,
                "request": self._request,
                "depth": len(self._stack),
            }
            self._stack.append(rec)
        rec["tag"] = f"perfbench-span-{rec['id']}"
        self.sc.addJobTag(rec["tag"])
        rec["start"] = perf_counter()
        try:
            yield rec
        finally:
            t1 = perf_counter()
            rec["end"] = t1
            self.sc.removeJobTag(rec["tag"])
            with self._lock:
                self._stack.remove(rec)
                self.spans.append(rec)
                self.overhead_s += rec["start"] - t0 + perf_counter() - t1

    def wrap(self, layer: str, fn, name: str):
        @wraps(fn)
        def traced(*args, **kwargs):
            with self.span(layer, name):
                return fn(*args, **kwargs)

        return traced

    def attribute_jobs(self) -> None:
        """Read the status store once and add each tagged job's counters to
        the innermost span that was open when it was submitted."""
        by_tag = {rec["tag"]: rec for rec in self.spans}
        for rec in self.spans:
            rec.update(dict.fromkeys(JOB_COUNTERS, 0))
        store = self.sc._jsc.sc().statusStore()
        jobs = store.jobsList(None)
        for i in range(jobs.size()):
            job = jobs.apply(i)
            owners = [by_tag[t] for t in str(job.jobTags().mkString("\n")).split("\n") if t in by_tag]
            if not owners:
                continue
            rec = max(owners, key=lambda r: r["depth"])
            rec["jobs"] += 1
            stage_ids = job.stageIds()
            for k in range(stage_ids.size()):
                stage = store.lastStageAttempt(stage_ids.apply(k))
                if stage.status().toString() == "SKIPPED":
                    rec["stages_skipped"] += 1
                    continue
                rec["stages"] += 1
                rec["tasks"] += stage.numTasks()
                rec["exec_cpu_s"] += stage.executorCpuTime() / 1e9
                rec["shuffle_mb"] += (stage.shuffleReadBytes() + stage.shuffleWriteBytes()) / _MB
                rec["result_mb"] += stage.resultSize() / _MB

    def layer_totals(self, per: float, sched_job_s: float) -> dict[str, float]:
        """Per-layer counters divided by ``per`` (the run's completed steps).
        Layers the workload never entered report zeros."""
        child_s: dict[int, float] = {}
        for rec in self.spans:
            if rec["parent"] is not None:
                child_s[rec["parent"]] = child_s.get(rec["parent"], 0.0) + rec["end"] - rec["start"]
        totals = {f"{layer}.{c}": 0.0 for layer in LAYERS for c in COUNTERS}
        for rec in self.spans:
            layer = rec["layer"]
            if layer not in LAYERS:
                continue
            totals[f"{layer}.self_s"] += rec["end"] - rec["start"] - child_s.get(rec["id"], 0.0)
            totals[f"{layer}.calls"] += 1
            for c in JOB_COUNTERS:
                totals[f"{layer}.{c}"] += rec[c]
            if layer in OPS_LAYERS:
                totals[f"{layer}.plan_s"] = totals.get(f"{layer}.plan_s", 0.0) + rec.get("plan_s", 0.0)
        out = {k: v / per for k, v in totals.items()}
        for layer in OPS_LAYERS:
            out.setdefault(f"{layer}.plan_s", 0.0)
            wall = out[f"{layer}.self_s"]
            out[f"{layer}.floor_share"] = out[f"{layer}.jobs"] * sched_job_s / wall if wall else 0.0
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps({k: v for k, v in rec.items() if k != "depth"}) + "\n")


@contextmanager
def installed(tracer: Tracer):
    """Swap the :data:`PATCHES` attributes for traced wrappers for the
    duration of the block (a no-op when tracing is off)."""
    saved = []
    if tracer.enabled:
        for mod_name, attr, layer in PATCHES:
            owner = importlib.import_module(mod_name)
            *path, name = attr.split(".")
            for part in path:
                owner = getattr(owner, part)
            original = getattr(owner, name)
            saved.append((owner, name, original))
            setattr(owner, name, tracer.wrap(layer, original, attr))
    try:
        yield
    finally:
        for owner, name, original in reversed(saved):
            setattr(owner, name, original)


def plan_seconds(df) -> float:
    """Catalyst planning time of a DataFrame's last execution: the sum of
    its QueryExecution tracker phases (analysis, optimization, planning)."""
    phases = df._jdf.queryExecution().tracker().phases()
    total_ms = 0
    for name in ("analysis", "optimization", "planning"):
        if phases.contains(name):
            total_ms += phases.apply(name).durationMs()
    return total_ms / 1e3
