"""Traced runs: spans around the program's layer entry points, measured from
outside.

A span is recorded around each call into a layer's public function (see
``LAYER_CALLS``). Inside its span the wrapper materializes what the call
returned (``persist`` + ``count`` of a lazy DataFrame, or of the frames of a
dict that the caller consumes), so the Spark work of that layer runs inside
the span instead of in whichever later action first touches it. Every span
sets its own Spark job group, so per-span stage metrics come from the status
REST API keyed by job group. Threads started while a span is open (the import job's fixed-world
and unit pools) inherit that span as parent and its job group.

Spans stay in memory and are written as JSON when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import statistics
import threading
import time
import urllib.request

GROUP = "spark.jobGroup.id"

# (module, attribute, span name). Every attribute is one the callers resolve
# at call time (module attribute or call-time import), so patching the module
# attribute reaches them.
LAYER_CALLS = [
    ("pgosm_flex_spark.fixtures", "osm_objects_scaled_df", "fixtures.world"),
    ("pgosm_flex_spark.functions.tags", "with_lonlat", "functions.geotag"),
    ("pgosm_flex_spark.layers", "build_layer_tables", "layers.map"),
    ("pgosm_flex_spark.operators", "relation_member_dedup", "operators.dedup"),
    ("pgosm_flex_spark.operators.nested", "build_nested_admin_polygons", "operators.nested"),
    ("pgosm_flex_spark.operators.pip_join", "build_polygon_cover", "operators.pip_join.cover"),
    ("pgosm_flex_spark.operators.pip_join", "pip_join", "operators.pip_join.join"),
    ("pgosm_flex_spark.operators.knn", "knn_join_adaptive", "operators.knn"),
    ("pgosm_flex_spark.operators.tiles", "assign_tiles", "operators.tiles"),
    ("pgosm_flex_spark.plans.checkpoint", "checkpointed_pip_join", "plans.checkpoint"),
    ("pgosm_flex_spark.streaming.incremental", "affected_cells", "streaming.incremental"),
    ("pgosm_flex_spark.sinks", "export_bundle_routed", "sinks.export"),
    ("pgosm_flex_spark.sinks", "export_bundle", "sinks.export"),
    ("pgosm_flex_spark.sinks", "write_layer_table", "sinks.write"),
    ("pgosm_flex_spark.styles", "load_qgis_styles", "styles.load"),
]
ROOT = "job"
SPAN_NAMES = [ROOT] + list(dict.fromkeys(name for _, _, name in LAYER_CALLS))
STAGE_FIELDS = ("task_s", "idle_slot_s", "spill_bytes", "failed_tasks")


def union_length(intervals) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id → its duration minus the part of its interval that its child
    spans cover. Children may run on other threads and overlap each other;
    their union is what counts, clipped to the parent's interval."""
    kids: dict[int, list] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        a, b = s["start"], s["end"]
        covered = union_length(
            (max(a, c["start"]), min(b, c["end"]))
            for c in kids.get(s["id"], []) if c["end"] > a and c["start"] < b
        )
        out[s["id"]] = (b - a) - covered
    return out


class Tracer:
    def __init__(self, spark, tag: str, consumed: dict[str, tuple[str, ...]] | None = None):
        """``consumed``: span name → the keys of its returned dict that the
        caller uses; only those frames are materialized (default: all)."""
        self.spark = spark
        self.sc = spark.sparkContext
        self.tag = tag
        self.consumed = consumed or {}
        self.spans: list[dict] = []
        self.frames = []
        self._lock = threading.Lock()
        self._local = threading.local()

    def group(self, span: dict) -> str:
        return f"perfbench-{self.tag}-{span['id']}"

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def current(self) -> dict | None:
        stack = self._stack()
        return stack[-1] if stack else getattr(self._local, "inherited", None)

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self.current()
        with self._lock:
            span = {
                "id": len(self.spans), "name": name,
                "parent": None if parent is None else parent["id"],
                "thread": threading.current_thread().name,
                "start": time.perf_counter(), "end": None, "counts": {},
            }
            self.spans.append(span)
        prev = self.sc.getLocalProperty(GROUP)
        self.sc.setLocalProperty(GROUP, self.group(span))
        self._stack().append(span)
        try:
            yield span
        finally:
            self._stack().pop()
            span["end"] = time.perf_counter()
            self.sc.setLocalProperty(GROUP, prev)

    def count(self, span: dict, key: str, n: int) -> None:
        with self._lock:
            span["counts"][key] = span["counts"].get(key, 0) + n

    def materialize(self, span: dict, out) -> None:
        from pyspark.sql import DataFrame

        frames = [out] if isinstance(out, DataFrame) else []
        if isinstance(out, dict):
            keys = self.consumed.get(span["name"], out.keys())
            frames = [out[k] for k in keys if isinstance(out.get(k), DataFrame)]
        for df in frames:
            df.persist()
            self.count(span, "rows", df.count())
            with self._lock:
                self.frames.append(df)

    def _wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name) as span:
                if name == "operators.dedup":
                    tracer.count(span, "rows_in", args[0].count())
                out = fn(*args, **kwargs)
                tracer.materialize(span, out)
                if name == "plans.checkpoint":
                    tracer.count(span, "units", len(out))
                    tracer.count(span, "units_recomputed", sum(1 for m in out.values() if not m.get("skipped")))
                return out

        return traced

    @contextlib.contextmanager
    def patched(self):
        """Wrap every layer entry point and make new threads inherit the
        starting thread's span; undone on exit."""
        saved = []
        for mod_name, attr, name in LAYER_CALLS:
            mod = importlib.import_module(mod_name)
            saved.append((mod, attr, getattr(mod, attr)))
            setattr(mod, attr, self._wrap(getattr(mod, attr), name))
        tracer = self
        orig_start, orig_run = threading.Thread.start, threading.Thread.run

        def start(thread):
            thread._perfbench_parent = tracer.current()
            return orig_start(thread)

        def run(thread):
            parent = getattr(thread, "_perfbench_parent", None)
            if parent is not None:
                tracer._local.inherited = parent
                tracer.sc.setLocalProperty(GROUP, tracer.group(parent))
            return orig_run(thread)

        threading.Thread.start, threading.Thread.run = start, run
        try:
            yield
        finally:
            threading.Thread.start, threading.Thread.run = orig_start, orig_run
            for mod, attr, fn in reversed(saved):
                setattr(mod, attr, fn)

    def release(self) -> None:
        for df in self.frames:
            df.unpersist()
        self.frames = []


class StatusApi:
    """The Spark status REST API of the running application."""

    def __init__(self, sc):
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def settled_jobs(self, timeout_s: float = 30.0) -> list[dict]:
        """Job list once the status store has caught up: nothing running and
        two reads in a row agree."""
        deadline = time.monotonic() + timeout_s
        last = None
        while True:
            jobs = self.get("/jobs")
            key = sorted((j["jobId"], j["status"], j.get("numCompletedTasks")) for j in jobs)
            if key == last and all(j["status"] != "RUNNING" for j in jobs):
                return jobs
            if time.monotonic() > deadline:
                raise RuntimeError("Spark status store did not settle")
            last = key
            time.sleep(0.3)


def stage_metrics(api: StatusApi, tracer: Tracer, skew_spans: set[str]) -> dict[int, dict]:
    """Per span id: jobs, task_s, spill_bytes, failed_tasks, launched_tasks,
    shuffle_bytes and (for ``skew_spans``) task_skew of its own job group."""
    groups = {tracer.group(s): s for s in tracer.spans}
    stage_owner: dict[int, int] = {}
    out = {s["id"]: {"jobs": 0, "task_s": 0.0, "spill_bytes": 0, "failed_tasks": 0,
                     "launched_tasks": 0, "shuffle_bytes": 0, "task_skew": 0.0}
           for s in tracer.spans}
    for j in api.settled_jobs():
        span = groups.get(j.get("jobGroup"))
        if span is None:
            continue
        out[span["id"]]["jobs"] += 1
        for sid in j["stageIds"]:
            stage_owner.setdefault(sid, span["id"])
    heaviest: dict[int, tuple] = {}
    for st in api.get("/stages"):
        owner = stage_owner.get(st["stageId"])
        if owner is None:
            continue
        m = out[owner]
        m["task_s"] += st.get("executorRunTime", 0) / 1000.0
        m["spill_bytes"] += st.get("diskBytesSpilled", 0)
        m["failed_tasks"] += st.get("numFailedTasks", 0)
        m["launched_tasks"] += st.get("numCompleteTasks", 0) + st.get("numFailedTasks", 0)
        m["shuffle_bytes"] += st.get("shuffleWriteBytes", 0)
        run = st.get("executorRunTime", 0)
        if run > heaviest.get(owner, (-1,))[0]:
            heaviest[owner] = (run, st["stageId"], st["attemptId"])
    for s in tracer.spans:
        if s["name"] in skew_spans and s["id"] in heaviest:
            _, sid, att = heaviest[s["id"]]
            tasks = api.get(f"/stages/{sid}/{att}/taskList?length=100000")
            times = [t["taskMetrics"]["executorRunTime"] for t in tasks if t.get("taskMetrics")]
            med = statistics.median(times) if times else 0
            out[s["id"]]["task_skew"] = max(times) / med if med > 0 else 1.0
    return out


def layer_metrics(tracer: Tracer, stages: dict[int, dict], cores: int) -> dict[str, float]:
    """Span list → per-layer metrics. A layer's time is the sum of the self
    times of its spans; stage figures are summed over its spans' own job
    groups. Layers the job never called report 0."""
    selfs = self_times(tracer.spans)
    by_name: dict[str, dict] = {
        n: {"s": 0.0, "wall": 0.0, "jobs": 0, "task_s": 0.0, "spill_bytes": 0,
            "failed_tasks": 0, "shuffle_bytes": 0, "task_skew": 0.0, "counts": {}}
        for n in SPAN_NAMES
    }
    for s in tracer.spans:
        agg, st = by_name[s["name"]], stages[s["id"]]
        agg["s"] += selfs[s["id"]]
        agg["wall"] += s["end"] - s["start"]
        for k in ("jobs", "task_s", "spill_bytes", "failed_tasks", "shuffle_bytes"):
            agg[k] += st[k]
        agg["task_skew"] = max(agg["task_skew"], st["task_skew"])
        for k, v in s["counts"].items():
            agg["counts"][k] = agg["counts"].get(k, 0) + v
    m: dict[str, float] = {}
    for name, agg in by_name.items():
        m[f"{name}.task_s"] = agg["task_s"]
        m[f"{name}.idle_slot_s"] = max(0.0, cores * agg["wall"] - agg["task_s"])
        m[f"{name}.spill_bytes"] = agg["spill_bytes"]
        m[f"{name}.failed_tasks"] = agg["failed_tasks"]
    c = lambda name, key: by_name[name]["counts"].get(key, 0)  # noqa: E731
    m.update({
        "fixtures.world_s": by_name["fixtures.world"]["s"],
        "functions.geotag_s": by_name["functions.geotag"]["s"],
        "functions.rows": c("functions.geotag", "rows"),
        "layers.map_s": by_name["layers.map"]["s"],
        "layers.rows_out": c("layers.map", "rows"),
        "layers.jobs": by_name["layers.map"]["jobs"],
        "operators.dedup.s": by_name["operators.dedup"]["s"],
        "operators.dedup.rows_in": c("operators.dedup", "rows_in"),
        "operators.dedup.rows_out": c("operators.dedup", "rows"),
        "operators.nested.s": by_name["operators.nested"]["s"],
        "operators.nested.polygons": c("operators.nested", "rows"),
        "operators.pip_join.cover_s": by_name["operators.pip_join.cover"]["s"],
        "operators.pip_join.cover_rows": c("operators.pip_join.cover", "rows"),
        "operators.pip_join.join_s": by_name["operators.pip_join.join"]["s"],
        "operators.pip_join.pairs": c("operators.pip_join.join", "rows"),
        "operators.pip_join.task_skew": by_name["operators.pip_join.join"]["task_skew"],
        "operators.knn.s": by_name["operators.knn"]["s"],
        "operators.knn.shuffle_bytes": by_name["operators.knn"]["shuffle_bytes"],
        "operators.knn.task_skew": by_name["operators.knn"]["task_skew"],
        "operators.tiles.s": by_name["operators.tiles"]["s"],
        "plans.checkpoint.s": by_name["plans.checkpoint"]["s"],
        "plans.checkpoint.units": c("plans.checkpoint", "units"),
        "plans.checkpoint.units_recomputed": c("plans.checkpoint", "units_recomputed"),
        "streaming.incremental.s": by_name["streaming.incremental"]["s"],
        "streaming.incremental.touched_cells": c("streaming.incremental", "rows"),
        "sinks.export_s": by_name["sinks.export"]["s"],
        "sinks.jobs": by_name["sinks.export"]["jobs"] + by_name["sinks.write"]["jobs"],
        "sinks.write_s": by_name["sinks.write"]["s"],
        "styles.load_s": by_name["styles.load"]["s"],
    })
    roots = [s for s in tracer.spans if s["name"] == ROOT]
    job_s = sum(s["end"] - s["start"] for s in roots)
    m["trace.covered_share"] = 1.0 - by_name[ROOT]["s"] / job_s if job_s else 0.0
    return m


def section_gaps(tracer: Tracer, sections: dict[str, float]) -> dict[str, float]:
    """Cross-check against the import job's own ``manifest["sections"]``:
    span-derived wall time minus the job's figure, per section it reports."""
    def wall(*names):
        spans = [s for s in tracer.spans if s["name"] in names]
        return (max(s["end"] for s in spans) - min(s["start"] for s in spans)) if spans else 0.0

    derived = {
        "layer_post_processing": wall("fixtures.world", "layers.map", "operators.dedup", "operators.nested"),
        "pip_join_checkpointed": wall("plans.checkpoint"),
        "export_bundle": wall("sinks.export"),
    }
    return {k: derived[k] - sections[k] for k in derived if k in sections}


def dump(path: str, tracer: Tracer, stages: dict[int, dict], extra: dict) -> None:
    selfs = self_times(tracer.spans)
    t0 = min((s["start"] for s in tracer.spans), default=0.0)
    spans = [
        {**s, "start": s["start"] - t0, "end": s["end"] - t0, "self_s": selfs[s["id"]],
         "group": tracer.group(s), **{f"spark_{k}": v for k, v in stages[s["id"]].items()}}
        for s in tracer.spans
    ]
    with open(path, "w") as f:
        json.dump({"spans": spans, **extra}, f, indent=1, sort_keys=True)
