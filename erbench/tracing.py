"""Spans recorded from the benchmark's own code, folded with Spark's event
log into per-layer metrics.

A span is opened around each call into a public entry point (a *call*
span) and around each ``StageStore.write`` (a *stage* span, a child of the
call). A stage span starts at the ``start`` argument the plan passes to
``write``, which it takes before ``compute()``, so eager work done while
the plan is built (the scorer's ``localCheckpoint``) stays in its stage.
Spans stay in memory; the event log is read once the session has stopped.
Every Spark job is charged to the innermost span open when it was
submitted.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from ccer.sources.catalog import StageStore

# per-layer metrics reported for every layer
LAYER_FIELDS = ("wall_s", "cpu_s", "py_s", "gc_s", "shuffle_mb", "spill_mb", "tasks", "skew", "rows")
ER_STAGES = ("features", "blocks", "pairs", "edges", "components", "clusters")
CUR_STAGES = ("cur.docs", "cur.exact", "cur.neardup", "cur.quality")
LAYERS = ER_STAGES + CUR_STAGES + ("ingest.batch", "catalog")
STORE_MB = tuple(f"catalog.{s}.mb" for s in ER_STAGES + CUR_STAGES)

PER_LAYER_UNITS = {
    **{f"{layer}.{f}": unit for layer in LAYERS for f, unit in zip(
        LAYER_FIELDS, ("s", "s", "s", "s", "MB", "MB", "count", "ratio", "count"))},
    "pairs.per_page": "ratio",
    "edges.match_ratio": "ratio",
    "blocks.max_block": "count",
    "components.jobs": "count",
    "cur.neardup.kept_ratio": "ratio",
    **{name: "MB" for name in STORE_MB},
    "trace.overhead_s": "s",
    "trace.uncovered_s": "s",
}


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: "Span | None" = None
    attrs: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans while ``enabled``; a disabled tracer records nothing
    and leaves ``StageStore.write`` untouched."""

    def __init__(self):
        self.spans: list[Span] = []
        self.enabled = False
        self._call: Span | None = None

    @contextmanager
    def call(self, name: str, stage_prefix: str = "", **attrs):
        """Span around one call into an entry point; ``stage_prefix`` names
        the stage spans ``StageStore.write`` records inside it."""
        span = Span(name, time.time(), 0.0, attrs={"prefix": stage_prefix, **attrs})
        self._call = span
        try:
            yield span
        finally:
            span.end = time.time()
            self._call = None
            if self.enabled:
                self.spans.append(span)

    @contextmanager
    def active(self):
        """Enable span recording and wrap ``StageStore.write``."""
        orig = StageStore.write
        tracer = self

        def traced_write(store, df, name, *args, start=None, **kwargs):
            t0 = time.time() if start is None else start
            out = orig(store, df, name, *args, start=start, **kwargs)
            parent = tracer._call
            if parent is not None:  # writes outside a traced call are set-up
                tracer.spans.append(
                    Span(parent.attrs["prefix"] + name, t0, time.time(), parent)
                )
            return out

        StageStore.write = traced_write
        self.enabled = True
        try:
            yield self
        finally:
            StageStore.write = orig
            self.enabled = False


def read_event_log(event_dir: str) -> tuple[list[dict], dict[int, list[dict]]]:
    """Jobs (id, submit time in s, stage ids) and task metrics per stage id
    from the uncompressed event log(s) under ``event_dir``."""
    jobs, tasks = [], {}
    for path in sorted(glob.glob(os.path.join(event_dir, "**", "events_*"), recursive=True)) + sorted(
        glob.glob(os.path.join(event_dir, "local-*"))
    ):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs.append({
                        "id": ev["Job ID"],
                        "submit": ev["Submission Time"] / 1000.0,
                        "stages": ev.get("Stage IDs", []),
                    })
                elif kind == "SparkListenerTaskEnd" and ev.get("Task Metrics"):
                    m = ev["Task Metrics"]
                    tasks.setdefault(ev["Stage ID"], []).append({
                        "run_s": m.get("Executor Run Time", 0) / 1e3,
                        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                        "gc_s": m.get("JVM GC Time", 0) / 1e3,
                        "shuffle_b": m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0),
                        "spill_b": m.get("Disk Bytes Spilled", 0),
                    })
    return jobs, tasks


def _fold_tasks(task_list: list[dict]) -> dict:
    if not task_list:
        return {"cpu_s": 0.0, "py_s": 0.0, "gc_s": 0.0, "shuffle_mb": 0.0, "spill_mb": 0.0, "tasks": 0, "skew": 0.0}
    runs = [t["run_s"] for t in task_list]
    cpu = sum(t["cpu_s"] for t in task_list)
    median_run = statistics.median(runs)
    return {
        "cpu_s": cpu,
        "py_s": max(0.0, sum(runs) - cpu),
        "gc_s": sum(t["gc_s"] for t in task_list),
        "shuffle_mb": sum(t["shuffle_b"] for t in task_list) / 2**20,
        "spill_mb": sum(t["spill_b"] for t in task_list) / 2**20,
        "tasks": len(task_list),
        "skew": max(runs) / median_run if median_run > 0 else 1.0,
    }


def assign_jobs(spans: list[Span], jobs: list[dict]) -> dict[int, list[dict]]:
    """Charge each job to the innermost (shortest) span open at its
    submission time, keyed by ``id(span)``. Jobs outside every span are
    dropped."""
    out: dict[int, list[dict]] = {}
    for job in jobs:
        inside = [s for s in spans if s.start <= job["submit"] <= s.end]
        if inside:
            out.setdefault(id(min(inside, key=lambda s: s.wall)), []).append(job)
    return out


def per_layer(spans: list[Span], jobs: list[dict], tasks: dict[int, list[dict]],
              main: Span | None, rows: dict[str, int], funnel: dict, untraced_s: float) -> dict:
    """Every per-layer metric, ``{name: {"value", "unit"}}``; a layer the
    workload does not run reads 0.

    Stage layers come from the stage spans of the ``main`` call. ``catalog``
    is the self time of the first ``resume`` call: serving the stages still
    complete in the store (the stages it recomputes are its children and
    are not charged to any layer). ``ingest.batch`` is the ``ingest`` call.
    ``trace.overhead_s`` is the traced main call's wall minus
    ``untraced_s``, the median wall of the same call in the run's timed
    iterations, which ran in a session without the event log.
    """
    values: dict[str, float] = {}
    if main is not None:
        charged = assign_jobs(spans, jobs)
        kids = lambda root: [s for s in spans if s.parent is root]  # noqa: E731
        walls, job_sets = {}, {}
        for s in kids(main):
            walls[s.name] = s.wall
            job_sets[s.name] = charged.get(id(s), [])
        rows = dict(rows)
        for root in (s for s in spans if s.parent is None):
            if root.name == "resume" and "catalog" not in walls:
                recomputed = {s.name for s in kids(root)}
                walls["catalog"] = root.wall - sum(s.wall for s in kids(root))
                job_sets["catalog"] = charged.get(id(root), [])
                rows["catalog"] = sum(v for k, v in rows.items() if k not in recomputed)
            elif root.name == "ingest":
                walls["ingest.batch"] = root.wall
                job_sets["ingest.batch"] = charged.get(id(root), [])
                rows["ingest.batch"] = root.attrs.get("rows", 0)
        values = layer_metrics(walls, job_sets, jobs, tasks, rows)
        values.update(funnel)
        values["components.jobs"] = len(job_sets.get("components", []))
        values.update({f"catalog.{k}.mb": v for k, v in main.attrs.get("stage_mb", {}).items()})
        values["trace.overhead_s"] = main.wall - untraced_s
        values["trace.uncovered_s"] = main.wall - sum(s.wall for s in kids(main))
    return {name: {"value": values.get(name, 0), "unit": unit} for name, unit in PER_LAYER_UNITS.items()}


def layer_metrics(span_walls: dict[str, float], job_sets: dict[str, list[dict]], all_jobs: list[dict],
                  tasks: dict[int, list[dict]], rows: dict[str, int]) -> dict[str, float]:
    """Per-layer metrics: wall from spans, executor counters from the tasks
    of the jobs charged to each layer. A stage runs its tasks in the first
    job that lists it, so later listings (skipped stages) are ignored."""
    first_job: dict[int, int] = {}
    for job in all_jobs:
        for sid in job["stages"]:
            first_job[sid] = min(first_job.get(sid, job["id"]), job["id"])
    out = {}
    for layer in LAYERS:
        jobs = job_sets.get(layer, [])
        layer_tasks = [
            t for job in jobs for sid in job["stages"] if first_job.get(sid) == job["id"]
            for t in tasks.get(sid, [])
        ]
        folded = _fold_tasks(layer_tasks)
        folded["wall_s"] = span_walls.get(layer, 0.0)
        folded["rows"] = rows.get(layer, 0)
        for f in LAYER_FIELDS:
            out[f"{layer}.{f}"] = folded[f]
    return out
