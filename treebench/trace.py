"""Per-layer tracing for the benchmark's traced run.

A span times one call into a layer: wall time, driver thread CPU, and the
Spark jobs it ran.  Each span sets its own Spark job group for the calling
thread, so every job it launches is tagged with it; after an iteration the
tagged jobs are read back from Spark's status REST API and attributed to
the innermost span that was open (jobs no span tagged, e.g. jobs launched
from a worker thread that does not inherit the caller's local properties,
land in ``untagged``).

Spans come only from the benchmark's own files: ``span()`` around the
benchmark's direct calls, and ``window()``, which temporarily replaces the
module functions listed in ``WRAPPED`` with timing wrappers (the program's
modules resolve these names at call time, so the wrappers see every call).
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import threading
import time
import urllib.parse
import urllib.request
from collections import defaultdict
from dataclasses import dataclass

# (module, attribute, layer name) of the program functions the traced run
# wraps.  tree.fit / tree.transform / ensemble.* / query.* / session.* are
# spans the benchmark opens around its own calls.
WRAPPED = [
    ("efficient_trees_spark.tree", "_two_scan_binned_edges", "tree._two_scan_binned_edges"),
    (
        "efficient_trees_spark.operators.split_finder",
        "find_best_splits_packed",
        "split_finder.find_best_splits_packed",
    ),
    (
        "efficient_trees_spark.operators.split_finder",
        "find_best_splits_per_node",
        "split_finder.find_best_splits_per_node",
    ),
    (
        "efficient_trees_spark.operators.split_finder",
        "best_splits_from_counts_pdf",
        "split_finder.best_splits_from_counts_pdf",
    ),
    (
        "efficient_trees_spark.operators.histogram",
        "merge_cubes_to_counts_pdf",
        "histogram.merge_cubes_to_counts_pdf",
    ),
    (
        "efficient_trees_spark.operators.histogram",
        "distinct_edges_packed",
        "histogram.distinct_edges_packed",
    ),
    (
        "efficient_trees_spark.operators.histogram",
        "merge_edge_stats_rows",
        "histogram.merge_edge_stats_rows",
    ),
]

# Layers that score one tree level; a counts-pdf call directly under a fit
# (not inside one of these) is a carried level from the pair-cube lookahead.
LEVEL_LAYERS = ("split_finder.find_best_splits_packed", "split_finder.find_best_splits_per_node")
CARRIED_LAYER = "split_finder.best_splits_from_counts_pdf"

_GROUP_PREFIX = "treebench-"
_JOB_PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")


@dataclass
class Span:
    layer: str
    parent: int | None
    wall_s: float = 0.0
    cpu_s: float = 0.0


class NullTracer:
    """The untraced run's stand-in: spans cost nothing and record nothing."""

    def span(self, layer: str):
        return contextlib.nullcontext()


class Tracer:
    """Spans plus the Spark job metrics of the jobs they tagged."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        port = urllib.parse.urlparse(self.sc.uiWebUrl).port
        self._api = f"http://127.0.0.1:{port}/api/v1/applications/{self.sc.applicationId}"
        self.spans: dict[int, Span] = {}
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next_id = 0
        self._last_job = -1

    # ------------------------------------------------------------- spans

    @contextlib.contextmanager
    def span(self, layer: str):
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            sid = self._next_id
            self._next_id += 1
            span = self.spans[sid] = Span(layer, stack[-1] if stack else None)
        saved = {k: self.sc.getLocalProperty(k) for k in _JOB_PROPS}
        self.sc.setJobGroup(f"{_GROUP_PREFIX}{sid}", layer)
        stack.append(sid)
        t0, c0 = time.perf_counter(), time.thread_time()
        try:
            yield
        finally:
            span.wall_s = time.perf_counter() - t0
            span.cpu_s = time.thread_time() - c0
            stack.pop()
            for key, value in saved.items():
                self.sc.setLocalProperty(key, value)

    @contextlib.contextmanager
    def window(self):
        """One traced iteration: only jobs started inside the window count
        at the next ``harvest``, and the ``WRAPPED`` functions are swapped
        for timing wrappers while it is open."""
        self._last_job = self._max_job_id()
        self.spans.clear()
        originals = []
        for module_name, attr, layer in WRAPPED:
            module = importlib.import_module(module_name)
            fn = getattr(module, attr)
            originals.append((module, attr, fn))
            setattr(module, attr, self._wrap(fn, layer))
        try:
            yield
        finally:
            for module, attr, fn in originals:
                setattr(module, attr, fn)

    def _wrap(self, fn, layer: str):
        @functools.wraps(fn)
        def call(*args, **kwargs):
            with self.span(layer):
                return fn(*args, **kwargs)

        return call

    # -------------------------------------------------------------- jobs

    def _get(self, path: str):
        with urllib.request.urlopen(self._api + path, timeout=30) as resp:
            return json.load(resp)

    def _drain(self) -> None:
        # The status store is fed by an asynchronous listener bus: an
        # action can return before its job and stage metrics land.
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def _max_job_id(self) -> int:
        self._drain()
        return max((j["jobId"] for j in self._get("/jobs")), default=-1)

    def harvest(self) -> dict[str, dict[str, float]]:
        """Per-layer totals for the spans and jobs of the last window.

        Span stats (``calls``, ``wall_s``, ``driver_cpu_s``, ``wait_s``)
        are inclusive of nested spans; job stats are charged to the
        innermost open span only.  ``<layer>.self_s`` is the span's wall
        minus the wall of the spans nested directly in it."""
        self._drain()
        all_jobs = sorted(self._get("/jobs"), key=lambda j: j["jobId"])
        jobs = [j for j in all_jobs if j["jobId"] > self._last_job]
        self._last_job = max([j["jobId"] for j in jobs], default=self._last_job)
        stages = {
            (s["stageId"], s["attemptId"]): s
            for s in self._get("/stages")
            if s.get("status") in ("COMPLETE", "FAILED")
        }
        out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        child_wall: dict[int, float] = defaultdict(float)
        for sid, span in self.spans.items():
            row = out[span.layer]
            row["calls"] += 1
            row["wall_s"] += span.wall_s
            row["driver_cpu_s"] += span.cpu_s
            row["wait_s"] += span.wall_s - span.cpu_s
            if span.parent is not None:
                child_wall[span.parent] += span.wall_s
                parent_layer = self.spans[span.parent].layer
            else:
                parent_layer = None
            if span.layer == CARRIED_LAYER and parent_layer not in LEVEL_LAYERS:
                out["split_finder"]["carried_levels"] += 1
            if span.layer in LEVEL_LAYERS or (
                span.layer == CARRIED_LAYER and parent_layer not in LEVEL_LAYERS
            ):
                out["split_finder"]["levels_scored"] += 1
        for sid, span in self.spans.items():
            out[span.layer]["self_s"] += span.wall_s - child_wall[sid]
        # A stage skipped by exchange reuse reappears in later jobs'
        # stageIds; only the lowest job id ran it.
        owner: dict[int, int] = {}
        for job in all_jobs:
            for stage_id in job["stageIds"]:
                owner.setdefault(stage_id, job["jobId"])
        layer_of_job = {}
        for job in jobs:
            group = job.get("jobGroup") or ""
            sid = int(group[len(_GROUP_PREFIX):]) if group.startswith(_GROUP_PREFIX) else None
            layer = self.spans[sid].layer if sid in self.spans else "untagged"
            layer_of_job[job["jobId"]] = layer
            row = out[layer]
            row["jobs"] += 1
            row["failed_tasks"] += job.get("numFailedTasks", 0)
        for (stage_id, _), stage in stages.items():
            layer = layer_of_job.get(owner.get(stage_id))
            if layer is None:  # ran in an earlier harvest's job
                continue
            row = out[layer]
            row["exec_cpu_s"] += stage.get("executorCpuTime", 0) / 1e9
            row["input_bytes"] += stage.get("inputBytes", 0)
            row["shuffle_write_bytes"] += stage.get("shuffleWriteBytes", 0)
            row["result_bytes"] += stage.get("resultSize", 0)
        self.spans.clear()
        return out


# ------------------------------------------------------------------ floors


def _identity_batches(batches):
    yield from batches


def _no_batches(batches):
    return iter(())


def _noop_write(df) -> float:
    t0 = time.perf_counter()
    df.write.mode("overwrite").format("noop").save()
    return time.perf_counter() - t0


def measure_floors(df, reps: int = 3) -> dict[str, float]:
    """Medians over ``reps`` of the floors a "this pass is at the floor"
    claim must cite, each over the workload's input relation ``df``:

    * ``scan_s`` — scan-only pass (noop sink);
    * ``arrow_identity_s`` — the same scan through an identity
      ``mapInArrow`` (JVM -> Arrow -> Python worker -> back);
    * ``empty_arrow_job_s`` — a ``mapInArrow`` job that returns nothing,
      over the cached relation (job launch plus worker round trip).

    ``df.cache()`` makes every later query on ``df`` read the cache, so the
    scan and identity floors are taken before it.
    """
    import statistics

    runs = {"scan_s": [], "arrow_identity_s": [], "empty_arrow_job_s": []}
    for _ in range(reps):
        runs["scan_s"].append(_noop_write(df))
        runs["arrow_identity_s"].append(_noop_write(df.mapInArrow(_identity_batches, df.schema)))
    df.cache().count()
    try:
        for _ in range(reps):
            runs["empty_arrow_job_s"].append(_noop_write(df.mapInArrow(_no_batches, df.schema)))
    finally:
        df.unpersist()
    return {k: statistics.median(v) for k, v in runs.items()}
