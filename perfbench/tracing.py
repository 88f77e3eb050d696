"""Span tracing and Spark counter attribution for the traced benchmark run.

``Tracer.install()`` wraps the public functions of every layer module and
patches each wrapper in wherever the name is looked up (the defining module
and every ``hgn_spark`` module that imported it by name). Each wrapper opens
a span: name, layer, start, end, parent, thread and run id. A span sets its
own Spark job group on the calling thread and restores the previous group
when it closes, so a job is billed to the innermost open span of the thread
that submitted it, including the pool threads HGN's init step uses. A thread
with no open span parents its spans to the execution's root span.

Streaming queries run their jobs under the query's own ``runId`` group;
``DataStreamWriter.start`` is wrapped to map that id to the span that
started the query.

Lazy plans bill their work to whichever span materializes them: an eager
checkpoint inside the program (``checkpoint`` layer) or the benchmark's
drain span (``drain``). Layer self time is the span's duration minus the
union of its children's intervals.

Counters are read once, at the end, from the status REST API
(``/api/v1/applications/<app>/{jobs,stages}`` under ``sc.uiWebUrl``). Jobs
are counted by their ``jobGroup`` field, never by diffing job-id lists, and
``check()`` refuses a run whose job ids are not all present (lost to
``spark.ui.retainedJobs``), whose jobs are not all attributed to a span, or
whose counters are negative.
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import json
import sys
import threading
import time
import urllib.request
from dataclasses import dataclass

# Layer name -> module. The registry layer is the functions below that
# build or read a registered session cache, plus clear_session_caches,
# which the benchmark spans itself.
LAYER_MODULES = {
    "session": "hgn_spark.session",
    "catalog": "hgn_spark.catalog",
    "checkpoint": "hgn_spark.checkpoint",
    "graph.core": "hgn_spark.graph.core",
    "graph.rmetrics": "hgn_spark.graph.rmetrics",
    "graph.weights": "hgn_spark.graph.weights",
    "graph.betweenness": "hgn_spark.graph.betweenness",
    "graph.components": "hgn_spark.graph.components",
    "graph.hgn": "hgn_spark.graph.hgn",
    "graph.lpa": "hgn_spark.graph.lpa",
    "graph.kcore": "hgn_spark.graph.kcore",
    "graph.queries": "hgn_spark.graph.queries",
    "operators.dedup": "hgn_spark.operators.dedup",
    "operators.similarity": "hgn_spark.operators.similarity",
    "operators.text": "hgn_spark.operators.text",
    "operators.relational": "hgn_spark.operators.relational",
    "pipeline": "hgn_spark.pipeline",
    "streaming": "hgn_spark.streaming.queries",
    "sources.sinks": "hgn_spark.sources.sinks",
}
# Functions that build or read a registered session cache.
CACHE_FUNCTIONS = (
    "hgn_spark.graph.queries.derived_edges",
    "hgn_spark.operators.dedup._doc_shingle_sets",
    "hgn_spark.operators.dedup.dedup_ngram_jaccard_pairs",
    "hgn_spark.operators.similarity.load_embeddings",
)
# Classes whose public methods belong to a layer.
LAYER_CLASSES = {"checkpoint": ("hgn_spark.checkpoint", "CheckpointJanitor")}

REPORTED_LAYERS = (
    "session", "catalog", "registry", "checkpoint",
    "graph.core", "graph.rmetrics", "graph.weights", "graph.betweenness",
    "graph.components", "graph.hgn", "graph.lpa", "graph.kcore",
    "operators.dedup", "operators.similarity", "operators.text",
    "operators.relational", "pipeline", "streaming", "sources.sinks", "drain",
)
SPARK_COUNTERS = (
    "jobs", "stages", "tasks", "input_bytes", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes", "gc_ms", "executor_run_s",
)


def layer_of_module(module: str) -> str:
    for layer, mod in LAYER_MODULES.items():
        if mod == module:
            return layer
    return module.removeprefix("hgn_spark.")


@dataclass
class Span:
    sid: int
    layer: str
    name: str
    parent: int | None
    thread: str
    start: float
    end: float | None = None
    group: str = ""
    prev_group: str | None = None
    jobs: int = 0
    shuffle_bytes: int = 0


class TraceError(RuntimeError):
    """The traced run's counters cannot be trusted."""


class Tracer:
    def __init__(self, sc, run_id: str) -> None:
        self.sc = sc
        self.run_id = run_id
        self.spans: list[Span] = []
        self.root: int | None = None
        self._local = threading.local()
        self._lock = threading.Lock()
        self._aliases: dict[str, int] = {}
        self._patched: list[tuple[object, str, object]] = []
        self.first_job: int | None = None

    # --- spans ---------------------------------------------------------

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def open(self, layer: str, name: str, root: bool = False,
             parent: int | None = None) -> Span:
        stack = self._stack()
        if parent is None:
            parent = stack[-1] if stack else (None if root else self.root)
        with self._lock:
            sid = len(self.spans)
            span = Span(sid, layer, name, parent, threading.current_thread().name,
                        time.time())
            span.group = f"pb-{self.run_id}-{sid}"
            self.spans.append(span)
        span.prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setLocalProperty("spark.jobGroup.id", span.group)
        stack.append(sid)
        if root:
            self.root = sid
        return span

    def close(self, span: Span) -> None:
        span.end = time.time()
        self._stack().pop()
        self.sc.setLocalProperty("spark.jobGroup.id", span.prev_group)

    @contextlib.contextmanager
    def span(self, layer: str, name: str, root: bool = False,
             parent: int | None = None):
        s = self.open(layer, name, root, parent)
        try:
            yield s
        finally:
            self.close(s)

    def record(self, layer: str, name: str, start: float, end: float) -> None:
        """Add a finished span that started no Spark job (e.g. session
        start-up, which runs before any job group can be set)."""
        with self._lock:
            self.spans.append(Span(len(self.spans), layer, name, None,
                                   threading.current_thread().name, start, end))

    def current(self) -> int | None:
        stack = self._stack()
        return stack[-1] if stack else self.root

    # --- patching ------------------------------------------------------

    def _wrap(self, fn, layer: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(layer, fn.__qualname__):
                return fn(*args, **kwargs)

        return traced

    def install(self) -> None:
        """Wrap every layer's public functions and patch each wrapper in
        wherever the original is looked up."""
        import importlib

        wrappers: dict[int, object] = {}
        for layer, modname in LAYER_MODULES.items():
            mod = importlib.import_module(modname)
            for name, obj in vars(mod).items():
                if (inspect.isfunction(obj) and obj.__module__ == modname
                        and not name.startswith("_")):
                    wrappers[id(obj)] = self._wrap(obj, layer)
        for path in CACHE_FUNCTIONS:
            modname, name = path.rsplit(".", 1)
            fn = getattr(importlib.import_module(modname), name)
            wrappers[id(fn)] = self._wrap(fn, "registry")
        for modname, mod in list(sys.modules.items()):
            if not modname.startswith("hgn_spark") or mod is None:
                continue
            for name, obj in list(vars(mod).items()):
                wrapper = wrappers.get(id(obj))
                if wrapper is not None and inspect.isfunction(obj):
                    self._patched.append((mod, name, obj))
                    setattr(mod, name, wrapper)
        for layer, (modname, clsname) in LAYER_CLASSES.items():
            cls = getattr(importlib.import_module(modname), clsname)
            for name, obj in list(vars(cls).items()):
                if inspect.isfunction(obj) and not name.startswith("_"):
                    self._patched.append((cls, name, obj))
                    setattr(cls, name, self._wrap(obj, layer))
        self._patch_stream_start()
        self._patch_pool_submit()

    def _patch_pool_submit(self) -> None:
        """Run each task submitted to a thread pool inside a span that
        parents to the submitting thread's span and bills to its layer, so
        the jobs of pooled work (HGN's init step, the IO chains of
        scan_projection_pushdown) carry a job group."""
        from concurrent.futures import ThreadPoolExecutor

        tracer = self
        orig = ThreadPoolExecutor.submit

        @functools.wraps(orig)
        def submit(pool, fn, /, *args, **kwargs):
            parent = tracer.current()
            if parent is None:
                return orig(pool, fn, *args, **kwargs)
            layer = tracer.spans[parent].layer
            name = f"pool:{getattr(fn, '__qualname__', type(fn).__name__)}"

            def task(*a, **k):
                with tracer.span(layer, name, parent=parent):
                    return fn(*a, **k)

            return orig(pool, task, *args, **kwargs)

        self._patched.append((ThreadPoolExecutor, "submit", orig))
        ThreadPoolExecutor.submit = submit

    def _patch_stream_start(self) -> None:
        from pyspark.sql.streaming.readwriter import DataStreamWriter

        tracer = self
        orig = DataStreamWriter.start

        @functools.wraps(orig)
        def start(writer, *args, **kwargs):
            query = orig(writer, *args, **kwargs)
            sid = tracer.current()
            if sid is not None:
                tracer._aliases[str(query.runId)] = sid
            return query

        self._patched.append((DataStreamWriter, "start", orig))
        DataStreamWriter.start = start

    def uninstall(self) -> None:
        for owner, name, orig in reversed(self._patched):
            setattr(owner, name, orig)
        self._patched.clear()

    # --- counters ------------------------------------------------------

    def _get(self, path: str):
        url = f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}/{path}"
        with urllib.request.urlopen(url, timeout=30) as r:
            return json.loads(r.read())

    def _settled_jobs(self) -> list[dict]:
        """The job list once the status store has caught up: no job still
        running and two reads in a row agree."""
        prev = None
        for _ in range(100):
            jobs = self._get("jobs")
            if prev is not None and len(jobs) == len(prev) and all(
                j["status"] not in ("RUNNING", "UNKNOWN") for j in jobs
            ):
                return jobs
            prev = jobs
            time.sleep(0.2)
        raise TraceError("status store did not settle")

    def mark_start(self) -> None:
        """Remember the first job id the traced region can start."""
        jobs = self._settled_jobs()
        self.first_job = 1 + max((j["jobId"] for j in jobs), default=-1)

    def collect(self) -> dict[str, float]:
        """Attribute the region's jobs and stages to spans; return the
        run-wide counters."""
        jobs = [j for j in self._settled_jobs() if j["jobId"] >= self.first_job]
        ids = sorted(j["jobId"] for j in jobs)
        if ids and ids != list(range(self.first_job, ids[-1] + 1)):
            raise TraceError(
                f"{ids[-1] + 1 - self.first_job - len(ids)} job(s) missing from "
                "the status store (spark.ui.retainedJobs too small)"
            )
        by_group = {s.group: s for s in self.spans}
        for run_id, sid in self._aliases.items():
            by_group[run_id] = self.spans[sid]
        stage_owner: dict[int, Span] = {}
        unattributed = []
        for j in sorted(jobs, key=lambda j: j["jobId"]):
            span = by_group.get(j.get("jobGroup"))
            if span is None:
                unattributed.append((j["jobId"], j.get("jobGroup"), j["name"][:80]))
                continue
            span.jobs += 1
            for st in j["stageIds"]:
                stage_owner.setdefault(st, span)
        if unattributed:
            raise TraceError(f"jobs not attributed to any span: {unattributed[:20]}")
        totals = dict.fromkeys(SPARK_COUNTERS, 0.0)
        totals["jobs"] = len(jobs)
        for st in self._get("stages"):
            span = stage_owner.get(st["stageId"])
            if span is None or st["status"] == "SKIPPED":
                continue
            shuffle = st["shuffleReadBytes"] + st["shuffleWriteBytes"]
            span.shuffle_bytes += shuffle
            totals["stages"] += 1
            totals["tasks"] += st["numCompleteTasks"]
            totals["input_bytes"] += st["inputBytes"]
            totals["shuffle_read_bytes"] += st["shuffleReadBytes"]
            totals["shuffle_write_bytes"] += st["shuffleWriteBytes"]
            totals["spill_bytes"] += st["diskBytesSpilled"]
            totals["gc_ms"] += st["jvmGcTime"]
            totals["executor_run_s"] += st["executorRunTime"] / 1000.0
        if sum(s.jobs for s in self.spans) != totals["jobs"]:
            raise TraceError("per-span job counts do not sum to the run's jobs")
        return totals

    def self_times(self) -> dict[int, float]:
        """Span duration minus the union of its children's intervals."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out = {}
        for s in self.spans:
            covered, cur_lo, cur_hi = 0.0, None, None
            for c in sorted(children.get(s.sid, []), key=lambda c: c.start):
                lo, hi = max(c.start, s.start), min(c.end, s.end)
                if hi <= lo:
                    continue
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out[s.sid] = (s.end - s.start) - covered
        return out

    def layer_metrics(self, passes: int) -> dict[str, float]:
        """``<layer>.{calls,self_s,jobs,shuffle_bytes}`` per measured pass."""
        self_t = self.self_times()
        agg = {layer: [0, 0.0, 0, 0] for layer in REPORTED_LAYERS}
        for s in self.spans:
            a = agg.get(s.layer)
            if a is None:  # e.g. graph.queries, the graph rows' own module
                continue
            a[0] += 1
            a[1] += self_t[s.sid]
            a[2] += s.jobs
            a[3] += s.shuffle_bytes
        out = {}
        for layer, (calls, self_s, jobs, shuffle) in agg.items():
            out[f"{layer}.calls"] = calls / passes
            out[f"{layer}.self_s"] = self_s / passes
            out[f"{layer}.jobs"] = jobs / passes
            out[f"{layer}.shuffle_bytes"] = shuffle / passes
        return out

    def calls(self, layer: str, name: str) -> int:
        return sum(1 for s in self.spans if s.layer == layer and s.name == name)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "run": self.run_id, "id": s.sid, "parent": s.parent,
                    "layer": s.layer, "name": s.name, "thread": s.thread,
                    "start": s.start, "end": s.end, "jobs": s.jobs,
                    "shuffle_bytes": s.shuffle_bytes,
                }) + "\n")
