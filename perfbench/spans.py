"""Traced mode: spans around calls into the package's layers, plus
Spark's own status (REST job and stage lists, Catalyst phase tracker,
streaming progress), reduced to per-layer metrics.

Spans are kept in memory and reduced when the run ends. A span records
its layer, name, kind (``call`` for a package function, ``build`` /
``exec`` for the two halves of a benchmark op), thread, parent and wall
interval. Package functions are spanned by wrappers installed on module
attributes only while a traced iteration runs, so every call that goes
through a module attribute (the benchmark's own, and the package's
calls between layers) is seen; the untraced path calls the package
unwrapped.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import functools
import inspect
import json
import sys
import threading
import time
import urllib.request
from dataclasses import dataclass, field

from stats import median

PKG = "multi_sensor_data_pipeline_for_robotics__spark"

# layer name -> package modules whose public functions belong to it
LAYER_MODULES = {
    "sources": ["sources.tables", "sources.io"],
    "clean": ["operators.clean"],
    "sync": ["operators.sync"],
    "analytics": ["plans.analytics"],
    "dedup": ["operators.dedup"],
    "stream": ["streaming.sync_stream"],
    "cache": ["cache"],
}
STREAM_PHASES = {"addBatch": "add_batch_s", "queryPlanning": "query_planning_s",
                 "walCommit": "wal_commit_s", "commitOffsets": "commit_offsets_s",
                 "triggerExecution": "trigger_s"}


@dataclass
class Span:
    layer: str
    name: str
    kind: str
    thread: int
    parent: "Span | None"
    start: float  # time.time(), comparable with Spark's submission times
    end: float = 0.0
    children: list = field(default_factory=list)


class NullTracer:
    """The untraced path: every hook is a no-op."""

    @contextlib.contextmanager
    def span(self, layer, name, kind):
        yield

    def plan(self, built):
        pass

    def stream_progress(self, progress):
        pass


def _returns_frame(fn) -> bool:
    """Wrap only functions that build DataFrames (or results holding
    one) or write them (``write_*``, and the streams ``*_to_parquet``
    starts): helpers returning columns or plain values are also shipped
    inside UDF closures, where a wrapper must not go."""
    try:
        ann = inspect.signature(fn).return_annotation
    except (TypeError, ValueError):
        return False
    ann = ann if isinstance(ann, str) else getattr(ann, "__name__", str(ann))
    name = fn.__name__
    return ("DataFrame" in ann or "Result" in ann
            or name.startswith("write_") or name.endswith("_to_parquet"))


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[Span] = []
        self.iterations: list[tuple[float, float]] = []
        self.catalyst: list[dict[str, float]] = []
        self.progress: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []

    # -- spans -------------------------------------------------------------
    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, layer, name, kind):
        stack = self._stack()
        s = Span(layer, name, kind, threading.get_ident(), stack[-1] if stack else None,
                 time.time())
        if s.parent is not None:
            s.parent.children.append(s)
        stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(s)

    def plan(self, built):
        """Force the physical plan of an op's DataFrame and keep its
        Catalyst phase times (ms)."""
        df = getattr(built, "df", built)
        jdf = getattr(df, "_jdf", None)
        if jdf is None or df.isStreaming:
            return
        with self.span("catalyst", "plan", "plan"):
            qe = jdf.queryExecution()
            qe.executedPlan()
            phases = qe.tracker().phases()
            it = phases.iterator()
            out = {}
            while it.hasNext():
                kv = it.next()
                out[kv._1()] = kv._2().durationMs() / 1000.0
        with self._lock:
            self.catalyst.append(out)

    def stream_progress(self, progress):
        self.progress.extend(progress)

    # -- wrappers on package functions ------------------------------------
    def install(self):
        originals = {}
        for layer, mods in LAYER_MODULES.items():
            for m in mods:
                mod = sys.modules.get(f"{PKG}.{m}")
                if mod is None:
                    continue
                for attr, fn in vars(mod).items():
                    if (inspect.isfunction(fn) and fn.__module__ == mod.__name__
                            and not attr.startswith("_") and _returns_frame(fn)):
                        originals[id(fn)] = (fn, self._wrap(layer, fn))
        # rebind every module-level name that holds an original, so
        # ``from x import f`` bindings in other modules are spanned too
        for modname, mod in list(sys.modules.items()):
            if not (modname.startswith(PKG) or modname == "__spark_entry__"):
                continue
            for attr, val in list(vars(mod).items()):
                hit = originals.get(id(val))
                if hit is not None and hit[0] is val:
                    self._patches.append((mod, attr, val))
                    setattr(mod, attr, hit[1])

    def uninstall(self):
        for mod, attr, val in reversed(self._patches):
            setattr(mod, attr, val)
        self._patches.clear()

    def _wrap(self, layer, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            top = not tracer._stack()
            with tracer.span(layer, fn.__name__, "call"):
                out = fn(*args, **kwargs)
            if top:
                # a call no benchmark op encloses (a stream epoch's
                # batch operator): read its Catalyst phases here
                tracer.plan(out)
            return out

        return wrapper

    @contextlib.contextmanager
    def iteration(self):
        self.install()
        t0 = time.time()
        try:
            yield
        finally:
            self.iterations.append((t0, time.time()))
            self.uninstall()

    # -- Spark REST status ------------------------------------------------
    def _rest(self, path):
        sc = self.spark.sparkContext
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        url = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}/{path}"
        with urllib.request.urlopen(url, timeout=30) as r:
            return json.load(r)

    def spark_status(self):
        """Jobs, completed stages and storage, once the listener bus has
        caught up (the job count stops changing)."""
        jobs, last = [], -1
        for _ in range(20):
            jobs = self._rest("jobs")
            if len(jobs) == last and all(j["status"] != "RUNNING" for j in jobs):
                break
            last = len(jobs)
            time.sleep(0.25)
        stages = self._rest("stages?status=complete")
        storage = self._rest("storage/rdd")
        return jobs, stages, storage


def _ts(s: str) -> float:
    """Spark REST time (``2026-01-01T00:00:00.123GMT``) -> epoch seconds."""
    return dt.datetime.strptime(s.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def _outermost(spans: list[Span], pred) -> list[Span]:
    """Spans matching ``pred`` that no matching ancestor encloses."""
    out = []
    for s in spans:
        p = s.parent
        while p is not None and not pred(p):
            p = p.parent
        if p is None and pred(s):
            out.append(s)
    return out


def self_time(s: Span) -> float:
    """Span duration minus the part its child spans cover."""
    covered, cur = 0.0, None
    for c in sorted(s.children, key=lambda c: c.start):
        lo, hi = max(c.start, s.start), min(c.end, s.end)
        if cur is None or lo > cur[1]:
            if cur:
                covered += cur[1] - cur[0]
            cur = [lo, hi]
        else:
            cur[1] = max(cur[1], hi)
    if cur:
        covered += cur[1] - cur[0]
    return (s.end - s.start) - covered


def _within(t: float, spans: list[Span]) -> bool:
    return any(s.start <= t <= s.end for s in spans)


def reduce_trace(tr: Tracer, cores: int) -> dict[str, float]:
    """Per-layer metrics, each the median over traced iterations of that
    iteration's total (time in seconds, counts as counts)."""
    jobs, stages, storage = tr.spark_status()
    jobs = [(j, _ts(j["submissionTime"])) for j in jobs if "submissionTime" in j]
    stages = [(s, _ts(s["submissionTime"])) for s in stages if "submissionTime" in s]
    per_iter: list[dict[str, float]] = []
    for lo, hi in tr.iterations:
        spans = [s for s in tr.spans if lo <= s.start <= hi]
        m: dict[str, float] = {}
        builds = _outermost(spans, lambda s: s.kind == "build")
        execs = _outermost(spans, lambda s: s.kind == "exec")
        it_jobs = [t for _, t in jobs if lo <= t <= hi]
        m["query.build_s"] = sum(s.end - s.start for s in builds)
        m["query.exec_s"] = sum(s.end - s.start for s in execs)
        m["query.build_jobs"] = sum(_within(t, builds) for t in it_jobs)
        for layer in LAYER_MODULES:
            own = _outermost(spans, lambda s, L=layer: s.layer == L and s.kind != "plan")
            calls = [s for s in spans if s.layer == layer and s.kind in ("call", "build")]
            m[f"{layer}.build_s"] = sum(s.end - s.start for s in own if s.kind != "exec")
            m[f"{layer}.exec_s"] = sum(s.end - s.start for s in own if s.kind == "exec")
            m[f"{layer}.self_s"] = sum(self_time(s) for s in calls)
            m[f"{layer}.calls"] = sum(1 for s in spans if s.layer == layer and s.kind == "call")
            m[f"{layer}.build_jobs"] = sum(
                _within(t, [s for s in own if s.kind != "exec"]) for t in it_jobs)
        m["sources.write_s"] = sum(s.end - s.start for s in spans
                                   if s.layer == "sources" and s.name.startswith("write_"))
        st = [s for s, t in stages if lo <= t <= hi]
        m["exec.jobs"] = len(it_jobs)
        m["exec.stages"] = len(st)
        m["exec.tasks"] = sum(s.get("numCompleteTasks", 0) for s in st)
        m["exec.failed_tasks"] = sum(s.get("numFailedTasks", 0) for s in st)
        m["exec.run_s"] = sum(s.get("executorRunTime", 0) for s in st) / 1000.0
        m["exec.cpu_s"] = sum(s.get("executorCpuTime", 0) for s in st) / 1e9
        m["exec.gc_s"] = sum(s.get("jvmGcTime", 0) for s in st) / 1000.0
        m["exec.shuffle_read_bytes"] = sum(s.get("shuffleReadBytes", 0) for s in st)
        m["exec.shuffle_write_bytes"] = sum(s.get("shuffleWriteBytes", 0) for s in st)
        m["exec.spill_bytes"] = sum(s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0)
                                    for s in st)
        m["exec.cpu_util"] = m["exec.cpu_s"] / max((hi - lo) * cores, 1e-9)
        per_iter.append(m)
    out = {k: median([m[k] for m in per_iter]) for k in (per_iter[0] if per_iter else {})}
    for phase, key in (("analysis", "analysis_s"), ("optimization", "optimization_s"),
                       ("planning", "planning_s")):
        vals = [c.get(phase, 0.0) for c in tr.catalyst]
        # per iteration: total over the DataFrames planned in it
        out[f"catalyst.{key}"] = sum(vals) / max(len(tr.iterations), 1)
    for phase, key in STREAM_PHASES.items():
        vals = [p["durationMs"].get(phase, 0) / 1000.0 for p in tr.progress]
        out[f"stream.{key}"] = median(vals) if vals else 0.0
    out["cache.storage_bytes"] = sum(r.get("memoryUsed", 0) + r.get("diskUsed", 0)
                                     for r in storage)
    return out
