"""Spans and Spark counters recorded from outside the engine.

A ``Tracer`` wraps the public functions of the engine's layer modules,
so every call records a span (name, layer, start, end, parent, thread)
plus the Spark job and stage id high-water marks at both boundaries.
After a pass the completed jobs and stages are read once from the
application's REST status store and attributed to spans by id range:
a job whose id lies in ``[span.job0, span.job1)`` was submitted while
the span was open. Id ranges, unlike job groups, also capture jobs
launched from ``run_overlapped``'s plain pool threads.

Install order matters. About thirty engine modules bind ``eager_pin``,
``run_overlapped`` and ``load_table`` by value at import time, so
``install`` imports and patches the defining modules first and then
rebinds every by-value alias it finds in any loaded engine module
(identity match against the original function). Modules imported
afterwards (plans, serving, streaming) bind the wrappers directly.
``STORE`` is one shared instance, so its methods are wrapped on the
instance.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import sys
import threading
import time
import urllib.request
from dataclasses import dataclass, field
from datetime import datetime, timezone

PKG = "hadoop_project_spark"

# Layer modules whose public functions get spans, in import order.
WRAPPED_MODULES = (
    "session",
    "execution",
    "catalog",
    "functions.vector",
    "operators.dedup",
    "operators.similarity",
    "operators.retrieval",
    "operators.invindex",
    "operators.sketch",
    "operators.graph",
    "operators.ssjoin",
    "operators.kmeans",
    "operators.textstats",
    "operators.corpus",
    "workloads.kmeans_pipeline",
    "serving",
    "streaming.index_segments",
    "streaming.lsh_segments",
    "streaming.dedup_gate",
)

# Factories whose returned foreachBatch sink is itself a layer entry
# point: the returned callable is wrapped under this span name.
SINK_FACTORIES = {
    "streaming.index_segments.make_postings_segment_sink": "streaming.postings_sink",
    "streaming.lsh_segments.make_gated_bandkeys_sink": "streaming.gated_sink",
}

STORE_METHODS = (
    "list_names", "exists", "is_dir", "read_text", "put_text_atomic",
    "remove", "remove_tree", "stat_sig", "mtime", "publish_dir",
)


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    thread: int
    t0: float
    job0: int
    stage0: int
    t1: float = 0.0
    job1: int = 0
    stage1: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.t1 - self.t0


def union_length(intervals, lo: float | None = None, hi: float | None = None) -> float:
    """Total length covered by ``intervals`` (optionally clipped to
    ``[lo, hi]``); overlapping intervals count once."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    clipped.sort()
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of its interval its children cover."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    return {
        s.sid: s.wall - union_length(
            [(c.t0, c.t1) for c in kids.get(s.sid, [])], s.t0, s.t1
        )
        for s in spans
    }


class Tracer:
    """Span recorder. ``enabled=False`` keeps the wrappers installed but
    makes them plain pass-through calls (used for the untraced passes
    of a traced run, so both sides run the same patched code paths)."""

    def __init__(self):
        self.enabled = False
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main_stack: list[Span] = []
        self._next_id = 0
        self._dag = None

    # --- Spark id high-water marks --------------------------------------
    def bind_spark(self, spark) -> None:
        # the DAG scheduler's next job/stage id counters (py4j hands the
        # AtomicInteger back as its current int value on every call)
        self._dag = spark.sparkContext._jsc.sc().dagScheduler()

    def _marks(self) -> tuple[int, int]:
        if self._dag is None:
            return 0, 0
        return int(self._dag.nextJobId()), int(self._dag.nextStageId())

    # --- spans ------------------------------------------------------------
    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._main_stack if threading.current_thread() is threading.main_thread() else []
            self._local.stack = st
        return st

    def begin(self, name: str, **attrs) -> Span | None:
        if not self.enabled:
            return None
        st = self._stack()
        # a pool thread's first span hangs under the main thread's open
        # span (run_overlapped's caller)
        parent = st[-1] if st else (self._main_stack[-1] if self._main_stack else None)
        job, stage = self._marks()
        with self._lock:
            sid = self._next_id
            self._next_id += 1
        s = Span(sid, name, parent.sid if parent else None,
                 threading.get_ident(), time.time(), job, stage, attrs=dict(attrs))
        st.append(s)
        return s

    def end(self, s: Span | None) -> None:
        if s is None:
            return
        s.job1, s.stage1 = self._marks()
        s.t1 = time.time()
        st = self._stack()
        if st and st[-1] is s:
            st.pop()
        with self._lock:
            self.spans.append(s)

    class _Ctx:
        def __init__(self, tracer, name, attrs):
            self.tracer, self.name, self.attrs, self.span = tracer, name, attrs, None

        def __enter__(self):
            self.span = self.tracer.begin(self.name, **self.attrs)
            return self.span

        def __exit__(self, *exc):
            self.tracer.end(self.span)
            return False

    def span(self, name: str, **attrs) -> "Tracer._Ctx":
        return Tracer._Ctx(self, name, attrs)

    def reset(self) -> None:
        self.spans = []
        self._main_stack.clear()

    # --- wrapper installation -----------------------------------------------
    def _wrap(self, fn, name: str, returns_sink: str | None = None):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                out = fn(*args, **kwargs)
            else:
                s = tracer.begin(name)
                try:
                    out = fn(*args, **kwargs)
                finally:
                    tracer.end(s)
                if s is not None:
                    tracer._annotate(name, s, args, out)
            if returns_sink is not None:
                out = tracer._wrap(out, returns_sink)
            return out

        wrapper.__perfbench_original__ = fn
        return wrapper

    @staticmethod
    def _annotate(name: str, s: Span, args, out) -> None:
        """Outcome attributes the per-layer ratios need."""
        if name == "execution.run_overlapped" and args:
            s.attrs["thunks"] = len(args[0])
        elif name == "execution.widen_for_compute" and args:
            s.attrs["widened"] = out is not args[0]
        elif name == "workloads.kmeans_pipeline.lloyd_2d":
            s.attrs["iterations"] = out[1]
        elif name == "storage.put_text_atomic" and len(args) > 1:
            s.attrs["bytes"] = len(args[1].encode())

    def install(self) -> None:
        """Wrap every public function defined in WRAPPED_MODULES and the
        STORE instance's methods, then rebind by-value aliases."""
        originals: dict[int, object] = {}
        for rel in WRAPPED_MODULES:
            mod = importlib.import_module(f"{PKG}.{rel}")
            for attr, fn in list(vars(mod).items()):
                if (
                    attr.startswith("_")
                    or not inspect.isfunction(fn)
                    or fn.__module__ != mod.__name__
                ):
                    continue
                name = f"{rel}.{attr}"
                w = self._wrap(fn, name, SINK_FACTORIES.get(name))
                setattr(mod, attr, w)
                originals[id(fn)] = w
            self._rebind(originals)
        storage = importlib.import_module(f"{PKG}.storage")
        for meth in STORE_METHODS:
            bound = getattr(storage.STORE, meth)
            setattr(storage.STORE, meth, self._wrap(bound, f"storage.{meth}"))
        self._rebind(originals)

    @staticmethod
    def _rebind(originals: dict[int, object]) -> None:
        for mname, mod in list(sys.modules.items()):
            if not mname.startswith(PKG) or mod is None:
                continue
            for attr, val in list(vars(mod).items()):
                w = originals.get(id(val))
                if w is not None and w is not val:
                    setattr(mod, attr, w)


# --- Spark status store ------------------------------------------------------

def _rest(spark, path: str) -> list[dict]:
    base = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    with urllib.request.urlopen(f"{base}/api/v1/applications/{app}/{path}", timeout=30) as r:
        return json.load(r)


def _epoch(ts: str | None) -> float | None:
    if not ts:
        return None
    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%f%Z").replace(
        tzinfo=timezone.utc
    ).timestamp()


def fetch_spark_activity(spark, job_lo: int, stage_lo: int) -> tuple[list[dict], list[dict]]:
    """Jobs with id >= job_lo and stages with id >= stage_lo, reduced to
    the fields the trace uses. Needs ``spark.ui.enabled``."""
    jobs = []
    for j in _rest(spark, "jobs"):
        if j["jobId"] < job_lo:
            continue
        jobs.append({
            "id": j["jobId"],
            "t0": _epoch(j.get("submissionTime")),
            "t1": _epoch(j.get("completionTime")),
            "stages": j.get("stageIds", []),
            "status": j.get("status"),
        })
    stages = []
    for s in _rest(spark, "stages"):
        if s["stageId"] < stage_lo:
            continue
        stages.append({
            "id": s["stageId"],
            "status": s.get("status"),
            "tasks": s.get("numCompleteTasks", 0),
            "run_ms": s.get("executorRunTime", 0),
            "gc_ms": s.get("jvmGcTime", 0),
            "shuffle_read": s.get("shuffleReadBytes", 0),
            "shuffle_write": s.get("shuffleWriteBytes", 0),
            "output": s.get("outputBytes", 0),
        })
    return jobs, stages


def span_counters(s: Span, jobs: list[dict], stages: list[dict]) -> dict:
    """Spark work launched while ``s`` was open (inclusive of children)."""
    js = [j for j in jobs if s.job0 <= j["id"] < s.job1]
    ss = [g for g in stages if s.stage0 <= g["id"] < s.stage1]
    return {
        "jobs": len(js),
        "tasks": sum(g["tasks"] for g in ss),
        "core_s": sum(g["run_ms"] for g in ss) / 1e3,
        "gc_s": sum(g["gc_ms"] for g in ss) / 1e3,
        "shuffle_read_mb": sum(g["shuffle_read"] for g in ss) / 1e6,
        "shuffle_write_mb": sum(g["shuffle_write"] for g in ss) / 1e6,
    }


def span_tree(spans: list[Span], jobs: list[dict], stages: list[dict]) -> list[dict]:
    """Serialisable span records with self time and Spark counters."""
    st = self_times(spans)
    out = []
    for s in sorted(spans, key=lambda x: (x.t0, x.sid)):
        rec = {
            "id": s.sid, "name": s.name, "parent": s.parent,
            "thread": s.thread, "t0": s.t0, "t1": s.t1,
            "wall_s": s.wall, "self_s": st[s.sid],
            "job_range": [s.job0, s.job1], "stage_range": [s.stage0, s.stage1],
        }
        rec.update(span_counters(s, jobs, stages))
        if s.attrs:
            rec["attrs"] = s.attrs
        out.append(rec)
    return out
