"""Per-layer metrics of one traced pass, from its span records and the
Spark jobs/stages launched inside it.

A layer function's ``.s`` is the summed wall time of its OUTERMOST
spans (a recursive or nested call of the same name is not counted
twice); ``.jobs`` counts the Spark jobs launched while those spans were
open, by job-id range. ``session.*`` figures cover the whole pass.
"""

from __future__ import annotations

from tracer import union_length

OPERATOR_MODULES = (
    "dedup", "similarity", "retrieval", "invindex", "sketch",
    "graph", "ssjoin", "kmeans", "textstats", "corpus",
)

# Span names every traced pass of a workload must record (self-check).
EXPECTED_SPANS = {
    "kmeans_sweep": (
        "catalog.load_table",
        "workloads.kmeans_pipeline.run_kmeans_pipeline",
        "workloads.kmeans_pipeline.weighted_points",
        "workloads.kmeans_pipeline.minmax_bounds",
        "workloads.kmeans_pipeline.lloyd_2d",
        "workloads.kmeans_pipeline.silhouette_2d",
        "execution.clear_query_state",
    ),
    "query_mix": (
        "plans.build",
        "plans.exec",
        "catalog.load_table",
        "execution.clear_query_state",
        "execution.run_overlapped",
        "execution.plan_size_bytes",
        "operators.dedup",
        "operators.similarity",
        "functions.vector",
        "streaming.lsh_segments.compact_bandkeys_segments",
        "serving.attach_or_build",
        "storage.publish_dir",
    ),
    "ingest_serve": (
        "streaming.postings_sink",
        "streaming.gated_sink",
        "streaming.index_segments.read_segments",
        "streaming.index_segments.compact_segments",
        "streaming.lsh_segments.compact_bandkeys_segments",
        "streaming.compact",
        "serving.probe",
        "serving.attach_or_build",
        "storage.publish_dir",
        "storage.put_text_atomic",
        "execution.eager_pin",
    ),
}


def _descendants(spans: list[dict], root_id: int) -> list[dict]:
    kids: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    out, todo = [], [root_id]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k["id"])
    return out


def _outermost(spans: list[dict], match) -> list[dict]:
    """Spans satisfying ``match`` with no ancestor that also does."""
    by_id = {s["id"]: s for s in spans}
    out = []
    for s in spans:
        if not match(s["name"]):
            continue
        p = by_id.get(s["parent"])
        while p is not None and not match(p["name"]):
            p = by_id.get(p["parent"])
        if p is None:
            out.append(s)
    return out


def _sum(spans, key):
    return sum(s.get(key, 0) for s in spans)


def _jobs_in(spans: list[dict], jobs: list[dict]) -> int:
    """Distinct jobs launched inside any of ``spans`` (concurrent sibling
    spans have overlapping id ranges; a job counts once)."""
    ids = set()
    for s in spans:
        lo, hi = s["job_range"]
        ids.update(j["id"] for j in jobs if lo <= j["id"] < hi)
    return len(ids)


def _stages_in(spans: list[dict], stages: list[dict]) -> list[dict]:
    ids = set()
    for s in spans:
        lo, hi = s["stage_range"]
        ids.update(g["id"] for g in stages if lo <= g["id"] < hi)
    return [g for g in stages if g["id"] in ids]


def _thread_self_sum(root: dict, body: list[dict]) -> float:
    """Self times of the spans on the pass's own thread, each counting
    only children on that thread (pool-thread spans of
    ``run_overlapped`` run concurrently with each other and are part of
    their caller's time). With properly nested spans this is the pass
    wall; an overlap or a child outside its parent makes it larger."""
    own = [root] + [s for s in body if s["thread"] == root["thread"]]
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in own[1:]:
        kids.setdefault(s["parent"], []).append((s["t0"], s["t1"]))
    return sum(
        s["wall_s"] - union_length(kids.get(s["id"], []), s["t0"], s["t1"]) for s in own
    )


def pass_metrics(workload: str, spans: list[dict], root: dict, jobs: list[dict],
                 stages: list[dict], extra: dict) -> tuple[dict, list[str]]:
    """({metric: value}, missing expected span names) for one pass."""
    body = _descendants(spans, root["id"])
    names = {s["name"] for s in body}
    m: dict[str, float] = {}

    def fn(prefix: str, exact: bool = True) -> list[dict]:
        if exact:
            return _outermost(body, lambda n: n == prefix)
        return _outermost(body, lambda n: n == prefix or n.startswith(prefix + "."))

    def put(name: str, group: list[dict], with_jobs: bool = True) -> None:
        m[f"{name}.calls"] = len(group)
        m[f"{name}.s"] = _sum(group, "wall_s")
        if with_jobs:
            m[f"{name}.jobs"] = _jobs_in(group, jobs)

    # session: the whole pass
    intervals = [(j["t0"], j["t1"]) for j in jobs if j["t0"] and j["t1"]]
    m["session.jobs"] = root["jobs"]
    m["session.tasks"] = root["tasks"]
    m["session.driver_only_s"] = root["wall_s"] - union_length(intervals, root["t0"], root["t1"])
    m["session.executor_core_s"] = root["core_s"]
    m["session.shuffle_write_mb"] = root["shuffle_write_mb"]
    m["session.shuffle_read_mb"] = root["shuffle_read_mb"]
    m["session.jvm_gc_s"] = root["gc_s"]

    # workloads
    for f in ("run_kmeans_pipeline", "weighted_points", "minmax_bounds", "lloyd_2d", "silhouette_2d"):
        put(f"workloads.{f}", fn(f"workloads.kmeans_pipeline.{f}"))
    lloyd = fn("workloads.kmeans_pipeline.lloyd_2d")
    iters = sum(s.get("attrs", {}).get("iterations", 0) for s in lloyd)
    m["workloads.lloyd_2d.iterations"] = iters
    m["workloads.lloyd_2d.s_per_iter"] = m["workloads.lloyd_2d.s"] / iters if iters else 0.0

    # plans (harness spans around spec.build and the noop-sink exec)
    for ph in ("build", "exec"):
        g = fn(f"plans.{ph}")
        put(f"plans.{ph}", g)
        m[f"plans.{ph}.tasks"] = sum(g2["tasks"] for g2 in _stages_in(g, stages))
    m["plans.exec.shuffle_mb"] = sum(
        (g["shuffle_read"] + g["shuffle_write"]) / 1e6 for g in _stages_in(fn("plans.exec"), stages)
    )
    busy = m["plans.build.s"] + m["plans.exec.s"]
    m["plans.build_share"] = m["plans.build.s"] / busy if busy else 0.0

    put("catalog.load_table", fn("catalog.load_table"))

    # execution shims
    put("execution", fn("execution", exact=False))
    pins = fn("execution.eager_pin")
    put("execution.eager_pin", pins)
    m["execution.eager_pin.blocking"] = sum(1 for s in pins if s["jobs"] > 0)
    ro = fn("execution.run_overlapped")
    put("execution.run_overlapped", ro)
    m["execution.run_overlapped.thunks"] = sum(s.get("attrs", {}).get("thunks", 0) for s in ro)
    wd = fn("execution.widen_for_compute")
    put("execution.widen_for_compute", wd)
    m["execution.widen_for_compute.widened"] = sum(1 for s in wd if s.get("attrs", {}).get("widened"))
    put("execution.plan_size_bytes", fn("execution.plan_size_bytes"), with_jobs=False)
    m["execution.pins_after_clear"] = extra.get("pins_after_clear", 0)

    for mod in OPERATOR_MODULES:
        put(f"operators.{mod}", fn(f"operators.{mod}", exact=False))
    put("functions.vector", fn("functions.vector", exact=False), with_jobs=False)

    # streaming: every segment/sink/gate entry point, the foreachBatch
    # sinks the factories return, and the harness's compaction step
    put("streaming", fn("streaming", exact=False))
    put("streaming.postings_sink", fn("streaming.postings_sink"))
    put("streaming.gated_sink", fn("streaming.gated_sink"))
    comp = _outermost(body, lambda n: n.startswith("streaming.") and "compact" in n)
    put("streaming.compact", comp)
    m["streaming.compact.bytes_rewritten"] = sum(g["output"] for g in _stages_in(comp, stages))
    put("streaming.read_segments", fn("streaming.index_segments.read_segments"), with_jobs=False)
    live = extra.get("live_segments_at_probe") or []
    m["streaming.live_segments"] = sum(live) / len(live) if live else 0.0
    m["streaming.gate.flagged"] = extra.get("flagged", 0)
    put("serving.probe", fn("serving.probe"))

    # storage: STORE methods plus the parquet bytes Spark wrote
    st = fn("storage", exact=False)
    m["storage.calls"] = len(st)
    m["storage.s"] = _sum(st, "wall_s")
    m["storage.publish_dir.calls"] = len(fn("storage.publish_dir"))
    puts = fn("storage.put_text_atomic")
    m["storage.put_text_atomic.calls"] = len(puts)
    written = sum(g["output"] for g in stages) + sum(s.get("attrs", {}).get("bytes", 0) for s in puts)
    m["storage.bytes_written"] = written
    user = extra.get("user_bytes")
    m["storage.write_amp"] = written / user if user else 0.0

    # serving
    aob = fn("serving.attach_or_build")
    put("serving.attach_or_build", aob)
    m["serving.attach_or_build.builds"] = sum(
        1 for s in aob if any(g["output"] > 0 for g in _stages_in([s], stages))
    )
    put("serving.source_fingerprint", fn("serving.source_fingerprint"), with_jobs=False)

    m["trace.coverage"] = 1.0 - root["self_s"] / root["wall_s"] if root["wall_s"] else 0.0
    m["trace.self_sum_frac"] = _thread_self_sum(root, body) / root["wall_s"]

    missing = []
    for want in EXPECTED_SPANS.get(workload, ()):
        if not any(n == want or n.startswith(want + ".") for n in names):
            missing.append(want)
    return m, missing
