"""One benchmark run of one workload: set-up, warm-up, timed passes,
metrics. ``run.py`` owns argument parsing and the scratch root."""

from __future__ import annotations

import json
import os
import statistics
import time

import harness
from harness import CPUS, MIN_TIMED_PASSES, SETUP_REPS, PassContext, RssSampler, log

# The traced-pass self-check: named spans must cover this share of the
# pass wall, and the self times on the pass's own thread must add up to
# the wall within this relative error.
MIN_COVERAGE = 0.9
SELF_SUM_TOL = 0.01


def make_workload(args):
    from ingest_serve import IngestServe
    from kmeans_sweep import KMeansSweep
    from query_mix import QueryMix

    return {"kmeans_sweep": KMeansSweep, "query_mix": QueryMix,
            "ingest_serve": IngestServe}[args.workload]()


def _ops(passes, kinds) -> list[float]:
    return [sec for r in passes for kind, sec in r.ops if kind in kinds]


def _collect_trace(spark, tracer, ctx, extra, workload):
    """Span records, Spark activity and per-layer metrics of a traced pass."""
    import layers
    from tracer import fetch_spark_activity, span_tree

    root = ctx.root
    jobs, stages = fetch_spark_activity(spark, root.job0, root.stage0)
    jobs = [j for j in jobs if j["id"] < root.job1]
    stages = [g for g in stages if g["id"] < root.stage1]
    recs = span_tree(tracer.spans, jobs, stages)
    root_rec = next(x for x in recs if x["id"] == root.sid)
    metrics, missing = layers.pass_metrics(workload, recs, root_rec, jobs, stages, extra)
    return {"wall_s": root_rec["wall_s"], "spans": recs, "jobs": jobs, "metrics": metrics,
            "missing_spans": missing}


def run(args, contract, paths) -> tuple[dict, dict]:
    tracer = None
    if args.trace:
        # wrappers go on before plans/serving/streaming are imported
        from tracer import Tracer

        tracer = Tracer()
        tracer.install()
    wl = make_workload(args)
    from hadoop_project_spark.session import get_spark

    conf = harness.spark_conf(paths, ui=bool(args.trace))
    spark = None
    setup_s, get_spark_s = [], []
    try:
        for _ in range(SETUP_REPS):
            # every set-up is alike: a JVM of its own, and served
            # artifacts built from scratch
            if spark is not None:
                spark.stop()
                harness.stop_jvm()
            harness.clear_dir(paths["warehouse"])
            t0 = time.perf_counter()
            spark = get_spark(app_name=f"perfbench-{wl.name}", cpus=CPUS,
                              shuffle_partitions=CPUS, extra_conf=conf)
            get_spark_s.append(time.perf_counter() - t0)
            input_bytes = wl.make_inputs(args.seed, paths["data"])
            wl.setup(spark, paths["data"])
            setup_s.append(time.perf_counter() - t0)
        return _measure(args, contract, paths, spark, wl, tracer, setup_s, get_spark_s,
                        input_bytes)
    finally:
        if spark is not None:
            spark.stop()


def _measure(args, contract, paths, spark, wl, tracer, setup_s, get_spark_s, input_bytes):
    if tracer is not None:
        tracer.bind_spark(spark)
    if hasattr(wl, "prepare_checks"):
        wl.prepare_checks(spark)

    attempted = failed = 0
    failures: list[str] = []

    def account(r):
        nonlocal attempted, failed
        attempted += r.attempted
        failed += r.failed
        failures.extend(r.failures)

    warm, warm_ops, warm_steal = [], [], []
    for i in range(wl.warmup_passes):
        ctx = PassContext(i, check=(i == 0), scratch=paths["state"])
        r = wl.run_pass(spark, ctx)
        account(r)
        warm.append(r.wall_s)
        warm_steal.append(ctx.steal)
        warm_ops.append([[kind, sec] for kind, sec in r.ops])
        log(f"{wl.name} warm-up {i}: {r.wall_s:.2f}s failed={r.failed}")

    plain, traced = [], []
    plain_cpu, plain_steal = [], []
    t_start = time.perf_counter()
    with RssSampler() as rss:
        i = 0
        while True:
            on = tracer is not None and i % 2 == 1
            ctx = PassContext(len(warm) + i, check=False, scratch=paths["state"],
                              tracer=tracer if on else None)
            if on:
                tracer.reset()
                tracer.enabled = True
            try:
                r = wl.run_pass(spark, ctx)
            finally:
                if tracer is not None:
                    tracer.enabled = False
            account(r)
            if on:
                # write amplification is against the generated input
                # unless the workload names its own user data
                extra = {"user_bytes": input_bytes, **r.extra}
                traced.append((r, _collect_trace(spark, tracer, ctx, extra, wl.name)))
            else:
                plain.append(r)
                plain_cpu.append(ctx.cpu_s)
                plain_steal.append(ctx.steal)
            log(f"{wl.name} pass {i}{' traced' if on else ''}: {r.wall_s:.2f}s failed={r.failed}")
            i += 1
            done = time.perf_counter() - t_start >= args.seconds
            if done and len(plain) >= MIN_TIMED_PASSES and (tracer is None or traced):
                break

    # after the timed passes, so it reads the host, not the JVM's first jobs
    calibration = harness.calibrate(spark)
    ops = _ops(plain, wl.op_kinds)
    e2e = {
        "setup_s": statistics.median(setup_s),
        "run_s": statistics.median(r.wall_s for r in plain),
        "cpu_s": statistics.median(plain_cpu),
        "op_p50_s": statistics.median(ops),
        "peak_rss_mb": rss.peak_kb / 1024.0,
    }
    detail = {
        "workload": wl.name, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "local_cpus": CPUS,
        "setup_s_reps": setup_s, "get_spark_s_reps": get_spark_s,
        "warmup_passes": len(warm), "warmup_s": warm, "warmup_op_s": warm_ops,
        "warmup_steal": warm_steal,
        "pass_s": [r.wall_s for r in plain], "pass_cpu_s": plain_cpu,
        "pass_steal": plain_steal, "ops": len(ops),
        "op_s": [[[kind, sec] for kind, sec in r.ops] for r in plain],
        "calibration": calibration,
        "failures": failures[:20],
    }
    # every end-to-end figure with its unit; the contract's are a subset
    units = {"setup_s": "s", "run_s": "s", "cpu_s": "s", "op_p50_s": "s", "peak_rss_mb": "MB"}
    shown = {k: (v, units[k]) for k, v in e2e.items()}
    tail = harness.tail_percentile(ops)
    if tail is not None:
        shown["op_tail_s"] = (tail[1], "s")
        detail["op_tail"] = {"percentile": tail[0], "n": len(ops)}
    if wl.name == "ingest_serve":
        shown["ingest_p50_s"] = (statistics.median(_ops(plain, ("ingest",))), "s")
        shown["probe_p50_s"] = (statistics.median(_ops(plain, ("probe",))), "s")
        shown["space_amp"] = (statistics.median(r.extra["space_amp"] for r in plain), "ratio")
    shown["fail_frac"] = (failed / attempted if attempted else 0.0, "ratio")
    detail["e2e"] = {k: {"value": v, "unit": u} for k, (v, u) in shown.items()}

    correct = failed == 0
    if tracer is None:
        values = e2e
    else:
        layer = _mean_metrics([t["metrics"] for _, t in traced])
        layer["session.get_spark_s"] = get_spark_s[0]
        layer["trace.overhead_frac"] = (
            statistics.median(r.wall_s for r, _ in traced) / e2e["run_s"] - 1.0
        )
        missing = sorted({m for _, t in traced for m in t["missing_spans"]})
        detail["per_layer"] = layer
        detail["missing_spans"] = missing
        problems = trace_problems([t["metrics"] for _, t in traced])
        detail["trace_problems"] = problems
        if missing or problems:
            correct = False
        _write_trace(args, paths["out"], wl.name, detail, traced)
        values = layer
    return result_line(contract, values, bool(tracer), correct, attempted, failed), detail


def result_line(contract: dict, values: dict, traced: bool, correct: bool,
                attempted: int, failed: int) -> dict:
    """The last stdout line: exactly the contract's metrics for the mode
    (end-to-end untraced, per-layer traced), each with its unit."""
    wanted = contract["per_layer"] if traced else contract["end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        raise KeyError(f"metrics not measured: {missing}")
    return {
        "correct": bool(correct and failed == 0),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {
            m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in wanted
        },
    }


def trace_problems(pass_metrics: list[dict]) -> list[str]:
    """What makes a traced run's figures untrustworthy: pins left after
    ``clear_query_state``, too little of a pass under named spans, or
    self times that do not add up to the pass wall."""
    out = []
    for i, m in enumerate(pass_metrics):
        if m["execution.pins_after_clear"] != 0:
            out.append(f"traced pass {i}: {m['execution.pins_after_clear']} pins after clear")
        if m["trace.coverage"] < MIN_COVERAGE:
            out.append(f"traced pass {i}: coverage {m['trace.coverage']:.3f} < {MIN_COVERAGE}")
        if abs(m["trace.self_sum_frac"] - 1.0) > SELF_SUM_TOL:
            out.append(f"traced pass {i}: self times sum to {m['trace.self_sum_frac']:.4f} of the wall")
    return out


def _mean_metrics(rows: list[dict]) -> dict:
    return {k: sum(r[k] for r in rows) / len(rows) for k in rows[0]}


def _write_trace(args, out_dir, workload, detail, traced) -> None:
    path = os.path.join(out_dir, f"trace-{workload}-seed{args.seed}.json")
    with open(path, "w") as fh:
        json.dump({
            "workload": workload, "seed": args.seed,
            "detail": {k: v for k, v in detail.items() if k != "per_layer"},
            "passes": [t for _, t in traced],
        }, fh)
    log(f"trace written to {path}")
