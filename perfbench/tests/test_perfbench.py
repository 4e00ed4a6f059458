"""The benchmark's own tests: no Spark session needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import datagen  # noqa: E402
import harness  # noqa: E402
import layers  # noqa: E402
import runner  # noqa: E402
from kmeans_sweep import K_GRID, check_sweep, numpy_sweep  # noqa: E402
from query_mix import order_for  # noqa: E402
from tracer import Span, self_times, union_length  # noqa: E402

# Per-layer names the runner adds on top of pass_metrics.
RUNNER_LAYER = {"session.get_spark_s", "trace.overhead_frac"}


@pytest.fixture(scope="module")
def contract():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _span(sid, name, parent, t0, t1, job=(0, 0), stage=(0, 0), **attrs):
    s = Span(sid, name, parent, 1, t0, job[0], stage[0], attrs=attrs)
    s.t1, s.job1, s.stage1 = t1, job[1], stage[1]
    return s


def _synthetic_pass():
    """A pass root with nested layer spans, a pool-thread overlap, and
    the Spark jobs/stages they launched."""
    from tracer import span_tree

    spans = [
        _span(0, "pass", None, 0.0, 10.0, (0, 6), (0, 8)),
        _span(1, "plans.build", 0, 0.5, 4.0, (0, 3), (0, 4), query="q1"),
        _span(2, "execution.eager_pin", 1, 1.0, 2.0, (0, 1), (0, 2)),
        _span(3, "execution.run_overlapped", 1, 2.0, 3.5, (1, 3), (2, 4), thunks=2),
        _span(4, "streaming.lsh_segments.compact_bandkeys_segments", 3, 2.0, 3.0, (1, 2), (2, 3)),
        _span(5, "storage.publish_dir", 3, 2.5, 3.4, (2, 3), (3, 4)),
        _span(6, "plans.exec", 0, 4.0, 9.0, (3, 6), (4, 8), query="q1"),
        _span(7, "workloads.kmeans_pipeline.lloyd_2d", 6, 5.0, 6.0, (4, 5), (5, 6), iterations=1),
    ]
    for s in spans[4:6]:
        s.thread = 2  # run_overlapped's pool thread
    jobs = [{"id": i, "t0": 1.0 + i, "t1": 1.5 + i, "stages": [], "status": "SUCCEEDED"} for i in range(6)]
    stages = [
        {"id": i, "status": "COMPLETE", "tasks": 2, "run_ms": 100, "gc_ms": 0,
         "shuffle_read": 1000, "shuffle_write": 2000, "output": 500}
        for i in range(8)
    ]
    recs = span_tree(spans, jobs, stages)
    return recs, jobs, stages


# --- metric names and units ---------------------------------------------------

def test_contract_shape(contract):
    assert set(contract) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert 2 <= len(contract["workloads"]) <= 8
    names = [m["name"] for m in contract["end_to_end"] + contract["per_layer"]]
    assert len(names) == len(set(names))
    setup = next(m for m in contract["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in contract["end_to_end"])
    assert all(m["bound"] <= 0.25 for m in contract["end_to_end"])


def test_printed_metrics_match_contract(contract):
    recs, jobs, stages = _synthetic_pass()
    root = next(r for r in recs if r["name"] == "pass")
    values, _ = layers.pass_metrics("query_mix", recs, root, jobs, stages, {"user_bytes": 1000})
    values.update({k: 1.0 for k in RUNNER_LAYER})
    line = runner.result_line(contract, values, True, True, 3, 0)
    assert [(k, v["unit"]) for k, v in line["metrics"].items()] == [
        (m["name"], m["unit"]) for m in contract["per_layer"]
    ]
    e2e = {"setup_s": 1.0, "run_s": 2.0, "cpu_s": 3.0, "op_p50_s": 0.5, "peak_rss_mb": 900.0}
    line = runner.result_line(contract, e2e, False, True, 3, 0)
    assert [(k, v["unit"]) for k, v in line["metrics"].items()] == [
        (m["name"], m["unit"]) for m in contract["end_to_end"]
    ]
    assert set(line) == {"correct", "attempted", "failed", "metrics"}


def test_missing_metric_is_an_error(contract):
    with pytest.raises(KeyError):
        runner.result_line(contract, {"setup_s": 1.0}, False, True, 1, 0)


# --- seeds --------------------------------------------------------------------

def test_seed_changes_inputs_not_metric_set(contract):
    a = datagen.tables(1, 0.001, 50, 20)
    b = datagen.tables(2, 0.001, 50, 20)
    assert a.keys() == b.keys()
    assert all(a[t].schema == b[t].schema for t in a)
    assert not a["lineitem"].equals(b["lineitem"])
    assert not a["documents"].equals(b["documents"])
    assert datagen.tables(1, 0.001, 50, 20)["lineitem"].equals(a["lineitem"])
    la, _ = datagen.pickup_rows(1, 500)
    lb, _ = datagen.pickup_rows(2, 500)
    assert not np.array_equal(la, lb)
    assert order_for(1) != order_for(2) and sorted(order_for(1)) == sorted(order_for(2))
    # the metric set comes from the contract and the span names, never
    # from the inputs
    recs, jobs, stages = _synthetic_pass()
    root = next(r for r in recs if r["name"] == "pass")
    m1, _ = layers.pass_metrics("query_mix", recs, root, jobs, stages, {"user_bytes": 10})
    m2, _ = layers.pass_metrics("query_mix", recs, root, jobs, stages, {"user_bytes": 99})
    assert m1.keys() == m2.keys()


def test_pickups_hit_the_distinct_target():
    lat, lon = datagen.pickup_rows(7, 1000)
    keys = set(zip(datagen.round3(lat), datagen.round3(lon)))
    assert len(keys) == 1000
    assert len(lat) > 1000  # repeats give weights above 1


def test_round3_is_half_up():
    assert list(datagen.round3(np.array([0.0005, 1.2345, -1.2345, 2.0004]))) == [
        0.001, 1.235, -1.235, 2.0,
    ]


# --- self time ----------------------------------------------------------------

def test_union_length():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([(0, 10)], 2, 4) == 2
    assert union_length([]) == 0


def test_self_time_arithmetic():
    spans = [
        _span(0, "pass", None, 0.0, 10.0),
        _span(1, "a", 0, 1.0, 4.0),
        _span(2, "b", 1, 2.0, 3.0),
        _span(3, "c", 0, 5.0, 9.0),
        # two overlapping pool-thread children of c count once
        _span(4, "d", 3, 5.0, 7.0),
        _span(5, "e", 3, 6.0, 8.0),
    ]
    st = self_times(spans)
    assert st == pytest.approx({0: 3.0, 1: 2.0, 2: 1.0, 3: 1.0, 4: 2.0, 5: 2.0})
    # without concurrency the self times sum to the root's wall
    seq = spans[:4]
    assert sum(self_times(seq).values()) == pytest.approx(10.0)


def test_self_sum_counts_pool_threads_once():
    from tracer import span_tree

    # two pool-thread spans under run_overlapped overlap each other;
    # on the pass's own thread the self times still add up to the wall
    pool = [_span(2, "streaming.sink", 1, 2.0, 5.0), _span(3, "streaming.sink", 1, 3.0, 6.0)]
    for s in pool:
        s.thread = 2
    spans = [_span(0, "pass", None, 0.0, 10.0), _span(1, "execution.run_overlapped", 0, 1.0, 7.0), *pool]
    recs = span_tree(spans, [], [])
    root = recs[0]
    m, _ = layers.pass_metrics("query_mix", recs, root, [], [], {})
    assert m["trace.self_sum_frac"] == pytest.approx(1.0)
    assert m["trace.coverage"] == pytest.approx(0.6)
    # a main-thread child that overlaps its sibling breaks the sum
    spans.append(_span(4, "catalog.load_table", 0, 6.5, 8.0))
    recs = span_tree(spans, [], [])
    m, _ = layers.pass_metrics("query_mix", recs, recs[0], [], [], {})
    assert m["trace.self_sum_frac"] == pytest.approx(1.05)
    assert any("self times" in p for p in runner.trace_problems([m]))


def test_layer_metrics_on_synthetic_pass():
    recs, jobs, stages = _synthetic_pass()
    root = next(r for r in recs if r["name"] == "pass")
    m, missing = layers.pass_metrics("query_mix", recs, root, jobs, stages, {"user_bytes": 1000})
    assert m["session.jobs"] == 6 and m["session.tasks"] == 16
    assert m["plans.build.s"] == pytest.approx(3.5) and m["plans.exec.s"] == pytest.approx(5.0)
    assert m["plans.build.jobs"] == 3 and m["plans.exec.jobs"] == 3
    assert m["plans.build_share"] == pytest.approx(3.5 / 8.5)
    assert m["execution.eager_pin.blocking"] == 1
    assert m["execution.run_overlapped.thunks"] == 2
    assert m["workloads.lloyd_2d.iterations"] == 1
    assert m["streaming.compact.jobs"] == 1
    # jobs run 1.0-1.5, 2.0-2.5, ... 6.0-6.5: 3 s of the 10 s pass
    assert m["session.driver_only_s"] == pytest.approx(7.0)
    # root self time is 0.5 (0-0.5) + 1.0 (9-10) of 10 s
    assert m["trace.coverage"] == pytest.approx(0.85)
    assert m["trace.self_sum_frac"] == pytest.approx(1.0)
    assert runner.trace_problems([m]) == ["traced pass 0: coverage 0.850 < 0.9"]
    assert "plans.build" not in missing and "functions.vector" in missing


# --- wrong outputs raise fail_frac -------------------------------------------

class _Res:
    def __init__(self, scores, cents, best):
        self.scores = dict(scores)
        self.centroids = {k: [tuple(r) for r in c] for k, c in cents.items()}
        self.best_k = best


def test_wrong_kmeans_output_is_a_failure():
    lat, lon = datagen.pickup_rows(3, 400)
    twin = numpy_sweep(lat, lon, seed=3, k_grid=K_GRID)
    scores, cents, best = twin
    assert check_sweep(_Res(scores, cents, best), twin) == []
    shifted = {k: c.copy() for k, c in cents.items()}
    shifted[50][0, 0] += 0.01
    assert check_sweep(_Res(scores, shifted, best), twin)
    wrong_best = K_GRID[0] if best != K_GRID[0] else K_GRID[1]
    assert check_sweep(_Res(scores, cents, wrong_best), twin)
    # one rounding flip of 0.001 is inside the tolerance
    flipped = {k: c.copy() for k, c in cents.items()}
    flipped[50][0, 0] += 0.001
    assert check_sweep(_Res(scores, flipped, best), twin) == []


def test_failed_ops_raise_fail_frac():
    r = harness.PassResult()
    r.op("query", 0.1)
    r.op("query", 0.2, ok=False)
    r.fail("q2: OracleMismatch")
    assert r.attempted == 2 and r.failed == 1 and len(r.ops) == 1
    line = runner.result_line(
        {"end_to_end": [{"name": "run_s", "unit": "s"}], "per_layer": []},
        {"run_s": 1.0}, False, True, r.attempted, r.failed,
    )
    assert line["correct"] is False and line["failed"] / line["attempted"] == 0.5


def test_tail_percentile():
    assert harness.tail_percentile(list(range(19))) is None
    pct, val = harness.tail_percentile([float(i) for i in range(40)])
    assert val == 29.0 and pct == 75.0


# --- wrapper installation -----------------------------------------------------

def test_wrappers_reach_by_value_bindings():
    pytest.importorskip("pyspark")
    from tracer import Tracer

    t = Tracer()
    t.install()
    import hadoop_project_spark.execution as ex
    import hadoop_project_spark.plans.dedup_queries as dq
    import hadoop_project_spark.storage as st

    assert hasattr(ex.eager_pin, "__perfbench_original__")
    # plans modules imported after install bind the wrappers by value
    assert dq.load_table is sys.modules["hadoop_project_spark.catalog"].load_table
    assert hasattr(dq.load_table, "__perfbench_original__")
    assert hasattr(st.STORE.publish_dir, "__perfbench_original__")
    # disabled wrappers pass straight through
    assert ex.run_overlapped([lambda: 1, lambda: 2]) == [1, 2]
    assert t.spans == []
