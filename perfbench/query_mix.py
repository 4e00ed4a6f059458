"""``query_mix``: registered queries, each ``build()`` plus a
noop-sink execution, in a seed-permuted order over seed-generated
tables.

Two groups. The scan-bound reference/relational group runs few jobs
per query; the build-bound corpus group spends most of its time in
sequenced actions inside ``build()``. Together they cover brute-force
cosine top-k over the Column-form vector expressions and one LSM
ingest-and-serve roundtrip (the only query here that writes). The list
is sized to the benchmark's total time budget: a warm pass takes about
6-9 s on a 4-core host, the checked first pass (oracle checks,
first-time code generation) about 17-24 s.

Every query of the warm-up pass is checked against its DuckDB oracle
through ``quality.oracle.compare_to_oracle``; after every query
``clear_query_state`` must leave no pin behind.
"""

from __future__ import annotations

import time

import datagen
from harness import PassResult

REFERENCE = (
    "pricing_summary",
    "events_hourly_rollup",
    "word_count",
)
CORPUS = (
    "ann_topk_bruteforce",
    # LSM ingest beside a served probe: band-key segments compacted into
    # the served gate state, re-attached and probed (streaming, storage
    # and serving layers)
    "neardup_gate_served_probe",
)
QUERIES = REFERENCE + CORPUS

# Table sizes: TPC-H-ish tables at sf 0.01 (lineitem 60k rows), 500
# documents and 500 embeddings, as the engine's sf0.01 test fixture.
SF = 0.01
N_DOCS = 500
N_EMBEDDINGS = 500


def order_for(seed: int) -> list[str]:
    import random

    names = list(QUERIES)
    random.Random(seed).shuffle(names)
    return names


class QueryMix:
    name = "query_mix"
    op_kinds = ("query",)
    # first runs of each query pay code generation and its oracle check
    warmup_passes = 1

    def make_inputs(self, seed: int, data_dir: str) -> int:
        self.seed = seed
        self.data_dir = data_dir
        self.order = order_for(seed)
        return datagen.write_tables(datagen.tables(seed, SF, N_DOCS, N_EMBEDDINGS), data_dir)

    def setup(self, spark, data_dir: str) -> None:
        from hadoop_project_spark.catalog import TABLES, load_table

        for t in TABLES:
            load_table(spark, data_dir, t)

    def run_pass(self, spark, ctx) -> PassResult:
        from hadoop_project_spark.plans import all_queries

        specs = all_queries()
        out = PassResult()
        t0 = time.perf_counter()
        with ctx.timed_region():
            self._queries(spark, ctx, specs, out)
            out.wall_s = time.perf_counter() - t0
        out.extra = {"order": self.order, "pins_after_clear": out.extra.get("pins_after_clear", 0)}
        return out

    def _queries(self, spark, ctx, specs, out) -> None:
        from hadoop_project_spark.execution import clear_query_state, release_pins
        from hadoop_project_spark.quality.oracle import compare_to_oracle

        for name in self.order:
            spec = specs[name]
            t = time.perf_counter()
            try:
                with ctx.span("plans.build", query=name):
                    df = spec.build(spark, self.data_dir)
                with ctx.span("plans.exec", query=name):
                    if ctx.check:
                        compare_to_oracle(spark, df, spec.oracle, self.data_dir, name=name)
                    else:
                        df.write.format("noop").mode("overwrite").save()
                ok = True
            except Exception as e:  # noqa: BLE001 - a failed query is a failed op
                ok = False
                out.fail(f"{name}: {type(e).__name__}: {e}"[:500])
            clear_query_state(spark)
            out.op("query", time.perf_counter() - t, ok)
            left = release_pins()
            if left:
                out.extra["pins_after_clear"] = out.extra.get("pins_after_clear", 0) + left
                out.fail(f"{name}: {left} pins left after clear_query_state")
