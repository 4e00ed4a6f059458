"""``ingest_serve``: writes beside reads on the LSM segment layers.

One pass ingests the documents table as doc_id-ordered micro-batches
(the seed draws the batch boundaries). Each batch goes through the
postings segment sink and the gated band-key sink (the near-dup
admission gate), and a phrase probe then runs over base ∪ live
postings segments. Compaction folds both segment logs into their
served bases between batches, so the probes see both serving states:
live segments only, and a compacted base plus a live segment.

Checks: the union of the gate's flag partitions must equal
``gate_flags_for_ordered_corpus`` (batches stay doc_id-ordered for
this), and the last probe, over the compacted base plus the last live
segment, must equal the one-shot whole-corpus phrase statistics.

Every pass starts from the same on-disk state: the state root is
removed and the catalog entries dropped before it (untimed).
"""

from __future__ import annotations

import os
import shutil
import time

import datagen
from harness import PassResult

PHRASES = ["table scan", "hash join", "sort merge", "query big part", "join part filter"]
N_DOCS = 600
N_BATCHES = 2
COMPACT_EVERY = 1  # compaction after every batch but the last
INDEX_PREFIX = "pb_idx"
GATE_TABLE = "pb_gate_state"


def batch_cuts(seed: int, n_docs: int, n_batches: int = N_BATCHES) -> list[int]:
    """Seed-drawn doc_id boundaries, each batch 40-60% of an even share
    so per-batch work stays comparable across seeds."""
    rng = datagen.rng_for(seed, "batches")
    share = n_docs / n_batches
    cuts = [0]
    for b in range(1, n_batches):
        cuts.append(int(round(b * share + rng.uniform(-0.2, 0.2) * share)))
    cuts.append(n_docs)
    return cuts


def dir_bytes(root: str) -> int:
    total = 0
    for d, _, files in os.walk(root):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(d, f))
            except OSError:
                pass
    return total


class IngestServe:
    name = "ingest_serve"
    op_kinds = ("ingest", "probe")
    warmup_passes = 1

    def make_inputs(self, seed: int, data_dir: str) -> int:
        self.seed = seed
        self.data_dir = data_dir
        docs = datagen.documents(seed, N_DOCS)
        # user data: the text plus the 8-byte doc_id of every document
        self.user_bytes = sum(len(t.encode()) for t in docs.column("text").to_pylist()) + 8 * N_DOCS
        self.cuts = batch_cuts(seed, N_DOCS)
        return datagen.write_tables({"documents": docs}, data_dir)

    def setup(self, spark, data_dir: str) -> None:
        from hadoop_project_spark.catalog import load_table

        self.docs = load_table(spark, data_dir, "documents").select("doc_id", "text").cache()
        self.docs.count()

    def prepare_checks(self, spark) -> None:
        """Expected answers from the engine's one-shot batch twins."""
        from hadoop_project_spark.operators import invindex as ix
        from hadoop_project_spark.streaming.dedup_gate import gate_flags_for_ordered_corpus

        self.expected_flags = {
            r.doc_id for r in gate_flags_for_ordered_corpus(self.docs).collect() if r.flagged
        }
        self.expected_phrases = sorted(
            tuple(r) for r in ix.phrase_search_stats(self.docs, PHRASES).collect()
        )

    def _reset(self, spark, state: str) -> None:
        from hadoop_project_spark.operators import invindex as ix

        shutil.rmtree(state, ignore_errors=True)
        os.makedirs(state)
        for t in (*ix.index_table_names(INDEX_PREFIX), GATE_TABLE):
            spark.sql(f"DROP TABLE IF EXISTS {t}")

    @staticmethod
    def _live_segments(seg_root: str) -> int:
        from hadoop_project_spark.streaming.index_segments import compacted_through

        floor = compacted_through(seg_root)
        return sum(
            1 for d in os.listdir(seg_root)
            if d.startswith("seg_") and not d.endswith(".staging") and int(d[4:]) > floor
        )

    def run_pass(self, spark, ctx) -> PassResult:
        from hadoop_project_spark.execution import release_pins

        state = os.path.join(ctx.scratch, "ingest_state")
        self._reset(spark, state)
        seg_root = os.path.join(state, "postings")
        bk_root = os.path.join(state, "bandkeys")
        flags_dir = os.path.join(state, "flags")

        out = PassResult()
        live_at_probe = []
        t0 = time.perf_counter()
        with ctx.timed_region():
            got = self._stream(spark, ctx, out, seg_root, bk_root, flags_dir, live_at_probe)
            out.wall_s = time.perf_counter() - t0

        if release_pins() != 0:
            out.fail("pins left after clear_query_state")
        flags = {r.doc_id for r in spark.read.parquet(flags_dir).collect()}
        if flags != self.expected_flags:
            out.fail(f"gate flags: {len(flags ^ self.expected_flags)} docs differ from the batch twin")
        if got != self.expected_phrases:
            out.fail(f"phrase stats {got} differ from one-shot {self.expected_phrases}")
        out.extra.update({
            "space_amp": dir_bytes(state) / self.user_bytes,
            "live_segments_at_probe": live_at_probe,
            "flagged": len(flags),
            "user_bytes": self.user_bytes,
        })
        return out

    def _stream(self, spark, ctx, out, seg_root, bk_root, flags_dir, live_at_probe):
        """The timed part of a pass; returns the last probe's rows."""
        from pyspark.sql import functions as F

        from hadoop_project_spark.execution import clear_query_state
        from hadoop_project_spark.operators import invindex as ix
        from hadoop_project_spark.streaming.index_segments import (
            compact_segments,
            make_postings_segment_sink,
            read_segments,
        )
        from hadoop_project_spark.streaming.lsh_segments import (
            compact_bandkeys_segments,
            make_gated_bandkeys_sink,
        )

        base_table = ix.index_table_names(INDEX_PREFIX)[0]
        postings_sink = make_postings_segment_sink(seg_root)
        gated_sink = make_gated_bandkeys_sink(bk_root, flags_dir, GATE_TABLE)
        compacted = False
        got = None
        for b in range(len(self.cuts) - 1):
            batch = self.docs.filter(
                (F.col("doc_id") >= self.cuts[b]) & (F.col("doc_id") < self.cuts[b + 1])
            )
            t = time.perf_counter()
            postings_sink(batch, b)
            gated_sink(batch, b)
            out.op("ingest", time.perf_counter() - t)
            clear_query_state(spark)

            t = time.perf_counter()
            with ctx.span("serving.probe"):
                live = read_segments(spark, seg_root)
                union = (
                    spark.table(base_table).select("term", "doc_id", "pos").unionByName(live)
                    if compacted else live
                )
                got = sorted(
                    tuple(r) for r in ix.phrase_search_stats_over(union, PHRASES).collect()
                )
            out.op("probe", time.perf_counter() - t)
            live_at_probe.append(self._live_segments(seg_root))
            clear_query_state(spark)

            if b < len(self.cuts) - 2 and (b + 1) % COMPACT_EVERY == 0:
                t = time.perf_counter()
                with ctx.span("streaming.compact"):
                    compact_segments(spark, seg_root, INDEX_PREFIX)
                    compact_bandkeys_segments(spark, bk_root, GATE_TABLE)
                out.extra.setdefault("compact_s", []).append(time.perf_counter() - t)
                compacted = True
                clear_query_state(spark)
        return got
