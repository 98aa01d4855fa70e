"""The four workloads: three batch query mixes and one streaming ingest.

Each batch workload is a fixed list of registered queries; one pass runs
every query once, in an order the seed shuffles, into the ``noop`` sink.
The lists are small subsets of the families each workload stands for,
chosen so that a warm pass takes 2-5 seconds on 4 cores and a whole run
(start, first-hit pass, the measured passes, check) stays under 45
seconds, which the benchmark's time budget requires.
"""

from __future__ import annotations

import os
import random
import shutil
import time

from .stats import assign_drops

# Scans, joins, aggregates, windows and exchanges through Catalyst and
# the scheduler; no Python workers. q11 and the as-of join each stage
# one frame.
RELATIONAL = (
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q11_important_stock",
    "q18_large_volume_customers",
    "asof_latest_order",
    "session_windows_events",
    "cube_event_stats",
)

# Multi-job LLM-data operators: iterative graph and tree loops (one job
# per round) and an importance-weighting pipeline that stages
# intermediate frames between jobs. Together they make 11 stage() calls
# and about 50 jobs a pass.
ITERATIVE_DEDUP = (
    "user_cooccurrence_components",
    "descendants_tree",
    "dsir_importance_weights",
)

# Rows through Python workers (a mapInPandas decoder, a pandas-UDF
# hash) and a wide literal/codegen plan (frozen IVF serving).
VECTORS_MEDIA = (
    "multimodal_png_decode",
    "blake2_lookalike_nation",
    "ivf_cosine_topk",
)

BATCH = {
    "relational": RELATIONAL,
    "iterative_dedup": ITERATIVE_DEDUP,
    "vectors_media": VECTORS_MEDIA,
}
# The workloads BENCHMARK.json names. ``relational`` stays runnable by
# hand but is left out: four workloads do not fit the benchmark's time
# budget at a steady run length (see perfbench/README.md).
WORKLOADS = ("iterative_dedup", "vectors_media", "ingest")
RUNNABLE = (*BATCH, "ingest")

INGEST_DROPS = 2

# Nominal warm pass of each workload on 4 cores, in seconds. A run makes
# ``--seconds`` worth of passes at these times, and at least MIN_PASSES,
# so each operation's median has a middle sample. The count never looks
# at the clock, so a faster engine is measured on as many passes as its
# base, not on more (and warmer) ones.
PASS_S = {
    "relational": 4.0,
    "iterative_dedup": 4.2,
    "vectors_media": 2.5,
    "ingest": 5.0,
}
MIN_PASSES = 3


def passes(workload: str, seconds: float) -> int:
    """The measured window's pass count for ``--seconds``."""
    return max(MIN_PASSES, round(seconds / PASS_S[workload]))


def alternate(n: int) -> list[bool]:
    """Which of ``n`` passes are traced: U T T U U T ..., so a drift over
    the window falls on both sides alike."""
    return [(i % 4) in (1, 2) for i in range(n)]


def pass_order(names: tuple[str, ...], seed: int, pass_no: int) -> list[str]:
    order = list(names)
    random.Random(seed * 1000 + pass_no).shuffle(order)
    return order


def materialize(df) -> None:
    df.write.mode("overwrite").format("noop").save()


class Ingest:
    """Streaming near-dup ingest of seeded document drops.

    Set-up lands the documents as ``INGEST_DROPS`` parquet drops. One
    pass drains them into a fresh signature store with
    ``streaming_minhash_dedup`` (one drop per trigger, ``availableNow``),
    then compacts the store and the candidates sink and consumes the
    sink. The operations whose latency counts are the micro-batches;
    the maintenance steps are timed in the pass record.
    """

    def __init__(self, spark, work: str, docs_parquet: str, seed: int) -> None:
        import pyarrow.parquet as pq

        self.spark = spark
        self.work = work
        self.inbox = os.path.join(work, "inbox")
        docs = pq.read_table(docs_parquet, columns=["doc_id", "text"])
        self.docs_parquet = docs_parquet
        self.n_docs = docs.num_rows
        self.text_bytes = sum(len(t.encode()) for t in docs.column("text").to_pylist())
        ids = docs.column("doc_id").to_pylist()
        self.drops = assign_drops(seed, ids, INGEST_DROPS)
        self._docs = docs
        self._pass = 0

    def land(self) -> None:
        """Write the drops (the ingest backlog)."""
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        os.makedirs(self.inbox, exist_ok=True)
        for i, ids in enumerate(self.drops):
            part = self._docs.filter(pc.is_in(self._docs.column("doc_id"), pa.array(ids)))
            pq.write_table(part, os.path.join(self.inbox, f"drop-{i:03d}.parquet"))

    def run_pass(self, on_op) -> dict:
        """One drain + compaction + consume pass. ``on_op(name, seconds)``
        is told every micro-batch. Returns the pass record (wall, pairs,
        streaming progress, store figures)."""
        from pulsar_internal_spark.operators import signature_store as sig

        spark = self.spark
        d = os.path.join(self.work, f"pass-{self._pass}")
        self._pass += 1
        store, cands, ckpt = (os.path.join(d, x) for x in ("store", "cands", "ckpt"))
        t0 = time.perf_counter()
        stream = (
            spark.readStream.schema("doc_id BIGINT, text STRING")
            .option("maxFilesPerTrigger", "1")
            .parquet(self.inbox)
        )
        q = sig.streaming_minhash_dedup(
            stream, store, cands, ckpt, trigger={"availableNow": True}
        )
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        drain_s = time.perf_counter() - t0
        progress = [
            p for p in q.recentProgress if p.numInputRows and p.numInputRows > 0
        ]
        for p in progress:
            on_op(f"batch-{p.batchId}", p.durationMs["triggerExecution"] / 1e3)
        store_files = _parquet_files(store)
        store_bytes = sum(os.path.getsize(f) for f in store_files)
        last = max((p.batchId for p in progress), default=0)

        t = time.perf_counter()
        sig.compact_store(spark, store)
        compact_store_s = time.perf_counter() - t
        t = time.perf_counter()
        sig.compact_sink_batches(spark, cands, upto_batch=last)
        compact_sink_s = time.perf_counter() - t
        t = time.perf_counter()
        pairs = sig.read_candidates_sink(spark, cands).select("id_a", "id_b").toPandas()
        consume_s = time.perf_counter() - t
        wall = time.perf_counter() - t0
        files_after = len(_parquet_files(store))
        shutil.rmtree(d, ignore_errors=True)
        return {
            "wall_s": wall,
            "drain_s": drain_s,
            "pairs": {(int(a), int(b)) for a, b in zip(pairs.id_a, pairs.id_b)},
            "progress": [p.durationMs for p in progress],
            "store_files_before": len(store_files),
            "store_files_after": files_after,
            "store_bytes": store_bytes,
            "compact_s": compact_store_s + compact_sink_s,
            "consume_s": consume_s,
        }

    def expected_pairs(self) -> set[tuple[int, int]]:
        """The batch operator over every document: the ingest oracle."""
        from pulsar_internal_spark.operators.dedup import minhash_lsh_candidates

        docs = self.spark.read.parquet(self.docs_parquet)
        got = minhash_lsh_candidates(docs).toPandas()
        return {(int(a), int(b)) for a, b in zip(got.id_a, got.id_b)}


def _parquet_files(root: str) -> list[str]:
    out = []
    for dirpath, _, files in os.walk(root):
        out += [os.path.join(dirpath, f) for f in files if f.endswith(".parquet")]
    return out
