#!/usr/bin/env python
"""Streaming-ingest throughput datapoint (VERDICT r8 #4) — writes
STREAM_r09.json.

Batch-vs-streaming EQUIVALENCE is tested for every store, but the
ingest-side COST at production cadence was unmeasured: what a
micro-batch append actually costs as the store grows, and what sink
compaction actually buys on read cost. This bench measures both, each
operation one tools/measure.py window (wall + work counters).

Workload — "ten days of the same feed", derived from the sf10 scale
fixture (its copies are key-shifted decorrelated replicas, so each
batch is new content, not replays):

- documents: 500k docs split into 10 batches of ~50k (sf1.0-sized) by
  copy index — `floor(doc_id / STRIDE) % 10`, so every batch mixes 10
  decorrelated copies;
- embeddings: 200k vectors into 10 batches of 20k the same way.

Per batch it records wall seconds + shuffle-write/input bytes for:

- `append_signature_batch` (MinHash signing + banded store append) and
  the batch's `candidates_for_batch` consume side;
- `append_kgram_batch` (first-seen k-gram registration) and
  `spans_for_batch` (the batch's duplicated-span emission);
- `build_ivf_index` (batch 0, PQ codebooks + health row) then
  `ivf_index_append` batches 1-9 (frozen-quantizer assign + encode +
  health row, health_sample_mod=16 — the sample-sized production
  setting).

The claim under test: per-batch cost stays ~FLAT as history grows
(increment algebra is O(batch x matched), never history-vs-history) —
a rising trend across batches 1-9 is a super-linear ingest bug.

Sink compaction payoff: a candidates sink is fed SINK_BATCHES tiny
micro-batches (the small-file pathology at streaming cadence), read
cost is timed, `compact_sink_batches` folds the consumed partitions,
and read cost is timed again — the before/after number the round-8
maintenance work was argued on. Parquet part-file counts are recorded
alongside so the mechanism (fewer files + fewer partitions listed) is
visible, not inferred.

Run: python tools/stream_bench.py    (~8-12 min on local[32])

Before/after convention: this tool always writes STREAM_r09.json; the
round-9 history-prune comparison kept the pre-prune run committed
there and renamed the post-prune re-run to STREAM_r09_bloom.json (see
BASELINE.md "history bloom prunes").
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from pulsar_internal_spark.operators import signature_store as sig  # noqa: E402
from pulsar_internal_spark.operators import span_store as spans  # noqa: E402
from pulsar_internal_spark.operators import similarity as sim  # noqa: E402
from pulsar_internal_spark.operators import store_fs  # noqa: E402
from tools.measure import measure, session  # noqa: E402

STRIDE = 1_000_000_000  # gen_scale_fixture.py's copy stride
N_BATCHES = 10
SINK_BATCHES = 120


def _count_parquet_files(root: str) -> int:
    n = 0
    for _, _, files in os.walk(root):
        n += sum(1 for f in files if f.endswith(".parquet"))
    return n


def main() -> None:
    sf10 = os.environ.get(
        "SPARK_GRAFT_SF100_DIR", os.path.join(REPO, ".scale", "sf10")
    )
    if not os.path.isdir(sf10):
        sys.exit(f"sf10 fixture missing at {sf10} — run gen_scale_fixture first")
    work = os.path.join(REPO, ".scale", "stream_bench")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)

    spark = session("pulsar_internal_spark_stream_bench")

    docs = spark.read.parquet(f"{sf10}/documents.parquet")
    emb = spark.read.parquet(f"{sf10}/embeddings.parquet")
    batch_col = (F.floor(F.col("doc_id") / STRIDE) % N_BATCHES).alias("_b")
    vbatch_col = (F.floor(F.col("vec_id") / STRIDE) % N_BATCHES).alias("_b")

    out: dict = {
        "n_batches": N_BATCHES,
        "doc_batch_rows": docs.count() // N_BATCHES,
        "vec_batch_rows": emb.count() // N_BATCHES,
        "source": sf10,
    }

    # every operation is one measured window; the settle after each one
    # releases the staged k-gram frame spans_for_batch pins, or ten
    # batches pin ~3.5 GB of dead blocks and later batches pay
    # eviction/GC inside their measurements

    # ---------------- signature store: append + consume per batch
    sig_store = os.path.join(work, "sig_store")
    rows = []
    for b in range(N_BATCHES):
        batch = docs.withColumn("_b", batch_col).filter(F.col("_b") == b).drop("_b")
        append = measure(
            spark,
            lambda: sig.append_signature_batch(spark, batch, sig_store, batch_id=b),
            1,
        )
        cand = measure(spark, lambda: sig.candidates_for_batch(spark, sig_store, b), 1)
        rows.append(
            {
                "batch": b,
                "append_s": append["secs_min"],
                "candidates_s": cand["secs_min"],
                "append_shuffle_write_bytes": append["shuffle_write_bytes"],
                "candidates_shuffle_write_bytes": cand["shuffle_write_bytes"],
                "candidates_input_bytes": cand["input_bytes"],
            }
        )
        print("sig", rows[-1], file=sys.stderr, flush=True)
    out["signature_store"] = rows

    # ---------------- span store: append + span emission per batch
    span_store_path = os.path.join(work, "span_store")
    rows = []
    for b in range(N_BATCHES):
        batch = docs.withColumn("_b", batch_col).filter(F.col("_b") == b).drop("_b")
        append = measure(
            spark,
            lambda: spans.append_kgram_batch(spark, batch, span_store_path, batch_id=b),
            1,
        )
        emitted = measure(
            spark, lambda: spans.spans_for_batch(spark, batch, span_store_path, b), 1
        )
        rows.append(
            {
                "batch": b,
                "append_s": append["secs_min"],
                "spans_s": emitted["secs_min"],
                "append_shuffle_write_bytes": append["shuffle_write_bytes"],
                "spans_shuffle_write_bytes": emitted["shuffle_write_bytes"],
                "spans_input_bytes": emitted["input_bytes"],
            }
        )
        print("span", rows[-1], file=sys.stderr, flush=True)
    out["span_store"] = rows

    # ---------------- IVF index: PQ-carrying build, then appends
    from pulsar_internal_spark.operators.pq_frozen import CODEBOOKS

    ivf_path = os.path.join(work, "ivf_index")
    b0 = emb.withColumn("_b", vbatch_col).filter(F.col("_b") == 0).drop("_b")
    built = measure(
        spark,
        lambda: sim.build_ivf_index(
            b0, ivf_path, num_centroids=16, codebooks=CODEBOOKS,
            health_sample_mod=16,
        ),
        1,
    )
    rows = [
        {
            "batch": 0,
            "build_s": built["secs_min"],
            "shuffle_write_bytes": built["shuffle_write_bytes"],
            "input_bytes": built["input_bytes"],
        }
    ]
    print("ivf", rows[-1], file=sys.stderr, flush=True)
    for b in range(1, N_BATCHES):
        batch = emb.withColumn("_b", vbatch_col).filter(F.col("_b") == b).drop("_b")
        append = measure(
            spark,
            lambda: sim.ivf_index_append(
                spark, batch, ivf_path, batch_id=b, health_sample_mod=16
            ),
            1,
        )
        rows.append(
            {
                "batch": b,
                "append_s": append["secs_min"],
                "shuffle_write_bytes": append["shuffle_write_bytes"],
                "input_bytes": append["input_bytes"],
            }
        )
        print("ivf", rows[-1], file=sys.stderr, flush=True)
    out["ivf_index"] = rows

    # ---------------- sink compaction payoff: read cost before/after
    # feed a candidates sink SINK_BATCHES tiny micro-batches (streaming
    # cadence), then time a full consume before and after compaction
    sink = os.path.join(work, "cand_sink")
    small = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
    pair_src = small.select(
        F.col("doc_id").alias("id_a"),
        (F.col("doc_id") + 1).alias("id_b"),
        (F.col("doc_id") % SINK_BATCHES).alias("batch_id"),
    )
    feed_t0 = time.perf_counter()
    for b in range(SINK_BATCHES):
        frame = pair_src.filter(F.col("batch_id") == b)
        store_fs.append_batch(sink, lambda _: frame, batch_id=b)
    feed_s = round(time.perf_counter() - feed_t0, 3)

    files_before = _count_parquet_files(sink)
    # 3 timed reads, min — reads are steal-sensitive and tiny
    before = measure(spark, lambda: sig.read_candidates_sink(spark, sink), 3)
    compact = measure(
        spark,
        lambda: sig.compact_sink_batches(spark, sink, upto_batch=SINK_BATCHES - 2),
        1,
    )
    files_after = _count_parquet_files(sink)
    after = measure(spark, lambda: sig.read_candidates_sink(spark, sink), 3)
    out["sink_compaction"] = {
        "sink_batches": SINK_BATCHES,
        "feed_s_total": feed_s,
        "parquet_files_before": files_before,
        "parquet_files_after": files_after,
        "read_s_before": before["secs_min"],
        "read_s_after": after["secs_min"],
        "reads_all": {"before": before["secs_all"], "after": after["secs_all"]},
        "compact_s": compact["secs_min"],
        "watermark": SINK_BATCHES - 2,
    }
    print("sink", out["sink_compaction"], file=sys.stderr, flush=True)

    path = os.path.join(REPO, "STREAM_r09.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"wrote": path}))


if __name__ == "__main__":
    main()
