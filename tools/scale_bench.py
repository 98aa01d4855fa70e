#!/usr/bin/env python
"""Empirical scale-up proof, round 8: wall time AND work metrics for the
heavy-tail queries across two decades of data.

Round 7 (VERDICT r6 #1) measured the first decade — sf0.1 vs the 10x
decorrelated fixture — by wall clock alone, so "nothing super-linear"
was an inference from seconds. Round 8 closes both gaps the r7 verdict
named (#1, #2, #3):

- WORK metrics, not just wall time: per query per sf this records
  the work counters of tools/measure.py (jobs, stages, tasks, input,
  shuffle and spill bytes, read from Spark's status store for the
  jobs of each timed window). A wall factor now decomposes
  mechanically into (work growth) x (overhead amortization): linear
  work shows shuffle_factor ~= data factor with wall factor below it;
  super-linear work shows shuffle_factor ABOVE the data factor
  regardless of how flat the wall looks.
- The SECOND decade: the six worst first-decade scalers (factors
  3.05-5.15, which sf1.0-in-memory could not decompose) plus the q3/q9
  linear controls and the PQ serving tier run additionally at sf10
  (100x = ~60M lineitem rows, ~2.4 GB), the first fixture big enough to
  exercise shuffle spill and multi-GB exchanges on this box.
- The PQ tier (pq_adc_topk / ivfpq_topk / ivfpq_recall_eval) is now IN
  the recorded HEAVY list, so its scale datapoints survive regeneration
  instead of living as prose in BASELINE.md.

Interpretation contract (same as r7, now with the work axis): on
local[32] with fixed parallelism, ~linear work at 10x data bounds the
wall factor at ~10 with fixed overheads pulling it below; a SECOND-
decade wall factor materially above the FIRST-decade factor flags
super-linear growth that amortization was masking — diagnose, don't
explain away. Factors are per-decade (sf1.0/sf0.1 and sf10/sf1.0), both
over 10x data steps, so they are directly comparable.

Methodology is tools/measure.py (bench.py's noop-sink materialization
and warm-ups) with three hardenings, each earned by a measured failure
(see measure.settle and fresh_session): staged-frame release + GC +
worker-pool re-warm between timed windows, one session per pass, and
wall factors from the MIN of the interleaved passes (CPU-steal is
additive noise; raw per-pass seconds are recorded as secs_all). Work
counters are per-pass MEDIANs — engine-deterministic, and AQE can
re-plan, so they are sampled per pass, not assumed constant.

Round 9 closes the two loose ends the r8 verdict named: the five
largest first-decade shuffle transitions (35-81x) join SECOND_DECADE so
their "one-time broadcast->SMJ transition" diagnosis becomes a
measurement, and the whole suite now runs under input-scaled shuffle
partitioning (session.py initialPartitionNum + AQE advisory sizing),
the mitigation for the 13.3+2.8 GB user_triangle_counts spill that
fixed-32 partitions caused at sf10. The artifact records the
partitioning regime (initial_partitions) so spill numbers stay
comparable across rounds.

Writes SCALE_r09.json at the repo root (override: SPARK_GRAFT_SCALE_OUT).
Fixtures:
  python tools/gen_scale_fixture.py                              # sf1.0
  python tools/gen_scale_fixture.py --factor 100 --out .scale/sf10
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.ledger import COUNTERS  # noqa: E402
from pulsar_internal_spark.plans.queries import QUERIES  # noqa: E402
from tools.measure import sample, session, summarize  # noqa: E402

# The heaviest queries from the r6/r7 benches (everything >= ~1.5 s at
# sf0.1), two classic-join controls (q3/q9) as a linear yardstick, and —
# new in r8 — the PQ ANN serving tier (VERDICT r7 #3).
HEAVY = [
    "semantic_dedup_keepers",
    "bpe_encode_tokens",
    "incremental_semantic_pairs",
    "incremental_substring_spans",
    "substring_scrub",
    "dedup_keep_best",
    "user_triangle_counts",
    "incremental_minhash_dedup",
    "audio_near_dup",
    "image_near_dup",
    "video_near_dup",
    "substring_dup_spans",
    "containment_candidates",
    "user_cooccurrence_components",
    "near_dup_clusters",
    "simhash_near_dup",
    "bigram_lm_xent",
    "user_pagerank",
    "ivf_cosine_topk",
    "winnowing_matches",
    "embedding_near_dup",
    "minhash_accuracy_pairs",
    "dedup_scrub_segments",
    "corpus_curation_verdicts",
    "tfidf_top_terms",
    "q21_sole_late_supplier",
    "q3_shipping_priority",
    "q9_nation_year_revenue",
    "pq_adc_topk",
    "ivfpq_topk",
    "ivfpq_recall_eval",
    "pq_adc_topk_fixedq",
    "ivfpq_topk_fixedq",
    "image_near_dup_scaled",
    "image_near_dup_wide",
    "image_near_dup_wide_keepers",
    "embedding_near_dup_wide",
    "semantic_dedup_keepers_wide",
]

# Second-decade tier (VERDICT r7 #1): the >=3x first-decade scalers whose
# factors could not yet be decomposed into work vs amortization, the two
# linear controls, and the PQ serving pair. The PQ tier runs its FIXEDQ
# variants here: the fraction-Q originals define the query set as 1% of
# the corpus, so their scan is 0.01 N^2 — at sf10 that quadratic
# WORKLOAD definition (400M scored pairs, 13 GB shortlist-sort spill)
# drowns the serving-cost signal the second decade exists to measure.
# Fixed Q isolates per-query cost vs corpus size, the production
# serving question; the fraction-Q forms still run both first-decade
# SFs above for r7 comparability.
#
# Round 9 (VERDICT r8 #1) asked for second-decade datapoints on the
# five queries whose first-decade shuffle factors (35-81x) were still
# explained only by ANALOGY to the q3 broadcast->SMJ-transition
# control. The perceptual pair (video/audio) joined the tier below.
# The three EMBEDDING-family queries (semantic_dedup_keepers,
# embedding_near_dup, incremental_semantic_pairs) got their answer the
# hard way: their 2 x 6-plane sign-LSH banding has 128 buckets total,
# candidate volume is quadratic once buckets saturate, and the sf10
# verify join EXHAUSTED THE BOX'S FREE DISK (~60 GB written where
# linear behavior predicts ~3 GB) — a REAL super-linear plan, the
# fingerprint-capacity lesson in embedding space. They are therefore
# measured at the first decade only (still in HEAVY), and the tier
# carries their scale replacements: the wide 8 x 12-plane forms
# (embedding_near_dup_wide / semantic_dedup_keepers_wide), whose
# banding is sized by the OPERATIONS.md capacity rule.
SECOND_DECADE = [
    "simhash_near_dup",
    "image_near_dup",
    "incremental_substring_spans",
    "user_triangle_counts",
    "substring_dup_spans",
    "winnowing_matches",
    "q3_shipping_priority",
    "q9_nation_year_revenue",
    "pq_adc_topk_fixedq",
    "ivfpq_topk_fixedq",
    "image_near_dup_scaled",
    "image_near_dup_wide",
    "video_near_dup",
    "audio_near_dup",
    "image_near_dup_wide_keepers",
    "embedding_near_dup_wide",
    "semantic_dedup_keepers_wide",
]

def main() -> None:
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sf_dirs = {
        "sf0.1": os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
        "sf1.0": os.environ.get(
            "SPARK_GRAFT_SF10_DIR", os.path.join(repo, ".scale", "sf1.0")
        ),
        "sf10": os.environ.get(
            "SPARK_GRAFT_SF100_DIR", os.path.join(repo, ".scale", "sf10")
        ),
    }
    have_sf10 = os.path.isdir(sf_dirs["sf10"])
    if not have_sf10:
        print(
            f"sf10 fixture missing at {sf_dirs['sf10']} — second decade skipped",
            file=sys.stderr,
        )
    n_runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))

    def fresh_session():
        """One SESSION PER PASS: each pass is an independent trial with
        a fresh heap and a fresh status store. A single long-lived
        session accumulates unreclaimable driver/JVM state across ~300
        heavy materializations (listener stores, shuffle/broadcast
        cleanup backlogs) — measured as a pass-3 executor OOM on the
        13-GB-spill sf10 query that passes 1-2 ran fine, even with the
        per-measurement unpersist+GC settle in place."""
        return session("pulsar_internal_spark_scale_bench")

    def plan(name: str) -> list[str]:
        sfs = ["sf0.1", "sf1.0"]
        if have_sf10 and name in SECOND_DECADE:
            sfs.append("sf10")
        return sfs

    samples: dict[str, dict[str, list]] = {
        n: {sf: [] for sf in plan(n)} for n in HEAVY
    }
    initial_partitions = None
    for r in range(n_runs):
        spark = fresh_session()
        # record the round-9 input-scaled partitioning conf in the
        # artifact: spill numbers are only comparable across rounds
        # with the partitioning regime they ran under
        initial_partitions = spark.conf.get(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
        )
        for name in HEAVY:
            line = [f"pass {r + 1}/{n_runs} {name}:"]
            for sf in plan(name):
                s = sample(spark, lambda: QUERIES[name](spark, sf_dirs[sf]))
                samples[name][sf].append(s)
                line.append(f"{sf}={s['secs']:.2f}s")
            print(" ".join(line), file=sys.stderr, flush=True)
        spark.stop()

    # WALL factors are computed from the MIN of the interleaved passes,
    # not the median: this shared host lands multi-second CPU-steal
    # pauses on random passes (measured: the same query at the same SF
    # swinging 1.8 s / 5.2 s / 8.7 s across an otherwise-idle run), and
    # with 3 passes a median absorbs only ONE hit. Steal is strictly
    # ADDITIVE noise, so min is the consistent estimator of the true
    # cost at each SF — and an inflated small-SF denominator would
    # FLATTER the factor, which is the dishonest direction for a scale
    # proof. Every pass's raw seconds are recorded (secs_all) so any
    # other statistic can be recomputed from the artifact. Work counters
    # are medians: they are engine-deterministic, not steal-sensitive.
    out: dict = {
        "runs": n_runs,
        "wall_stat": "min of passes (steal-robust); secs_all = raw passes",
        "initial_partitions": initial_partitions,
        "sf_dirs": {k: v for k, v in sf_dirs.items() if k != "sf10" or have_sf10},
        "second_decade": sorted(SECOND_DECADE) if have_sf10 else [],
        "queries": {},
    }
    for name in HEAVY:
        q: dict = {"secs": {}, "secs_all": {}, **{k: {} for k in COUNTERS}}
        for sf, ss in samples[name].items():
            cell = summarize(ss)
            q["secs"][sf] = cell["secs_min"]
            q["secs_all"][sf] = cell["secs_all"]
            for k in COUNTERS:
                q[k][sf] = cell[k]
        for fk, a, b in (("factor_10x", "sf0.1", "sf1.0"), ("factor_100x", "sf1.0", "sf10")):
            if b in q["secs"] and q["secs"][a] > 0:
                q[fk] = round(q["secs"][b] / q["secs"][a], 2)
                if q["shuffle_write_bytes"][a] > 0:
                    q["shuffle_" + fk] = round(
                        q["shuffle_write_bytes"][b] / q["shuffle_write_bytes"][a], 2
                    )
        out["queries"][name] = q
    for sf in ("sf0.1", "sf1.0", "sf10"):
        tot = [q["secs"][sf] for q in out["queries"].values() if sf in q["secs"]]
        if tot:
            out[f"total_{sf}"] = round(sum(tot), 2)
            out[f"n_{sf}"] = len(tot)
    path = os.path.join(
        repo, os.environ.get("SPARK_GRAFT_SCALE_OUT", "SCALE_r09.json")
    )
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps({k: v for k, v in out.items() if k != "queries"}))


if __name__ == "__main__":
    main()
