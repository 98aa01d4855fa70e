#!/usr/bin/env python
"""Regenerate EXPLAIN.md: final AQE physical plans for the headline
queries at sf0.01, with the intended plan shape noted per query.

Usage: python tools/gen_explain.py   (writes EXPLAIN.md at repo root)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pulsar_internal_spark.plans.queries import QUERIES  # noqa: E402
from pulsar_internal_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"

HEADLINERS: list[tuple[str, str]] = [
    ("pricing_summary", "TPC-H-style aggregation: pushdown + partial agg + AQE coalesce"),
    ("revenue_by_region", "star join: broadcast dims, single fact shuffle"),
    ("q3_shipping_priority", "3-table star join: semi-joined dim, TakeOrderedAndProject top-k"),
    ("q9_nation_year_revenue", "deep star: fact x 3 broadcast dims, LIKE pruned at the part scan"),
    ("orphan_customers", "anti-join + scalable dense reindex (no single-partition window)"),
    ("compaction_lww", "keyed LWW as ONE hash aggregate (no window)"),
    ("minhash_band_candidates", "LSH band self-join with exchange reuse (signature computed once)"),
    ("embedding_cosine_topk", "broadcast query side; corpus never shuffles"),
    ("embedding_near_dup", "sign-LSH banded blocking; band shuffle carries ids only, vectors re-joined"),
    ("benchmark_contamination", "broadcast benchmark n-gram set; corpus never shuffles on the n-gram"),
    ("winnowing_matches", "winnowing fingerprints: staged k-gram hashes, window minima, hash equi-join"),
    ("top_accounts_limit", "global top-k as TakeOrderedAndProject"),
    ("llm_clean_corpus", "composite dedup->lang->quality pipeline: one shuffle total"),
    ("iscached_probe", "probe via broadcast left-semi: big side streams, never shuffles"),
    ("asof_latest_order", "AS-OF join: tagged union + carry-forward window, one exchange"),
    ("incident_window_counts", "equi-key-less interval join as bucketed hash join (no nested loop)"),
    ("simhash_near_dup", "banded simhash pairing with MOSS stop-band cap (broadcast anti before the self-join)"),
    ("q4_late_shipment_priority", "correlated EXISTS + non-equi residual decorrelated to one LEFT SEMI"),
    ("q6_forecast_revenue", "pure pushdown probe: all three predicates at the parquet scan"),
    ("q16_supplier_part_counts", "NOT IN subquery as null-aware anti join, complaint set broadcast"),
    ("q21_sole_late_supplier", "EXISTS + NOT EXISTS over the same fact: one semi + one anti join"),
    ("multimodal_png_decode", "real PNG inflate+filter decode in Arrow-batched mapInPandas, no shuffle"),
    ("segment_dedup_fraction", "sub-document dedup: segment hash frequency join, partial-agg + AQE-skew-safe (deliberately no window)"),
    ("user_pagerank", "3 power iterations: one edge join + one keyed agg per round, N as broadcast column"),
    ("hypertable_rollup_merge", "continuous aggregate: closed partials + raw tail merged by a final algebraic agg"),
    ("per_source_sample_cap", "hierarchical two-phase top-K: (source, salt) window then exact re-rank of bounded survivors"),
    ("q2_min_cost_supplier", "correlated scalar MIN decorrelated to aggregate+join on the part key; top-100 TakeOrdered"),
    ("q11_important_stock", "HAVING over an uncorrelated scalar: 1-row subquery is the only single-partition exchange"),
    ("incremental_minhash_dedup", "new-batch bands vs persisted signature store: within-batch self-join + new-vs-history equi-join"),
    ("image_near_dup", "perceptual dedup: real BMP decode -> integer aHash -> nibble-banded Hamming equi-join with hot-key cap"),
    ("audio_near_dup", "perceptual audio dedup: real WAV decode -> sign-of-delta fingerprint -> same banded Hamming join"),
    ("video_near_dup", "perceptual video dedup: real AVI decode -> frame-concatenated aHash -> one Hamming band per frame"),
    ("dedup_keep_best", "cluster pipeline + quality join + bounded per-cluster ranking window"),
    ("q12_shipmode_priority", "derived dim columns as codegen projection; IN-filter + date residuals below the join"),
    ("dedup_scrub_segments", "exact-substring scrub: segment freq join + in-aggregate ordered reassembly (no window)"),
    ("dsir_importance_weights", "both unigram LMs from ONE token-grain agg; 1-row totals broadcast; vocab join"),
    ("training_shard_assignment", "deterministic global shuffle via scalable reindex; shards are pure projections"),
    ("countmin_heavy_hitters", "mergeable count-min sketch: d x w SUM cells from one partial-aggregated groupBy"),
    ("user_triangle_counts", "degree-oriented triangle enumeration: wedge equi-join + Bloom-pruned closing-edge join (bit test below the wedge exchange)"),
    ("token_entropy_scores", "entropy as two SUMs over term frequencies (no window, no probability join-back)"),
    ("histogram_value_quantiles", "quantiles from a mergeable 64-bin histogram; windows over sketch cells only"),
    ("rag_retrieve_pack", "RAG read side: ANN top-k -> winner-only hydration -> in-aggregate rank-ordered packing"),
    ("minhash_accuracy_pairs", "sketch-accuracy eval: signature agreement vs exact Jaccard on the bounded candidate set"),
    ("bpe_pair_merges", "tokenizer-induction merge round: map-side combined pair counts, TakeOrdered top-20"),
    ("kmv_distinct_estimates", "KMV distinct sketch: WindowGroupLimit-bounded rank, keyed-aggregate exact count"),
    ("corpus_curation_verdicts", "decision layer: doc-grain signal joins, zero windows, engine-exact thresholds"),
    ("gapfill_hourly_locf", "time-series gapfill: spine exploded from range rows, carry-forward at spine grain"),
    ("gapfill_hourly_interpolate", "linear gap interpolation in exact integer micro-units (FMA/tie-break immune)"),
    ("rolling_7day_customer_revenue", "RANGE-interval rolling frame, DECIMAL money sums, no range self-join"),
    ("tfidf_top_terms", "TF-IDF: doc-frequency agg joined back on the term, top-k per doc via bounded window"),
    ("containment_candidates", "Broder containment: winnowed fingerprint equi-join with drop_hot_keys cap, doc-grain size join"),
    ("near_dup_clusters", "connected components: min-label pointer jumping, one join + one agg per round"),
    ("lsh_bucket_cosine_topk", "banded OR-amplified sign-LSH: staged projections, broadcast query side, distinct-before-rank"),
    ("substring_dup_spans", "exact substring spans: no pair join — kgram-hash agg decides duplication, per-doc islands window"),
    ("substring_scrub", "substring scrub: covered-position explode of non-owned occurrences, anti join, in-aggregate reassembly"),
    ("bpe_encode_tokens", "BPE encode under 6 learned merges: per-round map-side pair counts, narrow per-doc fold rewrite"),
    ("incremental_substring_spans", "incremental substring store: batch signed once (checkpointed), history joined one row per distinct k-gram"),
    ("semantic_dedup_keepers", "SemDeDup: LSH-bucketed cosine pairs -> pointer-jumping components -> keep-one verdict, no corpus-quadratic stage"),
    ("incremental_semantic_pairs", "incremental semantic dedup: sign-LSH bands vs the shared banded store, candidates cosine-verified"),
    ("bigram_lm_xent", "bigram-LM scoring: two map-side-combined LM aggregates, broadcast V, vocabulary-sized scoring join"),
    ("bigram_lm_xent_interp", "interpolated (Jelinek-Mercer) LM: unigram table joined twice (context + target), 1-row broadcast token mass"),
    ("ivf_cosine_topk", "IVF serving: frozen-quantizer argmin cell assignment (narrow array_min, no corpus explode), broadcast probed cells, one top-k window"),
    ("pq_adc_topk", "PQ serving: staged narrow-map argmin encode (array_min over the per-subspace book join — no SortAggregate), keyless broadcast of query ADC tables onto codes, shortlist + rank windows, broadcast-hash re-rank fetch"),
    ("ivfpq_topk", "IVF+PQ combined serving: narrow cell argmin + staged narrow-map encode; probed-cells ADC tables broadcast-hash-join BY CELL (no nested loop); shortlist + rank windows, broadcast re-rank fetch"),
    ("pq_adc_topk_fixedq", "PQ serving at FIXED query count (the scale-artifact variant: per-query cost vs corpus size, not the fraction-Q quadratic workload) — same plan shape as pq_adc_topk"),
    ("ivfpq_topk_fixedq", "IVF+PQ serving at FIXED query count — the second-decade scale datapoint for compound pruning (nprobe/num_cells of the corpus at 8 bytes/vector)"),
    ("image_near_dup_scaled", "perceptual dedup with corpus-derived cluster count (constant ~125-doc clusters): decode + ahash mapInPandas, nibble-banded equi-join, hot-key cap — the linear-output scale variant"),
    ("image_near_dup_wide", "WIDE-fingerprint perceptual dedup (8x8 BMP -> 63-bit ahash, 4 bands x 16 bits = 65k values/band): the form whose banding scales — the 16-bit tier saturates at 64 total buckets"),
    ("image_near_dup_wide_keepers", "cluster-emission perceptual dedup: banded pairs consumed by pointer-jumping CC inside the plan, one verdict row per doc — pair frames never reach the output exchange"),
    ("embedding_near_dup_wide", "wide sign-LSH blocking (8 bands x 12 planes = 32k buckets): candidate volume bucket-bounded where the 2x6 narrow tier measurably exhausted disk at 100x"),
    ("semantic_dedup_keepers_wide", "SemDeDup on the wide banding: capacity-sized candidates -> cosine verify -> CC -> verdict rows, the semantic scale default"),
    ("pq_residual_drift", "index health: planted per-batch drift, relational argmin carrying winner dot/norm terms, exact-integer residual aggregate per batch"),
]


def normalize_plan(plan: str) -> str:
    """Strip run- and session-variant tokens from a physical-plan string
    so its hash is stable across sessions: expression/plan ids, exchange
    reuse ids, partition counts (the test session runs 8 shuffle
    partitions, the generator 32; `RoundRobinPartitioning(N)` from
    `spread()` and `Range (..., splits=N)` from `spark.range` follow
    `sc.defaultParallelism`, i.e. the core count), filesystem paths (sf
    dirs, demo-store uuid tempdirs, checkpoint RDD names), and file-index
    statistics. Only counts go: the exchange node itself, and its place
    in the tree, still enter the hash."""
    import re

    s = plan
    # A FileScan Location value is cut at the same 100 chars, so a path
    # that fits prints as "[file:/...]" while a longer one (a store
    # under a longer TMPDIR) prints as "[file:/...": collapse both forms
    # to one "[PATH]" first, or the hash follows the temp dir's length.
    s = re.sub(r"(Location: \w+\([^)]*\))\[[^\]]*?(?:\]|\.\.\.)", r"\1[PATH]", s)
    # FileScan metadata values (DataFilters/PushedFilters/Location...)
    # are HARD-truncated at 100 chars with a trailing "..." — and the
    # cut position shifts with attribute-id WIDTH (ts#8 vs ts#871),
    # which is a session-global counter. Two sessions with different
    # histories truncate the same list after different partial tokens
    # ("INTERVAL '0..." vs "INTERVA..."), so the truncated content must
    # be canonicalized wholesale BEFORE anything else: a bracket list
    # that ends truncated loses its content entirely, and any other
    # dangling "...token" collapses to TRUNC.
    s = re.sub(r"\[[^\[\]]*\.\.\.", "[TRUNC", s)
    s = re.sub(r"\S*\.\.\.", "TRUNC", s)
    s = re.sub(r"#\d+[A-Za-z]*", "#N", s)
    # lambda variables (higher-order functions: transform/filter/aggregate)
    # are named x_<counter>/y_<counter> with a SESSION-GLOBAL counter, so
    # the same plan built after other queries carries different names —
    # canonicalize them or the hash depends on session history
    s = re.sub(r"\b[a-z]{1,2}_\d+#N", "lv#N", s)
    s = re.sub(r"plan_id=\d+", "plan_id=N", s)
    s = re.sub(r"\[id=#?N?\d*\]", "[id=N]", s)
    s = re.sub(r"\[plan_id=N\]", "[plan_id=N]", s)
    s = re.sub(r"(hashpartitioning|rangepartitioning)\((.*?), \d+\)", r"\1(\2, N)", s)
    s = re.sub(r"coalesce\(\d+\)", "coalesce(N)", s)
    s = re.sub(r"RoundRobinPartitioning\(\d+\)", "RoundRobinPartitioning(N)", s)
    s = re.sub(r"splits=\d+", "splits=N", s)
    s = re.sub(r"(file:)?/[^\s,)\]]*", "PATH", s)
    s = re.sub(r"InMemoryFileIndex\([^)]*\)", "InMemoryFileIndex(N)", s)
    s = re.sub(r"\d+ paths", "N paths", s)
    s = re.sub(r"Statistics\([^)]*\)", "Statistics(N)", s)
    s = re.sub(r"ExistingRDD\[[^\]]*\]", "ExistingRDD[N]", s)
    s = re.sub(r"MapPartitionsRDD\[\d+\]", "MapPartitionsRDD[N]", s)
    s = re.sub(r"\s+", " ", s).strip()
    return s


def initial_plan_string(df) -> str:
    """The STATIC physical plan (pre-AQE-execution) — what code changes
    move; runtime-only AQE decisions are deliberately out of scope for
    the drift hash (the displayed EXPLAIN.md sections still show the
    final executed plans)."""
    return df._jdf.queryExecution().executedPlan().toString()


def plan_hash(df) -> str:
    import hashlib

    return hashlib.sha256(
        normalize_plan(initial_plan_string(df)).encode()
    ).hexdigest()[:16]


def head_stamp(repo: str) -> str:
    """`<short-sha>` of HEAD, suffixed `+dirty` when the worktree has
    uncommitted changes. Convention: the artifact is generated BEFORE the
    commit that includes it, so `_meta.commit` names the PARENT of that
    commit — staleness is enforced by live tests, not by this stamp."""
    import subprocess

    sha = subprocess.run(
        ["git", "rev-parse", "--short", "HEAD"],
        capture_output=True, text=True, cwd=repo,
    ).stdout.strip() or "unknown"
    dirty = subprocess.run(
        ["git", "status", "--porcelain"],
        capture_output=True, text=True, cwd=repo,
    ).stdout.strip()
    return sha + ("+dirty" if dirty else "")


def main() -> None:
    spark = get_spark(app_name="gen_explain")
    spark.sparkContext.setLogLevel("ERROR")
    head = head_stamp(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    out = [
        "# EXPLAIN — headline query plans (sf0.01, final AQE plans)",
        "",
        f"Generated at commit `{head}` — regenerate with",
        "`python tools/gen_explain.py` after plan-affecting changes.",
        "Staleness is ENFORCED, not conventional: EXPLAIN.hashes.json",
        "carries a normalized hash of each section's static physical",
        "plan, and tests/test_explain_drift.py recomputes every hash at",
        "HEAD — a plan change without a regeneration fails the suite.",
        "",
    ]
    hashes: dict[str, str] = {}
    for name, blurb in HEADLINERS:
        df = QUERIES[name](spark, SF_DIR)
        hashes[name] = plan_hash(df)  # static plan BEFORE materialization
        # materialize through the DataFrame's OWN QueryExecution so AQE
        # finalizes IT (a noop write runs a separate QueryExecution and
        # leaves this one isFinalPlan=false — the pre-round-7 sections
        # showed initial plans for that reason); results are small at
        # sf0.01, and the final plan is the one that shows real AQE
        # decisions (coalesced reads, skew splits, reused exchanges)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString().rstrip()
        # keep the plan readable: truncate pathological single lines
        lines = [
            (line if len(line) <= 400 else line[:397] + "...")
            for line in plan.splitlines()
        ]
        out += [f"## {name}", "", f"*{blurb}*", "", "```", *lines, "```", ""]
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(repo, "EXPLAIN.md"), "w") as f:
        f.write("\n".join(out))
    import json

    with open(os.path.join(repo, "EXPLAIN.hashes.json"), "w") as f:
        json.dump({"_meta": {"commit": head}, **hashes}, f, indent=1)
    print(f"wrote EXPLAIN.md + EXPLAIN.hashes.json with {len(HEADLINERS)} plans")


if __name__ == "__main__":
    main()
