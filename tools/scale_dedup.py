#!/usr/bin/env python
"""The heavy dedup tier one decade up: scout, decide, measure —
resumable.

Rounds 7/8/9 each falsified one "it's linear" assumption at the next
decade (fixture time-bucket densification; fingerprint banding
saturation + the PQ encode SortAggregate; the narrow 2x6 sign-LSH
banding). Round 9's wide tier carried sf10; the capacity rule
(OPERATIONS.md: planes_per_band ~ log2(N / target_occupancy))
explicitly prescribes RE-SIZING per decade, and this tool exercises
that at sf100 (5M docs / 2M vectors) the operational way:

1. **Scout before you join.** For every banded workload the candidate
   volume is computable WITHOUT the pair join: explode to
   (band_idx, key), groupBy, sum n*(n-1)/2 — one linear aggregate.
   The tool scouts each (workload, sf, knob) and converts the EXACT
   candidate count to a predicted pair-exchange size using the
   previous decade's measured bytes/candidate.
2. **Refuse what cannot fit, step the knob by the rule.** A predicted
   exchange above the disk budget (SPARK_GRAFT_SHUFFLE_BUDGET_GB,
   default 40) is recorded as a refusal with its prediction — the
   registered sf10-sized knob is EXPECTED to be refused at sf100,
   that's the capacity rule working — and the tool steps
   planes_per_band up (each +1 halves occupancy and candidate volume)
   until the prediction fits, recording every step. The image tier is
   gated the same way on scouted candidates
   (SPARK_GRAFT_IMAGE_CAND_BUDGET, default 1.5e9).
3. **Run what fits, record work counters** (tools/measure.py: noop
   sink, staged release + GC settle, min wall / median counters).

Workloads: embedding_near_dup_wide + semantic_dedup_keepers_wide at the
registered and the rule-resized plane count; image_near_dup_wide_keepers
(fixed 4x16-bit banding) and image_near_dup_xwide_keepers (3x21-bit);
substring_scrub; and the BUCKETED incremental substring spans (2-batch
split, catalog table — the cadence default since round 10) in its
per-batch-release form.

The image rows run under the coprime grouping
`((doc_id // 1e9) * 9973 + doc_id) % gmod` (operators/multimodal.py,
round 11). The round-10 additive form `(doc_id // 1e9 + doc_id) % gmod`
was diagonal-biased at sf100 — copy indexes (<= 4999) only reached
group ids 0..~6k of 40,000, so buckets held up to 2,000 docs and every
scout measured the fixture, not the operator. Coprime cluster size is
scale-invariant (~125 docs/group at every decade); the 4x16 banding is
still EXPECTED to be refused at sf100 — its N^2 x bands / 2^16
random-collision term is grouping-independent. SCALE_r10.json (its
scouts record the biased fixture) and SCALE_r11.json are the committed
records of the two rounds that ran this workflow.

Fixtures: tools/gen_scale_fixture.py --factor 100/1000 --out
.scale/sf10 / .scale/sf100 --tables documents,embeddings,events
Run: SPARK_GRAFT_DRIVER_MEM=48g python tools/scale_dedup.py
Env: SPARK_GRAFT_DEDUP_SFS (default "sf10,sf100", dirs under .scale/),
SPARK_GRAFT_BENCH_RUNS (default 1), SPARK_GRAFT_SCALE_OUT (artifact,
default SCALE_dedup.json; an existing artifact is resumed),
SPARK_GRAFT_DEDUP_SKIP ("name:sf,..."), SPARK_GRAFT_PAIRS_PARTITIONS.
"""

from __future__ import annotations

import json
import math
import os
import sys
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from perfbench.ledger import COUNTERS  # noqa: E402
from pulsar_internal_spark.plans import queries as Q  # noqa: E402
from pulsar_internal_spark.plans.queries import QUERIES  # noqa: E402
from tools.measure import sample, session, settle, summarize  # noqa: E402

GB = 1 << 30
TARGET_OCCUPANCY = 49  # the r9 wide tier's measured occupancy at sf10


def rule_planes(n_vectors: int, occupancy: int = TARGET_OCCUPANCY) -> int:
    """The OPERATIONS.md capacity rule, as code: planes_per_band ~
    log2(N / target_occupancy). r9's 12 planes at 200k vectors <=> the
    ~49 occupancy this constant pins."""
    return max(1, math.ceil(math.log2(max(n_vectors, 2) / occupancy)))


def scout_lsh_candidates(spark, sf_dir: str, planes: int, bands: int = 8) -> dict:
    """EXACT banded-LSH candidate count without the pair join: one
    linear aggregate over the banded signatures."""
    from pulsar_internal_spark.operators import similarity as sim
    from pulsar_internal_spark.sources.tables import load_table, spread

    emb = spread(load_table(spark, sf_dir, "embeddings"))
    sig = sim.embedding_banded_signatures(
        emb, planes_per_band=planes, num_bands=bands
    )
    row = (
        sig.groupBy("band_idx", "band_key")
        .count()
        .agg(
            F.sum(F.col("count") * (F.col("count") - 1) / 2).alias("cands"),
            F.count("*").alias("buckets"),
            F.max("count").alias("max_bucket"),
        )
        .collect()[0]
    )
    return {
        "planes_per_band": planes,
        "num_bands": bands,
        "candidates": int(row.cands or 0),
        "occupied_buckets": int(row.buckets),
        "max_bucket": int(row.max_bucket or 0),
    }


def scout_image_candidates(spark, sf_dir: str, band_bits: int = 16) -> dict:
    """Post-hot-key-cap candidate volume of an image banding over the
    63-bit aHash (4 x 16-bit = the r9 wide form; 3 x 21-bit = the
    round-10 xwide re-band) — one decode pass + one linear aggregate;
    the pair join never runs."""
    from pulsar_internal_spark.operators import dedup as dd
    from pulsar_internal_spark.operators import multimodal as mm
    from pulsar_internal_spark.sources.tables import load_table, spread

    n_bands = (64 if band_bits == 16 else 63) // band_bits
    docs = spread(load_table(spark, sf_dir, "documents"))
    groups = max(40, docs.count() // 125)
    hashes = mm.image_ahash(mm.attach_group_images_wide(docs, groups=groups))
    narrow = hashes.select(F.col("doc_id").alias("id"), F.col("ahash").alias("h"))
    mask = (1 << band_bits) - 1
    banded = narrow.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        F.shiftright(F.col("h"), b * band_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("band_val"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("band"),
    ).select("id", "band.band_idx", "band.band_val")
    banded = dd.drop_hot_keys(banded, ["band_idx", "band_val"], 4096)
    row = (
        banded.groupBy("band_idx", "band_val")
        .count()
        .agg(
            F.sum(F.col("count") * (F.col("count") - 1) / 2).alias("cands"),
            F.count("*").alias("buckets"),
            F.max("count").alias("max_bucket"),
        )
        .collect()[0]
    )
    return {
        "bands": f"{n_bands}x{band_bits}bit",
        "max_df": 4096,
        "candidates": int(row.cands or 0),
        "occupied_buckets": int(row.buckets),
        "max_bucket": int(row.max_bucket or 0),
    }


def wide_pairs(planes: int):
    def run(spark, sf_dir):
        return Q._lsh_verified_pairs(
            spark, sf_dir, planes_per_band=planes, num_bands=8
        )

    return run


def wide_keepers(planes: int):
    def run(spark, sf_dir):
        from pulsar_internal_spark.sources.tables import load_table

        return Q._cluster_verdicts(
            load_table(spark, sf_dir, "embeddings"),
            "vec_id",
            Q._lsh_verified_pairs(spark, sf_dir, planes_per_band=planes, num_bands=8),
        )

    return run


def spans_bucketed(spark, sf_dir):
    """The registered 2-batch bucketed spans workload in its CADENCE
    shape: each batch's spans are staged EAGERLY and the batch's
    staged k-gram occurrence frame is released before the next batch
    — exactly what the streaming twin does per micro-batch (emit the
    spans sink, release_staged). Keeping BOTH batches' staged k-gram
    frames alive until the final union materializes (the round-10
    form) cannot fit sf100: ~2 x 21 GB of staged occurrence blocks +
    the 15 GB catalog table + the append shuffles concurrently —
    measured 100% disk on the box's ~74 GB of scratch (the round-11
    first attempt). Peak scratch here is ONE batch's k-grams + table +
    shuffle; the spans frames are interval rows, negligible. The
    catalog table (kg_scale_*) is dropped by the caller."""
    from pulsar_internal_spark.operators import span_store as SS
    from pulsar_internal_spark.sources.tables import load_table
    from pulsar_internal_spark.staging import (
        persistent_rdd_ids,
        release_staged,
        stage,
    )

    docs = load_table(spark, sf_dir, "documents")
    table = f"kg_scale_{uuid.uuid4().hex[:10]}"
    mx = docs.agg(F.max("doc_id")).collect()[0][0]
    cut = mx // 2
    batches = [
        docs.filter(F.col("doc_id") <= cut),
        docs.filter(F.col("doc_id") > cut),
    ]
    parts = []
    for bid, b in enumerate(batches):
        b0 = persistent_rdd_ids(spark)
        raw = SS.incremental_substring_spans_bucketed(
            spark, b, table, batch_id=bid
        )
        b1 = persistent_rdd_ids(spark)          # b1 - b0 = this batch's kg
        parts.append(stage(raw))                 # eager: spans computed NOW
        release_staged(spark, keep=b0 | (persistent_rdd_ids(spark) - b1))
    out = parts[0].unionByName(parts[1])
    return out.select(
        "doc_id",
        "span_start",
        "span_end",
        (F.col("span_end") - F.col("span_start") + 1).alias("span_len"),
    )


def main() -> None:
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sfs = os.environ.get("SPARK_GRAFT_DEDUP_SFS", "sf10,sf100").split(",")
    sf_dirs = {sf: os.path.join(repo, ".scale", sf) for sf in sfs}
    for sf, d in sf_dirs.items():
        if not os.path.isdir(d):
            sys.exit(f"{sf} fixture missing at {d} (gen_scale_fixture.py)")
    n_runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "1"))
    budget = float(os.environ.get("SPARK_GRAFT_SHUFFLE_BUDGET_GB", "40")) * GB
    cand_budget = float(os.environ.get("SPARK_GRAFT_IMAGE_CAND_BUDGET", "1.5e9"))
    skips = os.environ.get("SPARK_GRAFT_DEDUP_SKIP", "").split(",")

    spark = session("pulsar_internal_spark_scale_dedup")
    # SPARK_GRAFT_PAIRS_PARTITIONS > 0 pins the banded pair-producing
    # stages' task count (spark.pulsar.pairs.partitions — see
    # SPILL_DIAG_imgxwide_sf100_pairs512.json: sf100 xwide keepers
    # 1,482.8 -> 667.1 s, 95.6 GB spill -> zero, at =512). Default off
    # so rows stay comparable with earlier artifacts unless asked.
    pairs_partitions = os.environ.get("SPARK_GRAFT_PAIRS_PARTITIONS", "0")
    if int(pairs_partitions or 0) > 0:
        spark.conf.set("spark.pulsar.pairs.partitions", pairs_partitions)

    path = os.path.join(
        repo, os.environ.get("SPARK_GRAFT_SCALE_OUT", "SCALE_dedup.json")
    )
    if os.path.exists(path):
        # RESUME: rows already measured (and scouts already taken) are
        # kept and skipped — a crashed pass (the sf100 image keepers
        # disk exhaustion that motivated the xwide re-band) costs only
        # its own row, never the finished decade
        with open(path) as f:
            out = json.load(f)
    else:
        out = {
            "runs": n_runs,
            "wall_stat": "min of passes; secs_all = raw passes",
            "budget_gb": budget / GB,
            "target_occupancy": TARGET_OCCUPANCY,
            "image_candidate_budget": cand_budget,
            "scouts": {},
            "decisions": {},
            "queries": {},
        }

    def save() -> None:
        with open(path, "w") as f:
            json.dump(out, f, indent=1)

    def measure_row(name: str, run, sf: str, sf_dir: str) -> None:
        rec = out["queries"].setdefault(name, {"secs": {}, "secs_all": {}})
        if sf in rec["secs"]:
            print(f"skip {name} {sf}: already measured", flush=True)
            return
        if f"{name}:{sf}" in skips:
            print(f"skip {name} {sf}: SPARK_GRAFT_DEDUP_SKIP", flush=True)
            return
        samples = []
        for _ in range(n_runs):
            samples.append(sample(spark, lambda: run(spark, sf_dir)))
            for t in spark.catalog.listTables():
                if t.name.startswith("kg_scale_"):
                    spark.sql(f"DROP TABLE IF EXISTS {t.name}")
        cell = summarize(samples)
        rec["secs"][sf] = cell["secs_min"]
        rec["secs_all"][sf] = cell["secs_all"]
        for k in COUNTERS:
            rec.setdefault(k, {})[sf] = cell[k]
        print(name, sf, cell, flush=True)
        save()

    def scout(scouts: dict, key: str, fn) -> dict:
        if key not in scouts:
            scouts[key] = fn()
            settle(spark)
            save()
        return scouts[key]

    # bytes/candidate from the PREVIOUS decade's measured run of the
    # same plan shape — refreshed per sf below once a run lands
    lsh_bytes_per_cand = 370.0

    for sf, d in sf_dirs.items():
        scouts = out["scouts"].setdefault(sf, {})
        decisions = out["decisions"].setdefault(sf, {})

        # ---- embeddings: scout rule knob, step to fit
        n_vec = spark.read.parquet(os.path.join(d, "embeddings.parquet")).count()
        reg = 12
        ruled = rule_planes(n_vec)
        tried = []
        chosen = None
        planes = ruled
        for _ in range(4):
            lsh = scout(scouts, f"lsh_{planes}p",
                        lambda: scout_lsh_candidates(spark, d, planes))
            pred = lsh["candidates"] * lsh_bytes_per_cand
            lsh["predicted_pair_exchange_gb"] = round(pred / GB, 2)
            tried.append({"planes": planes, "predicted_gb": round(pred / GB, 2)})
            if pred <= budget:
                chosen = planes
                break
            planes += 1
        # the REGISTERED sf10 knob: scout it too, so the artifact shows
        # why it does or does not run at this decade
        lsh = scout(scouts, f"lsh_{reg}p", lambda: scout_lsh_candidates(spark, d, reg))
        reg_pred = lsh["candidates"] * lsh_bytes_per_cand
        lsh["predicted_pair_exchange_gb"] = round(reg_pred / GB, 2)
        decisions["embedding_wide"] = {
            "registered_planes": reg,
            "registered_runs": bool(reg_pred <= budget),
            "rule_planes": ruled,
            "steps": tried,
            "chosen_planes": chosen,
        }
        save()

        if reg_pred <= budget:
            for name in ("embedding_near_dup_wide", "semantic_dedup_keepers_wide"):
                measure_row(name, QUERIES[name], sf, d)
            got = out["queries"]["embedding_near_dup_wide"].get("shuffle_write_bytes", {})
            if got.get(sf) and lsh["candidates"]:
                lsh_bytes_per_cand = max(lsh_bytes_per_cand, got[sf] / lsh["candidates"])
        if chosen is not None and chosen != reg:
            measure_row(f"embedding_near_dup_wide{chosen}", wide_pairs(chosen), sf, d)
            measure_row(f"semantic_dedup_keepers_wide{chosen}", wide_keepers(chosen), sf, d)

        # ---- image tier: scout BOTH bandings, refuse the saturated
        # one. The first sf100 attempt ran the 4x16 form unguarded and
        # EXHAUSTED THE BOX'S DISK (the N^2 x bands / 2^16
        # random-collision term: 10.9e9 post-cap candidates, buckets
        # at the 4096 cap) — the round's falsification. The gate is
        # candidate count (the hamming filter drops random collisions
        # before any exchange, but the distinct + CC volume still
        # tracks candidates on this fixture).
        wide = scout(scouts, "image_wide", lambda: scout_image_candidates(spark, d, 16))
        xwide = scout(scouts, "image_xwide", lambda: scout_image_candidates(spark, d, 21))
        decisions["image"] = {
            "wide_4x16_runs": wide["candidates"] <= cand_budget,
            "xwide_3x21_runs": xwide["candidates"] <= cand_budget,
            "candidate_budget": cand_budget,
        }
        save()
        if decisions["image"]["wide_4x16_runs"]:
            name = "image_near_dup_wide_keepers"
            measure_row(name, QUERIES[name], sf, d)
        if decisions["image"]["xwide_3x21_runs"]:
            name = "image_near_dup_xwide_keepers"
            measure_row(name, QUERIES[name], sf, d)

        # ---- substring tier
        measure_row("substring_scrub", QUERIES["substring_scrub"], sf, d)
        measure_row("incremental_substring_spans_bucketed", spans_bucketed, sf, d)

    for name, rec in out["queries"].items():
        if "sf10" in rec["secs"] and "sf100" in rec["secs"]:
            if rec["secs"]["sf10"]:
                rec["factor_10x"] = round(rec["secs"]["sf100"] / rec["secs"]["sf10"], 2)
            shuffle = rec.get("shuffle_write_bytes", {})
            if shuffle.get("sf10") and "sf100" in shuffle:
                rec["shuffle_factor_10x"] = round(shuffle["sf100"] / shuffle["sf10"], 2)
    save()
    print("wrote", path)
    spark.stop()


if __name__ == "__main__":
    main()
