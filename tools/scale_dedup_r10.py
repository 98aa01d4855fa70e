#!/usr/bin/env python
"""Third decade for the HEAVY dedup tier — writes SCALE_r10.json.

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
   until the prediction fits, recording every step.
3. **Run what fits, record work metrics** (same StageMetrics
   methodology as tools/scale_bench.py: noop sink, staged release +
   GC settle, min wall / median bytes).

Workloads: image_near_dup_wide_keepers (fixed 4x16-bit banding — its
sf100 scout is the interesting number: the N^2/2^16 random-collision
term is hamming-filtered BEFORE any exchange, so candidates != shuffle
here; recorded for the mechanism), embedding_near_dup_wide +
semantic_dedup_keepers_wide at the rule-resized plane count,
substring_scrub, and the BUCKETED incremental substring spans
(2-batch split, catalog table — the cadence default since round 10).

Fixtures: tools/gen_scale_fixture.py --factor 100/1000 --out
.scale/sf10 / .scale/sf100 --tables documents,embeddings,events
Run: SPARK_GRAFT_DRIVER_MEM=48g python tools/scale_dedup_r10.py
"""

from __future__ import annotations

import json
import math
import os
import statistics
import sys
import time
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from pulsar_internal_spark.plans import queries as Q  # noqa: E402
from pulsar_internal_spark.plans.queries import QUERIES  # noqa: E402
from pulsar_internal_spark.session import get_spark  # noqa: E402
from pulsar_internal_spark.staging import release_staged  # noqa: E402
from tools.scale_bench import (  # noqa: E402
    StageMetrics,
    _materialize,
    _mb,
    _release_persisted,
)

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
    """The registered incremental_substring_spans workload (2-batch
    doc-id split) on the BUCKETED catalog store — the round-10 cadence
    default. Returns the unioned span frame; the per-call table is
    dropped by the caller via the returned name on spark._scale_tmp."""
    from pulsar_internal_spark.operators import span_store as SS
    from pulsar_internal_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    table = f"kg_scale_{uuid.uuid4().hex[:10]}"
    spark._scale_tmp = table
    mx = docs.agg(F.max("doc_id")).collect()[0][0]
    cut = mx // 2
    parts = [
        SS.incremental_substring_spans_bucketed(
            spark, docs.filter(F.col("doc_id") <= cut), table, batch_id=0
        ),
        SS.incremental_substring_spans_bucketed(
            spark, docs.filter(F.col("doc_id") > cut), table, batch_id=1
        ),
    ]
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

    spark = get_spark(
        app_name="pulsar_internal_spark_scale_dedup_r10",
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.ui.retainedStages": "100000",
            "spark.ui.retainedJobs": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    warm = "/root/testdata/sf0.001"
    for q in ("class_filter_scan", "near_dup_jaccard", "multimodal_real_decode"):
        _materialize(QUERIES[q](spark, warm))
    _release_persisted(spark)
    metrics = StageMetrics(spark)

    path = os.path.join(repo, "SCALE_r10.json")
    if os.path.exists(path):
        # RESUME: rows already measured (and scouts already taken) are
        # kept and skipped — a crashed pass (the sf100 image keepers
        # disk exhaustion that motivated the xwide re-band) costs only
        # its own row, never the finished decade
        with open(path) as f:
            out = json.load(f)
        out.setdefault("scouts", {})
        out.setdefault("decisions", {})
        out.setdefault("queries", {})
    else:
        out = {
            "runs": n_runs,
            "wall_stat": "min of passes; secs_all = raw passes",
            "budget_gb": budget / GB,
            "target_occupancy": TARGET_OCCUPANCY,
            "scouts": {},
            "decisions": {},
            "queries": {},
        }

    def measure(name: str, run, sf: str, sf_dir: str) -> None:
        rec = out["queries"].setdefault(
            name,
            {"secs": {}, "secs_all": {}, "shuffle_mb": {}, "input_mb": {},
             "spill_mb": {}, "disk_spill_mb": {}},
        )
        if sf in rec["secs"]:
            print(f"skip {name} {sf}: already measured", flush=True)
            return
        skips = os.environ.get("SPARK_GRAFT_DEDUP_SKIP", "")
        if f"{name}:{sf}" in skips.split(","):
            print(f"skip {name} {sf}: SPARK_GRAFT_DEDUP_SKIP", flush=True)
            return
        secs, byts = [], []
        for _ in range(n_runs):
            before = metrics.snapshot()
            t0 = time.perf_counter()
            _materialize(run(spark, sf_dir))
            secs.append(round(time.perf_counter() - t0, 3))
            byts.append(metrics.diff(before))
            tmp = getattr(spark, "_scale_tmp", None)
            if tmp:
                spark.sql(f"DROP TABLE IF EXISTS {tmp}")
                spark._scale_tmp = None
            _release_persisted(spark)
        med = {k: statistics.median(b[k] for b in byts) for k in byts[0]}
        rec["secs"][sf] = min(secs)
        rec["secs_all"][sf] = secs
        rec["shuffle_mb"][sf] = _mb(med["shuffle_bytes"])
        rec["input_mb"][sf] = _mb(med["input_bytes"])
        rec["spill_mb"][sf] = _mb(med["spill_bytes"])
        rec["disk_spill_mb"][sf] = _mb(med["disk_spill_bytes"])
        print(name, sf, {k: rec[k][sf] for k in ("secs", "shuffle_mb", "spill_mb", "disk_spill_mb")}, flush=True)
        with open(path, "w") as f:
            json.dump(out, f, indent=1)

    # bytes/candidate from the PREVIOUS decade's measured run of the
    # same plan shape — refreshed per sf below once a run lands
    bytes_per_cand = {"lsh": 370.0, "image": None}

    for sf, d in sf_dirs.items():
        n_vec = spark.read.parquet(os.path.join(d, "embeddings.parquet")).count()

        # ---- embeddings: scout registered knob + rule knob, step to fit
        reg = 12
        ruled = rule_planes(n_vec)
        scouts = out["scouts"].setdefault(sf, {})
        decisions = out["decisions"].setdefault(sf, {})
        tried = []
        chosen = None
        planes = ruled
        for attempt in range(4):
            key = f"lsh_{planes}p"
            if key not in scouts:
                scouts[key] = scout_lsh_candidates(spark, d, planes)
                _release_persisted(spark)
            pred = scouts[key]["candidates"] * bytes_per_cand["lsh"]
            scouts[key]["predicted_pair_exchange_gb"] = round(pred / GB, 2)
            tried.append({"planes": planes, "predicted_gb": round(pred / GB, 2)})
            if pred <= budget:
                chosen = planes
                break
            planes += 1
        # the REGISTERED sf10 knob: scout it too, so the artifact shows
        # why it does or does not run at this decade
        if f"lsh_{reg}p" not in scouts:
            scouts[f"lsh_{reg}p"] = scout_lsh_candidates(spark, d, reg)
            _release_persisted(spark)
        reg_pred = scouts[f"lsh_{reg}p"]["candidates"] * bytes_per_cand["lsh"]
        scouts[f"lsh_{reg}p"]["predicted_pair_exchange_gb"] = round(reg_pred / GB, 2)
        decisions["embedding_wide"] = {
            "registered_planes": reg,
            "registered_runs": bool(reg_pred <= budget),
            "rule_planes": ruled,
            "steps": tried,
            "chosen_planes": chosen,
        }
        with open(path, "w") as f:
            json.dump(out, f, indent=1)

        if reg_pred <= budget:
            measure("embedding_near_dup_wide", QUERIES["embedding_near_dup_wide"], sf, d)
            measure("semantic_dedup_keepers_wide", QUERIES["semantic_dedup_keepers_wide"], sf, d)
            got = out["queries"]["embedding_near_dup_wide"]["shuffle_mb"][sf]
            cands = scouts[f"lsh_{reg}p"]["candidates"]
            if cands:
                bytes_per_cand["lsh"] = max(
                    bytes_per_cand["lsh"], got * 1048576 / cands
                )
        if chosen is not None and chosen != reg:
            measure(f"embedding_near_dup_wide{chosen}", wide_pairs(chosen), sf, d)
            measure(f"semantic_dedup_keepers_wide{chosen}", wide_keepers(chosen), sf, d)

        # ---- image tier: scout BOTH bandings, refuse the saturated
        # one. The first sf100 attempt ran the 4x16 form unguarded and
        # EXHAUSTED THE BOX'S DISK (the N^2 x bands / 2^16
        # random-collision term: 10.9e9 post-cap candidates, buckets
        # at the 4096 cap) — the round's falsification. The gate is
        # candidate count (the hamming filter drops random collisions
        # before any exchange, but the distinct + CC volume still
        # tracks candidates on this fixture).
        cand_budget = float(
            os.environ.get("SPARK_GRAFT_IMAGE_CAND_BUDGET", "1.5e9")
        )
        if "image_wide" not in scouts:
            scouts["image_wide"] = scout_image_candidates(spark, d, 16)
            _release_persisted(spark)
        if "image_xwide" not in scouts:
            scouts["image_xwide"] = scout_image_candidates(spark, d, 21)
            _release_persisted(spark)
        decisions["image"] = {
            "wide_4x16_runs": scouts["image_wide"]["candidates"] <= cand_budget,
            "xwide_3x21_runs": scouts["image_xwide"]["candidates"] <= cand_budget,
            "candidate_budget": cand_budget,
        }
        with open(path, "w") as f:
            json.dump(out, f, indent=1)
        if decisions["image"]["wide_4x16_runs"]:
            measure(
                "image_near_dup_wide_keepers",
                QUERIES["image_near_dup_wide_keepers"], sf, d,
            )
        if decisions["image"]["xwide_3x21_runs"]:
            measure(
                "image_near_dup_xwide_keepers",
                QUERIES["image_near_dup_xwide_keepers"], sf, d,
            )

        # ---- substring tier
        measure("substring_scrub", QUERIES["substring_scrub"], sf, d)
        measure("incremental_substring_spans_bucketed", spans_bucketed, sf, d)

    for name, rec in out["queries"].items():
        if len(rec["secs"]) == 2 and "sf10" in rec["secs"] and "sf100" in rec["secs"]:
            if rec["secs"]["sf10"]:
                rec["factor_10x"] = round(rec["secs"]["sf100"] / rec["secs"]["sf10"], 2)
            if rec["shuffle_mb"]["sf10"]:
                rec["shuffle_factor_10x"] = round(
                    rec["shuffle_mb"]["sf100"] / rec["shuffle_mb"]["sf10"], 2
                )
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    print("wrote", path)
    spark.stop()


if __name__ == "__main__":
    main()
