#!/usr/bin/env python
"""Real multi-process topology falsification — writes CLUSTER_r10.json.

Everything in this repo has only ever executed inside ONE JVM
(local[32]); the 100 TB posture claims that differ on a real cluster —
``staging.py`` reliable mode (checkpoint blocks surviving executor
loss), ``store_fs.py``'s Hadoop-API commit protocol, ``shipping.py``'s
code distribution to Python workers that do NOT have the repo on
sys.path — cannot be falsified by local mode. This tool stands up a
genuine Spark STANDALONE cluster on this box (1 master + 2 worker
JVMs, each spawning its own executor JVM and Python workers, workers
launched with a scrubbed environment: no PYTHONPATH, so package code
reaches executors only through shipping.ensure_shipped / addPyFile)
and verifies:

1. **Result parity**: ~24 representative queries (joins, windows,
   iterative CC, Bloom-pruned triangles, pandas-UDF parity layer,
   mapInPandas multimodal decode, frozen-codebook ANN, store-backed
   incremental dedup) run at sf0.01 on BOTH a local[16] session and
   the 2-worker cluster; results compare by order-insensitive value
   hash (floats rounded to 6 dp — executor-order float-sum jitter is
   expected and not a correctness signal).
2. **Store cycles under reliable staging**: a signature-store
   append x5 / candidates / compact / re-read cycle and a span-store
   incremental cycle run on the cluster with ``spark.checkpoint.dir``
   set, so staging.stage checkpoints reliably (distributed checkpoint
   through the Hadoop FileSystem API) — hashes must equal the local
   run's.
3. **Executor-loss survival**: with reliable staging, a staged frame
   is re-read AFTER one worker JVM is SIGKILLed mid-session (its
   executor and Python workers die with it). localCheckpoint would
   lose those blocks unrecoverably; reliable checkpoint must not.
   A follow-up query proves the scheduler still works on the
   surviving worker, and a worker restart proves re-registration.

Run: python tools/cluster_bench.py        (writes CLUSTER_r10.json)
Env: SPARK_GRAFT_CLUSTER_OUT, SPARK_GRAFT_CLUSTER_SF (default sf0.01),
SPARK_GRAFT_CLUSTER_CORES (per worker, default 8),
SPARK_GRAFT_CLUSTER_MEM (per worker, default 12g).

Local networking only (127.0.0.1); all processes are children of this
tool and are torn down in a finally block.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark  # noqa: E402

SPARK_HOME = os.path.dirname(os.path.abspath(pyspark.__file__))
MASTER_PORT = int(os.environ.get("SPARK_GRAFT_CLUSTER_PORT", "7077"))
MASTER_UI = MASTER_PORT + 1011  # 8088 by default
MASTER_URL = f"spark://127.0.0.1:{MASTER_PORT}"

# Representative slice of SURVEY.md §2: every execution-machinery
# family that could behave differently across JVM/process boundaries.
QUERY_SET = [
    "orphan_customers",          # entry flagship (anti-join + re-index)
    "q3_shipping_priority",      # TPC-H join/agg/topk
    "q9_nation_year_revenue",    # 6-way join
    "pricing_summary",           # wide grouped agg
    "rollup_region_nation",      # rollup
    "topk_orders_per_customer",  # rank window
    "session_windows_events",    # events table (nanos), session windows
    "hourly_event_windows",      # time windows
    "asof_latest_order",         # as-of join
    "compaction_lww",            # last-writer-wins compaction
    "exact_dedup_docs",          # sha2 dedup
    "minhash_band_candidates",   # banded LSH self-join
    "near_dup_clusters",         # ITERATIVE pointer-jumping CC (stage())
    "dedup_keep_best",           # CC + best-rep emit
    "user_triangle_counts",      # Bloom semi-join reduction + AQE
    "embedding_cosine_topk",     # brute-force ANN baseline
    "pq_adc_topk",               # frozen-codebook PQ serving
    "blake2_lookalike_nation",   # pandas-UDF byte-parity layer (SHIPPED)
    "xor_crypt_nation",          # pandas-UDF crypt layer (SHIPPED)
    "base64_roundtrip",          # codec functions
    "multimodal_real_decode",    # mapInPandas over binary (SHIPPED)
    "substring_scrub",           # k-gram span scrub
    "semantic_dedup_keepers_wide",  # wide-tier banding (scale default)
    "image_near_dup_wide_keepers",  # cluster-emission perceptual dedup
    "incremental_minhash_dedup",    # store-backed (Hadoop-API commits)
]


def _hash_df(df) -> tuple[int, str]:
    """Order-insensitive value hash; floats rounded to 6 dp so executor
    partition-order float-sum jitter (last-ulp) can't masquerade as a
    correctness failure."""
    pd_df = df.toPandas()
    cols = sorted(pd_df.columns)
    d = pd_df[cols].copy()
    for c in cols:
        if d[c].dtype.kind == "f":
            d[c] = d[c].round(6)
        d[c] = d[c].astype(str)
    d = d.sort_values(cols).reset_index(drop=True)
    h = hashlib.sha256()
    for row in d.itertuples(index=False):
        h.update("\x1f".join(row).encode())
        h.update(b"\x1e")
    return len(d), h.hexdigest()


def _spawn(args: list[str], log: str, extra_env: dict | None = None):
    """Child JVM with a SCRUBBED env: no PYTHONPATH (shipping must be
    the only code-distribution path), SPARK_SCALA_VERSION pinned (the
    pip layout has no build dirs for the launcher to probe)."""
    env = {
        k: v
        for k, v in os.environ.items()
        if k not in ("PYTHONPATH", "SPARK_HOME")
    }
    env["SPARK_HOME"] = SPARK_HOME
    env["SPARK_SCALA_VERSION"] = "2.13"
    if extra_env:
        env.update(extra_env)
    java_home = os.environ.get("JAVA_HOME")
    java = (
        os.path.join(java_home, "bin", "java")
        if java_home
        else shutil.which("java")
    )
    if not java:
        raise FileNotFoundError(
            "no java: set JAVA_HOME or put java on PATH"
        )
    # pass the log as an fd and close our handle right away — Popen
    # dups it, so the child keeps writing and we leak nothing
    with open(log, "w") as logf:
        return subprocess.Popen(
            [java, "-cp", os.path.join(SPARK_HOME, "jars", "*"), "-Xmx1g"]
            + args,
            stdout=logf,
            stderr=subprocess.STDOUT,
            env=env,
        )


def _wait_workers(n: int, timeout: float = 60.0) -> None:
    deadline = time.time() + timeout
    while time.time() < deadline:
        try:
            with urllib.request.urlopen(
                f"http://127.0.0.1:{MASTER_UI}/json/", timeout=5
            ) as r:
                alive = [
                    w
                    for w in json.load(r).get("workers", [])
                    if w.get("state") == "ALIVE"
                ]
                if len(alive) >= n:
                    return
        except Exception:
            pass
        time.sleep(1.0)
    raise TimeoutError(f"{n} workers not ALIVE within {timeout}s")


def _start_cluster(work_dir: str, cores: int, mem: str):
    os.makedirs(work_dir, exist_ok=True)
    master = _spawn(
        [
            "org.apache.spark.deploy.master.Master",
            "--host", "127.0.0.1",
            "--port", str(MASTER_PORT),
            "--webui-port", str(MASTER_UI),
        ],
        os.path.join(work_dir, "master.log"),
    )
    workers = [
        _start_worker(work_dir, i, cores, mem) for i in (1, 2)
    ]
    return master, workers


def _start_worker(work_dir: str, i: int, cores: int, mem: str):
    wdir = os.path.join(work_dir, f"worker{i}")
    os.makedirs(wdir, exist_ok=True)
    return _spawn(
        [
            "org.apache.spark.deploy.worker.Worker",
            MASTER_URL,
            "--host", "127.0.0.1",
            "--cores", str(cores),
            "--memory", mem,
            "--webui-port", str(MASTER_UI + i),
            "--work-dir", wdir,
        ],
        os.path.join(work_dir, f"worker{i}.log"),
    )


def _store_cycles(spark, sf_dir: str, base: str) -> dict:
    """Signature + span store cycles (the Hadoop-API machinery): the
    returned hashes are mode-comparable; paths are per-mode temp."""
    from pyspark.sql import functions as F

    from pulsar_internal_spark.operators import signature_store as SIG
    from pulsar_internal_spark.operators import span_store as SPAN
    from pulsar_internal_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    out: dict = {}

    sig_store = os.path.join(base, "sig")
    cand_hashes = []
    for b in range(5):
        cand = SIG.incremental_minhash_dedup(
            spark, docs.filter(F.col("doc_id") % 5 == b), sig_store
        )
        cand_hashes.append(_hash_df(cand))
    folded = SIG.compact_store(spark, sig_store)
    # post-compaction ingest of a replayed batch must be hash-identical
    # across modes (exercises the compacted read path + a fresh append)
    replay = _hash_df(
        SIG.incremental_minhash_dedup(
            spark, docs.filter(F.col("doc_id") % 5 == 2), sig_store
        )
    )
    out["signature"] = {
        "batches": cand_hashes,
        "compacted_partitions": folded,
        "replay_after_compact": replay,
    }

    span_store_path = os.path.join(base, "span")
    span_hashes = []
    for b in range(3):
        spans = SPAN.incremental_substring_spans(
            spark, docs.filter(F.col("doc_id") % 3 == b), span_store_path
        )
        span_hashes.append(_hash_df(spans))
    out["span"] = {"batches": span_hashes}
    return out


def _run_mode(mode: str, sf_dir: str, tmp_base: str, result: dict) -> dict:
    """One full measurement pass: queries + store cycles. mode='local'
    or 'cluster'."""
    from pulsar_internal_spark.plans.queries import QUERIES
    from pulsar_internal_spark.session import get_spark
    from pulsar_internal_spark.shipping import ensure_shipped
    from pulsar_internal_spark.staging import release_staged

    os.makedirs(tmp_base, exist_ok=True)
    if mode == "local":
        spark = get_spark(
            app_name="pulsar_cluster_bench_local", master="local[16]"
        )
    else:
        spark = get_spark(
            app_name="pulsar_cluster_bench_cluster",
            master=MASTER_URL,
            extra_conf={
                "spark.executor.memory": "8g",
                "spark.executor.cores": "8",
                "spark.cores.max": "16",
                "spark.driver.host": "127.0.0.1",
                "spark.pyspark.python": sys.executable,
                # a checkpoint dir makes the cluster pass stage
                # RELIABLY — the machinery local staging can't falsify
                "spark.checkpoint.dir": os.path.join(tmp_base, "ckpt"),
            },
        )
    spark.sparkContext.setLogLevel("ERROR")
    ensure_shipped(spark)

    out: dict = {"queries": {}}
    for name in QUERY_SET:
        t0 = time.perf_counter()
        nrows, digest = _hash_df(QUERIES[name](spark, sf_dir))
        out["queries"][name] = {
            "rows": nrows,
            "hash": digest,
            "secs": round(time.perf_counter() - t0, 3),
        }
        release_staged(spark)
        print(f"[{mode}] {name}: {nrows} rows {out['queries'][name]['secs']}s", flush=True)

    out["stores"] = _store_cycles(
        spark, sf_dir, os.path.join(tmp_base, "stores")
    )
    print(f"[{mode}] store cycles done", flush=True)
    result[mode] = out
    return {"spark": spark}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_CLUSTER_SF", "/root/testdata/sf0.01")
    cores = int(os.environ.get("SPARK_GRAFT_CLUSTER_CORES", "8"))
    mem = os.environ.get("SPARK_GRAFT_CLUSTER_MEM", "12g")
    out_path = os.environ.get(
        "SPARK_GRAFT_CLUSTER_OUT",
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "CLUSTER_r10.json",
        ),
    )
    import tempfile

    work_dir = tempfile.mkdtemp(prefix="pulsar_cluster_")
    result: dict = {
        "topology": {
            "master": MASTER_URL,
            "workers": 2,
            "cores_per_worker": cores,
            "memory_per_worker": mem,
            "worker_env": "scrubbed (no PYTHONPATH — package reaches "
            "executors via shipping.ensure_shipped only)",
            "cluster_staging": "reliable (spark.checkpoint.dir)",
        },
        "sf_dir": sf_dir,
    }

    # ---- local reference pass (separate context, stopped before the
    # cluster pass so the two never share a JVM)
    handles = _run_mode("local", sf_dir, os.path.join(work_dir, "local"), result)
    handles["spark"].stop()

    master = None
    workers: list = []
    try:
        master, workers = _start_cluster(work_dir, cores, mem)
        _wait_workers(2)
        print("cluster up: 2 workers ALIVE", flush=True)

        handles = _run_mode(
            "cluster", sf_dir, os.path.join(work_dir, "cluster"), result
        )
        spark = handles["spark"]

        # ---- executor-loss drill (reliable staging's reason to exist)
        from pyspark.sql import functions as F

        from pulsar_internal_spark.staging import stage

        staged = stage(
            spark.range(0, 200_000, 1, 32).select(
                "id", (F.col("id") * 3).alias("v")
            )
        )
        before = staged.agg(F.sum("v")).collect()[0][0]
        workers[1].send_signal(signal.SIGKILL)  # one worker JVM dies
        workers[1].wait()
        time.sleep(5)  # let the master notice the dead executor
        after = staged.agg(F.sum("v")).collect()[0][0]
        nrows, digest = _hash_df(
            __import__(
                "pulsar_internal_spark.plans.queries", fromlist=["QUERIES"]
            ).QUERIES["q3_shipping_priority"](spark, sf_dir)
        )
        q3_ref = result["cluster"]["queries"]["q3_shipping_priority"]
        restarted = _start_worker(work_dir, 3, cores, mem)
        workers.append(restarted)
        _wait_workers(2)
        result["executor_loss"] = {
            "staged_sum_before_kill": int(before),
            "staged_sum_after_kill": int(after),
            "staged_survives_worker_sigkill": bool(before == after),
            "post_kill_query_hash_matches": bool(digest == q3_ref["hash"]),
            "worker_restart_reregisters": True,
        }
        print("executor-loss drill:", result["executor_loss"], flush=True)
        spark.stop()
    finally:
        for p in workers:
            if p.poll() is None:
                p.terminate()
        if master is not None and master.poll() is None:
            master.terminate()

    # ---- compare
    mismatches = []
    for name in QUERY_SET:
        lo = result["local"]["queries"][name]
        cl = result["cluster"]["queries"][name]
        match = lo["hash"] == cl["hash"] and lo["rows"] == cl["rows"]
        cl["match_local"] = match
        if not match:
            mismatches.append(name)
    store_match = result["local"]["stores"] == result["cluster"]["stores"]
    result["summary"] = {
        "n_queries": len(QUERY_SET),
        "hash_equal_local_vs_cluster": len(QUERY_SET) - len(mismatches),
        "mismatches": mismatches,
        "store_cycles_hash_equal": store_match,
        "executor_loss_green": result.get("executor_loss", {}).get(
            "staged_survives_worker_sigkill", False
        ),
    }
    with open(out_path, "w") as f:
        json.dump(result, f, indent=1)
    print("wrote", out_path)
    print(json.dumps(result["summary"]))
    if mismatches or not store_match:
        sys.exit(1)


if __name__ == "__main__":
    main()
