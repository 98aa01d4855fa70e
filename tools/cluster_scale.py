#!/usr/bin/env python
"""Cluster-mode SCALE spot-check (VERDICT r10 #7) — writes CLUSTER_r11_scale.json.

SCALE_r10's two sf100 refusals (substring_scrub, ~100 GB projected
exchange; embedding wide16, 168 GB predicted pair exchange) both blame
single-box disk, and each refusal note asserts "on a cluster the
exchange spreads across executors' local disks." CLUSTER_r10 proved
CORRECTNESS parity on a real 2-worker standalone cluster; this tool
measures the SCALE half of the claim on the same topology, with each
worker launched with its OWN ``SPARK_LOCAL_DIRS`` scratch directory
and a du-poller recording each worker's peak scratch during the run:

1. ``substring_scrub`` at sf10 (the measured 6.25 GB exchange whose
   16x/decade growth drives the sf100 refusal, SCRUB_DIAG.json): does
   the exchange actually land ~evenly on the two workers' local dirs?
   The per-worker placement split is the quantity the refusal's
   "spreads across executors' local disks" arithmetic needs — if one
   worker carried it all, the cluster would buy nothing.
2. Embedding near-dup verified pairs at ``planes_per_band=18`` at
   sf100 — a knob the single-box capacity rule REFUSED (predicted
   50.22 GB pair exchange > the 40 GB per-box budget; the rule stepped
   16->17->18->19 and registered 19, SCALE_r10
   decisions.sf100.embedding_wide.steps). Run to completion on the
   cluster where each worker carries ~half: the CLUSTER-scale row that
   shows the refusal was a box-budget property, not an operator one.

Honesty note (recorded in-artifact): this box has ONE physical device;
two scratch dirs split the BYTES and the per-JVM shuffle/disk managers,
not spindle bandwidth. What this falsifies is the PLACEMENT claim —
per-executor shuffle files are executor-local and ~evenly split — which
is exactly the input the N-disks arithmetic needs. A free-disk guard
(abort below 8 GB) turns an over-budget run into a measured abort
rather than a box-wide ENOSPC.

Run: SPARK_GRAFT_DRIVER_MEM=16g python tools/cluster_scale.py
Env: SPARK_GRAFT_CSCALE_OUT (artifact), SPARK_GRAFT_CSCALE_PLANES
(default 18), SPARK_GRAFT_CSCALE_SKIP ("scrub_sf10,wide_sf100"),
SPARK_GRAFT_CLUSTER_CORES / _MEM (per worker, default 8 / 40g).

Reference lineage: the workloads are the registered queries (see their
docstrings in plans/queries.py — SURVEY.md §2.4 dedup family); this
tool only changes WHERE they run.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.cluster_bench import (  # noqa: E402
    MASTER_URL,
    _spawn,
    _wait_workers,
    MASTER_PORT,
    MASTER_UI,
)
from tools.measure import RETENTION, measure, settle  # noqa: E402

GB = 1 << 30
FREE_DISK_ABORT_GB = float(os.environ.get("SPARK_GRAFT_CSCALE_MIN_FREE_GB", "8"))


def _du_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path, onerror=lambda e: None):
        for f in files:
            try:
                total += os.lstat(os.path.join(root, f)).st_size
            except OSError:
                pass
    return total


class ScratchPoller(threading.Thread):
    """Polls each worker's SPARK_LOCAL_DIRS scratch every ~2 s; keeps
    the per-dir PEAK over the current window (reset per query) and
    aborts the Spark job group if box free disk crosses the guard."""

    def __init__(self, spark, dirs: dict[str, str]) -> None:
        super().__init__(daemon=True)
        self.spark = spark
        self.dirs = dirs
        self.lock = threading.Lock()
        self.peaks = {k: 0 for k in dirs}
        self.baseline = {k: 0 for k in dirs}
        self.aborted = False
        self.min_free_gb = float("inf")
        self._stop = threading.Event()

    def reset_window(self) -> None:
        with self.lock:
            for k, d in self.dirs.items():
                self.baseline[k] = _du_bytes(d)
                self.peaks[k] = 0

    def window_peaks(self) -> dict[str, int]:
        # one final sample so short windows are never missed
        self._sample()
        with self.lock:
            return dict(self.peaks)

    def _sample(self) -> None:
        free = shutil.disk_usage("/").free
        with self.lock:
            self.min_free_gb = min(self.min_free_gb, free / GB)
            for k, d in self.dirs.items():
                cur = _du_bytes(d) - self.baseline[k]
                if cur > self.peaks[k]:
                    self.peaks[k] = cur
        if free / GB < FREE_DISK_ABORT_GB and not self.aborted:
            self.aborted = True
            try:
                self.spark.sparkContext.cancelAllJobs()
            except Exception:
                pass

    def run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(2.0)

    def stop(self) -> None:
        self._stop.set()


def _start_worker_localdirs(work_dir: str, i: int, cores: int, mem: str,
                            scratch: str):
    os.makedirs(scratch, exist_ok=True)
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
        extra_env={"SPARK_LOCAL_DIRS": scratch},
    )


def main() -> None:
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out_path = os.path.join(
        repo, os.environ.get("SPARK_GRAFT_CSCALE_OUT", "CLUSTER_r11_scale.json")
    )
    planes = int(os.environ.get("SPARK_GRAFT_CSCALE_PLANES", "18"))
    cores = int(os.environ.get("SPARK_GRAFT_CLUSTER_CORES", "8"))
    mem = os.environ.get("SPARK_GRAFT_CLUSTER_MEM", "40g")
    skip = set(
        s for s in os.environ.get("SPARK_GRAFT_CSCALE_SKIP", "").split(",") if s
    )
    sf10 = os.path.join(repo, ".scale", "sf10")
    sf100 = os.path.join(repo, ".scale", "sf100")
    for d in (sf10, sf100):
        if not os.path.isdir(d):
            sys.exit(f"fixture missing: {d} (tools/gen_scale_fixture.py)")

    work_dir = tempfile.mkdtemp(prefix="pulsar_cscale_")
    scratch = {
        "worker1": os.path.join(work_dir, "scratch1"),
        "worker2": os.path.join(work_dir, "scratch2"),
    }
    result: dict = {
        "topology": {
            "master": MASTER_URL,
            "workers": 2,
            "cores_per_worker": cores,
            "memory_per_worker": mem,
            "per_worker_scratch": "separate SPARK_LOCAL_DIRS per worker "
            "(same physical device — this measures PLACEMENT, the input "
            "the N-disks arithmetic needs, not spindle bandwidth)",
            "free_disk_abort_gb": FREE_DISK_ABORT_GB,
        },
        "queries": {},
    }

    master = None
    workers: list = []
    spark = None
    try:
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
            _start_worker_localdirs(work_dir, i, cores, mem, scratch[f"worker{i}"])
            for i in (1, 2)
        ]
        _wait_workers(2)
        print("cluster up: 2 workers ALIVE", flush=True)

        from pulsar_internal_spark.session import get_spark
        from pulsar_internal_spark.shipping import ensure_shipped

        exec_mem = str(max(4, int(mem.rstrip("g")) - 4)) + "g"
        spark = get_spark(
            app_name="pulsar_cluster_scale",
            master=MASTER_URL,
            extra_conf={
                "spark.executor.memory": exec_mem,
                "spark.executor.cores": str(cores),
                "spark.cores.max": str(2 * cores),
                "spark.driver.host": "127.0.0.1",
                "spark.pyspark.python": sys.executable,
                **RETENTION,
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        ensure_shipped(spark)
        poller = ScratchPoller(spark, scratch)
        poller.start()

        def run_one(key: str, df_fn, sf_label: str) -> None:
            poller.reset_window()
            t0 = time.perf_counter()
            row: dict = {"sf": sf_label, "status": "ok", "error": None}
            try:
                row.update(measure(spark, df_fn, 1))
            except Exception as e:  # measured abort is an artifact row
                row["status"] = "aborted_disk_guard" if poller.aborted else "error"
                row["error"] = str(e).split("\n")[0][:300]
                row["secs_min"] = round(time.perf_counter() - t0, 3)
                settle(spark)
            peaks = poller.window_peaks()
            tot = sum(peaks.values()) or 1
            row["scratch_peak_bytes"] = peaks
            row["scratch_split"] = {k: round(v / tot, 3) for k, v in peaks.items()}
            row["min_free_disk_gb_during"] = round(poller.min_free_gb, 1)
            result["queries"][key] = row
            print(key, json.dumps(row), flush=True)

        if "scrub_sf10" not in skip:
            from pulsar_internal_spark.plans.queries import QUERIES

            scrub_sf = os.environ.get("SPARK_GRAFT_CSCALE_SCRUB_SF", "sf10")
            scrub_dir = (
                sf10 if scrub_sf == "sf10"
                else os.path.join(repo, ".scale", scrub_sf)
            )
            run_one(
                "substring_scrub",
                lambda: QUERIES["substring_scrub"](spark, scrub_dir),
                scrub_sf,
            )

        if "wide_sf100" not in skip:
            from pulsar_internal_spark.plans import queries as Q

            result["wide_note"] = (
                f"planes_per_band={planes}: single-box rule refused this "
                "knob at sf100 (predicted 50.22 GB pair exchange > 40 GB "
                "box budget; SCALE_r10 decisions.sf100.embedding_wide."
                "steps) and stepped to 19. On the 2-worker cluster each "
                "executor carries ~half the exchange on its own local "
                "dirs — the refusal is a per-box budget, not an operator "
                "ceiling."
            )
            run_one(
                f"embedding_near_dup_wide{planes}_pairs",
                lambda: Q._lsh_verified_pairs(
                    spark, sf100, planes_per_band=planes, num_bands=8
                ),
                "sf100",
            )

        poller.stop()
        spark.stop()
        spark = None
    finally:
        if spark is not None:
            try:
                spark.stop()
            except Exception:
                pass
        for p in workers:
            if p.poll() is None:
                p.terminate()
        if master is not None and master.poll() is None:
            master.terminate()
        for p in workers + ([master] if master else []):
            try:
                p.wait(timeout=20)
            except Exception:
                pass
        shutil.rmtree(work_dir, ignore_errors=True)

    with open(out_path, "w") as f:
        json.dump(result, f, indent=1)
    print("wrote", out_path)


if __name__ == "__main__":
    main()
