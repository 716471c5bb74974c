"""N vs 4N executor scaling evidence (BASELINE.json north rule), protocol v2.

The criterion is throughput scaling from N to 4N EXECUTORS. An executor
is a separate JVM with its own heap, GC and Python workers, so each one
here is a single-core Spark process pinned with ``taskset`` to its own
core, and

    pair_eff = (tps_4N / tps_N) / 4

is taken within each interleaved (low, high) pair of level runs. The
criterion is the pooled per-pair median over every pair ever recorded
in the pool file; no pair is discarded.

Protocol v2 (BENCH/BASELINE.md has the v1 records and the diagnosis
that led here):

* the corpus is generated once (datagen seed=7, body_scale=8 pages) and
  written as 32 shard units; executors CLAIM units dynamically through
  O_CREAT|O_EXCL marker files, as Spark hands tasks out, so a straggler
  delays the window by at most one unit;
* equal-duration windows: the high level runs 4 passes over the corpus,
  so each process executes ~16 units at both levels and both windows
  see the same exposure to hypervisor steal bursts;
* each executor warms up (JIT/codegen) on two units, then waits for a
  GO file; the measured window is GO -> last executor DONE, written
  before JVM teardown;
* register-spin loads occupy every core the level does not use, so
  both levels run at the same number of active cores (same clocks);
* each level run records /proc/stat steal and iowait deltas and the
  per-process finish spread, so a polluted window shows in the record.

Measured job: pages -> Arrow-batched extraction -> (subj, pred, obj)
triples -> count, the BASELINE.json "triples/sec" metric.

Usage: python scripts/scaling_bench.py [n_low=2] [n_pages=250000]
           [n_reps=3] [window=A]
SPARK_GRAFT_POOL_FILE names the pool record (relative to BENCH/, or an
absolute path); pairs are appended after each one completes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
import time
from datetime import datetime, timezone

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from gossiphs_spark.session import driver_memory  # noqa: E402

TOTAL_CORES = os.cpu_count() or 1
N_SHARDS = 32
HIGH_PASSES = 4

PREPARE = r"""
import sys
sys.path.insert(0, {repo!r})
from pyspark.sql import functions as F
from gossiphs_spark.datagen import pages_df_dist
from gossiphs_spark.session import bench_session
spark = bench_session({root!r}, cores={cores}, app_name="scaling_prepare")
pages, _ = pages_df_dist(spark, n_pages={n_pages}, seed=7,
                         partitions=3 * {cores}, body_scale=8)
n = {n_shards}
pages = pages.withColumn("_shard", F.crc32(F.col("url")) % n)
# shard dirs land at {{root}}/_shard={{s}}
(pages.repartition(n, "_shard").write.mode("overwrite")
 .partitionBy("_shard").parquet({root!r}))
print("PREPARED")
spark.stop()
"""

# One "executor": a single-core JVM with its share of the host's memory.
# Warms up on two statically assigned units (JIT/codegen), signals READY,
# busy-waits for GO, then CLAIMS units from the shared queue until it is
# drained, and writes its DONE file (triples + timestamp) BEFORE JVM
# teardown so the measured window never includes spark.stop().
EXECUTOR = r"""
import json, os, sys, time
sys.path.insert(0, {repo!r})
os.environ["SPARK_GRAFT_DRIVER_MEM"] = {heap!r}
from gossiphs_spark.session import get_spark
from gossiphs_spark.operators.extract import extract_mentions, triples_of

shards = {shards!r}
n_units = {n_units}
queue_dir = {queue_dir!r}
idx = {idx}
spark = get_spark(app_name="scaling_exec_{idx}", cores=1, shuffle_partitions=2,
                  extra_conf={{
                      "spark.sql.execution.arrow.maxRecordsPerBatch": "8192",
                  }})

def triples_count(path):
    p = spark.read.parquet(path)
    return triples_of(
        extract_mentions(p, columns=("url", "name", "kind", "start_byte"))
    ).count()

for w in range(2):  # warmup: JIT/codegen on two units
    triples_count(shards[(idx * 2 + w) % len(shards)])

open({ready!r}, "w").write("r")
while not os.path.exists({go!r}):
    time.sleep(0.05)

total = 0
done = 0
for u in range(n_units):
    try:
        fd = os.open(os.path.join(queue_dir, f"u{{u}}"),
                     os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        os.close(fd)
    except FileExistsError:
        continue
    total += triples_count(shards[u % len(shards)])
    done += 1
with open({done_path!r}, "w") as f:
    json.dump({{"idx": idx, "triples": total, "units": done,
                "t_done": time.time()}}, f)
spark.stop()
"""


def _counters() -> dict:
    with open("/proc/stat") as f:
        parts = f.readline().split()
    return {
        "steal_ticks": int(parts[8]) if len(parts) > 8 else 0,
        "iowait_ticks": int(parts[5]),
    }


def run_level(n_execs: int, shard_dirs: list[str], passes: int,
              workdir: str) -> dict:
    """Launch n_execs single-core executors over a dynamic queue of
    passes*len(shard_dirs) units; window = GO -> last DONE file."""
    if n_execs > TOTAL_CORES:
        raise ValueError(f"n_execs={n_execs} exceeds {TOTAL_CORES} cores")
    n_units = passes * len(shard_dirs)
    heap = driver_memory(jvms=n_execs)
    tag = f"{n_execs}_{time.time_ns()}"
    go = os.path.join(workdir, f"go_{tag}")
    queue_dir = os.path.join(workdir, f"queue_{tag}")
    os.makedirs(queue_dir)
    spinners = [
        subprocess.Popen(
            ["taskset", "-c", str(c), sys.executable, "-c",
             "while True:\n pass"],
            stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
        )
        for c in range(n_execs, TOTAL_CORES)
    ]
    procs, readies, outfiles, dones = [], [], [], []
    try:
        for i in range(n_execs):
            ready = os.path.join(workdir, f"ready_{tag}_{i}")
            done_path = os.path.join(workdir, f"done_{tag}_{i}")
            outf = os.path.join(workdir, f"out_{tag}_{i}")
            readies.append(ready)
            dones.append(done_path)
            outfiles.append(outf)
            code = EXECUTOR.format(repo=REPO, heap=heap, shards=shard_dirs,
                                   n_units=n_units, queue_dir=queue_dir,
                                   idx=i, ready=ready, go=go,
                                   done_path=done_path)
            # output to FILES, not PIPEs: JVM warmup logs can fill a pipe
            # and deadlock the executor before READY
            with open(outf, "w") as fh:
                procs.append(subprocess.Popen(
                    ["taskset", "-c", str(i), sys.executable, "-c", code],
                    stdout=fh, stderr=subprocess.STDOUT,
                ))
        deadline = time.time() + 1800
        while not all(os.path.exists(r) for r in readies):
            if time.time() > deadline:
                raise RuntimeError("executors never became ready")
            for p, outf in zip(procs, outfiles):
                if p.poll() is not None:
                    raise RuntimeError(
                        f"executor died in warmup: {open(outf).read()[-2000:]}")
            time.sleep(0.2)
        c0 = _counters()
        t0 = time.time()
        open(go, "w").write("g")
        finish = [None] * n_execs
        while not all(finish):
            for i, d in enumerate(dones):
                if finish[i] is None and os.path.exists(d):
                    finish[i] = time.time() - t0
            if time.time() - t0 > 1800:
                raise RuntimeError("measured window exceeded 1800 s")
            for i, (p, outf) in enumerate(zip(procs, outfiles)):
                if finish[i] is None and p.poll() is not None \
                        and not os.path.exists(dones[i]):
                    raise RuntimeError(
                        f"executor died measured: {open(outf).read()[-2000:]}")
            time.sleep(0.05)
        wall = max(finish)
        c1 = _counters()
        for p in procs:
            p.wait(timeout=300)
    finally:
        for p in spinners:
            p.kill()
        for p in procs:
            if p.poll() is None:
                p.kill()
    total, units = 0, 0
    for d in dones:
        with open(d) as f:
            rec = json.load(f)
        total += rec["triples"]
        units += rec["units"]
    if units != n_units:
        raise RuntimeError(f"queue leak: {units} units done of {n_units}")
    return {
        "execs": n_execs, "passes": passes, "sec": wall, "triples": total,
        "tps": total / wall,
        "finish_spread_sec": round(max(finish) - min(finish), 2),
        "steal_ticks": c1["steal_ticks"] - c0["steal_ticks"],
        "iowait_ticks": c1["iowait_ticks"] - c0["iowait_ticks"],
    }


POOL_PATH = os.path.join(
    REPO, "BENCH",
    os.environ.get("SPARK_GRAFT_POOL_FILE", "procs_runs_v2_r08.json"))


def _git_sha() -> str:
    try:
        return subprocess.run(
            ["git", "-C", REPO, "rev-parse", "--short", "HEAD"],
            capture_output=True, text=True, timeout=30,
        ).stdout.strip()
    except Exception:
        return "unknown"


def _flush_pool(window: str, rep_pair: dict) -> dict:
    """Append one interleaved (low, high) pair; recompute the pooled
    per-pair median (the criterion). Flushed after EVERY pair; no pair
    is ever discarded."""
    pool = {"windows": {}}
    if os.path.exists(POOL_PATH):
        with open(POOL_PATH) as f:
            pool = json.load(f)
    w = pool["windows"].setdefault(
        window, {"sha": _git_sha(), "reps": [],
                 "started": datetime.now(timezone.utc).isoformat()})
    w["reps"].append(rep_pair)
    pair_effs = sorted(
        r["pair_eff"] for ww in pool["windows"].values() for r in ww["reps"])
    n = len(pair_effs)
    med = (pair_effs[n // 2] if n % 2 else
           (pair_effs[n // 2 - 1] + pair_effs[n // 2]) / 2.0)
    pool["pooled"] = {
        "n_pairs": n,
        "pair_effs": [round(e, 3) for e in pair_effs],
        "per_pair_median_eff": round(med, 3),
        "target": 0.8, "meets_target": med >= 0.8,
    }
    with open(POOL_PATH, "w") as f:
        json.dump(pool, f, indent=1)
    return pool["pooled"]


def main() -> None:
    n_low = int(sys.argv[1]) if len(sys.argv) > 1 else 2
    n_pages = int(sys.argv[2]) if len(sys.argv) > 2 else 250_000
    n_reps = int(sys.argv[3]) if len(sys.argv) > 3 else 3
    window = sys.argv[4] if len(sys.argv) > 4 else "A"
    n_high = n_low * 4
    root = os.path.join(tempfile.gettempdir(),
                        f"scaling_shards_v2_{n_pages}_{N_SHARDS}")

    if not (
        os.path.exists(os.path.join(root, "_SUCCESS"))
        and all(os.path.exists(os.path.join(root, f"_shard={s}"))
                for s in range(N_SHARDS))
    ):
        proc = subprocess.run(
            [sys.executable, "-c",
             PREPARE.format(repo=REPO, n_pages=n_pages, n_shards=N_SHARDS,
                            root=root, cores=TOTAL_CORES)],
            capture_output=True, text=True, timeout=3600,
        )
        if "PREPARED" not in proc.stdout:
            raise RuntimeError(f"prepare failed: {proc.stderr[-3000:]}")

    shard_dirs = [os.path.join(root, f"_shard={s}") for s in range(N_SHARDS)]
    # prime the page cache once so pair 1's low level is not the only
    # cold reader (both levels then see identical cache state)
    for d in shard_dirs:
        for fn in os.listdir(d):
            with open(os.path.join(d, fn), "rb") as f:
                while f.read(1 << 20):
                    pass
    workdir = tempfile.mkdtemp(prefix="scaling_sync_")
    for rep in range(n_reps):
        lo = run_level(n_low, shard_dirs, passes=1, workdir=workdir)
        print(f"rep {rep + 1}/{n_reps} low:  {lo}", flush=True)
        hi = run_level(n_high, shard_dirs, passes=HIGH_PASSES,
                       workdir=workdir)
        print(f"rep {rep + 1}/{n_reps} high: {hi}", flush=True)
        pooled = _flush_pool(window, {
            "low_tps": round(lo["tps"], 1), "high_tps": round(hi["tps"], 1),
            "low_sec": round(lo["sec"], 1), "high_sec": round(hi["sec"], 1),
            "low_steal": lo["steal_ticks"], "high_steal": hi["steal_ticks"],
            "low_spread_sec": lo["finish_spread_sec"],
            "high_spread_sec": hi["finish_spread_sec"],
            "pair_eff": round((hi["tps"] / lo["tps"]) / 4.0, 4),
        })
        print(f"pooled so far: {pooled}", flush=True)


if __name__ == "__main__":
    main()
