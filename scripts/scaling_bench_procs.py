"""Process-per-executor scaling evidence (BASELINE.json north_rule).

The north rule's criterion is throughput scaling from N to 4N EXECUTORS.
An executor is a separate JVM process with its own heap, GC, and Python
workers — so the closest sandbox stand-in is N independent single-core
Spark processes, each owning a static shard of the same corpus, not N
threads inside one shared JVM (scripts/scaling_bench.py measures that
too, as a transparency point; a shared heap adds GC/allocator contention
that real executors do not share — its 8v32 note documents the same
artifact).

Design:
* the corpus is pre-sharded ONCE into `n_high` parquet shard dirs; level
  N launches N processes, each sequentially processing n_high/N shards —
  identical total work at both levels, same files;
* every process is ``taskset``-pinned to its own core; register-spin
  loads occupy all remaining cores during BOTH levels (equal active-core
  control, same as scaling_bench.py);
* each process warms up (full pass over its shards — JIT/codegen), then
  barriers on a GO file; the measured window is GO → last process exit,
  i.e. exactly how a cluster's stage wall-time works (slowest executor
  bounds the stage);
* levels interleave across ``n_reps`` and the criterion is the median
  throughput per level.

Measured job: triples materialization (pages → Arrow-batched extraction
→ (subj, pred, obj) triples → count) — the BASELINE.json "triples/sec"
metric.

Usage: python scripts/scaling_bench_procs.py [n_low] [n_pages] [n_reps]
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
TOTAL_CORES = os.cpu_count() or 32

PREPARE = r"""
import os, sys
sys.path.insert(0, {repo!r})
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "48g")
from pyspark.sql import functions as F
from gossiphs_spark.session import get_spark
from gossiphs_spark.datagen import pages_df_dist
spark = get_spark(app_name="scaling_prepare", cores=32, shuffle_partitions=32)
pages, _ = pages_df_dist(spark, n_pages={n_pages}, seed=7, partitions=96,
                         body_scale=8)
n = {n_shards}
pages = pages.withColumn("_shard", F.crc32(F.col("url")) % n)
for s in range(n):
    (pages.filter(F.col("_shard") == s).drop("_shard")
     .coalesce(3).write.mode("overwrite").parquet({root!r} + f"/shard{{s}}"))
print("PREPARED")
spark.stop()
"""

# One "executor": a single-core JVM owning a fixed shard list. Warms up
# with a full pass (JIT), signals READY, busy-waits for GO, then runs the
# measured pass and reports its triple count.
EXECUTOR = r"""
import json, os, sys, time
sys.path.insert(0, {repo!r})
os.environ["SPARK_GRAFT_CPUS"] = "1"
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "6g")
from gossiphs_spark.session import get_spark
from gossiphs_spark.operators.extract import extract_mentions, triples_of

shards = {shards!r}
spark = get_spark(app_name="exec_{idx}", cores=1, shuffle_partitions=2,
                  extra_conf={{
                      "spark.ui.enabled": "false",
                      "spark.sql.execution.arrow.maxRecordsPerBatch": "8192",
                  }})

def triples_count(path):
    p = spark.read.parquet(path)
    return triples_of(
        extract_mentions(p, columns=("url", "name", "kind", "start_byte"))
    ).count()

for s in shards:          # warmup pass: JIT/codegen + page cache
    triples_count(s)

open({ready!r}, "w").write("r")
while not os.path.exists({go!r}):
    time.sleep(0.05)

total = 0
for s in shards:
    total += triples_count(s)
print("EXEC_RESULT " + json.dumps({{"idx": {idx}, "triples": total}}))
spark.stop()
"""


def run_level(n_execs: int, shard_dirs: list[str], workdir: str) -> dict:
    """Launch n_execs single-core executor processes over all shards;
    return wall time of the measured window (GO → last exit) + tps."""
    if n_execs > TOTAL_CORES:
        raise ValueError(
            f"n_execs={n_execs} exceeds the {TOTAL_CORES} cores on this box "
            "(taskset would fail per-executor after the corpus prep)"
        )
    per = [shard_dirs[i::n_execs] for i in range(n_execs)]
    go = os.path.join(workdir, f"go_{n_execs}_{time.time_ns()}")
    spinners = [
        subprocess.Popen(
            ["taskset", "-c", str(c), sys.executable, "-c", "while True:\n pass"],
            stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
        )
        for c in range(n_execs, TOTAL_CORES)
    ]
    procs, readies, outfiles = [], [], []
    try:
        for i in range(n_execs):
            ready = os.path.join(workdir, f"ready_{n_execs}_{i}_{time.time_ns()}")
            readies.append(ready)
            # per-executor output FILES, not PIPEs: an executor whose JVM
            # logs >64 KiB during warmup would block on a full unread pipe
            # before ever writing its ready file, deadlocking the rep
            outf = os.path.join(workdir, f"out_{n_execs}_{i}_{time.time_ns()}")
            outfiles.append(outf)
            code = EXECUTOR.format(repo=REPO, shards=per[i], idx=i,
                                   ready=ready, go=go)
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
        t0 = time.time()
        open(go, "w").write("g")
        for p in procs:
            p.wait(timeout=1800)
        wall = time.time() - t0
    finally:
        for p in spinners:
            p.kill()
        for p in procs:
            if p.poll() is None:
                p.kill()
    total = 0
    for outf in outfiles:
        out = open(outf).read()
        lines = [l for l in out.splitlines() if l.startswith("EXEC_RESULT ")]
        if not lines:
            raise RuntimeError(f"executor produced no result: {out[-2000:]}")
        total += json.loads(lines[0][len("EXEC_RESULT "):])["triples"]
    return {"execs": n_execs, "sec": wall, "triples": total,
            "tps": total / wall}


def median_run(runs: list[dict]) -> dict:
    return sorted(runs, key=lambda r: r["tps"])[len(runs) // 2]


POOL_PATH = os.path.join(REPO, "BENCH", "procs_runs_r06.json")


def _git_sha() -> str:
    try:
        return subprocess.run(
            ["git", "-C", REPO, "rev-parse", "--short", "HEAD"],
            capture_output=True, text=True, timeout=30,
        ).stdout.strip()
    except Exception:
        return "unknown"


def _flush_pool(window: str, rep_pair: dict) -> dict:
    """Append one interleaved (low, high) rep pair to the round pool and
    recompute the pooled per-pair median — the r6 pre-registered
    criterion. Flushed after EVERY pair so a killed window loses at most
    the in-flight pair."""
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
                        f"scaling_shards_{n_pages}_{n_high}")

    if not all(
        os.path.exists(os.path.join(root, f"shard{s}", "_SUCCESS"))
        for s in range(n_high)
    ):
        proc = subprocess.run(
            [sys.executable, "-c",
             PREPARE.format(repo=REPO, n_pages=n_pages, n_shards=n_high,
                            root=root)],
            capture_output=True, text=True, timeout=3600,
        )
        if "PREPARED" not in proc.stdout:
            raise RuntimeError(f"prepare failed: {proc.stderr[-3000:]}")

    shard_dirs = [os.path.join(root, f"shard{s}") for s in range(n_high)]
    workdir = tempfile.mkdtemp(prefix="scaling_sync_")
    runs_low, runs_high = [], []
    for rep in range(n_reps):
        runs_low.append(run_level(n_low, shard_dirs, workdir))
        print(f"rep {rep + 1}/{n_reps} low:  {runs_low[-1]}", flush=True)
        runs_high.append(run_level(n_high, shard_dirs, workdir))
        print(f"rep {rep + 1}/{n_reps} high: {runs_high[-1]}", flush=True)
        lo, hi = runs_low[-1], runs_high[-1]
        pooled = _flush_pool(window, {
            "low_tps": round(lo["tps"], 1), "high_tps": round(hi["tps"], 1),
            "low_sec": round(lo["sec"], 1), "high_sec": round(hi["sec"], 1),
            "pair_eff": round((hi["tps"] / lo["tps"]) / 4.0, 4),
        })
        print(f"pooled so far: {pooled}", flush=True)

    low, high = median_run(runs_low), median_run(runs_high)
    eff = (high["tps"] / low["tps"]) / 4.0
    summary = {
        "mode": "process-per-executor",
        "n_pages": n_pages, "n_reps": n_reps,
        "low": low, "high": high,
        "low_tps_all": [round(r["tps"], 1) for r in runs_low],
        "high_tps_all": [round(r["tps"], 1) for r in runs_high],
        "scaling_efficiency": round(eff, 3),
        "target": 0.8, "meets_target": eff >= 0.8,
    }
    print(json.dumps(summary))
    with open(os.path.join(REPO, "BENCH", "procs_summary.json"), "w") as f:
        json.dump(summary, f)


if __name__ == "__main__":
    main()
