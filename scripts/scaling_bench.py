"""Two-parallelism scaling evidence (BASELINE.json north_rule).

No real cluster exists in this sandbox, so the N-vs-4N-executor criterion
is evidenced by running the identical job at N and 4N CPUs on the same
input and reporting throughput at both plus

    efficiency = (throughput_4N / throughput_N) / 4

Methodology notes (each was validated against a failure mode observed
while building this harness):
* the corpus is generated ONCE to parquet and both runs read the same
  files ("identical job, same input");
* each level runs in a fresh subprocess pinned with ``taskset`` — without
  pinning, local[N]'s forked Python UDF workers execute beyond the N JVM
  threads and the "N-core" run silently uses ~2N cores;
* the measured pass is the SECOND execution (steady state) — the first
  pass pays JIT/codegen compilation, which is identical at both levels
  and would flatten the ratio;
* pages are Common-Crawl-weight (~13 KB html, body_scale=8) so extraction
  compute — the kernel that dominates a 100 TB run — dominates here too.

Measured job: triples materialization (pages → Arrow-batched extraction →
(subj, pred, obj) triples → count), i.e. the BASELINE.json "triples/sec"
metric. Writes BENCH/BASELINE.md and prints a JSON summary.

Each level runs THREE times, interleaved (L,H,L,H,L,H) so slow drift in
box conditions hits both levels alike, and the criterion uses the median
tps per level — single-shot ratios on this box swing ±10-15 % run to run
(r2 controlled: 0.809, r3: 1.032), the median stabilizes the number.

Usage: python scripts/scaling_bench.py [n_low] [n_pages] [n_reps]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
from datetime import datetime, timezone

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

PREPARE = r"""
import os, sys
sys.path.insert(0, {repo!r})
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "64g")
from gossiphs_spark.session import get_spark
from gossiphs_spark.datagen import pages_df_dist
spark = get_spark(app_name="scaling_prepare", cores=32, shuffle_partitions=32)
pages, _ = pages_df_dist(spark, n_pages={n_pages}, seed=7, partitions=96,
                         body_scale=8)
pages.write.mode("overwrite").parquet({corpus!r})
print("PREPARED")
spark.stop()
"""

CHILD = r"""
import json, os, sys, time
sys.path.insert(0, {repo!r})
os.environ["SPARK_GRAFT_CPUS"] = str({cores})
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "64g")
from gossiphs_spark.session import get_spark
from gossiphs_spark.operators.extract import extract_mentions, triples_of

spark = get_spark(app_name="scaling_{cores}", cores={cores},
                  shuffle_partitions=max({cores}, 8),
                  extra_conf={{"spark.sql.execution.arrow.maxRecordsPerBatch": "8192"}})
pages = spark.read.parquet({corpus!r}).repartition({cores} * 3).cache()
pages.count()  # input materialized outside timing

def triples_count(p):
    return triples_of(
        extract_mentions(p, columns=("url", "name", "kind", "start_byte"))
    ).count()

# pass 1 = warmup (JIT/codegen — identical cost at both levels); pass 2 measured
triples_count(pages)
t0 = time.time()
n_triples = triples_count(pages)
dt = time.time() - t0
print("RESULT " + json.dumps({{"cores": {cores}, "sec": dt,
      "triples": n_triples, "tps": n_triples / dt}}))
spark.stop()
"""


def run(cmd, timeout=3600):
    return subprocess.run(cmd, capture_output=True, text=True, timeout=timeout)


TOTAL_CORES = os.cpu_count() or 32


def run_level(cores: int, corpus: str) -> dict:
    """Run one level pinned to cores 0..cores-1 while register-spin
    loads occupy EVERY other core. Without this the low level runs with
    few active cores and gets boosted clocks / less hypervisor steal, so
    the measured ratio understates true scaling (observed: the 2-cpu
    level 31% faster per core than under equal load, efficiency 0.88 →
    0.65 run-to-run). Equal total active cores ⇒ equal clock conditions;
    the spinners touch no memory, so they do not contend for bandwidth."""
    spinners = [
        subprocess.Popen(
            ["taskset", "-c", str(c), sys.executable, "-c",
             "while True:\n pass"],
            stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
        )
        for c in range(cores, TOTAL_CORES)
    ]
    try:
        code = CHILD.format(repo=REPO, cores=cores, corpus=corpus)
        proc = run(["taskset", "-c", f"0-{cores - 1}", sys.executable, "-c", code])
    finally:
        for p in spinners:
            p.kill()
    for line in proc.stdout.splitlines():
        if line.startswith("RESULT "):
            return json.loads(line[len("RESULT "):])
    raise RuntimeError(
        f"no RESULT from cores={cores}: {proc.stdout[-2000:]} {proc.stderr[-2000:]}"
    )


def median_run(runs: list[dict]) -> dict:
    """The run whose tps is the median (odd rep counts pick a real run)."""
    return sorted(runs, key=lambda r: r["tps"])[len(runs) // 2]


def main() -> None:
    n_low = int(sys.argv[1]) if len(sys.argv) > 1 else 8
    n_pages = int(sys.argv[2]) if len(sys.argv) > 2 else 1_500_000
    n_reps = int(sys.argv[3]) if len(sys.argv) > 3 else 3
    n_high = n_low * 4
    corpus = os.path.join(tempfile.gettempdir(), f"scaling_corpus_{n_pages}")

    if not os.path.exists(os.path.join(corpus, "_SUCCESS")):
        proc = run([sys.executable, "-c",
                    PREPARE.format(repo=REPO, n_pages=n_pages, corpus=corpus)])
        if "PREPARED" not in proc.stdout:
            raise RuntimeError(f"prepare failed: {proc.stderr[-2000:]}")

    # interleave the levels so slow drift in box conditions (thermal,
    # hypervisor neighbors) hits both alike instead of biasing one
    runs_low: list[dict] = []
    runs_high: list[dict] = []
    for rep in range(n_reps):
        runs_low.append(run_level(n_low, corpus))
        print(f"rep {rep + 1}/{n_reps} low:  {runs_low[-1]}", flush=True)
        runs_high.append(run_level(n_high, corpus))
        print(f"rep {rep + 1}/{n_reps} high: {runs_high[-1]}", flush=True)

    low = median_run(runs_low)
    high = median_run(runs_high)
    eff = (high["tps"] / low["tps"]) / 4.0

    summary = {
        "n_pages": n_pages,
        "n_reps": n_reps,
        "low": low,
        "high": high,
        "low_tps_all": [round(r["tps"], 1) for r in runs_low],
        "high_tps_all": [round(r["tps"], 1) for r in runs_high],
        "scaling_efficiency": round(eff, 3),
        "target": 0.8,
        "meets_target": eff >= 0.8,
    }
    print(json.dumps(summary))

    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    # BASELINE.md is an AUTHORED document (it reports BOTH harnesses and
    # the round trend); this harness only records its raw summary —
    # clobbering the authored file with a single-mode template is how a
    # stale "comfortably >= 0.8" paragraph once shipped next to a 0.557
    # measurement.
    with open(os.path.join(REPO, "BENCH", "threads_summary.json"), "w") as f:
        json.dump({"mode": "shared-jvm-threads", **summary}, f, indent=1)


if __name__ == "__main__":
    main()
