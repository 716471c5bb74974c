"""Delta-bounded state-store I/O evidence (r8; closes r7 'What's wrong' #1).

The continuous-KG state store (streaming/maintain.RelatedStateStore)
claims a commit rewrites only the buckets the delta touched. The pytest
pins the bucket-dir COUNT for one batch; this script measures the full
scale claim: per-commit bytes written and bucket dirs rewritten for a
FIXED 2-page delta, at two corpus sizes 10x apart. Delta-bounded I/O =
both stay ~flat while the resident state grows ~10x; the r7 store (all
three tables rewritten per commit) would show per-commit bytes ~equal
to state bytes, growing 10x.

Two knob regimes are measured at the larger corpus:
* FIXED bucket count (48 at both sizes): touched-dir count stays flat
  but each bucket holds corpus/48 rows, so per-commit bytes grow with
  the corpus — the store rewrites whole touched buckets, like Iceberg
  rewrites whole touched data files.
* CONSTANT bucket SIZE (bucket count scaled 10x with the corpus):
  per-commit bytes return to the small-corpus level. Sizing buckets to
  a byte target as the state grows (exactly Iceberg's file-size
  targeting) is what makes commit I/O delta-bounded at 100 TB.

Usage: python scripts/state_io_bench.py [tag=r08]
Writes BENCH/state_io_<tag>.json.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

# the corpora are synthesized; the session is the one bench.py builds
# for its sf dir
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
N_BUCKETS = 48
N_DELTA_BATCHES = 3


def corpus(spark, n):
    g = (F.col("id") / 10).cast("long")
    mk = lambda suf: F.concat(F.lit("ent"), g.cast("string"), F.lit(suf))  # noqa: E731
    return spark.range(n).select(
        F.concat(F.lit("doc://"), F.col("id").cast("string")).alias("url"),
        F.concat_ws(
            " ", mk("_alpha"), mk("_beta"), mk("_alpha"), mk("_gamma"),
            F.concat(F.lit("page"), F.col("id").cast("string"),
                     F.lit("_title")),
        ).alias("content"),
        F.lit("s").alias("source"),
    )


def delta_batch(spark, n, b):
    """2 changed pages per batch — the fixed-size trigger payload."""
    base = corpus(spark, n)
    doc_num = F.regexp_extract("url", r"doc://(\d+)", 1).cast("long")
    return base.filter(doc_num.isin(2 * b, 2 * b + 1)).select(
        "url",
        F.concat(F.col("content"),
                 F.lit(f" ent1_alpha extra{b}_sig")).alias("content"),
        "source",
    )


def du(path):
    total = 0
    for root, _, files in os.walk(path):
        for fn in files:
            total += os.path.getsize(os.path.join(root, fn))
    return total


def live_state_bytes(store):
    man = store.manifest()
    return sum(
        du(store._bucket_dir(t, b, v))
        for t, buckets in man["tables"].items()
        for b, v in buckets.items()
    )


def commit_io(store, man_before, man_after):
    """(dirs rewritten, bytes written) for one manifest transition."""
    dirs, nbytes = 0, 0
    for t, buckets in man_after["tables"].items():
        old = (man_before or {"tables": {}})["tables"].get(t, {})
        for b, v in buckets.items():
            if old.get(b) != v:
                dirs += 1
                nbytes += du(store._bucket_dir(t, b, v))
    return dirs, nbytes


def run_size(spark, n, n_buckets=N_BUCKETS):
    from gossiphs_spark.streaming.maintain import (RelatedStateStore,
                                                   apply_batch)

    root = tempfile.mkdtemp(prefix=f"state_io_{n}_")
    store = RelatedStateStore(os.path.join(root, "state"),
                              n_buckets=n_buckets)
    t0 = time.perf_counter()
    apply_batch(spark, store, corpus(spark, n), 0)
    bootstrap_sec = time.perf_counter() - t0
    rec = {
        "corpus_pages": n,
        "n_buckets": n_buckets,
        "bootstrap_sec": round(bootstrap_sec, 2),
        "state_bytes_after_bootstrap": live_state_bytes(store),
        "delta_commits": [],
    }
    for b in range(1, N_DELTA_BATCHES + 1):
        man_before = store.manifest()
        t0 = time.perf_counter()
        apply_batch(spark, store, delta_batch(spark, n, b), b)
        sec = time.perf_counter() - t0
        man_after = store.manifest()
        dirs, nbytes = commit_io(store, man_before, man_after)
        total_dirs = sum(len(v) for v in man_after["tables"].values())
        rec["delta_commits"].append({
            "batch": b, "sec": round(sec, 2),
            "bucket_dirs_rewritten": dirs,
            "bucket_dirs_total": total_dirs,
            "bytes_written": nbytes,
            "state_bytes": live_state_bytes(store),
        })
        print(f"n={n} batch={b}: {dirs}/{total_dirs} dirs, "
              f"{nbytes} B written, state {rec['delta_commits'][-1]['state_bytes']} B, "
              f"{sec:.1f}s", flush=True)
    shutil.rmtree(root, ignore_errors=True)
    return rec


def main() -> None:
    from gossiphs_spark.session import bench_session

    tag = sys.argv[1] if len(sys.argv) > 1 else "r08"
    spark = bench_session(SF_DIR, app_name="state_io_bench")
    results = {"tag": tag, "delta_pages_per_batch": 2,
               "sizes": [run_size(spark, 1_000, N_BUCKETS),
                         run_size(spark, 10_000, N_BUCKETS),
                         run_size(spark, 10_000, N_BUCKETS * 10)]}
    lo, hi_fixed, hi_scaled = results["sizes"]

    def mean_bytes(rec):
        bs = [c["bytes_written"] for c in rec["delta_commits"]]
        return sum(bs) / len(bs)

    results["summary"] = {
        "state_growth":
            round(hi_fixed["state_bytes_after_bootstrap"]
                  / max(lo["state_bytes_after_bootstrap"], 1), 2),
        "per_commit_bytes_growth_fixed_buckets":
            round(mean_bytes(hi_fixed) / max(mean_bytes(lo), 1), 2),
        "per_commit_bytes_growth_scaled_buckets":
            round(mean_bytes(hi_scaled) / max(mean_bytes(lo), 1), 2),
    }
    spark.stop()
    with open(os.path.join(REPO, "BENCH", f"state_io_{tag}.json"), "w") as f:
        json.dump(results, f, indent=1)
    print(json.dumps(results["summary"]))


if __name__ == "__main__":
    main()
