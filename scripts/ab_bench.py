"""Same-box A/B bench: previous-round code vs current code, interleaved.

r5 verdict item 6: raw BENCH_r{N}.json totals drift ±40 % with host
state, so round-over-round perf claims must come from an INTERLEAVED
paired comparison instead. This script checks two commits out into git
worktrees and alternates full probe runs A,B,A,B,… (fresh JVM per run,
same box minutes apart), then reports per-probe medians and the paired
deltas. A probe regression is only credible if B ≥ A consistently
ACROSS pairs — host drift hits both sides of a pair alike.

Usage: python scripts/ab_bench.py SHA_A SHA_B [n_alt=3] [sf_dir] [probes]
``probes`` is an optional comma-separated subset of PROBES (r6 verdict
item 5 re-probes just kg_build_scored,kg_delta_related on a quiesced
box without paying for the full 8-probe suite each pair).
Writes BENCH/ab_summary.json; paste the table into BENCH/NOTES_r{N}.md.
Each run builds the graded session from its own tree, so both commits
must have ``session.bench_session``.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# 8 probes spanning the expensive composed builds, the iterative ops,
# the ANN/dedup stage, and an Arrow-kernel-bound query; all exist in
# both rounds' contracts.
PROBES = [
    "kg_build_scored",
    "kg_delta_related",
    "w4_related_filtered",
    "u4_canonical_components",
    "dd_embedding_neardup",
    "eval_cutoff_search",
    "mm_png_pixels",
    "a9_related_with_symbols",
]

RUNNER = r"""
import json, os, sys, time
sys.path.insert(0, {tree!r})
from gossiphs_spark.session import bench_session
import importlib.util
spec = importlib.util.spec_from_file_location(
    "__spark_entry__", {tree!r} + "/__spark_entry__.py")
em = importlib.util.module_from_spec(spec); spec.loader.exec_module(em)
spark = bench_session({sf_dir!r}, cores={cpus})
qs = em.queries()
out = {{}}
for name in {probes!r}:
    t0 = time.perf_counter()
    qs[name](spark, {sf_dir!r}).count()
    out[name] = round(time.perf_counter() - t0, 2)
print("AB_RESULT " + json.dumps(out))
spark.stop()
"""


def worktree(sha: str) -> str:
    path = os.path.join(tempfile.gettempdir(), f"ab_tree_{sha}")
    if not os.path.isdir(path):
        subprocess.run(["git", "-C", REPO, "worktree", "add", "--detach",
                        path, sha], check=True, capture_output=True)
    return path


def run_once(tree: str, sf_dir: str, cpus: int, probes: list) -> dict:
    code = RUNNER.format(tree=tree, probes=probes, sf_dir=sf_dir, cpus=cpus)
    p = subprocess.run([sys.executable, "-c", code], capture_output=True,
                       text=True, timeout=1800)
    for line in p.stdout.splitlines():
        if line.startswith("AB_RESULT "):
            return json.loads(line[len("AB_RESULT "):])
    raise RuntimeError(f"run produced no result: {p.stderr[-3000:]}")


def main() -> None:
    sha_a, sha_b = sys.argv[1], sys.argv[2]
    n_alt = int(sys.argv[3]) if len(sys.argv) > 3 else 3
    sf_dir = sys.argv[4] if len(sys.argv) > 4 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    probes = sys.argv[5].split(",") if len(sys.argv) > 5 else PROBES
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    tree_a, tree_b = worktree(sha_a), worktree(sha_b)
    runs = {"A": [], "B": []}
    for i in range(n_alt):
        runs["A"].append(run_once(tree_a, sf_dir, cpus, probes))
        print(f"pair {i + 1}/{n_alt} A({sha_a}): {runs['A'][-1]}", flush=True)
        runs["B"].append(run_once(tree_b, sf_dir, cpus, probes))
        print(f"pair {i + 1}/{n_alt} B({sha_b}): {runs['B'][-1]}", flush=True)
    table = {}
    for q in probes:
        a = [r[q] for r in runs["A"]]
        b = [r[q] for r in runs["B"]]
        deltas = [round(bb - aa, 2) for aa, bb in zip(a, b)]
        table[q] = {
            "a_runs": a, "b_runs": b,
            "a_median": round(statistics.median(a), 2),
            "b_median": round(statistics.median(b), 2),
            "paired_deltas": deltas,
            "b_slower_in_every_pair": all(d > 0 for d in deltas),
        }
    summary = {"sha_a": sha_a, "sha_b": sha_b, "n_alt": n_alt,
               "sf_dir": sf_dir, "cpus": cpus, "probes": table}
    print(json.dumps(summary))
    # sha-keyed filename so a new run never clobbers a prior round's record
    out = os.path.join(REPO, "BENCH", f"ab_{sha_a}_vs_{sha_b}.json")
    with open(out, "w") as f:
        json.dump(summary, f, indent=1)


if __name__ == "__main__":
    main()
