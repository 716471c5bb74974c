"""sf1-scale spot-bench of the most expensive queries (r6 verdict item 7).

The heavy bench queries are datagen-fixture-driven, so "sf1" here means
the SAME operator pipelines at 10x their sf0.1 bench-fixture size,
parameterized only by a scale factor k in {1, 10}: a super-linear
blowup the fixed-size suite can't see shows up as
t(10x)/t(1x) >> rows(10x)/rows(1x).

Probe notes:
* kg_build_related / kg_triples_canonical / kg_delta_related reuse the
  exact operator compositions of plans/queries.py with the page count
  scaled (pages_df_dist so the corpus never materializes on the driver).
* kg_delta_related keeps the DELTA fixed (5 pages) while the corpus
  grows 10x — the incremental-maintenance contract is that splice cost
  tracks the delta, not the corpus, so its healthy ratio is ~flat for
  the splice plus ~linear for the shared base build.
* dd_embedding_neardup scales the number of CLUSTERS (16 -> 160 labels,
  n_centroids likewise), not cluster size: every same-label pair in the
  fixture is a true near-dup by construction, so growing cluster size
  would grow the TRUE OUTPUT quadratically — that is a property of the
  fixture, not of the blocking design being measured. More groups of
  constant size is also the realistic web-corpus shape.
* kg_build_scored is excluded by design: its 44-page fixture IS the
  query (the DuckDB twin's exact arithmetic depends on every page), so
  its cost is the ~30-stage DAG, constant in sf by construction.

r8 (r7 verdict item 6): the extraction-only kernel and the full
composed build also run a THIRD decade (k=100 — 20k pages), so
super-linearity hiding beyond the 10x window shows up as a growing
consecutive-decade ratio (healthy: t(100x)/t(10x) ~ 10 ~ t(10x)/t(1x),
modulo fixed stage overhead deflating the first decade). The
extraction/build pair attributes any blowup: kernel linear + build
super-linear = a graph stage, not the scan.

Writes BENCH/sf1_spot_<tag>.json; paste the table into BENCH/NOTES_<tag>.md.
Usage: python scripts/sf1_spot_bench.py [tag=r08]
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402

from pyspark.sql import functions as F  # noqa: E402

# the corpora are synthesized; the session is the one bench.py builds
# for its sf dir
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
EMB_DIM = 64
EMB_ROWS_1X = 2000
EMB_LABELS_1X = 16


def probe_build_related(spark, k):
    from gossiphs_spark.config import PipelineConfig
    from gossiphs_spark.datagen import pages_df_dist
    from gossiphs_spark.plans.pipeline import build_graph

    pages, evidence = pages_df_dist(
        spark, n_pages=200 * k, seed=7, partitions=max(8, 4 * k))
    g = build_graph(spark, pages, evidence, PipelineConfig())
    return g.related


def probe_triples_canonical(spark, k):
    from gossiphs_spark.datagen import pages_df_dist
    from gossiphs_spark.operators.extract import extract_mentions, triples_of
    from gossiphs_spark.plans.pipeline import canonicalize_triples

    pages, _ = pages_df_dist(
        spark, n_pages=120 * k, seed=7, partitions=max(8, 4 * k))
    m = extract_mentions(pages, columns=("url", "name", "kind", "start_byte"))
    return canonicalize_triples(triples_of(m))


def probe_delta_related(spark, k):
    from gossiphs_spark.operators import textmode as tm
    from gossiphs_spark.operators.incremental import apply_delta, name_stats

    g = (F.col("id") / 10).cast("long")
    mk = lambda suf: F.concat(F.lit("ent"), g.cast("string"), F.lit(suf))  # noqa: E731
    pages = spark.range(300 * k).select(
        F.concat(F.lit("doc://"), F.col("id").cast("string")).alias("url"),
        F.concat_ws(
            " ", mk("_alpha"), mk("_beta"), mk("_alpha"), mk("_gamma"),
            F.concat(F.lit("page"), F.col("id").cast("string"),
                     F.lit("_title")),
        ).alias("content"),
        F.lit("s").alias("source"),
    )
    m1 = tm.mentions(pages)
    fp = tm.filter_pointless(m1, 3)
    rel1 = tm.related_pages(
        tm.edges(fp.filter(F.col("kind") == "DEF"),
                 fp.filter(F.col("kind") == "REF")),
        fp.filter(F.col("kind") == "DEF"),
    )
    doc_num = F.regexp_extract("url", r"doc://(\d+)", 1).cast("long")
    changed = pages.filter(doc_num < 5).select(
        "url",
        F.concat(F.col("content"),
                 F.lit(" ent1_alpha ent1_beta")).alias("content"),
        "source",
    )
    _, _, related_new, _ = apply_delta(m1, name_stats(m1), rel1, changed)
    return related_new


def probe_embedding_neardup(spark, k):
    from gossiphs_spark.operators.ann import neardup_pairs

    n_rows, n_labels = EMB_ROWS_1X * k, EMB_LABELS_1X * k

    def gen(batches):
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            out_v = []
            for i in ids:
                rng = np.random.default_rng(1000 + int(i))
                label = int(i) % n_labels
                crng = np.random.default_rng(77 + label)
                center = crng.choice([-1.0, 1.0], size=EMB_DIM)
                v = center + 0.5 * rng.uniform(-1, 1, EMB_DIM)
                out_v.append([float(x) for x in v])
            yield pd.DataFrame({"vec_id": ids, "v": out_v})

    emb = (spark.range(n_rows).repartition(max(8, 4 * k))
           .mapInPandas(gen, "vec_id long, v array<double>"))
    return neardup_pairs(emb, n_centroids=n_labels, threshold=0.6)


def probe_extract_only(spark, k):
    """The Arrow extraction kernel ALONE over the same distributed page
    generator the build probe uses — the linear yardstick the composed
    probes are judged against."""
    from gossiphs_spark.datagen import pages_df_dist
    from gossiphs_spark.operators.extract import extract_mentions

    pages, _ = pages_df_dist(
        spark, n_pages=200 * k, seed=7, partitions=max(8, 4 * k))
    return extract_mentions(
        pages, columns=("url", "name", "kind", "start_byte"))


# probe -> (fn, k list). The extraction/build pair runs three decades
# (1, 10, 100); the rest keep the two-decade check from r6/r7.
PROBES = {
    "extract_only": (probe_extract_only, (1, 10, 100)),
    "kg_build_related": (probe_build_related, (1, 10, 100)),
    "kg_triples_canonical": (probe_triples_canonical, (1, 10)),
    "kg_delta_related": (probe_delta_related, (1, 10)),
    "dd_embedding_neardup": (probe_embedding_neardup, (1, 10)),
}


def main() -> None:
    from gossiphs_spark.session import bench_session

    tag = sys.argv[1] if len(sys.argv) > 1 else "r08"
    results: dict = {"tag": tag, "probes": {}}
    for name, (fn, ks) in PROBES.items():
        rec = {}
        for k in ks:
            # fresh session per measurement: no cross-probe cache reuse
            spark = bench_session(SF_DIR, app_name=f"sf1spot_{name}_{k}")
            t0 = time.perf_counter()
            n = fn(spark, k).count()
            dt = time.perf_counter() - t0
            rec[f"k{k}"] = {"sec": round(dt, 2), "rows": n}
            spark.stop()
            print(f"{name} k={k}: {dt:.1f}s rows={n}", flush=True)
        rec["decades"] = {}
        for lo, hi in zip(ks, ks[1:]):
            t_ratio = rec[f"k{hi}"]["sec"] / max(rec[f"k{lo}"]["sec"], 1e-9)
            r_ratio = rec[f"k{hi}"]["rows"] / max(rec[f"k{lo}"]["rows"], 1)
            rec["decades"][f"k{lo}->k{hi}"] = {
                "time_ratio": round(t_ratio, 2), "row_ratio": round(r_ratio, 2)}
            print(f"{name} k{lo}->k{hi}: time x{t_ratio:.1f} "
                  f"rows x{r_ratio:.1f}", flush=True)
        results["probes"][name] = rec
    with open(os.path.join(REPO, "BENCH", f"sf1_spot_{tag}.json"), "w") as f:
        json.dump(results, f, indent=1)
    print(json.dumps(results))


if __name__ == "__main__":
    main()
