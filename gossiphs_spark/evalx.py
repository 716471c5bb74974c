"""Evaluation harness (SURVEY.md §2.6 SO2/SO3, §2.4 A13, §2.3 J8).

Spark-side re-expression of the reference's eval stack
(/root/reference/eval/benchmark.py:224-253, eval/evaluate.py:236-296,
src/bin/aligner.rs:116-148): align a produced link/triple set with an
oracle set, report precision/recall, the false-negative set, and
score-bucketed quality stats — all as DataFrame ops (intersect/except/
pivot), no driver-side loops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from gossiphs_spark.session import query_scope

BUCKETS = [(0, 10), (10, 50), (50, 100), (100, 500), (500, 1 << 62)]


def precision_recall(got: DataFrame, expected: DataFrame) -> dict:
    """SO2: |got ∩ expected| based P/R over identical-schema key sets."""
    g = got.distinct()
    e = expected.distinct()
    tp = g.intersect(e).count()
    n_got = g.count()
    n_exp = e.count()
    return {
        "tp": tp,
        "got": n_got,
        "expected": n_exp,
        "precision": tp / n_got if n_got else 0.0,
        "recall": tp / n_exp if n_exp else 0.0,
    }


def false_negatives(got: DataFrame, expected: DataFrame) -> DataFrame:
    """SO3: expected − got (ref analyze_fn.py:8-13)."""
    return expected.distinct().exceptAll(got.distinct())


def score_bucket_label(score_col) -> F.Column:
    expr = F.lit(None).cast("string")
    for lo, hi in reversed(BUCKETS):
        label = f"{lo}-{hi}" if hi < (1 << 62) else f"{lo}+"
        expr = F.when((score_col >= lo) & (score_col < hi), F.lit(label)).otherwise(expr)
    return expr


def cutoff_search(
    labeled_links: DataFrame,
    targets: tuple[float, ...] = (0.30, 0.20, 0.10),
    quantiles: tuple[float, ...] = (0.0, 0.5, 0.7, 0.8, 0.9, 0.95),
    max_candidates: int = 2000,
    min_kept_links: int | None = None,
    min_src_coverage: float = 0.10,
) -> DataFrame:
    """Auto-pick score cutoffs for target noise ratios (ref
    eval/evaluate.py:45-143 pick_score_cutoff, driven at :201-216 with
    targets 30/20/10%, min_kept = max(50, 1% of links), min_coverage 0.10).

    Input: (src, dst, score, label) with label ∈ {confirmed, true_bonus,
    phantom} — one row per deduped link carrying its max score (the
    reference pre-reduces to link→max-score).

    Semantics mirrored exactly:
      * deterministic sample: sort by (-score, src, dst), head
        ``max_candidates`` — stats are computed on the sample;
      * candidate cutoffs = {0} ∪ sampled-score quantiles at
        idx = int((n_distinct-1) · q);
      * per cutoff (over kept = sample rows with score ≥ cutoff):
        hr = phantom/total, precision = (confirmed+bonus)/total,
        src_coverage = |kept srcs| / |ALL srcs in the full link set|;
      * per target: the LOWEST cutoff meeting hr ≤ target ∧ total ≥
        min_kept ∧ coverage ≥ min_coverage, else argmax of
        utility = precision − hr + 0.15·coverage (lowest cutoff on ties —
        the reference scans cutoffs ascending and keeps strict improvements).

    Plan shape: the link table is CACHED for the duration of the search —
    it is read by one full-set aggregate (total + distinct-src, one job),
    one distributed top-k (TakeOrdered), and the per-cutoff stats join;
    without the cache each reference re-derives the whole upstream link
    pipeline (measured 231 s → 12 s at sf0.1). Cutoffs and targets are
    ≤ |quantiles|+1 and |targets| row dims — every join against them
    broadcasts. The ≤|targets|-row result materializes eagerly so the
    cache can be released before returning.
    → (target, cutoff, total, confirmed, true_bonus, phantom, hr,
       precision, src_coverage) — one row per target.
    """
    spark = labeled_links.sparkSession
    with query_scope(spark) as scope:
        links = scope.cache(labeled_links.select("src", "dst", "score", "label"))
        full = links.agg(
            F.count("*").alias("n"), F.countDistinct("src").alias("n_src")
        ).collect()[0]
        total_links, n_src_total = full["n"], full["n_src"]
        if min_kept_links is None:
            min_kept_links = max(50, int(total_links * 0.01))

        items = scope.cache(
            links.orderBy(F.desc("score"), F.asc("src"), F.asc("dst"))
            .limit(max_candidates)
        )

        # quantile cutoffs over the sample's distinct scores (idx = int((n-1)·q))
        scores = (
            items.select("score").distinct()
            .withColumn("i", F.row_number().over(Window.orderBy("score")) - 1)
            .withColumn("n", F.count("*").over(Window.partitionBy()))
        )
        qs = spark.createDataFrame([(float(q),) for q in quantiles], "q double")
        quantile_cuts = (
            scores.crossJoin(F.broadcast(qs))
            .filter(F.col("i") == F.floor((F.col("n") - 1) * F.col("q")).cast("int"))
            .select(F.col("score").alias("cutoff"))
        )
        cutoffs = (
            quantile_cuts.unionByName(
                spark.createDataFrame([(0,)], "cutoff long").select(
                    F.col("cutoff").cast(quantile_cuts.schema["cutoff"].dataType)
                )
            )
            .distinct()
        )

        stats = (
            items.crossJoin(F.broadcast(cutoffs))
            .filter(F.col("score") >= F.col("cutoff"))
            .groupBy("cutoff")
            .agg(
                F.count("*").alias("total"),
                F.sum((F.col("label") == "confirmed").cast("long")).alias("confirmed"),
                F.sum((F.col("label") == "true_bonus").cast("long")).alias("true_bonus"),
                F.sum((F.col("label") == "phantom").cast("long")).alias("phantom"),
                F.countDistinct("src").alias("n_src"),
            )
            .withColumn("hr", F.col("phantom") / F.col("total"))
            .withColumn("precision", (F.col("confirmed") + F.col("true_bonus")) / F.col("total"))
            .withColumn("src_coverage", F.col("n_src") / F.lit(float(n_src_total)))
        )

        # the reported cutoff keeps the INPUT score dtype: a long cast on a
        # double-scored link set would silently truncate the value the search
        # actually selected (integral inputs cast long for oracle parity)
        from pyspark.sql.types import IntegralType

        integral_scores = isinstance(
            labeled_links.schema["score"].dataType, IntegralType
        )
        cutoff_out = (
            F.col("cutoff").cast("long") if integral_scores else F.col("cutoff")
        )

        tg = spark.createDataFrame([(float(t),) for t in targets], "target double")
        per_target = stats.crossJoin(F.broadcast(tg)).withColumns({
            "meets": (
                (F.col("hr") <= F.col("target"))
                & (F.col("total") >= F.lit(min_kept_links))
                & (F.col("src_coverage") >= F.lit(float(min_src_coverage)))
            ),
            "utility": F.col("precision") - F.col("hr") + 0.15 * F.col("src_coverage"),
        })
        w = Window.partitionBy("target").orderBy(
            F.desc("meets"),
            # qualifying: lowest cutoff; fallback: max utility, lowest cutoff ties
            F.when(F.col("meets"), F.lit(0.0)).otherwise(-F.col("utility")),
            F.asc("cutoff"),
        )
        return scope.result(
            per_target.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select(
                "target",
                cutoff_out.alias("cutoff"),
                F.col("total").cast("long").alias("total"),
                "confirmed", "true_bonus", "phantom",
                F.round("hr", 6).alias("hr"),
                F.round("precision", 6).alias("precision"),
                F.round("src_coverage", 6).alias("src_coverage"),
            )
        )


def bucketed_quality(links: DataFrame, oracle: DataFrame,
                     key_cols: list[str], score_col: str = "score") -> DataFrame:
    """A13: per score-bucket confirmed/phantom counts
    (ref eval/evaluate.py:236-296 buckets 0-10/10-50/50-100/100-500/500+)."""
    o = oracle.select(*key_cols).distinct().withColumn("_oracle", F.lit(1))
    labeled = (
        links.join(o, key_cols, "left")
        .withColumn("label", F.when(F.col("_oracle").isNotNull(), "confirmed").otherwise("phantom"))
        .withColumn("bucket", score_bucket_label(F.col(score_col)))
    )
    return labeled.groupBy("bucket").pivot("label", ["confirmed", "phantom"]).count().fillna(0)
