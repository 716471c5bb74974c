"""Knee / max-drop cutoffs and candidate ranking (SURVEY.md §2.5 W1-W4).

Re-derives the reference's two cutoff detectors as window algebra
(originals: knee_cutoff_score / max_drop_cutoff_score,
/root/reference/src/graph.rs:420-480, duplicated src/api.rs:17-67 — we keep
ONE implementation and reuse it, unlike the reference).

Both operate on the *distinct* scores of a group in descending order,
head-truncated to ``k = max(def_limit, 2)`` levels (ref graph.rs:762-765):

  knee    (kneedle): normalize to [0,1]; the score whose vertical distance
          below the line from (0,1) to (1, y_last) is maximal.
  maxdrop: the score just above the largest relative drop between
          consecutive scores; documented example [100,95,90,10,8] → 90
          (ref graph.rs:453-455).

  cutoff = max(knee, maxdrop)   (ref graph.rs:769)

Everything is whole-stage-codegen-able expressions over two window passes —
no UDF, no collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def group_cutoffs(df: DataFrame, group_cols: list[str], score_col: str,
                  def_limit: int = 12) -> DataFrame:
    """Per-group cutoff over distinct integer scores.

    Input: any df with ``group_cols`` and an integer ``score_col``.
    Output: one row per group: group_cols + knee_cutoff, max_drop_cutoff,
    cutoff (all LONG).
    """
    ds = df.select(*group_cols, F.col(score_col).alias("s")).distinct()

    w = Window.partitionBy(*group_cols).orderBy(F.desc("s"))
    k = max(def_limit, 2)
    ds = (
        ds.withColumn("i", F.row_number().over(w) - 1)
        .filter(F.col("i") < k)  # head truncation, ref graph.rs:762-765
    )

    wg = Window.partitionBy(*group_cols)
    ds = (
        ds.withColumn("n", F.count("*").over(wg))
        .withColumn("top", F.max("s").over(wg))
        .withColumn("last", F.min("s").over(wg))
        .withColumn("prev", F.lag("s").over(w))
    )

    # --- kneedle distance (ref graph.rs:431-450) ---
    x = F.col("i") / (F.col("n") - 1)
    y = F.col("s") / F.col("top")
    y_last = F.col("last") / F.col("top")
    dist = (F.lit(1.0) + (y_last - F.lit(1.0)) * x) - y
    ds = ds.withColumn(
        "dist",
        F.when((F.col("n") <= 2) | (F.col("top") <= 0), F.lit(None)).otherwise(dist),
    )
    # first (smallest i) among max-dist rows wins — strict-greater update in
    # the reference loop (graph.rs:441-445)
    w_knee = Window.partitionBy(*group_cols).orderBy(F.desc_nulls_last("dist"), F.asc("i"))
    ds = ds.withColumn("knee_rn", F.row_number().over(w_knee))

    # --- max relative drop (ref graph.rs:455-479) ---
    drop = F.when(
        (F.col("prev").isNotNull()) & (F.col("prev") > 0),
        (F.col("prev") - F.col("s")) / F.col("prev"),
    )
    ds = ds.withColumn("drop", drop)
    w_drop = Window.partitionBy(*group_cols).orderBy(F.desc_nulls_last("drop"), F.asc("i"))
    ds = ds.withColumn("drop_rn", F.row_number().over(w_drop))

    agg = ds.groupBy(*group_cols).agg(
        F.max("n").alias("n"),
        F.max("top").alias("top"),
        F.min("s").alias("last_s"),
        F.max(F.when(F.col("i") == 0, F.col("s"))).alias("first_s"),
        F.max(F.when((F.col("knee_rn") == 1) & F.col("dist").isNotNull(), F.col("s"))).alias("knee_raw"),
        F.max(F.when((F.col("drop_rn") == 1) & F.col("drop").isNotNull(), F.col("prev"))).alias("drop_raw"),
    )
    # edge cases: n<=2 → last (graph.rs:425-426); top<=0 → first (graph.rs:429);
    # n==1 or no positive prev → first (graph.rs:460-461,478)
    knee = (
        F.when(F.col("n") <= 2, F.col("last_s"))
        .when(F.col("top") <= 0, F.col("first_s"))
        .otherwise(F.col("knee_raw"))
    )
    drop_c = F.coalesce(F.col("drop_raw"), F.col("first_s"))
    return agg.select(
        *group_cols,
        knee.cast("long").alias("knee_cutoff"),
        drop_c.cast("long").alias("max_drop_cutoff"),
        F.greatest(knee, drop_c).cast("long").alias("cutoff"),
    )


def attach_cutoffs(df: DataFrame, group_cols: list[str], score_col: str,
                   id_cols: list[str], def_limit: int = 12) -> DataFrame:
    """Join-free variant of :func:`group_cutoffs`: computes the same
    knee/max-drop cutoff as a window expression attached directly to every
    row. All windows share the group-key hash partitioning (one exchange,
    several sorts) — no distinct subquery, no per-group aggregate table to
    join or broadcast back, which matters because the cutoff table has one
    row per REF group (unboundable at corpus scale).

    ``id_cols`` provide a deterministic intra-score ordering (marker-row
    selection). Adds a ``cutoff`` column; semantics identical to
    group_cutoffs (property-tested against it).
    """
    s = F.col(score_col)
    wg = Window.partitionBy(*group_cols)
    w_rank = Window.partitionBy(*group_cols).orderBy(F.desc(score_col))
    w_mrk = Window.partitionBy(*group_cols, score_col).orderBy(*id_cols)
    # immediate predecessor in the distinct-desc stream = min of strictly
    # greater score values (value-range window)
    w_prev = (
        Window.partitionBy(*group_cols)
        .orderBy(F.col(score_col).cast("long"))
        .rangeBetween(1, 1 << 60)
    )
    k = max(def_limit, 2)

    # withColumns batches: every withColumn() call re-analyzes the whole
    # (deep) plan on the driver — batching the independent expressions cuts
    # the per-pipeline plan-build latency measurably
    df = df.withColumns({
        "_i": F.dense_rank().over(w_rank) - 1,
        "_mrk": F.row_number().over(w_mrk) == 1,
        "_prev": F.min(score_col).over(w_prev),
    })
    head = F.col("_mrk") & (F.col("_i") < k)
    df = df.withColumns({
        "_n": F.sum(head.cast("long")).over(wg),
        "_top": F.max(score_col).over(wg),
        "_last": F.min(F.when(head, s)).over(wg),
    })
    x = F.col("_i") / (F.col("_n") - 1)
    y = s / F.col("_top")
    y_last = F.col("_last") / F.col("_top")
    dist = (F.lit(1.0) + (y_last - F.lit(1.0)) * x) - y
    df = df.withColumns({
        "_dist": F.when(head & (F.col("_n") > 2) & (F.col("_top") > 0), dist),
        "_drop": F.when(
            head & (F.col("_i") >= 1) & (F.col("_prev") > 0),
            (F.col("_prev") - s) / F.col("_prev"),
        ),
    })
    w_knee = Window.partitionBy(*group_cols).orderBy(
        F.desc_nulls_last("_dist"), F.asc("_i")
    )
    w_drop = Window.partitionBy(*group_cols).orderBy(
        F.desc_nulls_last("_drop"), F.asc("_i")
    )
    df = df.withColumns({
        "_knee_rn": F.row_number().over(w_knee),
        "_drop_rn": F.row_number().over(w_drop),
    })
    knee_raw = F.max(
        F.when((F.col("_knee_rn") == 1) & F.col("_dist").isNotNull(), s)
    ).over(wg)
    drop_raw = F.max(
        F.when((F.col("_drop_rn") == 1) & F.col("_drop").isNotNull(), F.col("_prev"))
    ).over(wg)
    knee = (
        F.when(F.col("_n") <= 2, F.col("_last"))
        .when(F.col("_top") <= 0, F.col("_top"))
        .otherwise(knee_raw)
    )
    cutoff = F.greatest(knee, F.coalesce(drop_raw, F.col("_top")))
    return df.withColumn("cutoff", cutoff.cast("long")).drop(
        "_i", "_mrk", "_prev", "_n", "_top", "_last", "_dist", "_drop",
        "_knee_rn", "_drop_rn",
    )


def filter_related(related: DataFrame, group_cols: list[str], score_col: str,
                   order_col: str, file_min_links: int = 0,
                   file_max_links: int = 0) -> DataFrame:
    """W4: output-level related-pages filtering (ref src/api.rs:69-107).

    Opt-out when both knobs are 0 (ref api.rs:71-73). Otherwise: drop zero
    scores, knee+maxdrop cutoff over distinct scores (no head truncation at
    this level), enforce the min floor and max cap by rank.
    """
    if file_min_links == 0 and file_max_links == 0:
        return related
    nz = related.filter(F.col(score_col) > 0)
    # `nz` feeds BOTH the cutoff computation and the ranked join below.
    # Without a shared partitioning the two branches canonicalize
    # differently and Catalyst re-derives the entire upstream pipeline
    # (scans included) once per branch. One explicit hash repartition on
    # the group columns is a subtree both branches share verbatim — the
    # second consumer becomes a ReusedExchange — and every downstream op
    # (the distinct/windows/agg inside group_cutoffs, the rank windows,
    # the cutoff join) already clusters by these columns, so no further
    # exchange is ever inserted. Net plan: ONE derivation + ONE shuffle.
    nz = nz.repartition(*group_cols)
    cutoffs = group_cutoffs(nz, group_cols, score_col, def_limit=1 << 30)
    w = Window.partitionBy(*group_cols).orderBy(F.desc(score_col), F.asc(order_col))
    ranked = nz.join(cutoffs.select(*group_cols, "cutoff"), group_cols).withColumn(
        "rn", F.row_number().over(w)
    )
    kept = F.col(score_col) >= F.col("cutoff")
    if file_min_links > 0:
        # if fewer than min survive the cutoff, take top-min instead
        wg = Window.partitionBy(*group_cols)
        ranked = ranked.withColumn(
            "n_kept", F.sum(kept.cast("long")).over(wg)
        )
        kept = F.when(F.col("n_kept") < file_min_links, F.col("rn") <= file_min_links).otherwise(kept)
    out = ranked.filter(kept)
    if file_max_links > 0:
        w2 = Window.partitionBy(*group_cols).orderBy(F.desc(score_col), F.asc(order_col))
        out = out.withColumn("rn2", F.row_number().over(w2)).filter(
            F.col("rn2") <= file_max_links
        ).drop("rn2")
    return out.drop("rn", "cutoff", "n_kept")
