"""Graph materialization & read API (SURVEY.md §2.1 S5, §2.3 J6,
§2.4 A8, §2.6 SO1).

node/edge table export with dense ids (ref src/api.rs:363-447), snapshot
diff (ref src/main.rs:606-640), def-ref pairs (ref src/symbol.rs:304-323),
and the two-phase salted aggregation required for hub-entity hot keys
(north rule; the reference's analog is hub-file damping, graph.rs:916-918).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# O8: two-phase salted sum for skewed keys. groupBy(key) where few keys own
# most rows → stage 1 groups on (key, crc32(unique_col) % buckets) to spread
# a hot key over `buckets` reducers, stage 2 combines the partials.
# Deterministic (hash of a data column, never rand()) so resume/retry is
# idempotent.
# ---------------------------------------------------------------------------
def salted_sum(df: DataFrame, key_cols: list[str], value_col: str,
               salt_col: str, buckets: int = 16, out_col: str | None = None) -> DataFrame:
    out = out_col or value_col
    salt = (F.crc32(F.col(salt_col).cast("string")) % buckets).alias("_salt")
    partial = (
        df.groupBy(*key_cols, salt)
        .agg(F.sum(value_col).alias("_partial"))
    )
    return partial.groupBy(*key_cols).agg(F.sum("_partial").alias(out))


# ---------------------------------------------------------------------------
# S5: dense-id node/edge export (ref api.rs:363-447 / main.rs:288-327).
# Dense ids match the reference's sorted-files enumeration (api.rs:368-375)
# WITHOUT a global single-partition sort: two-phase rank (range partition →
# per-partition rank → tiny per-partition offsets), the zipWithIndex
# mechanic in DataFrame algebra.
# ---------------------------------------------------------------------------
def dense_ids(urls: DataFrame, id_col: str = "id",
              order_col: str = "url", n_parts: int | None = None) -> DataFrame:
    """(url) [distinct] → (id, url) with id = global 0-based rank by url.

    Range-partitions by ``order_col`` so every partition holds a contiguous
    url range, ranks within partitions, then adds per-partition offsets
    (one tiny row per partition — the only driver traffic). The result is
    the exact global rank regardless of where range boundaries fall, so it
    scales to any node count; the reference's analog is a driver-side
    sorted enumeration (api.rs:368-375), impossible at 10^12 nodes."""
    spark = urls.sparkSession
    if n_parts is None:
        n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    part = (
        urls.repartitionByRange(n_parts, order_col)
        .withColumn("_pid", F.spark_partition_id())
        # pin the pid assignment: the frame is consumed twice (counts +
        # rank) and range boundaries must not be re-sampled in between
        .localCheckpoint(eager=True)
    )
    counts = sorted(
        (r["_pid"], r["n"])
        for r in part.groupBy("_pid").agg(F.count("*").alias("n")).collect()
    )
    offsets, acc = [], 0
    for pid, n in counts:
        offsets.append((pid, acc))
        acc += n
    off_df = spark.createDataFrame(offsets or [(0, 0)], "_pid int, _off long")
    w_in = Window.partitionBy("_pid").orderBy(order_col)
    return (
        part.withColumn("_rn", F.row_number().over(w_in))
        .join(F.broadcast(off_df), "_pid")
        .select(
            (F.col("_rn") - 1 + F.col("_off")).cast("long").alias(id_col),
            order_col,
        )
    )


def endpoints(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """(…, src, dst, …) → (node): the distinct endpoint set — the node
    derivation shared by dense_export, pagerank, and the Neo4j sink."""
    return (
        edges.select(F.col(src).alias("node"))
        .unionByName(edges.select(F.col(dst).alias("node")))
        .distinct()
    )


def dense_export(related: DataFrame) -> tuple[DataFrame, DataFrame]:
    urls = endpoints(related, "page", "other").withColumnRenamed("node", "url")
    nodes = dense_ids(urls).select("id", "url")
    src = nodes.select(F.col("url").alias("page"), F.col("id").alias("src"))
    dst = nodes.select(F.col("url").alias("other"), F.col("id").alias("dst"))
    edges_out = (
        related.join(src, "page").join(dst, "other")
        .select("src", "dst", "score")
    )
    return nodes, edges_out


# ---------------------------------------------------------------------------
# J6: def-ref pairs between two pages (ref symbol.rs:304-323, api.rs:344-351)
# — a two-hop join over the edge table, not a nested loop.
# ---------------------------------------------------------------------------
def pairs_between(edges_df: DataFrame, src_url: str, dst_url: str) -> DataFrame:
    return (
        edges_df.filter((F.col("src_url") == src_url) & (F.col("dst_url") == dst_url))
        .select("src_url", "dst_url", "name", "weight")
    )


# ---------------------------------------------------------------------------
# A10 FileMetadata arrays (ref api.rs:128-142, 317-341): per url the sorted
# symbols[], commits[] (evidence snapshots), and issues[] parsed from the
# snapshot messages via the '#NNN' regex (ref graph.rs:861-863's analog).
# One aggregation per dimension + one join — no per-file loop.
# ---------------------------------------------------------------------------
ISSUE_RE = r"#([0-9]+)"


def file_metadata(mentions: DataFrame, evidence: DataFrame) -> DataFrame:
    """mentions(url, name, kind) × evidence(url, evidence_id[, msg]) →
    (url, symbols[], commits[], issues[], n_defs, n_refs)."""
    syms = mentions.groupBy("url").agg(
        F.array_sort(F.collect_set("name")).alias("symbols"),
        F.sum((F.col("kind") == "DEF").cast("long")).alias("n_defs"),
        F.sum((F.col("kind") == "REF").cast("long")).alias("n_refs"),
    )
    ev = evidence
    if "msg" not in ev.columns:  # provenance without messages: no issues
        ev = ev.withColumn("msg", F.lit(None).cast("string"))
    evagg = ev.groupBy("url").agg(
        F.array_sort(F.collect_set("evidence_id")).alias("commits"),
        F.array_sort(
            F.array_distinct(
                F.flatten(
                    F.collect_list(
                        F.regexp_extract_all(F.coalesce("msg", F.lit("")), F.lit(ISSUE_RE), 1)
                    )
                )
            )
        ).alias("issues"),
    )
    return (
        syms.join(evagg, "url", "left")
        .withColumn("commits", F.coalesce("commits", F.array().cast("array<string>")))
        .withColumn("issues", F.coalesce("issues", F.array().cast("array<string>")))
        .select("url", "symbols", "commits", "issues", "n_defs", "n_refs")
    )


# ---------------------------------------------------------------------------
# SO1: snapshot diff (ref main.rs:606-640): link sets of two runs →
# ADDED (only in new), DELETED (only in old), MODIFIED (in both).
# Full-outer join on the link key — Iceberg time-travel supplies the two
# inputs in production; any two DataFrames here.
# ---------------------------------------------------------------------------
def snapshot_diff(old: DataFrame, new: DataFrame,
                  key_cols: list[str] = ("page", "other")) -> DataFrame:
    key_cols = list(key_cols)
    o = old.select(*key_cols).distinct().withColumn("_in_old", F.lit(1))
    n = new.select(*key_cols).distinct().withColumn("_in_new", F.lit(1))
    j = o.join(n, key_cols, "full_outer")
    state = (
        F.when(F.col("_in_old").isNull(), F.lit("ADDED"))
        .when(F.col("_in_new").isNull(), F.lit("DELETED"))
        .otherwise(F.lit("MODIFIED"))
    )
    return j.select(*key_cols, state.alias("state"))


# ---------------------------------------------------------------------------
# Weighted PageRank over the materialized edge table — entity importance
# for the KG the pipeline emits (beyond-reference op: corpus curation
# ranks entities/pages by link centrality, e.g. to pick canonical pages
# or weight training documents). Fixed iteration count + per-iteration
# rounding keep it deterministic and engine-portable (the DuckDB oracle
# unrolls the same three iterations); dangling mass is not redistributed
# (documented simplification — identical in the oracle).
#
# Scale shape: per iteration one shuffle on dst (the contribution agg)
# and one join back to nodes; `share` (w / out-weight) is precomputed
# once. No broadcasts of corpus-sized tables, no driver loops over rows —
# the only driver scalar is the node count.
# ---------------------------------------------------------------------------
def pagerank(edges: DataFrame, src: str = "src", dst: str = "dst",
             weight: str = "w", iters: int = 3,
             damping: float = 0.85) -> DataFrame:
    """edges(src, dst, weight) → (node, rank). rank_0 = 1/N;
    rank_{k+1}(v) = (1-d)/N + d·Σ_{u→v} rank_k(u)·w(u,v)/out_w(u),
    rounded to 12 dp per iteration (absorbs summation-order ULP noise so
    two engines agree bit-for-bit)."""
    teleport = 1.0 - damping  # IEEE double, mirrored as (1 - 0.85) in SQL
    # cache: `nodes` is read by the count + every iteration's left join,
    # `share` by every iteration's contribution agg — uncached, each of
    # the 1 + 2·iters consumers re-derives the whole upstream edge
    # pipeline. cache(), NOT localCheckpoint: checkpointing strips
    # Catalyst size stats and degrades the per-iteration joins (r2
    # finding). If `edges` itself is expensive AND huge, bound it before
    # calling (the contract query probe-bounds the link-dense subgraph;
    # caching cannot absorb a ~quadratic edge materialization).
    nodes = endpoints(edges, src, dst).cache()
    n = nodes.count()  # one scalar anchor (same pattern as decay/IDF)
    if n == 0:
        # empty graph (e.g. a probe filter matched nothing) → empty
        # result with the input's node type, not a ZeroDivisionError
        out = nodes.limit(0).withColumn("rank", F.lit(0.0))
        nodes.unpersist()
        return out
    outw = edges.groupBy(src).agg(F.sum(weight).alias("_out_w"))
    share = (
        edges.join(outw, src)
        .select(
            F.col(src).alias("_src"), F.col(dst).alias("_dst"),
            (F.col(weight).cast("double") / F.col("_out_w").cast("double")).alias("_share"),
        )
        .cache()
    )
    ranks = nodes.withColumn("rank", F.lit(1.0 / float(n)))
    for _ in range(iters):
        contrib = (
            share.join(ranks.withColumnRenamed("node", "_src"), "_src")
            .groupBy("_dst")
            .agg(F.sum(F.col("_share") * F.col("rank")).alias("_c"))
            .withColumnRenamed("_dst", "node")
        )
        ranks = nodes.join(contrib, "node", "left").select(
            "node",
            F.round(
                F.lit(teleport) / F.lit(float(n))
                + F.lit(damping) * F.coalesce("_c", F.lit(0.0)),
                12,
            ).alias("rank"),
        )
    # materialize the (tiny) result so the shared inputs can be released
    # before returning — downstream consumers never re-trigger the chain
    ranks = ranks.localCheckpoint(eager=True)
    share.unpersist()
    nodes.unpersist()
    return ranks
