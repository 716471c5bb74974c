"""The scored KG-construction pipeline (north_star flagship).

Composes every stage end-to-end, mirroring Graph::from
(/root/reference/src/graph.rs:414-834) as ONE Catalyst-planned DAG:

  pages ──U1──> mentions ──F5/F6/F7──> defs/refs/imports
     evidence ──F8──> valid ──A4──> decayed cardinality
  refs ⋈ defs (J1 exact + J2 base-name, gated + hub-damped) → candidates
  candidates × [A3 idf ⊗ broadcast]
             × [J3/J4 physical evidence]
             × [J5/A5/A6 decayed co-occurrence Jaccard]
             → score = idf·jaccard·10 (+100/+50) / sqrt(ref_count)   (A11)
             → W6 entropy/z-score → F11 min_score → X8 int bucket
             → W1 knee/max-drop pruning + def_limit cap
  kept candidates ──A8──> edges ──J7 fallback──> graph
  graph ──A9──> related pages ──W4/W8──> queries;  mentions → triples

Scoring works at the (ref_url, ref_name) grain — all occurrences of a
name in a page share candidates and scores (true in the reference too:
the loop reads only per-file + global state, graph.rs:620-796) — with an
``occ`` multiplicity column standing in for the reference's one-edge-per-
occurrence bookkeeping. This is what turns the reference's sequential
O(refs × candidates) driver loop into shuffles Spark parallelizes.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gossiphs_spark.config import PipelineConfig
from gossiphs_spark.functions import base_name, score_bucket, temporal_decay
from gossiphs_spark.operators.extract import (extract_mentions,
                                              page_symbol_limit, triples_of)
from gossiphs_spark.operators.ranking import attach_cutoffs, filter_related
from gossiphs_spark.operators.scoring import entropy_zscore_adjust
from gossiphs_spark.operators.graphops import salted_sum
from gossiphs_spark.operators.textmode import damp_hubs, hub_stoplist
from gossiphs_spark.session import query_scope


@dataclass
class GraphTables:
    mentions: DataFrame
    candidates: DataFrame   # scored, pruned (ref_url, ref_name, occ, def_url, def_name, bucket)
    edges: DataFrame        # page-level (src_url, dst_url, weight)
    related: DataFrame      # related-pages rollup (page, other, score)
    triples: DataFrame      # (subj, pred, obj, url, start_byte)
    damped: DataFrame       # hub stoplist actually applied (name). Default
    #                         max_def_ratio=1.0 → empty (reference parity:
    #                         it declares the knob, never applies it); when
    #                         a caller opts into damping (<1.0, the web-
    #                         scale recommendation) the divergence stays
    #                         inspectable per run without forcing a job.
    scratch_dir: str | None = None  # local stage scratch this build
    #                         reads from; atexit reclaims it, but a
    #                         long-lived driver calling build_graph
    #                         repeatedly should release() each result once
    #                         done to bound disk (one corpus-scale dir per
    #                         build otherwise).
    cached: tuple = ()      # the intermediates THIS build cached, so a
    #                         caller (or its query scope's ``own``) can
    #                         release exactly them — not
    #                         catalog.clearCache(), which evicts every
    #                         other query's warmed caches session-wide

    def release(self) -> None:
        """Drop this build's scratch stage (the tables become unreadable)."""
        if self.scratch_dir:
            import shutil

            shutil.rmtree(self.scratch_dir, ignore_errors=True)

    def release_caches(self) -> None:
        """Unpersist the intermediates this build cached — scoped, so other
        queries sharing the session keep their caches."""
        for df in self.cached:
            df.unpersist()


def _maybe_broadcast(df: DataFrame, ok: bool) -> DataFrame:
    """Broadcast hint gated on corpus statistics: the distinct-name
    dictionaries grow ~linearly with a web corpus (every page title is a
    DEF), so above cfg.broadcast_threshold_rows the hint would OOM the
    driver — drop it and let the shuffle join (or AQE promotion) run."""
    return F.broadcast(df) if ok else df


def filter_pointless_full(m: DataFrame, symbol_len_limit: int,
                          broadcast_ok: bool = True) -> DataFrame:
    """F7 with the dotted-name paths (ref graph.rs:370-403):
      DEF kept iff ∃REF: ref.name == def.name  ∨  ref.name ends with '.'+def.name
      REF kept iff ∃DEF: def.name == ref.name  ∨  base(ref.name) ∈ base(def.names)
      IMPORT/NAMESPACE kept (subject to F6); F6 length floor applies to
      EVERY kind before the kind split (ref graph.rs filter_pointless_symbols
      runs the len() check unconditionally first)."""
    m = m.filter(F.length("name") > symbol_len_limit)
    defs = m.filter(F.col("kind") == "DEF")
    refs = m.filter(F.col("kind") == "REF")
    rest = m.filter(F.col("kind").isin("IMPORT", "NAMESPACE"))

    ref_names = refs.select("name").distinct()
    # every dot-suffix of every ref name ("A.B.C" → "B.C", "C")
    ref_suffixes = (
        ref_names.select(
            F.explode(
                F.expr(
                    "transform(sequence(2, size(split(name, '\\\\.'))), "
                    "i -> array_join(slice(split(name, '\\\\.'), i, 1000), '.'))"
                )
            ).alias("name")
        )
        .where(F.col("name") != "")
        .distinct()
    )
    # broadcasting the semi-join right sides keeps the corpus-sized mention
    # table un-shuffled through this block — but ONLY while the distinct-name
    # dictionary is small: callers gate ``broadcast_ok`` on the measured
    # distinct-name count vs cfg.broadcast_threshold_rows (at 10^12 docs the
    # dictionaries grow with the corpus and must stay shuffle joins)
    def_keep_names = _maybe_broadcast(
        ref_names.union(ref_suffixes).distinct(), broadcast_ok
    )
    kept_defs = defs.join(def_keep_names, "name", "left_semi")

    def_names = _maybe_broadcast(defs.select("name").distinct(), broadcast_ok)
    def_base_names = _maybe_broadcast(
        defs.select(base_name(F.col("name")).alias("base")).distinct(),
        broadcast_ok,
    )
    refs_b = refs.withColumn("base", base_name(F.col("name")))
    kept_refs = (
        refs_b.join(def_names, "name", "left_semi")
        .unionByName(
            refs_b.join(
                refs_b.select("name").join(def_names, "name", "left_semi"),
                "name", "left_anti",
            ).join(def_base_names, "base", "left_semi")
        )
        .drop("base")
    )
    return kept_defs.unionByName(kept_refs).unionByName(rest)


def _candidates(defs: DataFrame, refs: DataFrame,
                signal_pages: DataFrame | None = None,
                broadcast_ok: bool = True) -> DataFrame:
    """J1 exact + J2 base-name fallback at the (ref_url, ref_name) grain
    (ref graph.rs:620-645). ``occ`` carries occurrence multiplicity.

    ``signal_pages`` is the per-file gate (ref graph.rs:608-618): ref pages
    absent from it emit no candidates. Applied AFTER the (ref_url,
    ref_name) rollup — the gate then shuffles the compact grain table, not
    the full mention stream (at web scale refs ≫ ref_groups)."""
    ref_groups = refs.groupBy(
        F.col("url").alias("ref_url"), F.col("name").alias("ref_name")
    ).agg(F.count("*").alias("occ"))
    if signal_pages is not None:
        ref_groups = ref_groups.join(
            signal_pages.select(F.col("url").alias("ref_url")), "ref_url", "left_semi"
        )

    d = defs.select(
        F.col("url").alias("def_url"),
        F.col("name").alias("def_name"),
        F.col("start_byte").alias("def_byte"),
    )

    exact = ref_groups.join(
        d, F.col("ref_name") == F.col("def_name")
    ).withColumn("is_exact", F.lit(True))

    exact_names = _maybe_broadcast(
        d.select(F.col("def_name").alias("ref_name")).distinct(), broadcast_ok
    )
    base_candidates = (
        ref_groups.join(exact_names, "ref_name", "left_anti")
        .unionByName(
            ref_groups.join(exact_names, "ref_name", "left_semi").filter(
                F.col("ref_name").contains(".")
            )
        )
        .withColumn("base", base_name(F.col("ref_name")))
        .join(d, F.col("base") == F.col("def_name"))
        .drop("base")
        .withColumn("is_exact", F.lit(False))
    )

    allc = exact.unionByName(base_candidates)
    # dedup (ref, def) pairs keeping the exact-match row (ref graph.rs:638-641).
    # As an aggregation, not a row_number window: occ is constant within the
    # key (it is a (ref_url, ref_name) attribute) and is_exact folds with
    # max(), so the groupBy is value-identical to "keep the exact row" while
    # pre-reducing map-side and skipping the window's per-partition sort
    # (guide §2.3 "aggregate before you shuffle").
    return allc.groupBy(
        "ref_url", "ref_name", "def_url", "def_name", "def_byte"
    ).agg(F.max("occ").alias("occ"), F.max("is_exact").alias("is_exact"))


def _physical_evidence(cands: DataFrame, imports: DataFrame) -> DataFrame:
    """J3 import-match + J4 same-host-dir (ref graph.rs:51-101,690-699).

    Web form: an outlink whose (normalized) target equals the def page's
    url is an explicit import; same host+directory ≅ same package. Both
    are equi-joins on normalized keys — never a theta/cross join. The
    import side runs through the U3 resolution ladder (relative ./ ../,
    scheme-relative //host) so non-absolute hrefs still earn the explicit-
    import signal, mirroring the reference's is_file_matches_import."""
    from gossiphs_spark.operators.outlinks import resolve_url

    imp = (
        imports.select(
            F.col("url").alias("ref_url"),
            resolve_url(F.col("url"), F.col("name")).alias("def_url"),
            F.lit(True).alias("imported"),
        )
        .filter(F.col("def_url").isNotNull())
        .distinct()
    )
    cands = cands.join(imp, ["ref_url", "def_url"], "left").fillna(
        {"imported": False}
    )
    dir_of = lambda c: F.regexp_extract(c, r"^(.*)/", 1)  # noqa: E731
    return cands.withColumn(
        "same_pkg", dir_of(F.col("ref_url")) == dir_of(F.col("def_url"))
    ).withColumn("has_physical", F.col("imported") | F.col("same_pkg"))


def build_graph(
    spark: SparkSession,
    pages: DataFrame,
    evidence: DataFrame,
    cfg: PipelineConfig = PipelineConfig(),
) -> GraphTables:
    """The scored build. The returned tables own its caches and scratch
    stage (:meth:`GraphTables.release_caches` / :meth:`GraphTables.release`);
    if the build raises, it releases them itself, shuts the evidence-fill
    thread down, and re-raises."""
    with query_scope(spark) as scope:
        g = _build_graph(scope, spark, pages, evidence, cfg)
        scope.pop_all()  # built: ownership passes to the caller
    return g


def _build_graph(scope, spark, pages, evidence, cfg) -> GraphTables:
    # ---- U1 + hygiene -----------------------------------------------------
    if cfg.exclude_url_regex:
        pages = pages.filter(~F.regexp_like("url", F.lit(cfg.exclude_url_regex)))  # F2
    mentions = extract_mentions(pages)
    mentions = page_symbol_limit(mentions, cfg.symbol_limit)  # F5
    # The extraction UDF feeds every downstream branch (defs/refs/imports/
    # idf/triples) — cache it or Arrow extraction re-executes per branch.
    # The reference extracts exactly once (graph.rs:504-508); so do we.
    mentions = scope.cache(mentions)
    # The evidence dedup scan is independent of the mention/stats chain
    # until the size-limit filter (which needs n_pages), so its cache fill
    # runs CONCURRENTLY with the stats job below (guide §2.6 — overlap
    # independent jobs so one job's tail back-fills the other's executors).
    from concurrent.futures import ThreadPoolExecutor

    ev_base = scope.cache(evidence.select("url", "evidence_id", "ts").distinct())
    pool = ThreadPoolExecutor(max_workers=1)
    scope.callback(pool.shutdown)
    ev_fill = pool.submit(ev_base.count)
    # ONE stats pass over the cached mentions feeds every scalar the plan
    # needs: n_pages and n_names, which gates the dictionary broadcasts.
    stats = mentions.agg(
        F.countDistinct("url").alias("n_pages"),
        F.countDistinct("name").alias("n_names"),
    ).collect()[0]
    # pages with at least one mention: zero-mention pages (empty bodies,
    # non-UTF-8 blobs) are not counted, which saves a second corpus scan
    n_pages = stats["n_pages"]
    bcast_ok = stats["n_names"] <= cfg.broadcast_threshold_rows
    # fm is referenced by ~25 downstream joins/unions — prune to the 4
    # columns the scoring tail needs, then MATERIALIZE the stage to scratch
    # parquet. Two reasons:
    #   * driver latency: every downstream DataFrame op re-analyzes its
    #     whole logical subtree; cutting the tree at fm took the sf0.1
    #     plan-build from ~14 s to ~5 s. (localCheckpoint also cuts the
    #     tree but REPLACES size stats with defaultSizeInBytes — measured
    #     38.8 s → 70-110 s in r2 as ~10 small-side joins degraded from
    #     broadcast to sort-merge. A parquet stage keeps REAL stats.)
    #   * scale shape: fm is the natural stage boundary of the north-star
    #     pipeline — on a cluster this is the lineage-checkpointed Iceberg
    #     stage table a killed scoring run resumes from (lineage.TripleSink
    #     is the same seam); the sandbox backend is a scratch dir.
    fm = filter_pointless_full(mentions, cfg.symbol_len_limit, bcast_ok)  # F6+F7
    fm = fm.select("url", "name", "kind", "start_byte")
    scratch = fm_path = None
    if cfg.stage_scratch_uri:
        # shared scratch (s3://…, hdfs://…) — every executor and the
        # driver see the same filesystem; cleanup is owned by the scratch
        # location's lifecycle (TTL / snapshot expiry), not this process.
        import uuid

        fm_path = cfg.stage_scratch_uri.rstrip("/") + f"/fm_{uuid.uuid4().hex}"
    elif spark.conf.get("spark.master", "").startswith("local"):
        import atexit
        import os
        import shutil
        import tempfile

        scratch = tempfile.mkdtemp(prefix="gossiphs_stage_")
        # the returned GraphTables read from these files for the life of
        # the caller, so reclaim at process exit (review finding: without
        # this every build leaked a corpus-scale parquet dir). In
        # production the stage table is Iceberg via the TripleSink seam
        # and snapshot expiry owns its lifecycle.
        atexit.register(shutil.rmtree, scratch, ignore_errors=True)
        scope.callback(shutil.rmtree, scratch, ignore_errors=True)
        fm_path = os.path.join(scratch, "fm")
    else:
        # non-local master with no shared scratch URI: a driver-local
        # tempdir would be written by executors to THEIR disks and read
        # back truncated — fall back to caching the stage.
        import warnings

        warnings.warn(
            "stage not materialized: spark.master is non-local and "
            "cfg.stage_scratch_uri is unset; set a shared scratch URI "
            "to materialize the stage on a cluster",
            stacklevel=3,
        )
    if fm_path is not None:
        fm.write.mode("overwrite").parquet(fm_path)
        fm = spark.read.parquet(fm_path)
    fm = scope.cache(fm)
    defs = fm.filter(F.col("kind") == "DEF")
    refs = fm.filter(F.col("kind") == "REF")
    imports = fm.filter(F.col("kind") == "IMPORT")

    # ---- evidence prep (F8, A4, A12) — all small aggregates, broadcastable
    ev_fill.result()  # dedup scan finished behind the stats/fm jobs
    pool.shutdown(wait=False)
    sizes = ev_base.groupBy("evidence_id").agg(
        F.countDistinct("url").alias("n_urls")
    )
    limit = int(n_pages * cfg.commit_size_limit_ratio)
    # the evidence-id dictionary grows with the corpus (snapshots ∝ crawl
    # volume) just like the name dictionaries — same gate (bcast_ok is the
    # one corpus-scale switch: past the threshold, every corpus-growing
    # dictionary stays a shuffle join)
    ev = scope.cache(ev_base.join(
        _maybe_broadcast(
            sizes.filter(F.col("n_urls") < limit).select("evidence_id"), bcast_ok
        ),
        "evidence_id", "left_semi",
    ))  # consumed by anchor, cardinality, pair-intersection, gate
    anchor_row = ev.agg(F.max("ts").alias("mx")).collect()[0]
    ev_base.unpersist()  # the filtered ev cache is materialized now
    anchor = anchor_row["mx"]
    if cfg.temporal_decay and anchor is not None:
        age_days = (
            F.lit(anchor).cast("timestamp").cast("double") - F.col("ts").cast("double")
        ) / 86400.0
        decay_w = temporal_decay(age_days, cfg.half_life_days)
    else:
        decay_w = F.lit(1.0)
    evd = scope.cache(ev.select("url", "evidence_id", decay_w.alias("w")))
    card = evd.groupBy("url").agg(F.sum("w").alias("card"))

    # ---- per-file gate (ref graph.rs:608-618) ------------------------------
    # A ref page with neither a valid-evidence snapshot nor an explicit
    # import emits NO candidate links (the reference's `continue`). Applies
    # only to the main candidate loop — the J7 fallback pass below uses the
    # global ref table unconditionally, as the reference does (graph.rs:801+).
    signal_pages = ev.select("url").unionByName(imports.select("url")).distinct()

    # ---- hub-entity damping (SURVEY §4 O8; ref graph.rs:916-918) -----------
    # A name defined in > max_def_ratio × pages is noise: at 10^12 docs it
    # would explode the J1 join *inside* the join (def_limit only prunes
    # after). The stoplist is tiny (distinct hot names) → broadcast anti-join
    # (map-side, no shuffle) on both join inputs before candidate generation.
    stoplist = hub_stoplist(defs, n_pages, cfg.max_def_ratio)
    cand_defs = damp_hubs(defs, stoplist)
    cand_refs = damp_hubs(refs, stoplist)

    # ---- candidates (J1/J2) ----------------------------------------------
    # cache: consumed by BOTH the co-occurrence pair derivation and the
    # scoring joins — uncached, the candidate join + dedup window executes
    # twice (visible as two identical 5-col window exchanges in the plan)
    cands = _candidates(cand_defs, cand_refs, signal_pages, bcast_ok)
    cands = scope.cache(_physical_evidence(cands, imports))

    # ---- co-occurrence restricted to candidate pairs (J5/A5) -------------
    pairs = cands.select("ref_url", "def_url").distinct()
    ev_a = evd.select(F.col("url").alias("ref_url"), "evidence_id", "w")
    ev_b = evd.select(F.col("url").alias("def_url"), "evidence_id")
    inter = (
        pairs.join(ev_a, "ref_url")
        .join(ev_b, ["def_url", "evidence_id"], "left_semi")
        .groupBy("ref_url", "def_url")
        .agg(F.sum("w").alias("inter"))
    )

    # ---- scoring (A3, A6, A11; ref graph.rs:651-707) ---------------------
    idf = defs.groupBy(F.col("name").alias("def_name")).agg(
        (F.log(F.lit(float(n_pages)) / F.countDistinct("url")) + F.lit(1.0)).alias("idf")
    )
    ref_count = refs.groupBy(F.col("url").alias("def_url")).agg(
        F.count("*").alias("ref_count")
    )
    card_a = card.select(F.col("url").alias("ref_url"), F.col("card").alias("card_a"))
    card_b = card.select(F.col("url").alias("def_url"), F.col("card").alias("card_b"))

    # idf is the broadcast document-frequency map (north_star: "broadcast-
    # joined document-frequency maps") — hint gated on the measured distinct-
    # name count like every other dictionary; card/ref_count are URL-keyed,
    # i.e. corpus-sized — forcing those to broadcast would serialize the
    # driver and cannot work at 10^12 docs, so they stay shuffle joins (AQE
    # still broadcasts them when they happen to be small)
    scored = (
        cands.join(_maybe_broadcast(idf, bcast_ok), "def_name", "left")
        .join(inter, ["ref_url", "def_url"], "left")
        .join(card_a, "ref_url", "left")
        .join(card_b, "def_url", "left")
        .join(ref_count, "def_url", "left")
        .fillna({"inter": 0.0, "card_a": 0.0, "card_b": 0.0, "ref_count": 0})
        .withColumn("idf", F.coalesce(F.col("idf"), F.lit(1.0)))
    )
    union_card = F.col("card_a") + F.col("card_b") - F.col("inter")
    jaccard = F.when(union_card > 0, F.col("inter") / union_card).otherwise(F.lit(0.0))
    score = F.col("idf") * jaccard * 10.0
    score = score + F.when(F.col("has_physical"), F.lit(100.0)).otherwise(F.lit(0.0))
    score = score + F.when(F.col("imported"), F.lit(50.0)).otherwise(F.lit(0.0))
    score = F.when(
        F.col("ref_count") > 0, score / F.sqrt(F.col("ref_count"))
    ).otherwise(score)
    scored = scored.select(
        "ref_url", "ref_name", "occ", "def_url", "def_name", "def_byte",
        "is_exact", "has_physical", score.alias("score"),
    )

    # ---- W6 entropy/z-score, F11 min_score, X8 bucket --------------------
    scored = entropy_zscore_adjust(scored, ["ref_url", "ref_name"], "score", "has_physical")
    scored = scored.filter(
        F.col("has_physical") | (F.col("score") >= cfg.min_score)
    )
    # NO cache here: attach_cutoffs is join-free and every window below
    # shares the (ref_url, ref_name) hash partitioning with the entropy
    # windows above — one exchange feeds entropy → min_score filter →
    # cutoffs → rank in a single stage; `kept` (the only consumer) caches.
    scored = scored.withColumn("bucket", score_bucket(F.col("score")))

    # ---- W1 knee/max-drop pruning + hard cap (ref graph.rs:743-795) ------
    # attach_cutoffs computes the knee join-free: every window shares the
    # (ref_url, ref_name) hash partitioning — one exchange, no per-group
    # cutoff table to join or broadcast (unboundable at corpus scale)
    grp = ["ref_url", "ref_name"]
    hard_cap = cfg.def_limit if cfg.top_n == 0 else min(cfg.top_n, cfg.def_limit)
    w = Window.partitionBy(*grp).orderBy(
        F.desc("bucket"), F.asc("def_url"), F.asc("def_byte")
    )
    kept = scope.cache(
        attach_cutoffs(scored, grp, "bucket", ["def_url", "def_byte"], cfg.def_limit)
        .withColumn("rn", F.row_number().over(w))
        .filter((F.col("bucket") >= F.col("cutoff")) | (F.col("rn") == 1))
        .filter(F.col("rn") <= hard_cap)
        .drop("rn", "cutoff")
    )  # consumed by fallback anti-join, edges, incoming, outgoing

    # ---- J7 unique-def fallback (weight-0 links, ref graph.rs:801-819) ---
    linked_defs = kept.select("def_url", "def_name").distinct()
    uniq = (
        defs.groupBy("name")
        .agg(F.countDistinct("url").alias("n"), F.min("url").alias("def_url"))
        .filter(F.col("n") == 1)
        .select(F.col("name").alias("def_name"), "def_url")
        .join(linked_defs, ["def_url", "def_name"], "left_anti")
    )
    fallback = (
        refs.groupBy(F.col("url").alias("ref_url"), F.col("name").alias("def_name"))
        .agg(F.count("*").alias("occ"))
        .join(uniq, "def_name")
        .filter(F.col("ref_url") != F.col("def_url"))
        .select(
            "ref_url", F.col("def_name").alias("ref_name"), "occ", "def_url",
            "def_name", F.lit(0).cast("long").alias("bucket"),
        )
    )

    # ---- A8: page-level edge accumulation (salted two-phase) -------------
    # cache: consumed by page_edges, incoming AND outgoing — without it the
    # kept-union-fallback chain re-executes once per consumer
    sym_edges = scope.cache(kept.select(
        "ref_url", "ref_name", "occ", "def_url", "def_name", "bucket"
    ).unionByName(fallback))
    page_edges = salted_sum(
        sym_edges.withColumn("w_total", F.col("bucket") * F.col("occ")),
        ["ref_url", "def_url"], "w_total", "ref_name",
        buckets=cfg.salt_buckets, out_col="weight",
    ).select(
        F.col("ref_url").alias("src_url"), F.col("def_url").alias("dst_url"), "weight"
    )

    # ---- A9: related-pages rollup (ref api.rs:230-299) -------------------
    def_counts = defs.groupBy(F.col("url").alias("def_url")).agg(
        F.count("*").alias("def_count")
    )
    incoming = (
        sym_edges.join(def_counts, "def_url", "left")  # url-keyed: no forced broadcast
        .fillna({"def_count": 0})
        .select(
            F.col("def_url").alias("page"),
            F.col("ref_url").alias("other"),
            (
                F.col("occ")
                * F.when(
                    F.col("def_count") > 0,
                    F.greatest(F.floor(F.col("bucket") / F.col("def_count")), F.lit(1)),
                ).otherwise(F.col("bucket"))
            ).cast("long").alias("w"),
        )
    )
    outgoing = sym_edges.select(
        F.col("ref_url").alias("page"),
        F.col("def_url").alias("other"),
        (F.col("occ") * F.col("bucket")).cast("long").alias("w"),
    )
    related = (
        incoming.unionByName(outgoing)
        .filter(F.col("page") != F.col("other"))
        .groupBy("page", "other")
        .agg(F.sum("w").alias("score"))
        .filter(F.col("score") > 0)  # F10 ignore_zero
    )
    # ---- W4: output-level related filter (ref api.rs:69-107) --------------
    if cfg.file_min_links > 0 or cfg.file_max_links > 0:
        related = filter_related(
            related, ["page"], "score", "other",
            cfg.file_min_links, cfg.file_max_links,
        ).select("page", "other", "score")

    return GraphTables(
        mentions=mentions,
        candidates=kept,
        edges=page_edges,
        related=related,
        triples=triples_of(mentions),  # north_star output contract
        damped=stoplist,
        scratch_dir=scratch,
        cached=(mentions, fm, ev, evd, cands, kept, sym_edges),
    )


def canonicalize_triples(triples: DataFrame, jaccard_min: float = 0.6,
                         cfg: PipelineConfig = PipelineConfig(),
                         cached_out: list | None = None) -> DataFrame:
    """U4 post-stage (north_star): map subj/obj surface forms to canonical
    entities via blocking + MinHash-LSH components, then re-aggregate —
    near-duplicate surface forms collapse into one node before the graph
    materializes. The entity dictionary (distinct names) is usually orders
    of magnitude smaller than the triple stream, so the two mapping joins
    broadcast it — but only below ``cfg.broadcast_threshold_rows``: at
    10^12 docs the distinct-name dictionary can exceed broadcast limits,
    in which case the maps stay shuffle joins (AQE may still promote).

    The input is scanned THREE times by construction (subj-name branch,
    obj-name branch, final mapping join), so it is cached here — without
    this, every scan recomputes the caller's whole upstream plan (for an
    extraction-built triple stream that was measured at 10 kernel
    executions per page; with the cache plus the caller checkpointing its
    mention table it is exactly 1). Cache, not localCheckpoint, so the
    optimizer keeps real size stats for the broadcast decisions, and
    evictable storage degrades to recompute instead of OOM at scale.

    Cache lifetimes (r7 ADVICE — a long-lived session must not
    accumulate storage): the name dictionary is unpersisted HERE, the
    moment the entity table's count() materializes it (nothing scans
    the dictionary after that). The ``triples`` and entity caches must
    outlive the caller's final action on the returned plan, so they
    cannot be released inside; pass ``cached_out`` (a list the two
    DataFrames are appended to) and unpersist them after your action —
    the contract queries hand it to their query scope (``q.hold``)."""
    from gossiphs_spark.operators.canonicalize import canonical_entities

    triples = triples.cache()
    names = (
        triples.select(F.col("subj").alias("name"))
        .union(triples.select(F.col("obj").alias("name")))
        .distinct()
        .cache()
    )
    ents = canonical_entities(
        names,
        n_perms=cfg.minhash_perms,
        rows_per_band=max(cfg.minhash_perms // cfg.minhash_bands, 1),
        jaccard_min=jaccard_min,
        shingle_k=cfg.shingle_size,
        cache_names=False,
    ).cache()
    hint = (
        F.broadcast if ents.count() <= cfg.broadcast_threshold_rows else (lambda d: d)
    )
    names.unpersist()  # entity table is materialized; dictionary is done
    if cached_out is not None:
        cached_out.extend((triples, ents))
    subj_map = ents.select(
        F.col("name").alias("subj"), F.col("canonical_name").alias("canon_subj")
    )
    obj_map = ents.select(
        F.col("name").alias("obj"), F.col("canonical_name").alias("canon_obj")
    )
    return (
        triples.join(hint(subj_map), "subj", "left")
        .join(hint(obj_map), "obj", "left")
        .select(
            F.coalesce("canon_subj", "subj").alias("subj"),
            "pred",
            F.coalesce("canon_obj", "obj").alias("obj"),
            "url",
            "start_byte",
        )
        .groupBy("subj", "pred", "obj", "url")
        .agg(F.min("start_byte").alias("start_byte"))
    )
