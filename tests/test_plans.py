"""Plan-shape regression tests: scans must prune columns and push
predicates (the brief's 'a scan that reads all columns for a 2-column
projection is wrong'), and the hot paths must stay in whole-stage
codegen. These pin the *physical plan*, not just the answer."""

from __future__ import annotations

import os

import pytest

from gossiphs_spark.plans import queries as Q

SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.smoke
def test_scan_prunes_columns(spark):
    """tq_token_stats projects (doc_id, text): the parquet ReadSchema must
    not include lang/source/n_chars."""
    plan = plan_of(Q.tq_token_stats(spark, SF_DIR))
    read = plan.split("ReadSchema")[1][:300]
    assert "text" in read and "doc_id" in read
    assert "lang" not in read and "n_chars" not in read and "source" not in read


@pytest.mark.smoke
def test_scan_pushes_filters(spark):
    """dd_simhash filters doc_id < 100: the predicate must reach the
    parquet scan as a pushed filter, not a post-scan Filter only."""
    plan = plan_of(Q.dd_simhash(spark, SF_DIR))
    pushed = plan.split("PushedFilters")[1][:200]
    assert "LessThan(doc_id,100)" in pushed


def test_hot_paths_whole_stage_codegen(spark):
    """The text-mode linking join must run inside a WholeStageCodegen span
    (JVM-side expressions, no Python in the hot path). The query detaches
    its result, so lint the computation plan via the capture switch, not
    the detached copy's one-line scan. AQE wraps the plan unfinalized,
    hiding codegen markers — inspect the static physical plan."""
    import re

    from gossiphs_spark import session

    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    session.EXPLAIN_CAPTURE = True
    try:
        plan = plan_of(Q.a8_edges(spark, SF_DIR))
    finally:
        session.EXPLAIN_CAPTURE = False
        spark.conf.set("spark.sql.adaptive.enabled", prev)
    # '*(n)' operator prefixes mark whole-stage-codegen spans
    assert re.search(r"\*\(\d+\) (BroadcastHash|ShuffledHash|SortMerge)Join", plan)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_dictionary_broadcasts_gated(spark):
    """The flagship's name-dictionary broadcast hints (F7 keep-set, def/
    base-name dicts, exact_names, IDF map) must be gated on the measured
    distinct-name count vs cfg.broadcast_threshold_rows: with the threshold
    at 0 the only forced broadcasts left are the two hub-stoplist anti-joins
    (bounded by per-page fan-out, corpus-size independent)."""
    from gossiphs_spark.config import PipelineConfig
    from gossiphs_spark.datagen import pages_df
    from gossiphs_spark.plans.pipeline import build_graph

    pages, evidence, _ = pages_df(spark, n_pages=40, seed=3)
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    prev_thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    import re

    def n_exchanges(df) -> int:
        # the plan STRING repeats shared subtrees — count unique exchange
        # plan_ids, not textual occurrences
        return len(set(re.findall(r"BroadcastExchange .*?plan_id=(\d+)", plan_of(df))))

    try:
        g_small = build_graph(spark, pages, evidence, PipelineConfig())
        n_hinted = n_exchanges(g_small.candidates)
        spark.catalog.clearCache()
        g_gated = build_graph(
            spark, pages, evidence, PipelineConfig(broadcast_threshold_rows=0)
        )
        n_gated = n_exchanges(g_gated.candidates)
        assert n_gated < n_hinted  # dictionaries no longer forced
        assert n_gated <= 2  # only the bounded stoplist anti-joins remain
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thr)
        spark.catalog.clearCache()


def test_scored_chain_single_exchange(spark):
    """The entropy/z-score windows, min_score filter, knee/max-drop cutoff
    windows and final rank all share the (ref_url, ref_name) hash
    partitioning — exactly ONE exchange on that key may appear in the
    pruned-candidates plan (VERDICT r2 item 2's explain gate)."""
    import re

    from gossiphs_spark.config import PipelineConfig
    from gossiphs_spark.datagen import pages_df
    from gossiphs_spark.plans.pipeline import build_graph

    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        pages, evidence, _ = pages_df(spark, n_pages=40, seed=3)
        g = build_graph(spark, pages, evidence, PipelineConfig())
        plan = plan_of(g.candidates)
        pairs = re.findall(
            r"Exchange hashpartitioning\(([^)]*)\).*?plan_id=(\d+)", plan
        )
        ref_grain = {
            pid for keys, pid in pairs
            if re.fullmatch(r"ref_url#\d+, ref_name#\d+, \d+", keys.strip())
        }
        assert len(ref_grain) == 1, f"{len(ref_grain)} (ref_url, ref_name) exchanges"
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
        spark.catalog.clearCache()


def test_idf_map_broadcasts(spark):
    """j1_candidate_counts joins the per-name def-count dim — it must be a
    broadcast join (the corpus-sized pair join it replaced was the r1
    50s → 3s rewrite)."""
    plan = plan_of(Q.j1_candidate_counts(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan


def test_operator_plans_free_of_cartesian_and_rowwise_python(spark):
    """Standing anti-pattern lint over the lazy operator surfaces (r8):
    no CartesianProduct anywhere (every cross join in the package must
    be a broadcast against a tiny dim — those plan as
    BroadcastNestedLoopJoin), and no BatchEvalPython (a row-at-a-time
    F.udf sneaking in; Arrow-batched pandas UDFs plan as
    ArrowEvalPython, which IS allowed where the lint lists it)."""
    from pyspark.sql import functions as F

    from gossiphs_spark.operators import textmode as tm
    from gossiphs_spark.operators.canonicalize import verified_pairs
    from gossiphs_spark.operators.outlinks import link_outlinks_to_pages
    from gossiphs_spark.sources.testdata import doc_pages

    pages = doc_pages(spark, SF_DIR)
    m = tm.filter_pointless(tm.mentions(pages), 3)
    defs = m.filter(F.col("kind") == "DEF")
    refs = m.filter(F.col("kind") == "REF")
    web = spark.range(30).select(F.concat(
        F.lit("https://h"), (F.col("id") % 3).cast("string"),
        F.lit(".example.org/p"), F.col("id").cast("string")).alias("url"))
    imports = web.select(
        "url", F.lit("https://h0.example.org/x").alias("name"))
    names = defs.select("name").distinct()

    surfaces = {
        "related_pages": (
            tm.related_pages(tm.edges(defs, refs), defs), False),
        "related_with_symbols": (
            tm.related_with_symbols(tm.edges(defs, refs), defs, refs), False),
        # resolver is a vectorized pandas UDF → ArrowEvalPython allowed
        "link_outlinks": (link_outlinks_to_pages(imports, web), True),
        # MinHash perm table is a broadcast cross join → BNLJ allowed,
        # CartesianProduct not
        "lsh_verified_pairs": (verified_pairs(names, 8, 2, 0.5), False),
    }
    for name, (df, arrow_ok) in surfaces.items():
        plan = plan_of(df)
        assert "CartesianProduct" not in plan, name
        assert "BatchEvalPython" not in plan, name
        if not arrow_ok:
            assert "ArrowEvalPython" not in plan, name


def test_sessionization_single_exchange(spark):
    """ev_sessions claims one hash partitioning on user_id feeds both
    windows AND the rollup (HashPartitioning(user_id) satisfies
    ClusteredDistribution(user_id, sid)) — pin that no second exchange
    appears."""
    plan = plan_of(Q.ev_sessions(spark, SF_DIR))
    # count shuffle exchanges specifically — BroadcastExchange /
    # ReusedExchange nodes would false-fail a bare "Exchange" count
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Exchange hashpartitioning(user_id" in plan
