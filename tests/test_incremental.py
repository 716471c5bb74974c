"""Incremental KG maintenance (operators/incremental.py): splicing a
changed-page batch into materialized state must equal a from-scratch
rebuild — including F7 keep-status flips in both directions, page
creation and deletion — while recomputing only the affected slice."""

from __future__ import annotations

from pyspark.sql import functions as F

from gossiphs_spark.operators import textmode as tm
from gossiphs_spark.operators.incremental import apply_delta, name_stats

PAGES_SCHEMA = "url string, content string, source string"

V1 = [
    ("doc://1", "alpha beta gamma alpha", "s"),
    ("doc://2", "beta alpha delta", "s"),
    ("doc://3", "gamma epsilon beta", "s"),
    ("doc://4", "zeta epsilon zeta", "s"),
    # isolated island: shares no names with any changed page
    ("doc://6", "kappa lambdaX kappa", "s"),
    ("doc://7", "lambdaX kappa kappa", "s"),
]

# doc://2 rewritten (alpha loses a REF page, omega appears),
# doc://4 deleted (empty content), doc://5 created
CHANGED = [
    ("doc://2", "omega gamma gamma", "s"),
    ("doc://4", "", "s"),
    ("doc://5", "alpha zeta omega", "s"),
]

V2 = [p for p in V1 if p[0] not in {"doc://2", "doc://4"}] + [
    c for c in CHANGED if c[1]
]


def _full_rebuild(spark, rows):
    pages = spark.createDataFrame(rows, PAGES_SCHEMA)
    m = tm.mentions(pages)
    fp = tm.filter_pointless(m, 3)
    defs = fp.filter(F.col("kind") == "DEF")
    refs = fp.filter(F.col("kind") == "REF")
    return m, tm.related_pages(tm.edges(defs, refs), defs)


def _rel_set(df):
    return {(r["page"], r["other"], r["score"]) for r in df.collect()}


def test_delta_equals_full_rebuild(spark):
    m1, rel1 = _full_rebuild(spark, V1)
    stats1 = name_stats(m1)
    changed = spark.createDataFrame(CHANGED, PAGES_SCHEMA)

    m_new, stats_new, rel_new, affected = apply_delta(m1, stats1, rel1, changed)

    _, rel_full = _full_rebuild(spark, V2)
    assert _rel_set(rel_new) == _rel_set(rel_full)

    # the maintained tables equal their from-scratch counterparts too
    m_full, _ = _full_rebuild(spark, V2)
    assert sorted(map(tuple, m_new.collect())) == sorted(map(tuple, m_full.collect()))
    assert sorted(map(tuple, stats_new.collect())) == sorted(
        map(tuple, name_stats(m_full).collect())
    )


def test_delta_prunes_unaffected_island(spark):
    """doc://6 and doc://7 share no names with the delta — they must stay
    outside the recompute slice (the whole point of incrementality)."""
    m1, rel1 = _full_rebuild(spark, V1)
    changed = spark.createDataFrame(CHANGED, PAGES_SCHEMA)
    _, _, _, affected = apply_delta(m1, name_stats(m1), rel1, changed)
    urls = {r["url"] for r in affected.collect()}
    assert "doc://6" not in urls and "doc://7" not in urls
    assert {"doc://2", "doc://4", "doc://5"} <= urls


def test_delta_keep_status_flips(spark):
    """alpha: doc://2's REF disappears but doc://5 adds one (stays kept);
    omega: first appearance creates DEF+REF pairs across pages; epsilon
    loses its doc://4 defs. Stats must land exactly."""
    m1, rel1 = _full_rebuild(spark, V1)
    changed = spark.createDataFrame(CHANGED, PAGES_SCHEMA)
    _, stats_new, _, _ = apply_delta(m1, name_stats(m1), rel1, changed)
    s = {r["name"]: (r["n_defs"], r["n_refs"]) for r in stats_new.collect()}
    assert "omega" in s and s["omega"][0] == 2  # DEF on doc://2 and doc://5
    assert "zeta" in s  # still defined (doc://5) though doc://4 vanished
    full_stats = {
        r["name"]: (r["n_defs"], r["n_refs"])
        for r in name_stats(_full_rebuild(spark, V2)[0]).collect()
    }
    assert s == full_stats


def test_delta_keeps_untouched_name_edges_of_affected_pages(spark):
    """Regression (review-confirmed bug): doc://1 is affected only via
    'gamma', but its related row to doc://2 flows through 'betaX' — a name
    the delta never touches. The recompute slice must carry that edge or
    the spliced result silently loses the row a full rebuild keeps."""
    v1 = [
        ("doc://1", "betaX gamma betaX", "s"),
        ("doc://2", "betaX delta", "s"),
        ("doc://3", "gamma gamma", "s"),
    ]
    changed = [("doc://9", "gamma zzeta", "s")]
    v2 = v1 + changed

    m1, rel1 = _full_rebuild(spark, v1)
    ch = spark.createDataFrame(changed, PAGES_SCHEMA)
    _, _, rel_new, _ = apply_delta(m1, name_stats(m1), rel1, ch)
    _, rel_full = _full_rebuild(spark, v2)
    assert _rel_set(rel_new) == _rel_set(rel_full)
    assert ("doc://1", "doc://2", 1) in _rel_set(rel_new) or (
        "doc://2", "doc://1", 1
    ) in _rel_set(rel_new)


def test_delta_related_plan_reads_state_once(spark, tmp_path):
    """On the state-store path the recompute slice is materialized once,
    so the `related` write plans a scan of the old `related` anti-joined
    with the affected pages plus the rollup of that slice — not one
    re-derivation of the mentions state, and one broadcast build of it,
    per join branch."""
    m1, rel1 = _full_rebuild(spark, V1)
    # every input read from parquet, as the state store and a crawl's
    # landing dir provide them: file sizes give the planner the small
    # size estimates that make it broadcast each join's build side
    tables = (("mentions", m1), ("stats", name_stats(m1)), ("related", rel1),
              ("changed", spark.createDataFrame(CHANGED, PAGES_SCHEMA)))
    for name, df in tables:
        df.write.parquet(str(tmp_path / name))
    *state, changed = [spark.read.parquet(str(tmp_path / n)) for n, _ in tables]
    # the static plan: AQE would print executed query stages as leaves
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        rel_new = apply_delta(*state, changed, return_touched=True)[2]
        plan = rel_new._jdf.queryExecution().executedPlan().toString()
        got = _rel_set(rel_new)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)

    _, rel_full = _full_rebuild(spark, V2)
    assert got == _rel_set(rel_full)
    scans = [ln for ln in plan.splitlines() if "FileScan" in ln]
    # measured 0 mentions scans (of 1 scan) and 14 broadcasts; lazily
    # re-derived per branch, 11 (of 38) and 105
    assert sum("kind:string" in ln for ln in scans) <= 1  # mentions state
    assert plan.count("BroadcastExchange") <= 20


# ---------------------------------------------------------------------------
# Randomized equivalence: hypothesis builds arbitrary corpora and deltas
# (rewrites, deletions, creations over a small shared vocabulary chosen to
# maximize keep-status flips and island overlap); the spliced result must
# ALWAYS equal a from-scratch rebuild. This is the guard for the class of
# bug the review caught (slice keyed too narrowly).
# ---------------------------------------------------------------------------
from hypothesis import given, settings, strategies as st  # noqa: E402

_WORDS = ["alpha", "betaX", "gamma", "delta", "omega", "zzeta", "kappa"]
_content = st.lists(st.sampled_from(_WORDS), min_size=0, max_size=6).map(" ".join)


@given(
    v1=st.dictionaries(st.integers(0, 9), _content, min_size=1, max_size=8),
    delta=st.dictionaries(st.integers(0, 11), _content, min_size=1, max_size=4),
)
@settings(max_examples=8, deadline=None)
def test_delta_always_equals_full_rebuild(spark, v1, delta):
    rows1 = [(f"doc://{i}", c, "s") for i, c in sorted(v1.items())]
    ch = [(f"doc://{i}", c, "s") for i, c in sorted(delta.items())]
    v2 = {**v1, **delta}
    rows2 = [(f"doc://{i}", c, "s") for i, c in sorted(v2.items()) if c]
    if not rows2:
        return

    m1, rel1 = _full_rebuild(spark, rows1)
    chdf = spark.createDataFrame(ch, PAGES_SCHEMA)
    _, stats_new, rel_new, _ = apply_delta(m1, name_stats(m1), rel1, chdf)
    m_full, rel_full = _full_rebuild(spark, rows2)
    assert _rel_set(rel_new) == _rel_set(rel_full)
    assert sorted(map(tuple, stats_new.collect())) == sorted(
        map(tuple, name_stats(m_full).collect())
    )
