"""Kill/resume property of the lineage-checkpointed materialization
(north rule: a killed run resumes idempotently from the last committed
snapshot; recasts the reference's blob-keyed cache semantics,
/root/reference/src/cache.rs:78-158 round-trip tests)."""

from __future__ import annotations

import os
import shutil

import pytest

from gossiphs_spark import lineage
from gossiphs_spark.datagen import pages_df


@pytest.fixture()
def outdirs(tmp_path):
    a, b = str(tmp_path / "oneshot"), str(tmp_path / "resumed")
    yield a, b
    for d in (a, b):
        shutil.rmtree(d, ignore_errors=True)


def test_kill_resume_equals_oneshot(spark, outdirs):
    oneshot_dir, resumed_dir = outdirs
    pages, _, _ = pages_df(spark, n_pages=40, seed=3)

    done = lineage.materialize_triples(spark, pages, oneshot_dir, "run-a", n_buckets=4)
    assert len(done) == 4
    expected = {tuple(r) for r in lineage.read_triples(spark, oneshot_dir).collect()}

    # killed run: commits 2 buckets then dies
    with pytest.raises(RuntimeError, match="simulated kill"):
        lineage.materialize_triples(
            spark, pages, resumed_dir, "run-b", n_buckets=4, fail_after=2
        )
    assert len(lineage.committed_buckets(resumed_dir)) == 2

    # resume: only the missing buckets are recomputed
    done2 = lineage.materialize_triples(spark, pages, resumed_dir, "run-b2", n_buckets=4)
    assert len(done2) == 2
    got = {tuple(r) for r in lineage.read_triples(spark, resumed_dir).collect()}
    assert got == expected

    # idempotency: a third invocation is a no-op
    assert lineage.materialize_triples(spark, pages, resumed_dir, "run-b3", n_buckets=4) == []


class _MemorySink(lineage.TripleSink):
    """Minimal alternate backend proving the writer seam: commits land in
    driver memory with the same committed-only read contract. Stands in
    for the production Iceberg MERGE sink."""

    def __init__(self):
        self.buckets: dict[int, list] = {}
        self.lineage: list[dict] = []
        self.schema = None

    def committed(self):
        return set(self.buckets)

    def commit(self, spark, bucket, df, meta):
        rows = df.collect()
        self.schema = df.schema
        self.buckets[bucket] = rows
        self.lineage.append({**meta, "bucket": bucket, "triple_count": len(rows)})
        return len(rows)

    def read(self, spark):
        if not self.buckets:
            raise FileNotFoundError("no committed buckets")
        rows = [r for b in sorted(self.buckets) for r in self.buckets[b]]
        return spark.createDataFrame(rows, self.schema)


def test_sink_seam_kill_resume(spark, tmp_path):
    """The kill/resume property holds through the TripleSink seam with a
    non-parquet backend — resume logic lives in the caller, so an Iceberg
    MERGE sink is a drop-in."""
    pages, _, _ = pages_df(spark, n_pages=30, seed=5)
    ref = lineage.materialize_triples(
        spark, pages, str(tmp_path / "ref"), "run-ref", n_buckets=4
    )
    assert len(ref) == 4
    expected = {
        tuple(r) for r in lineage.read_triples(spark, str(tmp_path / "ref")).collect()
    }

    sink = _MemorySink()
    with pytest.raises(RuntimeError, match="simulated kill"):
        lineage.materialize_triples(
            spark, pages, "unused", "run-m1", n_buckets=4, fail_after=2, sink=sink
        )
    assert len(sink.committed()) == 2
    done2 = lineage.materialize_triples(
        spark, pages, "unused", "run-m2", n_buckets=4, sink=sink
    )
    assert len(done2) == 2  # only the missing buckets recomputed
    got = {tuple(r) for r in lineage.read_triples(spark, "unused", sink=sink).collect()}
    assert got == expected
    # every commit carried its lineage metadata through the seam
    assert all("warc_ts_watermark" in rec for rec in sink.lineage)


def test_read_triples_ignores_uncommitted_dirs(spark, tmp_path):
    """A reader must see ONLY lineage-committed buckets: stray directories
    matching the committed naming (torn copies, older layouts, a rename
    that landed without its lineage row) are invisible."""
    out = str(tmp_path / "stray")
    pages, _, _ = pages_df(spark, n_pages=20, seed=5)
    lineage.materialize_triples(spark, pages, out, "run-s", n_buckets=2)
    expected = lineage.read_triples(spark, out).count()

    # stray dir that a glob would match but no lineage row commits
    stray = os.path.join(out, "triples_bucket=00099")
    lineage.read_triples(spark, out).limit(5).write.parquet(stray)
    assert lineage.read_triples(spark, out).count() == expected

    # empty output dir: explicit error, not an empty scan
    with pytest.raises(FileNotFoundError):
        lineage.read_triples(spark, str(tmp_path / "nothing"))


def test_lineage_rows_recorded(spark, tmp_path):
    out = str(tmp_path / "lin")
    pages, _, _ = pages_df(spark, n_pages=20, seed=5)
    lineage.materialize_triples(spark, pages, out, "run-x", n_buckets=2)
    import json

    with open(os.path.join(out, lineage.LINEAGE_FILE)) as f:
        recs = [json.loads(l) for l in f]
    assert len(recs) == 2
    for r in recs:
        assert r["stage"] == "triples"
        assert r["triple_count"] > 0
        assert r["url_min"] <= r["url_max"]
        assert r["warc_ts_watermark"]


def test_lineage_records_profile_counts(spark, tmp_path):
    """Each bucket's commit record carries the per-grammar page tally
    (VERDICT r4 item 6) so format drift is visible in the commit log."""
    out = str(tmp_path / "linp")
    pages, _, _ = pages_df(spark, n_pages=20, seed=5)
    lineage.materialize_triples(spark, pages, out, "run-p", n_buckets=2)
    import json

    with open(os.path.join(out, lineage.LINEAGE_FILE)) as f:
        recs = [json.loads(l) for l in f]
    assert len(recs) == 2
    total = 0
    for r in recs:
        pc = r["profile_counts"]
        assert pc and all(n > 0 for n in pc.values())
        total += sum(pc.values())
    assert total == 20  # every page counted exactly once across buckets


def test_profile_counts_single_scan_matches_standalone(spark, tmp_path):
    """The materialization tallies grammar profiles INSIDE the extraction
    job (the kernel's PROFILE sentinel rows — no second corpus scan); the
    commit-log counters must equal the standalone profile_counts job
    exactly."""
    import collections
    import json

    from gossiphs_spark.operators.extract import profile_counts

    out = str(tmp_path / "lins")
    pages, _, _ = pages_df(spark, n_pages=30, seed=9)
    lineage.materialize_triples(spark, pages, out, "run-ss", n_buckets=3)
    with open(os.path.join(out, lineage.LINEAGE_FILE)) as f:
        recs = [json.loads(line) for line in f]
    merged: collections.Counter = collections.Counter()
    for r in recs:
        assert r["profile_counts"], "commit row missing profile counters"
        merged.update(r["profile_counts"])
    want = {r["profile"]: r["n_pages"]
            for r in profile_counts(pages).collect()}
    assert dict(merged) == want
    assert sum(merged.values()) == 30


def test_default_build_plan_runs_kernel_exactly_once(spark):
    """Structural guard for the single-pass build: over the bucket's
    cached mention table, every leaf of the triples plan is an
    InMemoryTableScan — BOTH join branches read the cache and neither
    re-runs the extraction kernel (MapInPandas) — so the kernel ran
    exactly once, when the cache filled. Complements the counter-equality
    test with a plan-shape pin so dropping the cache is caught even if
    the counters happen to agree."""
    from gossiphs_spark.operators.extract import extract_mentions, triples_of
    from gossiphs_spark.session import query_scope
    from pyspark.sql import functions as F

    pages, _, _ = pages_df(spark, n_pages=10, seed=9)
    with query_scope(spark) as q:
        m = q.cache(extract_mentions(
            pages, columns=("url", "name", "kind", "start_byte")))
        m.count()
        leaves = triples_of(m)._jdf.queryExecution().sparkPlan().collectLeaves()
        names = [leaves.apply(i).nodeName() for i in range(leaves.size())]
    assert len(names) >= 2  # one per branch
    assert set(names) == {"InMemoryTableScan"}, names
    # and WITHOUT the cache the kernel appears in both branches —
    # the condition the guard exists for
    m2 = extract_mentions(pages, columns=("url", "name", "kind", "start_byte"))
    t2 = (m2.filter(F.col("kind") == "DEF")
          .select("url", F.col("name").alias("subj"))
          .join(m2.filter(F.col("kind") == "REF").select("url"), "url"))
    plan2 = t2._jdf.queryExecution().executedPlan().toString()
    assert plan2.count("MapInPandas") == 2


def test_materialize_leaves_no_residue(spark, tmp_path):
    """Each bucket's mention table is released once the bucket commits:
    after a run the CacheManager is empty and no persistent RDD was added
    (a localCheckpoint block would stay: unpersist() cannot free it)."""
    def persistent_ids():  # by id: the context drops unreachable ones
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    pages, _, _ = pages_df(spark, n_pages=20, seed=5)
    spark.catalog.clearCache()
    before = persistent_ids()
    done = lineage.materialize_triples(
        spark, pages, str(tmp_path / "res"), "run-r", n_buckets=4)
    assert len(done) == 4
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    assert persistent_ids() <= before


def test_materialized_triples_equal_build_graph(spark, tmp_path):
    """The two entry points to the triples contract agree: the scored
    build's ``triples`` and the lineage-committed buckets hold the same
    rows."""
    from gossiphs_spark.plans.pipeline import build_graph

    pages, evidence, _ = pages_df(spark, n_pages=60, seed=3)
    g = build_graph(spark, pages, evidence)
    try:
        built = {tuple(r) for r in g.triples.collect()}
    finally:
        g.release_caches()
        g.release()
    out = str(tmp_path / "eq")
    lineage.materialize_triples(spark, pages, out, "run-eq", n_buckets=2)
    got = {tuple(r) for r in lineage.read_triples(spark, out).collect()}
    assert built and got == built


def test_profile_counts_immune_to_recompute(spark):
    """The counters of record derive from the kernel's deterministic
    PROFILE sentinel rows, so re-executing the plan (Spark's model of a
    task retry / partition recompute) cannot change them."""
    from pyspark.sql import functions as F

    from gossiphs_spark.operators.extract import (extract_mentions,
                                                  profile_counts)

    pages, _, _ = pages_df(spark, n_pages=12, seed=3)
    want = {r["profile"]: r["n_pages"]
            for r in profile_counts(pages).collect()}

    # rows path: two full executions of the SAME un-checkpointed plan
    # (each .collect() re-runs the kernel) → identical counts both times
    m = extract_mentions(
        pages, columns=("url", "name", "kind", "start_byte"),
        emit_profile_rows=True)

    def counts():
        return {
            r["name"]: r["cnt"]
            for r in m.filter(F.col("kind") == "PROFILE")
            .groupBy("name").agg(F.count("*").alias("cnt")).collect()
        }

    assert counts() == want
    assert counts() == want  # recompute: unchanged

    # sentinels must not leak into the graph-facing kinds
    kinds = {r["kind"] for r in m.select("kind").distinct().collect()}
    assert "PROFILE" in kinds and kinds - {"PROFILE"}
