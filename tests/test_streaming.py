"""Structured-Streaming wrapper: the batch extraction kernel runs
unchanged under foreachBatch over a landing directory."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from gossiphs_spark.datagen import PAGES_SCHEMA, pages_df
from gossiphs_spark.streaming import stream_pages


def test_stream_extracts_all_pages(spark, tmp_path):
    pages, _, expected = pages_df(spark, n_pages=24, seed=13)
    landing = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    pages.write.parquet(landing)

    q = stream_pages(spark, landing, PAGES_SCHEMA, ckpt, out)
    q.awaitTermination(120)

    got = spark.read.parquet(out)
    exp_mentions = {
        (u, n, k) for (u, n, k) in expected["mentions"]
    }
    got_set = {
        (r["url"], r["name"], r["kind"])
        for r in got.filter(F.col("kind") != "NAMESPACE").collect()
    }
    assert got_set == exp_mentions
    shutil.rmtree(ckpt, ignore_errors=True)


def test_windowed_crawl_stats_with_watermark(spark, tmp_path):
    """Watermarked event-time windows (SURVEY §2.8): streamed results must
    equal the same aggregation run in batch over the full input."""
    from gossiphs_spark.streaming.windowed import windowed_crawl_stats

    pages, _, _ = pages_df(spark, n_pages=40, seed=9)
    landing = str(tmp_path / "wland")
    pages.write.parquet(landing)

    stream = (
        spark.readStream.schema(PAGES_SCHEMA).format("parquet").load(landing)
    )
    q = (
        windowed_crawl_stats(stream, window="7 days", watermark="1 day")
        .writeStream.format("memory").queryName("crawl_stats")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)

    # append mode emits only watermark-finalized windows; with a bounded
    # file source every window but the last finalizes
    got = {
        (r["window_start"], r["n_pages"], r["bytes_html"])
        for r in spark.sql("SELECT * FROM crawl_stats").collect()
    }
    exp_all = {
        (r["window_start"], r["n_pages"], r["bytes_html"])
        for r in (
            spark.read.parquet(landing)
            .groupBy(F.window("warc_ts", "7 days").alias("w"))
            .agg(F.count("*").alias("n_pages"),
                 F.sum(F.length("html")).alias("bytes_html"))
            .select(F.col("w.start").alias("window_start"), "n_pages", "bytes_html")
            .collect()
        )
    }
    assert got  # at least the finalized windows arrived
    assert got <= exp_all  # every emitted window matches batch exactly
    assert len(exp_all) - len(got) <= 1  # only the open tail window held back


def test_stream_dedup_within_watermark(spark, tmp_path):
    """Streaming url-dedup: re-fetches inside the watermark collapse to
    one row per url; state is watermark-bounded."""
    from gossiphs_spark.streaming.dedup import dedup_stream

    pages, _, _ = pages_df(spark, n_pages=30, seed=5)
    # simulate re-fetches: every page lands twice, second copy 1 hour later
    refetch = pages.withColumn(
        "warc_ts", F.col("warc_ts") + F.expr("INTERVAL 1 HOUR")
    )
    landing = str(tmp_path / "dl")
    pages.unionByName(refetch).write.parquet(landing)

    stream = spark.readStream.schema(PAGES_SCHEMA).format("parquet").load(landing)
    q = (
        dedup_stream(stream, keys=("url",), watermark="1 day")
        .writeStream.format("memory").queryName("dedup_urls")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)

    got = spark.sql("SELECT url FROM dedup_urls").collect()
    urls = [r["url"] for r in got]
    assert len(urls) == len(set(urls)) == 30  # one row per url, none lost


def test_stream_dedup_by_content(spark, tmp_path):
    """Content-addressed streaming dedup: mirrors (same html, different
    url) collapse; distinct content survives."""
    from gossiphs_spark.streaming.dedup import dedup_stream_by_content

    pages, _, _ = pages_df(spark, n_pages=20, seed=5)
    mirror = pages.withColumn("url", F.concat(F.lit("mirror-"), F.col("url")))
    landing = str(tmp_path / "dc")
    pages.unionByName(mirror).write.parquet(landing)

    stream = spark.readStream.schema(PAGES_SCHEMA).format("parquet").load(landing)
    q = (
        dedup_stream_by_content(stream, text_col="html", watermark="1 day")
        .writeStream.format("memory").queryName("dedup_content")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)

    rows = spark.sql("SELECT url, html FROM dedup_content").collect()
    assert len(rows) == 20  # one survivor per distinct html
    assert len({bytes(r["html"]) for r in rows}) == 20
    assert "_chash" not in spark.sql("SELECT * FROM dedup_content").columns


# ---- continuous KG maintenance (streaming/maintain.py) --------------------

MAINT_SCHEMA = "url string, content string, source string"

_V1 = [
    ("doc://1", "alpha beta gamma alpha", "s"),
    ("doc://2", "beta alpha delta", "s"),
    ("doc://3", "gamma epsilon beta", "s"),
    ("doc://4", "zeta epsilon zeta", "s"),
    ("doc://6", "kappa lambdaX kappa", "s"),
    ("doc://7", "lambdaX kappa kappa", "s"),
]
# doc://2 rewritten, doc://4 deleted (empty content), doc://5 created
_CHANGED = [
    ("doc://2", "omega gamma gamma", "s"),
    ("doc://4", "", "s"),
    ("doc://5", "alpha zeta omega", "s"),
]
_V2 = [p for p in _V1 if p[0] not in {"doc://2", "doc://4"}] + [
    c for c in _CHANGED if c[1]
]


def _rebuild_related(spark, rows):
    from gossiphs_spark.operators import textmode as tm

    pages = spark.createDataFrame(rows, MAINT_SCHEMA)
    fp = tm.filter_pointless(tm.mentions(pages), 3)
    defs = fp.filter(F.col("kind") == "DEF")
    return tm.related_pages(tm.edges(defs, fp.filter(F.col("kind") == "REF")), defs)


def test_maintained_stream_state_equals_full_rebuild(spark, tmp_path):
    """Two micro-batches (initial corpus, then a rewrite+delete+create
    delta) through the foreachBatch splice driver must leave the store's
    related table equal to a from-scratch rebuild of the final corpus —
    the batch splice ≡ rebuild pin, carried across the streaming driver."""
    import os
    import time

    from gossiphs_spark.streaming.maintain import maintain_related_stream

    landing = str(tmp_path / "landing")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(landing)
    # one parquet FILE per micro-batch; the file source processes oldest
    # mtime first, so space the mtimes explicitly
    spark.createDataFrame(_V1, MAINT_SCHEMA).coalesce(1).write.mode(
        "append").parquet(landing)
    first = max(
        (os.path.join(landing, f) for f in os.listdir(landing)
         if f.endswith(".parquet")), key=os.path.getmtime)
    os.utime(first, (time.time() - 120, time.time() - 120))
    spark.createDataFrame(_CHANGED, MAINT_SCHEMA).coalesce(1).write.mode(
        "append").parquet(landing)

    q, store = maintain_related_stream(
        spark, landing, MAINT_SCHEMA, state, ckpt, max_files_per_trigger=1)
    q.awaitTermination(180)

    man = store.manifest()
    assert man is not None and man["batch_id"] >= 1  # two batches applied
    m, s, rel, last_id = store.load(spark)
    got = {(r["page"], r["other"], r["score"]) for r in rel.collect()}
    want = {(r["page"], r["other"], r["score"])
            for r in _rebuild_related(spark, _V2).collect()}
    assert got == want and got  # non-vacuous
    # the maintained mentions table equals a fresh extraction of V2
    from gossiphs_spark.operators import textmode as tm
    want_m = {(r["url"], r["name"], r["kind"]) for r in tm.mentions(
        spark.createDataFrame(_V2, MAINT_SCHEMA)).collect()}
    got_m = {(r["url"], r["name"], r["kind"]) for r in m.collect()}
    assert got_m == want_m


def test_maintain_commit_rewrites_only_touched_buckets(spark, tmp_path):
    """The r7-verdict weak component, fixed: a small micro-batch against
    a bucketed state store must rewrite O(delta) bucket dirs — NOT the
    full state — while the final state stays identical to a from-scratch
    rebuild. Pinned by diffing the (table, bucket) → version manifest
    across the two commits and checking the rewritten sets against the
    delta's key-hash buckets computed independently (zlib.crc32 — the
    same function as lineage.bucket_of's F.crc32)."""
    import zlib

    from gossiphs_spark.streaming.maintain import (RelatedStateStore,
                                                   apply_batch)

    NB = 16
    # 48 pages in linked pairs: pages 2k/2k+1 share link{k}word (each page
    # carries it twice → DEF+REF → a related pair), plus a per-page solo
    # token. A single-page rewrite therefore affects only its own pair.
    corpus = []
    for k in range(24):
        w = f"link{k:02d}word"
        corpus.append((f"doc://p{2 * k}", f"{w} {w} solo{2 * k:03d}xx", "s"))
        corpus.append((f"doc://p{2 * k + 1}", f"{w} {w} solo{2 * k + 1:03d}xx", "s"))
    changed = [("doc://p0", "link00word link00word newz00word newz00word", "s")]
    final_corpus = [p for p in corpus if p[0] != "doc://p0"] + changed

    store = RelatedStateStore(str(tmp_path / "state3"), n_buckets=NB)
    assert apply_batch(spark, store, spark.createDataFrame(
        corpus, MAINT_SCHEMA), 0) is True
    man0 = store.manifest()
    assert apply_batch(spark, store, spark.createDataFrame(
        changed, MAINT_SCHEMA), 1) is True
    man1 = store.manifest()

    def rewritten(table):
        t0, t1 = man0["tables"][table], man1["tables"][table]
        return {b for b in set(t0) | set(t1) if t0.get(b) != t1.get(b)}

    def bucket(key):
        return f"{zlib.crc32(key.encode()) % NB:05d}"

    # mentions rows differ only on the changed url → exactly its bucket
    assert rewritten("mentions") == {bucket("doc://p0")}
    # stats rows differ only for the delta's names (old ∪ new version)
    assert rewritten("stats") <= {
        bucket(n) for n in ("link00word", "solo000xx", "newz00word")}
    # related rows differ only for the affected pair
    assert set() < rewritten("related") <= {
        bucket("doc://p0"), bucket("doc://p1")}
    # headline O(delta) claim: the micro-batch rewrote a small fraction
    # of the populated buckets, not the state
    populated = sum(len(man0["tables"][t]) for t in man0["tables"])
    rewrote = sum(len(rewritten(t)) for t in man0["tables"])
    assert populated >= 30 and rewrote <= 6
    # untouched buckets kept their v0 dirs (no silent rewrite-in-place)
    assert any(v == "v000000000000" for v in man1["tables"]["related"].values())

    # ...and the delta-bounded commit still equals a from-scratch rebuild
    m, s, rel, last_id = store.load(spark)
    assert last_id == 1
    got = {(r["page"], r["other"], r["score"]) for r in rel.collect()}
    want = {(r["page"], r["other"], r["score"])
            for r in _rebuild_related(spark, final_corpus).collect()}
    assert got == want and got
    from gossiphs_spark.operators import textmode as tm
    want_m = {(r["url"], r["name"], r["kind"]) for r in tm.mentions(
        spark.createDataFrame(final_corpus, MAINT_SCHEMA)).collect()}
    assert {(r["url"], r["name"], r["kind"]) for r in m.collect()} == want_m


def test_state_store_reopen_checks_n_buckets(spark, tmp_path):
    """n_buckets is fixed at store creation: a reopen that names none
    adopts the manifest's value, and any explicit mismatch raises — an
    explicit 16 included, which must not pass for the default."""
    from gossiphs_spark.streaming.maintain import RelatedStateStore

    state = str(tmp_path / "state")
    store = RelatedStateStore(state, n_buckets=8)
    empty = spark.createDataFrame([], "k string")
    store.commit(0, empty, empty, empty,
                 touched={t: set() for t in ("mentions", "stats", "related")})
    assert RelatedStateStore(state).n_buckets == 8
    assert RelatedStateStore(state, n_buckets=8).n_buckets == 8
    for nb in (16, 4):
        with pytest.raises(ValueError, match="n_buckets=8"):
            RelatedStateStore(state, n_buckets=nb)
    assert RelatedStateStore(str(tmp_path / "fresh")).n_buckets == 16


def test_maintain_replayed_batch_is_skipped(spark, tmp_path):
    """foreachBatch is at-least-once: re-applying a committed batch id
    must be a no-op (same manifest, same state) — the dedup that makes
    the store effectively-exactly-once."""
    from gossiphs_spark.streaming.maintain import (RelatedStateStore,
                                                   apply_batch)

    store = RelatedStateStore(str(tmp_path / "state2"))
    b0 = spark.createDataFrame(_V1, MAINT_SCHEMA)
    assert apply_batch(spark, store, b0, 0) is True
    man0 = store.manifest()
    rel0 = {tuple(r) for r in store.load(spark)[2].collect()}
    # replay batch 0 with DIFFERENT content: must be skipped entirely
    b0_evil = spark.createDataFrame(_CHANGED, MAINT_SCHEMA)
    assert apply_batch(spark, store, b0_evil, 0) is False
    assert store.manifest() == man0
    assert {tuple(r) for r in store.load(spark)[2].collect()} == rel0
    # the next id applies normally
    assert apply_batch(spark, store, spark.createDataFrame(
        _CHANGED, MAINT_SCHEMA), 1) is True
    assert store.manifest()["batch_id"] == 1
