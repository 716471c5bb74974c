"""The two workloads. Each performs whole rounds of the same measured
operation until ``seconds`` have passed (at least one round) and checks
every output; traced runs add the calls that only feed per-layer metrics.

kg_build      html pages → build_graph → symbol edges, page edges, related
              and triples written. Traced: large-body pages →
              materialize_triples → read_triples → canonicalize_triples
              written, and the graph served by a RelatedServer.
delta_splice  a text-mode corpus bootstrapped into a RelatedStateStore,
              then a changed-page micro-batch through apply_batch.
              Traced: apply_delta alone, and the bootstrapped graph served.
"""

from __future__ import annotations

import json
import os
import random
import statistics
import time
from urllib.parse import parse_qs, urlparse

import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from gossiphs_spark import lineage
from gossiphs_spark.config import PipelineConfig
from gossiphs_spark.operators import canonicalize as canon_ops
from gossiphs_spark.operators.extract import extract_mentions
from gossiphs_spark.operators.graphops import file_metadata
from gossiphs_spark.operators.incremental import apply_delta
from gossiphs_spark.plans.pipeline import build_graph, canonicalize_triples
from gossiphs_spark.server import GraphHandle, route_graph
from gossiphs_spark.streaming.maintain import RelatedStateStore, apply_batch

from perfbench import checks, gen, serving

CFG = PipelineConfig()
JACCARD_MIN = 0.6  # canonicalize_triples' default
# Serving runs in traced runs only: its figures spread too widely across
# runs on a shared host to gate a change (see README). One fixed request
# list per phase.
OPEN_RATE = 150.0   # req/s, about 60% of the server's closed-loop capacity
WARMUP_REQUESTS = 30
# (open-loop, closed-loop) requests: the graph built from html pages is
# served with all three routes, the bootstrapped splice graph with /relate
KG_REQUESTS = (600, 600)
SPLICE_REQUESTS = (300, 300)
LINEAGE_BUCKETS = 2
# state-store buckets for a 200-page corpus (the library default is 16)
SPLICE_BUCKETS = 4
SAMPLE_EVERY = 7    # coprime with the 10-request route cycle


class Result:
    def __init__(self):
        self.failures: list[str] = []
        self.attempted = 0
        self.failed = 0
        self.batch_s: list[float] = []
        self.layers: dict[str, float] = {}
        self.related_hash: str | None = None

    def check(self, failures: list[str]) -> None:
        self.failures.extend(failures)

    def layer(self, prefix: str, fig: dict, keys) -> None:
        for k in keys:
            self.layers[f"{prefix}.{k}"] = float(fig[k])


def _rows(glob: str) -> list[dict]:
    return checks.arrow(glob).to_pylist()


def _du_mb(path: str) -> float:
    total = 0
    for root, _dirs, names in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, n)) for n in names)
    return total / 2**20


# ---------------------------------------------------------------- kg_build
def kg_build(spark, ledger, io: dict, expected: dict, seed: int,
             seconds: float, res: Result) -> None:
    t0 = time.perf_counter()
    rnd = 0
    while rnd == 0 or time.perf_counter() - t0 < seconds:
        out = os.path.join(io["out"], f"r{rnd}")
        res.batch_s.append(_kg_round(spark, ledger, io, expected, out, res))
        rnd += 1
    if ledger.traced:
        _triples_canon(spark, ledger, io, expected, out, res)
        glob = lambda t: os.path.join(out, t, "*.parquet")  # noqa: E731
        _serve(io["root"], glob("related"), glob("candidates"),
               glob("metadata"), seed, res, KG_REQUESTS)


def _kg_round(spark, ledger, io, expected, out, res) -> float:
    pages = spark.read.parquet(io["pages"])
    evidence = spark.read.parquet(io["evidence"])
    g, f_build = ledger.call(
        "build_graph", lambda: build_graph(spark, pages, evidence, CFG))
    sym = g.candidates.select(
        F.col("ref_url").alias("src_url"), F.col("def_url").alias("dst_url"),
        F.col("def_name").alias("name"), "ref_name", "occ", "bucket",
        (F.col("occ") * F.col("bucket")).alias("weight"))
    writes = {"candidates": sym, "edges": g.edges, "related": g.related,
              "triples": g.triples}
    figs = {}
    for name, df in writes.items():
        _, figs[name] = ledger.call(
            name, lambda df=df, name=name:
            df.write.mode("overwrite").parquet(os.path.join(out, name)))
    res.attempted += 1 + len(writes)
    build_s = f_build["s"] + sum(f["s"] for f in figs.values())

    if ledger.traced:
        res.layer("build_graph", f_build, ("s", "task_s", "between_jobs_s",
                                           "shuffle_write_mb", "spill_mb"))
        res.layers["extract.mentions_rows"] = float(g.mentions.count())
        res.layer("candidates", figs["candidates"],
                  ("s", "task_s", "between_jobs_s", "shuffle_write_mb",
                   "spill_mb", "rows"))
        for name in ("edges", "related", "triples"):
            res.layer(name, figs[name], ("s", "shuffle_write_mb", "rows"))
        # page metadata, served with the related and symbol-edge tables
        file_metadata(g.mentions, evidence).write.mode("overwrite").parquet(
            os.path.join(out, "metadata"))

    glob = lambda t: os.path.join(out, t, "*.parquet")  # noqa: E731
    res.check(checks.triples_match(
        {tuple(r[:4]) for r in checks.query(
            f"SELECT subj, pred, obj, url FROM {checks.scan(glob('triples'))}")},
        expected["kg_triples"]))
    res.check(checks.edge_weights_conserved(glob("candidates"), glob("edges")))
    res.check(checks.def_limit_respected(glob("candidates"), CFG.def_limit))
    res.check(checks.related_valid(glob("related")))
    written = checks.table_hash(checks.query(
        f"SELECT page, other, score FROM {checks.scan(glob('related'))}"))
    res.check(checks.same_hash(
        written, checks.table_hash(g.related.collect()),
        "related re-evaluated"))
    if res.related_hash is None:
        res.related_hash = written
    else:
        res.check(checks.same_hash(written, res.related_hash,
                                   "related across rounds"))
    g.release_caches()
    g.release()
    return build_s


def _triples_canon(spark, ledger, io, expected, out, res) -> None:
    """The lineage sink and canonicalization path (traced runs only):
    large-body pages → materialize_triples → read_triples →
    canonicalize_triples written, checked, then each canonicalize
    operator and the extraction kernel timed alone."""
    pages = spark.read.parquet(io["pages_large"])
    tri_dir = os.path.join(out, "lineage")
    _, f_lin = ledger.call("lineage", lambda: lineage.materialize_triples(
        spark, pages, tri_dir, run_id="perfbench", n_buckets=LINEAGE_BUCKETS))
    tri = lineage.read_triples(spark, tri_dir)
    held: list = []
    canon_dir = os.path.join(out, "canonical")
    _, f_can = ledger.call(
        "canonicalize_triples",
        lambda: canonicalize_triples(tri, JACCARD_MIN, CFG, cached_out=held)
        .write.mode("overwrite").parquet(canon_dir))
    res.attempted += 2
    tri_pdf = tri.toPandas()
    ents = held[1].toPandas()
    for df in held:
        df.unpersist()
    res.check(checks.lineage_counts(tri_dir, len(tri_pdf)))
    res.check(checks.triples_match(
        set(tri_pdf[["subj", "pred", "obj", "url"]].itertuples(index=False,
                                                               name=None)),
        expected["tc_triples"]))
    res.check(checks.canonical_is_group_min(ents))
    res.check(checks.groups_connected(ents, JACCARD_MIN, CFG.shingle_size))
    res.check(checks.canonical_rows_match(
        tri_pdf, ents, pq.read_table(canon_dir).to_pandas()))

    _, f_ext = ledger.call(
        "extract", lambda: extract_mentions(pages).count())
    res.layer("extract", f_ext, ("s", "task_s"))
    res.layers["extract.pages_per_s"] = gen.TC_PAGES / f_ext["s"]

    with open(os.path.join(tri_dir, "lineage.jsonl")) as f:
        recs = [json.loads(line) for line in f]
    stamps = sorted(float(r["committed_at"]) for r in recs)
    gaps = [b - a for a, b in zip(stamps, stamps[1:])]
    res.layers["lineage.s"] = f_lin["s"]
    res.layers["lineage.bucket_commit_s"] = (
        statistics.median(gaps) if gaps else f_lin["s"])
    res.layers["lineage.written_mb"] = sum(
        _du_mb(os.path.join(tri_dir, d)) for d in os.listdir(tri_dir)
        if d.startswith("triples_bucket="))
    res.layers["lineage.rows"] = float(sum(r["triple_count"] for r in recs))

    names = (tri.select(F.col("subj").alias("name"))
             .union(tri.select(F.col("obj").alias("name"))).distinct()
             .cache())
    names.count()
    kw = dict(n_perms=CFG.minhash_perms,
              rows_per_band=max(CFG.minhash_perms // CFG.minhash_bands, 1),
              shingle_k=CFG.shingle_size)
    _, f_ce = ledger.call("canonical_entities", lambda: canon_ops
                          .canonical_entities(names, jaccard_min=JACCARD_MIN,
                                              **kw).count())
    n_lsh = canon_ops.lsh_candidate_pairs(names, **kw).count()
    n_ver = canon_ops.verified_pairs(names, jaccard_min=JACCARD_MIN,
                                     **kw).count()
    names.unpersist()
    res.layers["canonical_entities.s"] = f_ce["s"]
    res.layers["lsh_pairs.rows"] = float(n_lsh)
    res.layers["verified_pairs.rows"] = float(n_ver)
    res.layers["canonicalize.verified_per_candidate"] = (
        n_ver / n_lsh if n_lsh else 0.0)
    res.layer("canonicalize_triples", f_can, ("s", "shuffle_write_mb", "rows"))


# ------------------------------------------------------------ delta_splice
def splice_setup(spark, io: dict, seed: int) -> RelatedStateStore:
    """Write the corpus, the micro-batch and the final corpus; bootstrap
    the store with the corpus as batch 0."""
    corpus, batch, final = gen.splice_inputs(seed)
    for name, rows in (("corpus", corpus), ("batch", batch),
                       ("final", final)):
        gen.write_text(rows, os.path.join(io["in"], name))
    store = RelatedStateStore(os.path.join(io["out"], "state"),
                              n_buckets=SPLICE_BUCKETS)
    apply_batch(spark, store, spark.read.parquet(
        os.path.join(io["in"], "corpus")), 0)
    return store


def delta_splice(spark, ledger, io: dict, store, seed: int, seconds: float,
                 res: Result) -> None:
    # after batch 0 every bucket holds one version, so one glob reads the
    # bootstrapped table; it is copied into one file, since the server
    # re-reads every file of its glob per query
    boot = os.path.join(io["out"], "related_v0.parquet")
    checks.compact(os.path.join(store.state_dir, "related", "b=*",
                                f"v{0:012d}", "*.parquet"), boot)
    res.check(checks.splice_matches_rebuild(
        pd.DataFrame(_rows(boot)), os.path.join(io["in"], "corpus", "*.parquet")))
    if ledger.traced:
        _serve(io["root"], boot, "", "", seed, res, SPLICE_REQUESTS)

    batch_dir = os.path.join(io["in"], "batch")
    t0 = time.perf_counter()
    bid = 1
    while bid == 1 or time.perf_counter() - t0 < seconds:
        batch = spark.read.parquet(batch_dir)
        if ledger.traced:
            _trace_apply_delta(spark, ledger, store, batch, res)
        applied, f_b = ledger.call(
            "apply_batch", lambda: apply_batch(spark, store, batch, bid))
        res.attempted += 1
        if not applied:
            res.check([f"apply_batch skipped batch {bid}"])
        res.batch_s.append(f_b["s"])
        if ledger.traced:
            res.layers["apply_batch.s"] = f_b["s"]
            version = f"v{bid:012d}"
            dirs = [os.path.join(r, d) for r, ds, _ in os.walk(store.state_dir)
                    for d in ds if d == version]
            res.layers["maintain.buckets_rewritten"] = float(len(dirs))
            res.layers["maintain.commit_mb"] = sum(_du_mb(d) for d in dirs)
        bid += 1

    current = [os.path.join(store.state_dir, "related", f"b={b}", v,
                            "*.parquet")
               for b, v in store.manifest()["tables"]["related"].items()]
    res.check(checks.splice_matches_rebuild(
        checks.arrow(current).to_pandas(),
        os.path.join(io["in"], "final", "*.parquet")))


def _trace_apply_delta(spark, ledger, store, batch, res):
    """Traced-only: apply_delta alone on the current state, with the size
    of the affected-page slice it recomputes."""
    m, s, r, _ = store.load(spark)
    changed = batch.select("url").distinct().count()

    def run():
        out = apply_delta(m, s, r, batch, return_touched=True)
        return out[3].count()

    affected, f = ledger.call("apply_delta", run)
    res.layers["apply_delta.s"] = f["s"]
    res.layers["incremental.affected_pages"] = float(affected)
    res.layers["incremental.affected_per_changed"] = affected / changed


# ----------------------------------------------------------------- serving
def _requests(seed: int, n: int, related, sym, meta):
    """80% /relate, 10% /symbol/relation, 10% /file/metadata — all
    /relate when the graph has no symbol or metadata table."""
    rng = random.Random(seed * 31 + n)
    pages = sorted({r["page"] for r in related})
    names = sorted({r["name"] for r in sym})
    urls = sorted({r["url"] for r in meta})
    full = bool(names and urls)
    reqs = []
    for i in range(n):
        slot = i % 10
        if full and slot == 8:
            reqs.append(serving.symbol_req(rng.choice(names)))
        elif full and slot == 9:
            reqs.append(serving.metadata_req(rng.choice(urls)))
        else:
            reqs.append(serving.relate_req(rng.choice(pages)))
    return reqs


def _reference(route: str, path: str, related, sym, meta):
    q = {k: v[0] for k, v in parse_qs(urlparse(path).query).items()}
    if route == "relate":
        return checks.topk(related, "page", q["url"], "score", ["other"],
                           int(q["top"]), ["page", "other", "score"])
    if route == "symbol":
        return checks.topk(sym, "name", q["name"], "weight",
                           ["src_url", "dst_url"], int(q["top"]),
                           ["src_url", "dst_url", "name", "weight"])
    return next(r for r in meta if r["url"] == q["url"])


def _serve(root: str, rel_glob: str, sym_glob: str, meta_glob: str,
           seed: int, res: Result, n_requests: tuple[int, int]) -> None:
    """Serve the graph from its own process: warm-up, open loop, closed
    loop; check sampled responses against pyarrow-read references."""
    related = _rows(rel_glob)
    sym = _rows(sym_glob) if sym_glob else []
    meta = _rows(meta_glob) if meta_glob else []
    clients = len(os.sched_getaffinity(0))
    proc, port = serving.start_server(root, rel_glob, sym_glob, meta_glob)
    try:
        open_reqs = _requests(seed, n_requests[0], related, sym, meta)
        closed_reqs = _requests(seed, n_requests[1], related, sym, meta)
        # warm-up: the server's first queries open the parquet views
        serving.closed_loop(port, closed_reqs[:WARMUP_REQUESTS], 1)
        op = serving.open_loop(port, open_reqs, OPEN_RATE, workers=16,
                               sample_every=SAMPLE_EVERY)
        cl = serving.closed_loop(port, closed_reqs, clients,
                                 sample_every=SAMPLE_EVERY)
    finally:
        serving.stop_server(proc)
    res.attempted += op.attempted + cl.attempted
    res.failed += op.failed + cl.failed
    pairs = []
    for ph, reqs in ((op, open_reqs), (cl, closed_reqs)):
        for i, payload in sorted(ph.payloads.items()):
            route, path = reqs[i]
            pairs.append((path, payload,
                          _reference(route, path, related, sym, meta)))
    res.check(checks.responses_match(pairs))
    rel = op.lat["relate"]
    for route in ("relate", "symbol", "metadata"):
        lat = op.lat.get(route)
        res.layers[f"http.{route}_p50_ms"] = (
            serving.quantile(lat, 0.5) * 1e3 if lat else 0.0)
    res.layers["http.relate_p95_ms"] = serving.quantile(rel, 0.95) * 1e3
    res.layers["http.serve_rps"] = cl.attempted / cl.wall
    res.layers["serve.generator_late_ms"] = op.late_max * 1e3
    _trace_routes(rel_glob, sym_glob, meta_glob, open_reqs, res)


def _trace_routes(rel_glob, sym_glob, meta_glob, reqs, res):
    """In-process route_graph calls on one handle: no HTTP, no threads."""
    g = GraphHandle(rel_glob, sym_glob or None, meta_glob or None)
    times: dict[str, list[float]] = {}
    try:
        for route, path in reqs[:300]:
            u = urlparse(path)
            t = time.perf_counter()
            route_graph(g, u.path, parse_qs(u.query))
            times.setdefault(route, []).append(time.perf_counter() - t)
    finally:
        g.close()
    for route in ("relate", "symbol", "metadata"):
        xs = times.get(route)
        res.layers[f"route_graph.{route}_ms"] = (
            statistics.median(xs) * 1e3 if xs else 0.0)
