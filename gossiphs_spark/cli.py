"""CLI — parity with the reference's subcommands
(/root/reference/src/main.rs:234-247 dispatch):

  relate    related pages for --url (or all) → JSON lines   (S4, main.rs:266-286)
  interactive  stdin url loop → top-k related JSON          (main.rs:443-478)
  export    node/edge tables with dense ids → JSONL/parquet (S5, main.rs:288-327)
  matrix    page×page score matrix → CSV                    (S6, main.rs:329-441)
  triples   materialize triples with lineage/resume         (O4 cache analog)
  diff      two corpus snapshots → ADDED/DELETED/MODIFIED   (SO1, main.rs:606-640)

Input is a parquet directory of pages(url, warc_ts, html, text, lang) and
optionally evidence(url, evidence_id, ts). Launch locally or via
``spark-submit --py-files <zip> -m gossiphs_spark.cli ...``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

from pyspark.sql import functions as F


def _load(spark, args):
    pages = spark.read.parquet(args.pages)
    if args.evidence:
        evidence = spark.read.parquet(args.evidence)
    else:
        # no provenance: every page is its own singleton evidence at its
        # crawl time (keeps scoring defined; jaccard degenerates to 0)
        evidence = pages.select(
            "url", F.col("url").alias("evidence_id"), F.col("warc_ts").alias("ts")
        )
    return pages, evidence


def _cfg_of(args):
    from gossiphs_spark.config import PipelineConfig

    return PipelineConfig(
        def_limit=args.def_limit,
        file_min_links=args.file_min_links,
        file_max_links=args.file_max_links,
        max_def_ratio=args.max_def_ratio,
        exclude_url_regex=args.exclude_url_regex or "",
    )


def _build(spark, args):
    from gossiphs_spark.plans.pipeline import build_graph

    pages, evidence = _load(spark, args)
    g = build_graph(spark, pages, evidence, _cfg_of(args))
    if args.max_def_ratio < 1.0:
        # hub damping diverges from reference defaults (it declares the
        # knob, never applies it) — surface the divergence per run.
        # Counting the stoplist forces an extra aggregation job over the
        # defs table, so the count itself is opt-in (--log-damped);
        # g.damped stays inspectable either way.
        detail = (
            f": {g.damped.count()} name(s) damped" if args.log_damped else ""
        )
        print(
            f"hub damping active (max_def_ratio={args.max_def_ratio})"
            f"{detail}",
            file=sys.stderr,
        )
    return g


def cmd_relate(spark, args):
    g = _build(spark, args)
    rel = g.related
    if args.url:
        rel = rel.filter(F.col("page") == args.url)
    if args.ignore_zero:
        rel = rel.filter(F.col("score") > 0)  # F10
    rows = rel.orderBy(F.desc("score"), "other").collect()
    for r in rows:
        print(json.dumps({"page": r["page"], "other": r["other"], "score": r["score"]}))


def cmd_interactive(spark, args):
    """REPL analog of the reference's `interactive` subcommand
    (/root/reference/src/main.rs:443-478: build the graph ONCE, then loop
    prompting for a path and printing {name, related} JSON until EOF).

    Spark form: the related table is built and CACHED once; each prompt
    is a filtered+limited distributed query against the cache, so only
    the top-k rows ever reach the driver — the loop works unchanged
    whether `related` is 10^3 rows or 10^10. `--dry` builds and exits
    (main.rs:457-459)."""
    g = _build(spark, args)
    rel = g.related.cache()
    n = rel.count()  # materializes the cache; one corpus build total
    if args.dry:
        print(json.dumps({"dry": True, "related_rows": n}))
        return
    print(f"graph ready ({n} related pairs); one url per line, EOF ends",
          file=sys.stderr)
    stream = getattr(args, "input", None) or sys.stdin
    for line in stream:
        url = line.strip()
        if not url:
            continue
        rows = (
            rel.filter(F.col("page") == url)
            .orderBy(F.desc("score"), "other")
            .limit(args.top_k)
            .collect()
        )
        print(json.dumps({
            "name": url,
            "related": [{"name": r["other"], "score": r["score"]}
                        for r in rows],
        }))
        sys.stdout.flush()
    rel.unpersist()


def cmd_export(spark, args):
    from gossiphs_spark.operators.graphops import dense_export

    g = _build(spark, args)
    if args.format == "neo4j":
        from gossiphs_spark.operators.sinks import write_neo4j_bulk

        write_neo4j_bulk(g.related, args.out)
        print(json.dumps({"format": "neo4j", "out": args.out}))
        return
    nodes, edges = dense_export(g.related)
    os.makedirs(args.out, exist_ok=True)
    if args.format == "jsonl":
        nodes.coalesce(1).write.mode("overwrite").json(os.path.join(args.out, "nodes"))
        edges.coalesce(1).write.mode("overwrite").json(os.path.join(args.out, "edges"))
    else:
        nodes.write.mode("overwrite").parquet(os.path.join(args.out, "nodes"))
        edges.write.mode("overwrite").parquet(os.path.join(args.out, "edges"))
    print(json.dumps({"nodes": nodes.count(), "edges": edges.count(), "out": args.out}))


def cmd_matrix(spark, args):
    g = _build(spark, args)
    g.related.orderBy("page", "other").coalesce(1).write.mode("overwrite").option(
        "header", True
    ).csv(args.out)
    print(json.dumps({"rows": g.related.count(), "out": args.out}))


def cmd_triples(spark, args):
    from gossiphs_spark import lineage

    pages, _ = _load(spark, args)
    done = lineage.materialize_triples(
        spark, pages, args.out, run_id=args.run_id, n_buckets=args.buckets
    )
    total = lineage.read_triples(spark, args.out).count()
    print(json.dumps({"committed_buckets": done, "total_triples": total}))


def cmd_diff(spark, args):
    from gossiphs_spark.operators.graphops import snapshot_diff

    # change-list scoping (ref src/main.rs:582-603: `diff` restricts to
    # the git-changed file list): only pages in the list are diffed. The
    # filter lands BEFORE the full-outer diff join, so the compare is
    # bounded by the change list, not the corpus. Scope parsing runs
    # BEFORE the two corpus builds so a CI no-change run (empty list) is
    # near-free and a bad --changed-list path errors immediately.
    scoped = bool(args.urls) or bool(args.changed_list)
    urls = [u for u in (args.urls.split(",") if args.urls else []) if u]
    if args.changed_list:
        with open(args.changed_list) as fh:
            urls += [line.strip() for line in fh if line.strip()]
    if scoped and not urls:
        # scoping requested with zero entries (e.g. CI's no-change run
        # wrote an empty list) = nothing changed = empty diff — NOT
        # "diff the whole corpus"
        return
    old_args = argparse.Namespace(**vars(args))
    old_args.pages = args.old_pages
    g_old = _build(spark, old_args)
    g_new = _build(spark, args)
    old_rel, new_rel = g_old.related, g_new.related
    if scoped:
        scope = spark.createDataFrame([(u,) for u in urls], "page string")
        old_rel = old_rel.join(F.broadcast(scope), "page", "left_semi")
        new_rel = new_rel.join(F.broadcast(scope), "page", "left_semi")
    d = snapshot_diff(old_rel, new_rel)
    for r in d.orderBy("state", "page", "other").collect():
        print(json.dumps({"page": r["page"], "other": r["other"], "state": r["state"]}))


def main(argv=None):
    p = argparse.ArgumentParser(prog="gossiphs_spark")
    p.add_argument("--pages", required=True, help="parquet dir of pages")
    p.add_argument("--evidence", help="parquet dir of evidence (optional)")
    p.add_argument("--cores", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    p.add_argument("--def-limit", type=int, default=12)
    p.add_argument("--file-min-links", type=int, default=0)
    p.add_argument("--file-max-links", type=int, default=0)
    p.add_argument("--max-def-ratio", type=float, default=1.0,
                   help="hub-damping ratio; 1.0 = off (reference parity), "
                        "~0.1 recommended at web scale")
    p.add_argument("--log-damped", action="store_true",
                   help="count the damped-name stoplist (one extra job)")
    p.add_argument("--exclude-url-regex", default="")
    sub = p.add_subparsers(dest="cmd", required=True)

    s = sub.add_parser("relate")
    s.add_argument("--url")
    s.add_argument("--ignore-zero", action="store_true")

    s = sub.add_parser("interactive")
    s.add_argument("--top-k", type=int, default=10)
    s.add_argument("--dry", action="store_true",
                   help="build the graph and exit (ref main.rs:457)")

    s = sub.add_parser("export")
    s.add_argument("--out", required=True)
    s.add_argument("--format", choices=["jsonl", "parquet", "neo4j"],
                   default="jsonl")

    s = sub.add_parser("matrix")
    s.add_argument("--out", required=True)

    s = sub.add_parser("triples")
    s.add_argument("--out", required=True)
    s.add_argument("--run-id", default="cli")
    s.add_argument("--buckets", type=int, default=8)

    s = sub.add_parser("diff")
    s.add_argument("--old-pages", required=True)
    s.add_argument("--urls", default="",
                   help="comma-separated page urls to scope the diff to")
    s.add_argument("--changed-list",
                   help="file of changed page urls, one per line "
                        "(analog of the reference's git-diff scoping)")

    args = p.parse_args(argv)

    from gossiphs_spark.session import bench_session

    spark = bench_session(args.pages, cores=args.cores,
                          app_name=f"gossiphs_{args.cmd}")
    try:
        {
            "relate": cmd_relate,
            "interactive": cmd_interactive,
            "export": cmd_export,
            "matrix": cmd_matrix,
            "triples": cmd_triples,
            "diff": cmd_diff,
        }[args.cmd](spark, args)
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
