"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload {kg_build,delta_splice} \\
        --seed N --seconds S --trace {0,1}

The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics untraced, the
per-layer metrics traced. Everything the run writes stays under
``.perfbench_out/`` in the working directory and is removed at exit,
except the span log of the run.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import threading  # noqa: E402

ROOT = os.getcwd()
WORKLOADS = ("kg_build", "delta_splice")
END_TO_END = {  # name → unit
    "setup_s": "s", "batch_s": "s", "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s",
    **{f"build_graph.{k}": u for k, u in (
        ("s", "s"), ("task_s", "s"), ("between_jobs_s", "s"),
        ("shuffle_write_mb", "MB"), ("spill_mb", "MB"))},
    "extract.mentions_rows": "count",
    **{f"candidates.{k}": u for k, u in (
        ("s", "s"), ("task_s", "s"), ("between_jobs_s", "s"),
        ("shuffle_write_mb", "MB"), ("spill_mb", "MB"), ("rows", "count"))},
    **{f"{t}.{k}": u for t in ("edges", "related", "triples")
       for k, u in (("s", "s"), ("shuffle_write_mb", "MB"),
                    ("rows", "count"))},
    "extract.s": "s", "extract.task_s": "s", "extract.pages_per_s": "pages/s",
    "lineage.s": "s", "lineage.bucket_commit_s": "s",
    "lineage.written_mb": "MB", "lineage.rows": "count",
    "canonical_entities.s": "s", "lsh_pairs.rows": "count",
    "verified_pairs.rows": "count",
    "canonicalize.verified_per_candidate": "ratio",
    "canonicalize_triples.s": "s",
    "canonicalize_triples.shuffle_write_mb": "MB",
    "canonicalize_triples.rows": "count",
    "apply_delta.s": "s", "incremental.affected_pages": "count",
    "incremental.affected_per_changed": "ratio",
    "apply_batch.s": "s", "maintain.commit_mb": "MB",
    "maintain.buckets_rewritten": "count",
    "route_graph.relate_ms": "ms", "route_graph.symbol_ms": "ms",
    "route_graph.metadata_ms": "ms",
    "http.relate_p50_ms": "ms", "http.relate_p95_ms": "ms",
    "http.symbol_p50_ms": "ms", "http.metadata_p50_ms": "ms",
    "http.serve_rps": "req/s", "serve.generator_late_ms": "ms",
}


def _args(argv):
    p = argparse.ArgumentParser(prog="perfbench/run.py")
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _scratch(workload: str, seed: int) -> dict:
    """Per-run scratch under the working directory; every temp dir the
    JVM, Spark and Python use points inside it."""
    base = os.path.join(ROOT, ".perfbench_out",
                        f"{workload}-{seed}-{os.getpid()}")
    io = {k: os.path.join(base, k) for k in
          ("tmp", "local", "in", "out", "warehouse")}
    for d in io.values():
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = io["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = io["local"]
    # no hsperfdata files under /tmp from the launcher or driver JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    tempfile.tempdir = io["tmp"]
    io.update(base=base, root=ROOT,
              pages=os.path.join(io["in"], "pages"),
              evidence=os.path.join(io["in"], "evidence"),
              pages_large=os.path.join(io["in"], "pages_large"))
    return io


def _session(io: dict, cores: int):
    """Spark session as the CLI builds one (cli.main): get_spark with
    nproc cores, then tune_adaptive on the input's on-disk size — but
    with one shuffle partition per core (README: Session)."""
    from gossiphs_spark.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    return get_spark(
        app_name="perfbench", cores=cores, shuffle_partitions=cores,
        extra_conf={
            "spark.sql.execution.arrow.maxRecordsPerBatch": "2048",
            "spark.local.dir": io["local"],
            "spark.sql.warehouse.dir": io["warehouse"],
            "spark.driver.extraJavaOptions":
                f"-XX:-UsePerfData -Djava.io.tmpdir={io['tmp']}",
            "spark.hadoop.hadoop.tmp.dir": io["tmp"],
            "spark.ui.showConsoleProgress": "false",
        })


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM to exit."""
    gw = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv=None) -> int:
    args = _args(argv)
    # a terminated run still stops Spark and removes its scratch (finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, ROOT)
    try:
        import gossiphs_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not importable here: {e}",
              file=sys.stderr)
        return 2
    from gossiphs_spark.session import dir_size_bytes, tune_adaptive

    from perfbench import gen, workloads
    from perfbench.tracing import Ledger, RssSampler, Spans

    cores = len(os.sched_getaffinity(0))
    io = _scratch(args.workload, args.seed)
    spans = Spans() if args.trace else None
    res = workloads.Result()
    spark = None
    try:
        expected: dict = {}
        writer = None
        if args.workload == "kg_build":  # written while the JVM starts
            writer = threading.Thread(target=lambda: expected.update(
                gen.write_kg_inputs(io["in"], args.seed, bool(args.trace))))
            writer.start()
        t_session = time.perf_counter()
        spark = _session(io, cores)
        res.layers["session.start_s"] = time.perf_counter() - t_session
        if writer is not None:
            writer.join()
        ledger = Ledger(spark, spans)
        with RssSampler(spark.sparkContext._gateway.proc.pid) as rss:
            if args.workload == "kg_build":
                tune_adaptive(spark, dir_size_bytes(io["pages"]))
                setup_s = time.perf_counter() - T_START
                workloads.kg_build(spark, ledger, io, expected, args.seed,
                                   args.seconds, res)
            else:
                tune_adaptive(spark, 0)  # a few hundred text pages
                store = workloads.splice_setup(spark, io, args.seed)
                setup_s = time.perf_counter() - T_START
                workloads.delta_splice(spark, ledger, io, store, args.seed,
                                       args.seconds, res)
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(io["base"], ignore_errors=True)

    if args.trace:
        values = {k: res.layers.get(k, 0.0) for k in PER_LAYER}
        units = PER_LAYER
        path = os.path.join(ROOT, ".perfbench_out",
                            f"spans-{args.workload}-{args.seed}.json")
        with open(path, "w") as f:
            json.dump(spans.rows, f)
    else:
        values = {"setup_s": setup_s,
                  "batch_s": statistics.median(res.batch_s),
                  "peak_rss_mb": rss.peak_mb}
        units = END_TO_END
    for msg in res.failures:
        print(f"perfbench: check failed: {msg}", file=sys.stderr)
    print(json.dumps({
        "correct": not res.failures,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
