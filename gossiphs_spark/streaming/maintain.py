"""Continuous KG maintenance: a live crawl keeps `related` fresh.

The batch splice operator (operators/incremental.py `apply_delta` —
splice ≡ rebuild pinned by tests/test_incremental.py) is the per-batch
kernel; this module is its Structured-Streaming driver: each micro-batch
of changed pages (new url, rewrite, or deletion-as-empty-content) is
spliced into a versioned materialized state of three tables
(mentions, per-name stats, related) with compute bounded by the delta,
not the corpus. The reference rebuilds from scratch per run (its
incremental surface is the extraction blob cache, ref cache.rs:14-59);
at web scale a crawl re-lands a tiny page fraction per trigger, and
this is the operator that turns that into a continuously-correct graph.

State backend (sandbox): each table is split into deterministic
key-hash buckets (mentions by url, stats by name, related by page —
the same crc32 discipline as lineage.bucket_of), each bucket a
versioned parquet directory, with an atomic `_CURRENT.json` manifest
mapping every (table, bucket) to its current version. A commit rewrites
ONLY the buckets whose keys the delta touched (apply_delta's
return_touched tells it exactly which urls/names/pages can differ), so
both the compute AND the I/O are delta-bounded — an N-page micro-batch
against a B-bucket store rewrites O(touched-keys / (corpus/B)) bucket
directories, not the corpus. On the compute side apply_delta
materializes three delta-bounded frames (the delta's mentions, the
affected pages, the recompute slice), so one job collects the touched
bucket ids of all three tables and the `related` write reads the state
once: the old `related` anti-joined with the affected pages, plus the
rollup of the slice. Touched buckets are rewritten WHOLE, so
per-commit bytes scale with bucket size: size ``n_buckets`` to a
per-bucket byte target as the state grows (Iceberg's file-size
targeting, measured in BENCH/state_io_r08.json — fixed B: commit bytes
track state 1:1; constant bucket size: commit bytes stay flat).
Atomicity is the manifest swap: new version dirs land unreferenced,
then one os.replace of the manifest publishes them all; a killed commit leaves the manifest pointing at the
previous complete version of every bucket. A replayed micro-batch
(foreachBatch is at-least-once) is skipped by its recorded batch id, so
the state is effectively-exactly-once. This is file-level what an
Iceberg/Delta MERGE does: rewrite only data files the merge touches,
with the manifest's role played by the table snapshot (the same
production exit as lineage.TripleSink). The checkpoint dir and the
state dir are one deployment: reusing a state dir with a FRESH stream
checkpoint restarts batch ids and must start from an empty state dir
as well.
"""

from __future__ import annotations

import json
import os
import shutil
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gossiphs_spark.lineage import bucket_of
from gossiphs_spark.operators import textmode as tm
from gossiphs_spark.operators.incremental import apply_delta, name_stats

_TABLES = ("mentions", "stats", "related")
# hash key per table: the column whose value determines a row's bucket
_KEYS = {"mentions": "url", "stats": "name", "related": "page"}
_MANIFEST = "_CURRENT.json"


class RelatedStateStore:
    """Bucketed versioned parquet state with an atomic manifest pointer.

    Layout::

        state_dir/
          _CURRENT.json                      # the only commit point
          mentions/b=00003/v000000000007/    # parquet dir per (bucket,
          stats/b=00001/v000000000002/       #   version); manifest picks
          related/b=00003/v000000000007/     #   the live version

    ``n_buckets`` is fixed at store creation (persisted in the manifest;
    a mismatched reopen raises rather than silently mis-bucketing).
    ``None`` means the manifest's value, or 16 for a new store."""

    def __init__(self, state_dir: str, n_buckets: int | None = None):
        self.state_dir = state_dir
        os.makedirs(state_dir, exist_ok=True)
        man = self.manifest()
        found = man["n_buckets"] if man is not None else None
        if n_buckets is not None and found not in (None, n_buckets):
            raise ValueError(f"state dir has n_buckets={found}, "
                             f"caller asked for {n_buckets}")
        self.n_buckets = found or n_buckets or 16

    def _manifest_path(self) -> str:
        return os.path.join(self.state_dir, _MANIFEST)

    def manifest(self) -> dict | None:
        try:
            with open(self._manifest_path()) as f:
                return json.load(f)
        except FileNotFoundError:
            return None

    def _bucket_dir(self, table: str, bucket: str, version: str) -> str:
        return os.path.join(self.state_dir, table, f"b={bucket}", version)

    def load(self, spark: SparkSession):
        """→ (mentions, stats, related, last_batch_id) or None if empty.

        Reads ONLY manifest-referenced (bucket, version) dirs — never a
        glob, so in-progress or superseded versions are invisible."""
        man = self.manifest()
        if man is None:
            return None
        dfs = []
        for t in _TABLES:
            entries = man["tables"][t]
            paths = [self._bucket_dir(t, b, v)
                     for b, v in sorted(entries.items())]
            if paths:
                dfs.append(spark.read.parquet(*paths))
            else:  # every bucket empty — rebuild the schema from manifest
                schema = T.StructType.fromJson(json.loads(man["schemas"][t]))
                dfs.append(spark.createDataFrame([], schema))
        return (*dfs, man["batch_id"])

    def commit(self, batch_id: int, mentions: DataFrame, stats: DataFrame,
               related: DataFrame,
               touched: dict[str, set[int]] | None = None) -> None:
        """Write new versions of the touched buckets, swap the manifest,
        prune superseded versions.

        ``touched`` maps table → bucket ids whose rows may differ from
        the current state; ``None`` (bootstrap / full rebuild) rewrites
        every bucket. Write order is the atomicity argument: (1) each
        table's touched buckets land in ONE partitionBy job under a tmp
        dir no reader resolves, (2) os.replace publishes each bucket's
        new version dir — still unreferenced, (3) os.replace swaps the
        manifest — the only point a reader's view changes, (4) versions
        superseded twice over are pruned (current + immediate
        predecessor are kept per bucket, for debugging)."""
        version = f"v{batch_id:012d}"
        man_old = self.manifest()
        tables_old = (man_old or {"tables": {t: {} for t in _TABLES}})["tables"]
        tables_new = {t: dict(tables_old.get(t, {})) for t in _TABLES}
        schemas = {}
        for name, df in zip(_TABLES, (mentions, stats, related)):
            schemas[name] = df.schema.json()
            buckets = (sorted({int(b) for b in touched[name]})
                       if touched is not None else list(range(self.n_buckets)))
            if not buckets:
                continue  # delta touched nothing in this table
            dfb = df.withColumn(
                "_b", bucket_of(F.col(_KEYS[name]), self.n_buckets))
            if touched is not None:
                dfb = dfb.filter(F.col("_b").isin(buckets))
            tmp = os.path.join(self.state_dir, f".inprogress_{name}_{version}")
            shutil.rmtree(tmp, ignore_errors=True)
            dfb.write.partitionBy("_b").mode("overwrite").parquet(tmp)
            written = {
                int(d.split("=", 1)[1]): os.path.join(tmp, d)
                for d in os.listdir(tmp) if d.startswith("_b=")
            }
            for b in buckets:
                bkey = f"{b:05d}"
                if b in written:
                    dest = self._bucket_dir(name, bkey, version)
                    os.makedirs(os.path.dirname(dest), exist_ok=True)
                    if os.path.exists(dest):  # replayed half-commit
                        shutil.rmtree(dest)
                    os.replace(written[b], dest)
                    tables_new[name][bkey] = version
                else:  # touched bucket emitted no rows → now empty
                    tables_new[name].pop(bkey, None)
            shutil.rmtree(tmp, ignore_errors=True)
        man_new = {
            "batch_id": batch_id, "n_buckets": self.n_buckets,
            "tables": tables_new, "schemas": schemas,
        }
        man_tmp = self._manifest_path() + ".tmp"
        with open(man_tmp, "w") as f:
            json.dump(man_new, f)
        os.replace(man_tmp, self._manifest_path())
        self._prune(man_new, man_old)

    def _prune(self, man_new: dict, man_old: dict | None) -> None:
        """Remove version dirs referenced by neither the current nor the
        immediately-previous manifest (the predecessor stays on disk for
        debugging, mirroring the pre-bucketed store's keep-one policy)."""
        for t in _TABLES:
            tdir = os.path.join(self.state_dir, t)
            if not os.path.isdir(tdir):
                continue
            for bdir in os.listdir(tdir):
                if not bdir.startswith("b="):
                    continue
                bkey = bdir.split("=", 1)[1]
                keep = {man_new["tables"][t].get(bkey)}
                if man_old is not None:
                    keep.add(man_old["tables"][t].get(bkey))
                for v in os.listdir(os.path.join(tdir, bdir)):
                    if v.startswith("v") and v not in keep:
                        shutil.rmtree(os.path.join(tdir, bdir, v),
                                      ignore_errors=True)


def _empty_state(batch_df: DataFrame):
    """Schema-correct empty (mentions, stats, related) derived lazily
    from the batch itself — the bootstrap for a fresh state dir."""
    empty_pages = batch_df.limit(0)
    m0 = tm.mentions(empty_pages)
    s0 = name_stats(m0)
    d0 = m0.filter(F.col("kind") == "DEF")
    r0 = tm.related_pages(tm.edges(d0, m0.filter(F.col("kind") == "REF")), d0)
    return m0, s0, r0


def _bucket_ids(keys: dict[str, tuple[DataFrame, str]],
                n_buckets: int) -> dict[str, set[int]]:
    """table → distinct bucket ids of its delta-bounded key set, all
    tables in one job (a collect of at most len(keys) × n_buckets rows —
    never corpus-sized)."""
    rows = reduce(DataFrame.unionByName, [
        df.select(F.lit(t).alias("t"), bucket_of(df[c], n_buckets).alias("b"))
        for t, (df, c) in keys.items()]).distinct().collect()
    return {t: {r["b"] for r in rows if r["t"] == t} for t in keys}


def apply_batch(spark: SparkSession, store: RelatedStateStore,
                batch_df: DataFrame, batch_id: int,
                symbol_len_limit: int = 3) -> bool:
    """Splice one micro-batch into the store. Returns False for a
    replayed batch (id ≤ last committed — foreachBatch is at-least-once
    and this is the dedup that makes the state effectively-exactly-once).

    The commit rewrites only the buckets holding keys the delta touched:
    mentions buckets of the changed urls, stats buckets of the affected
    names, related buckets of the affected pages (apply_delta's
    contract: every other row is bit-identical to the old state)."""
    state = store.load(spark)
    if state is None:
        m_old, s_old, r_old = _empty_state(batch_df)
        m_new, s_new, r_new, _, _ = apply_delta(
            m_old, s_old, r_old, batch_df, symbol_len_limit,
            return_touched=True)
        store.commit(batch_id, m_new, s_new, r_new, touched=None)
        return True
    m_old, s_old, r_old, last_id = state
    if batch_id <= last_id:
        return False
    m_new, s_new, r_new, affected_pages, touched = apply_delta(
        m_old, s_old, r_old, batch_df, symbol_len_limit, return_touched=True)
    touched_buckets = _bucket_ids({
        "mentions": (touched["urls"], "url"),
        "stats": (touched["names"], "name"),
        "related": (affected_pages, "url"),
    }, store.n_buckets)
    store.commit(batch_id, m_new, s_new, r_new, touched=touched_buckets)
    return True


def maintain_related_stream(spark: SparkSession, pages_dir: str, schema: str,
                            state_dir: str, checkpoint_dir: str,
                            max_files_per_trigger: int = 1,
                            symbol_len_limit: int = 3,
                            n_buckets: int | None = None):
    """readStream over a landing dir of page batches → per-micro-batch
    splice into a RelatedStateStore. Returns (query, store); the query
    runs with availableNow (drain-then-stop — swap for a processing-time
    trigger on a live deployment)."""
    store = RelatedStateStore(state_dir, n_buckets=n_buckets)
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(pages_dir)
    )
    q = (
        src.writeStream
        .foreachBatch(lambda df, bid: apply_batch(
            spark, store, df, bid, symbol_len_limit))
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    return q, store
