"""Pipeline configuration.

Mirrors the reference's ``GraphConfig`` knobs and defaults
(/root/reference/src/graph.rs:870-972, defaults at graph.rs:946-971) with
web-generalized names where the concept changed (files -> pages/urls,
commits -> crawl-evidence snapshots).
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class PipelineConfig:
    # --- candidate-pruning knobs (ref graph.rs:946-971) ---
    def_limit: int = 12            # hard cap of linked DEFs per REF (graph.rs:948)
    top_n: int = 0                 # 0 = auto (def_limit governs)   (graph.rs:949)
    file_min_links: int = 0        # related-files floor            (graph.rs:950)
    file_max_links: int = 0        # related-files cap              (graph.rs:951)
    min_score: float = 0.01        # drop non-physical candidates below (graph.rs:957)
    # hub-entity damping ratio (graph.rs:916-918). The reference DECLARES
    # this knob but never applies it (graph.rs never reads it), so the
    # parity DEFAULT is 1.0 = damping off — default outputs match the
    # reference on hub-heavy corpora. At web scale set ~0.1 (SURVEY §4 O8:
    # an undamped name defined in 10% of 10^12 pages explodes the
    # candidate join); the CLI logs when damping is active.
    max_def_ratio: float = 1.0

    # --- extraction hygiene (ref graph.rs:954-959) ---
    symbol_limit: int = 4096       # drop whole page if more mentions (graph.rs:958)
    symbol_len_limit: int = 3      # drop mentions with len(name) <= 3 (graph.rs:959)
    exclude_url_regex: str = ""    # analog of exclude_file_regex   (graph.rs:497-500)

    # --- co-occurrence evidence (ref graph.rs:536-581) ---
    commit_size_limit_ratio: float = 1.0  # fat-evidence filter     (graph.rs:886)
    temporal_decay: bool = True           # 2^(-age_days/half_life) (graph.rs:569-571)
    half_life_days: float = 365.0         # (graph.rs:971)

    # --- engine knobs (ours; no reference analog — Spark-scale tuning) ---
    # build_graph materializes the filtered-mention stage to scratch
    # parquet: it cuts the analyzed-tree depth for the ~25 downstream ops
    # (driver plan-build ~14 s → ~5 s at sf0.1) and is the pipeline's
    # natural checkpoint boundary at scale (an Iceberg stage table on a
    # cluster). This is where it writes. Empty = a driver-local tempdir,
    # which is only correct when spark.master is local (on yarn/k8s the
    # executors would write parts to THEIR local disks and the driver's
    # read-back would be silently truncated) — on a non-local master with
    # no URI configured the pipeline falls back to fm.cache(). On a
    # cluster set this to a shared scratch location (s3://…, hdfs://…);
    # its lifecycle (snapshot expiry / TTL) then owns cleanup.
    stage_scratch_uri: str = ""
    salt_buckets: int = 16         # two-phase salted agg for hot keys
    broadcast_threshold_rows: int = 2_000_000  # broadcast the IDF/dictionary maps

    # --- dedup / canonicalization (north_star; no direct ref analog) ---
    # plumbed into canonicalize_triples (rows/band = perms // bands)
    minhash_perms: int = 16
    minhash_bands: int = 4         # 4 bands x 4 rows
    shingle_size: int = 3
    simhash_bits: int = 64


DEFAULT_CONFIG = PipelineConfig()
