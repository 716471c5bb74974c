"""Readers/adapters over the driver-provided parquet tables.

The reference scans a git repo (commit walk src/graph.rs:847-868 + blob
reads graph.rs:216-291); our sources are columnar scans (S1/S2 in
SURVEY.md §2.1). Catalyst pushes filters/column pruning into the parquet
scan, so every downstream operator should select only what it needs.

Two adapter views recast the driver tables into the engine's data model:

* ``doc_pages`` — the `documents` table as corpus pages:
    url = 'doc://' || doc_id, content = text.
* ``evidence`` — the `events` table as crawl-evidence provenance
  (analog of the file↔commit cupido graph, ref src/graph.rs:482-494):
    url = 'doc://' || (user_id % n_docs)?  NO — deterministic, simple:
    entity url = 'u://' || user_id, evidence_id = the activity day.
  Co-occurrence evidence = "active in the same day-snapshot", the web
  analog of "touched by the same commit".
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def doc_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → pages-shaped view (url, content, lang, source)."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias("url"),
        F.col("text").alias("content"),
        "lang",
        "source",
    )


# The same view as a DuckDB CTE so every oracle query shares one definition.
DOC_PAGES_SQL = (
    "SELECT 'doc://' || CAST(doc_id AS VARCHAR) AS url, text AS content, lang, source "
    "FROM documents"
)


def evidence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → co-occurrence evidence view (url, evidence_id, ts).

    Analog of the cupido file↔commit relation graph (ref graph.rs:847-868):
    url ≅ file, evidence_id ≅ commit sha, ts ≅ commit timestamp.
    """
    e = load_table(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts"))
    return (
        e.select(
            F.concat(F.lit("u://"), F.col("user_id").cast("string")).alias("url"),
            F.date_format(day, "yyyy-MM-dd").alias("evidence_id"),
            day.alias("ts"),
        )
        .distinct()
    )


EVIDENCE_SQL = (
    "SELECT DISTINCT 'u://' || CAST(user_id AS VARCHAR) AS url, "
    "strftime(date_trunc('day', ts), '%Y-%m-%d') AS evidence_id, "
    "date_trunc('day', ts) AS ts FROM events"
)
