"""Scalar helpers (SURVEY.md §2.7 X1-X11) as Catalyst Column expressions.

Each maps a reference scalar (cited) to a JVM-side built-in expression so it
stays inside whole-stage codegen — no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Portable 60-bit hash: identical in Spark and DuckDB.
#   Spark : conv(substring(md5(s),1,15),16,10) cast long
#   DuckDB: cast(('0x' || substring(md5(s),1,15)) as bigint)
# Used wherever an oracle-checked deterministic hash is needed (minhash,
# simhash, fingerprints) — xxhash64/hash() are engine-specific and would
# break the DuckDB value-hash comparison.


def md5_long(col: Column) -> Column:
    """Deterministic 60-bit integer hash of a string column (engine-portable)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def ext_lower(url: Column) -> Column:
    """X1: lowercase last '.'-segment (ref graph.rs:117-123)."""
    return F.lower(F.element_at(F.split(url, r"\."), -1))


def base_name(name: Column) -> Column:
    """X4: last '.'-segment of a qualified name (ref graph.rs:378,394,635)."""
    return F.element_at(F.split(name, r"\."), -1)


def qualified(parts: Column) -> Column:
    """X3: container path joined with '.' (ref extractor.rs:197-207)."""
    return F.concat_ws(".", parts)


def ends_with_dot_name(qualified_col: Column, name_col: Column) -> Column:
    """X5: suffix test `q.endswith('.' + name)` (ref graph.rs:388)."""
    return qualified_col.endswith(F.concat(F.lit("."), name_col))


def temporal_decay(age_days: Column, half_life_days: float) -> Column:
    """X6: 2^(-age_days/half_life) (ref graph.rs:569-571)."""
    return F.pow(F.lit(2.0), -age_days / F.lit(half_life_days))


def score_bucket(score: Column) -> Column:
    """X8: float score → int bucket, `score as usize` truncation semantics
    (ref graph.rs:750). Equal-int scores tie-group in ranking — semantics-
    bearing, kept for parity."""
    return F.floor(score).cast("long")


def symbol_id(url: Column, name: Column, kind: Column, start_byte: Column) -> Column:
    """X9: '{file}:{name}:{kind}:{start_byte}' identity (ref symbol.rs:130-132)."""
    return F.concat_ws(":", url, name, kind, start_byte.cast("string"))
