"""Correctness checks, each computed apart from the program.

Every check takes plain data — parquet globs, pandas frames, Python sets
— and returns a list of failure strings (empty = pass), so the negative
tests in ``perfbench/tests`` can run each one on a corrupted copy without
a Spark session. References come from the generator (``page_record``),
DuckDB over the written files, pandas, or a property the method must have.
"""

from __future__ import annotations

import hashlib
import json
import os

import duckdb
import pandas as pd

from gossiphs_spark.plans.oracles import _kg_ctes


def query(sql: str) -> list[tuple]:
    con = duckdb.connect()
    try:
        return con.execute(sql).fetchall()
    finally:
        con.close()


def scan(globs) -> str:
    """DuckDB source for one parquet glob or a list of them."""
    if isinstance(globs, str):
        globs = [globs]
    return "read_parquet([%s])" % ", ".join(
        "'%s'" % g.replace("'", "''") for g in globs)


def compact(glob: str, dest: str) -> None:
    """Copy all rows of a parquet glob into one parquet file."""
    con = duckdb.connect()
    try:
        con.execute(f"COPY (SELECT * FROM {scan(glob)}) TO '%s' "
                    "(FORMAT PARQUET)" % dest.replace("'", "''"))
    finally:
        con.close()


def arrow(glob):
    """All rows of a parquet glob (or list of globs) as a pyarrow Table."""
    con = duckdb.connect()
    try:
        return con.execute(f"SELECT * FROM {scan(glob)}").arrow()
    finally:
        con.close()


def _diff(got: set, want: set, what: str) -> list[str]:
    if got == want:
        return [] if want else [f"{what}: reference set is empty"]
    miss, extra = want - got, got - want
    return [f"{what}: {len(miss)} missing (e.g. {sorted(miss)[:2]}), "
            f"{len(extra)} unexpected (e.g. {sorted(extra)[:2]})"]


def triples_match(got: set, want: set) -> list[str]:
    """(subj, pred, obj, url) rows equal the generator-derived set."""
    return _diff(got, want, "triples")


def edge_weights_conserved(symbol_edges: str, page_edges: str) -> list[str]:
    """Each page edge's weight is Σ occ·bucket over its symbol edges, and
    every symbol-edge page pair has a page edge (salted_sum conserves)."""
    rows = query(f"""
        WITH s AS (SELECT src_url, dst_url, SUM(occ * bucket) AS w
                   FROM {scan(symbol_edges)} GROUP BY ALL),
             p AS (SELECT src_url, dst_url, weight FROM {scan(page_edges)})
        SELECT p.src_url, p.dst_url, p.weight, s.w, s.src_url IS NULL
        FROM p FULL OUTER JOIN s USING (src_url, dst_url)
        WHERE p.weight IS NULL OR p.weight <> COALESCE(s.w, 0)""")
    n = query(f"SELECT COUNT(*) FROM {scan(page_edges)}")[0][0]
    out = [f"page edges: weight {r[2]} != symbol sum {r[3]} for {r[:2]}"
           for r in rows[:3]]
    if rows:
        out.insert(0, f"page edges: {len(rows)} pairs break conservation")
    if not n:
        out.append("page edges: empty")
    return out


def def_limit_respected(symbol_edges: str, def_limit: int) -> list[str]:
    rows = query(f"""SELECT src_url, ref_name, COUNT(*) AS n
                  FROM {scan(symbol_edges)} GROUP BY ALL
                  HAVING COUNT(*) > {int(def_limit)} LIMIT 3""")
    return [f"candidates: {r[:2]} keeps {r[2]} > def_limit {def_limit}"
            for r in rows]


def related_valid(related: str) -> list[str]:
    bad, n = query(f"""SELECT COUNT(*) FILTER (WHERE page = other OR score <= 0),
                           COUNT(*) FROM {scan(related)}""")[0]
    out = [f"related: {bad} rows with page = other or score <= 0"] if bad else []
    return out + (["related: empty"] if not n else [])


def table_hash(rows) -> str:
    """Order-free content hash of an iterable of row tuples."""
    h = hashlib.sha256()
    for r in sorted(tuple(r) for r in rows):
        h.update(repr(r).encode())
    return h.hexdigest()


def same_hash(a: str, b: str, what: str) -> list[str]:
    return [] if a == b else [f"{what}: hash {a[:12]} != {b[:12]}"]


def lineage_counts(out_dir: str, n_read: int) -> list[str]:
    """Σ lineage triple_count equals the rows read_triples returns."""
    total = 0
    with open(os.path.join(out_dir, "lineage.jsonl")) as f:
        for line in f:
            rec = json.loads(line)
            if rec.get("stage") == "triples":
                total += int(rec["triple_count"])
    if total != n_read or not n_read:
        return [f"lineage: Σ triple_count {total} != {n_read} rows read"]
    return []


def _norm(name: str) -> str:
    return "".join(c for c in name if c.isascii() and c.isalnum()).lower()


def shingles(name: str, k: int = 3) -> set[str]:
    """Character k-grams of the normalised name, as canonicalize builds
    them (positions 1..max(len-k+1, 1), empty shingles dropped)."""
    s = _norm(name)
    return {s[i:i + k] for i in range(max(len(s) - k + 1, 1))} - {""}


def jaccard(a: str, b: str, k: int = 3) -> float:
    x, y = shingles(a, k), shingles(b, k)
    return len(x & y) / len(x | y) if x | y else 0.0


def canonical_is_group_min(ents: pd.DataFrame) -> list[str]:
    """ents(name, entity_id, canonical_name): one canonical name per
    entity, and it is the lexicographic minimum of the entity's names."""
    out = []
    for eid, g in ents.groupby("entity_id"):
        canon = set(g["canonical_name"])
        if canon != {min(g["name"])}:
            out.append(f"entity {eid}: canonical {sorted(canon)} "
                       f"!= min {min(g['name'])!r}")
    return out[:3] + ([f"{len(out)} entities fail"] if len(out) > 3 else [])


def groups_connected(ents: pd.DataFrame, jaccard_min: float,
                     k: int = 3) -> list[str]:
    """Each entity's names form one component under name pairs whose
    exact k-shingle Jaccard is >= jaccard_min."""
    out = []
    for eid, g in ents.groupby("entity_id"):
        names = sorted(set(g["name"]))
        seen, todo = {names[0]}, [names[0]]
        while todo:
            a = todo.pop()
            for b in names:
                if b not in seen and jaccard(a, b, k) >= jaccard_min:
                    seen.add(b)
                    todo.append(b)
        if len(seen) != len(names):
            out.append(f"entity {eid}: {sorted(set(names) - seen)[:3]} not "
                       f"linked to {names[0]!r} at jaccard >= {jaccard_min}")
    return out[:3] + ([f"{len(out)} entities fail"] if len(out) > 3 else [])


def canonical_rows_match(triples: pd.DataFrame, ents: pd.DataFrame,
                         canon: pd.DataFrame) -> list[str]:
    """The canonical triples equal a pandas recomputation: map subj/obj
    through name → canonical_name, then regroup on (subj, pred, obj, url)
    keeping the minimum start_byte."""
    m = dict(zip(ents["name"], ents["canonical_name"]))
    t = triples.assign(subj=triples["subj"].map(lambda s: m.get(s, s)),
                       obj=triples["obj"].map(lambda s: m.get(s, s)))
    want = t.groupby(["subj", "pred", "obj", "url"], as_index=False)[
        "start_byte"].min()
    cols = ["subj", "pred", "obj", "url", "start_byte"]
    return _diff({tuple(r) for r in canon[cols].itertuples(index=False)},
                 {tuple(r) for r in want[cols].itertuples(index=False)},
                 "canonical triples")


def splice_matches_rebuild(related: pd.DataFrame, corpus_glob: str) -> list[str]:
    """The maintained related table equals a DuckDB rebuild of the final
    corpus through the text-mode KG chain."""
    sql = ("WITH " + _kg_ctes(pages_sql=(
        f"SELECT url, content, source FROM {scan(corpus_glob)}")).lstrip()
        + "\nSELECT page, other, CAST(score AS BIGINT) FROM related")
    want = set(query(sql))
    got = {(p, o, int(s)) for p, o, s in
           related[["page", "other", "score"]].itertuples(index=False)}
    return _diff(got, want, "spliced related vs rebuild")


def topk(rows: list[dict], key_col: str, key, sort_col: str,
         tie_cols: list[str], top: int, cols: list[str]) -> list[dict]:
    """Reference answer of a served top-k route: rows with key_col == key,
    sort_col descending, then tie_cols ascending, first ``top``."""
    sel = sorted((r for r in rows if r[key_col] == key),
                 key=lambda r: (-r[sort_col], *(r[c] for c in tie_cols)))
    return [{c: r[c] for c in cols} for r in sel[:top]]


def responses_match(pairs: list[tuple[str, object, object]]) -> list[str]:
    """(request, response payload, reference payload) triples agree."""
    bad = [(req, got, want) for req, got, want in pairs
           if json.dumps(got, sort_keys=True, default=str)
           != json.dumps(want, sort_keys=True, default=str)]
    out = [f"served {req}: {str(got)[:120]} != {str(want)[:120]}"
           for req, got, want in bad[:3]]
    if bad:
        out.insert(0, f"served: {len(bad)}/{len(pairs)} sampled responses differ")
    return out + (["served: no responses sampled"] if not pairs else [])
