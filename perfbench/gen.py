"""Seeded inputs, generated in plain Python from ``datagen.page_record``.

The program only ever sees the files written here. Generation needs no
Spark session, so the benchmark overlaps it with JVM start-up. The same
(seed, sizes) always give byte-identical inputs.
"""

from __future__ import annotations

import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

from gossiphs_spark import datagen

# kg_build: html pages at body_scale=1 (the scored build) and a smaller
# large-body corpus for the lineage sink + canonicalization path
KG_PAGES = 300
TC_PAGES = 200
TC_BODY_SCALE = 8
# delta_splice: text-mode corpus and one changed-page micro-batch
SPLICE_PAGES = 200
SPLICE_REWRITES = 6  # plus one deletion and one new page per batch

PAGES_SCHEMA = pa.schema([
    ("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string()),
])
EVIDENCE_SCHEMA = pa.schema([
    ("url", pa.string()), ("evidence_id", pa.string()),
    ("ts", pa.timestamp("us", tz="UTC")), ("msg", pa.string()),
])
TEXT_SCHEMA = pa.schema([
    ("url", pa.string()), ("content", pa.string()), ("source", pa.string()),
])
TEXT_SCHEMA_DDL = "url string, content string, source string"


def _write(rows: list[tuple], schema: pa.Schema, path: str) -> None:
    os.makedirs(path, exist_ok=True)
    cols = list(zip(*rows)) if rows else [[] for _ in schema]
    table = pa.table([pa.array(c, type=f.type) for c, f in zip(cols, schema)],
                     schema=schema)
    pq.write_table(table, os.path.join(path, "part-0.parquet"))


def html_pages(n: int, seed: int, body_scale: int = 1):
    """→ (page rows, expected triple set) for ``n`` html pages."""
    rows, triples = [], set()
    for i in range(n):
        url, ts, html, text, lang, title, body, links = datagen.page_record(
            i, n, seed, body_scale)
        rows.append((url, ts, html, text, lang))
        triples.update((title, "mentions", e, url) for e in body if e != title)
        triples.update((title, "links_to", l, url) for l in links)
    return rows, triples


def write_kg_inputs(root: str, seed: int, large: bool) -> dict:
    """Pages + evidence for the scored build and, when ``large``, the
    large-body pages of the triples path. Returns the generator-derived
    expected triple sets."""
    rows, expected = html_pages(KG_PAGES, seed)
    _write(rows, PAGES_SCHEMA, os.path.join(root, "pages"))
    _write(datagen.evidence_records(KG_PAGES, seed), EVIDENCE_SCHEMA,
           os.path.join(root, "evidence"))
    out = {"kg_triples": expected}
    if large:
        rows, out["tc_triples"] = html_pages(TC_PAGES, seed, TC_BODY_SCALE)
        _write(rows, PAGES_SCHEMA, os.path.join(root, "pages_large"))
    return out


def text_page(i: int, n: int, seed: int) -> tuple:
    """Text-mode page: title plus body entities (hub names included)."""
    rec = datagen.page_record(i, n, seed)
    return (rec[0], " ".join([rec[5], *rec[6]]), "s")


def splice_inputs(seed: int):
    """→ (corpus rows, micro-batch rows, final corpus rows).

    The batch rewrites SPLICE_REWRITES pages with fresh content, deletes
    one page (empty content) and adds one new url — the three kinds of
    change a crawl re-lands."""
    n = SPLICE_PAGES
    corpus = [text_page(i, n, seed) for i in range(n)]
    rng = random.Random(seed * 7907 + 11)
    picked = rng.sample(range(n), SPLICE_REWRITES + 1)
    batch = [text_page(i, n, seed + 1000) for i in picked[:-1]]
    batch.append((corpus[picked[-1]][0], "", "s"))
    batch.append(text_page(n, n + 1, seed + 1000))
    changed = {r[0]: r for r in batch}
    final = [changed.pop(r[0], r) for r in corpus]
    final.extend(changed.values())
    final = [r for r in final if r[1]]
    return corpus, batch, final


def write_text(rows: list[tuple], path: str) -> None:
    _write(rows, TEXT_SCHEMA, path)
