"""Each benchmark check passes on a correct output and fails on a
corrupted copy of it: a dropped row, one changed weight, a split or
merged component. No Spark session needed:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__)))))

from perfbench import checks  # noqa: E402


def _write(tmp_path, name: str, rows: list[dict]) -> str:
    d = tmp_path / name
    d.mkdir()
    pq.write_table(pa.Table.from_pylist(rows), str(d / "part-0.parquet"))
    return str(d / "*.parquet")


TRIPLES = {("Quasar", "mentions", "Nebula", "u1"),
           ("Quasar", "links_to", "u2", "u1"),
           ("Pulsar", "mentions", "Quasar", "u2")}


def test_triples_match():
    assert checks.triples_match(set(TRIPLES), TRIPLES) == []
    dropped = set(sorted(TRIPLES)[1:])
    assert checks.triples_match(dropped, TRIPLES)


SYM = [  # symbol edges: two symbols link u1 → u2, one links u2 → u3
    {"src_url": "u1", "dst_url": "u2", "name": "Nebula", "ref_name": "Nebula",
     "occ": 2, "bucket": 3, "weight": 6},
    {"src_url": "u1", "dst_url": "u2", "name": "Quasar", "ref_name": "Quasar",
     "occ": 1, "bucket": 4, "weight": 4},
    {"src_url": "u2", "dst_url": "u3", "name": "Pulsar", "ref_name": "Pulsar",
     "occ": 1, "bucket": 0, "weight": 0},
]
EDGES = [{"src_url": "u1", "dst_url": "u2", "weight": 10},
         {"src_url": "u2", "dst_url": "u3", "weight": 0}]


def test_edge_weights_conserved(tmp_path):
    sym = _write(tmp_path, "sym", SYM)
    assert checks.edge_weights_conserved(sym, _write(tmp_path, "ok", EDGES)) == []
    changed = [dict(EDGES[0], weight=11), EDGES[1]]
    assert checks.edge_weights_conserved(sym, _write(tmp_path, "chg", changed))
    assert checks.edge_weights_conserved(sym, _write(tmp_path, "drop", EDGES[:1]))


def test_def_limit_respected(tmp_path):
    group = [dict(SYM[0], dst_url=f"u{i}") for i in range(3)]
    assert checks.def_limit_respected(_write(tmp_path, "ok", group), 3) == []
    extra = group + [dict(SYM[0], dst_url="u9")]
    assert checks.def_limit_respected(_write(tmp_path, "bad", extra), 3)


RELATED = [{"page": "u1", "other": "u2", "score": 5},
           {"page": "u2", "other": "u1", "score": 3}]


def test_related_valid(tmp_path):
    assert checks.related_valid(_write(tmp_path, "ok", RELATED)) == []
    zero = [RELATED[0], dict(RELATED[1], score=0)]
    assert checks.related_valid(_write(tmp_path, "zero", zero))
    loop = [RELATED[0], dict(RELATED[1], other="u2")]
    assert checks.related_valid(_write(tmp_path, "loop", loop))


def test_same_hash():
    rows = [tuple(r.values()) for r in RELATED]
    h = checks.table_hash(rows)
    assert checks.same_hash(h, checks.table_hash(reversed(rows)), "r") == []
    changed = [rows[0], (*rows[1][:2], 4)]
    assert checks.same_hash(h, checks.table_hash(changed), "r")
    assert checks.same_hash(h, checks.table_hash(rows[:1]), "r")


def test_lineage_counts(tmp_path):
    with open(tmp_path / "lineage.jsonl", "w") as f:
        for b, n in ((0, 7), (1, 5)):
            f.write(json.dumps({"stage": "triples", "bucket": b,
                                "triple_count": n}) + "\n")
    assert checks.lineage_counts(str(tmp_path), 12) == []
    assert checks.lineage_counts(str(tmp_path), 11)


ENTS = pd.DataFrame({
    "name": ["Magnetar", "Magnetars", "Quasar", "Quasars", "Pulsar"],
    "entity_id": [1, 1, 2, 2, 3],
    "canonical_name": ["Magnetar", "Magnetar", "Quasar", "Quasar", "Pulsar"],
})


def test_canonical_is_group_min():
    assert checks.canonical_is_group_min(ENTS) == []
    not_min = ENTS.assign(canonical_name=ENTS["canonical_name"].where(
        ENTS["entity_id"] != 2, "Quasars"))
    assert checks.canonical_is_group_min(not_min)
    split = ENTS.copy()
    split.loc[1, "canonical_name"] = "Magnetars"  # one member split off
    assert checks.canonical_is_group_min(split)


def test_groups_connected():
    assert checks.groups_connected(ENTS, 0.6) == []
    merged = ENTS.assign(entity_id=ENTS["entity_id"].replace(3, 2))
    assert checks.groups_connected(merged, 0.6)


TRI = pd.DataFrame({
    "subj": ["Magnetars", "Magnetar", "Pulsar"],
    "pred": ["mentions"] * 3,
    "obj": ["Quasar", "Quasars", "Magnetars"],
    "url": ["u1", "u1", "u2"],
    "start_byte": [40, 12, 7],
})
CANON = pd.DataFrame({
    "subj": ["Magnetar", "Pulsar"], "pred": ["mentions"] * 2,
    "obj": ["Quasar", "Magnetar"], "url": ["u1", "u2"], "start_byte": [12, 7],
})


def test_canonical_rows_match():
    assert checks.canonical_rows_match(TRI, ENTS, CANON) == []
    assert checks.canonical_rows_match(TRI, ENTS, CANON.iloc[:1])
    assert checks.canonical_rows_match(TRI, ENTS, CANON.assign(
        start_byte=[40, 7]))
    split = CANON.copy()
    split.loc[1, "obj"] = "Magnetars"  # a member left un-canonicalized
    assert checks.canonical_rows_match(TRI, ENTS, split)


def test_splice_matches_rebuild(tmp_path):
    corpus = _write(tmp_path, "corpus", [
        {"url": "doc://1", "content": "gamma gamma delta", "source": "s"},
        {"url": "doc://2", "content": "delta delta gamma", "source": "s"}])
    # worked by hand: each page REFs the name the other also DEFs
    rel = pd.DataFrame({"page": ["doc://1", "doc://2"],
                        "other": ["doc://2", "doc://1"], "score": [2, 2]})
    assert checks.splice_matches_rebuild(rel, corpus) == []
    assert checks.splice_matches_rebuild(rel.iloc[:1], corpus)
    assert checks.splice_matches_rebuild(rel.assign(score=[2, 3]), corpus)


@pytest.mark.parametrize("corrupt", ["drop", "weight", "order"])
def test_responses_match(corrupt):
    rows = RELATED + [{"page": "u1", "other": "u3", "score": 5}]
    want = checks.topk(rows, "page", "u1", "score", ["other"], 10,
                       ["page", "other", "score"])
    assert [r["other"] for r in want] == ["u2", "u3"]
    assert checks.responses_match([("/relate?url=u1", want, want)]) == []
    got = [dict(r) for r in want]
    if corrupt == "drop":
        got = got[:1]
    elif corrupt == "weight":
        got[1]["score"] = 6
    else:
        got.reverse()
    assert checks.responses_match([("/relate?url=u1", got, want)])
