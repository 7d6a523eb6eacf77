"""Fast tests of the benchmark's own code (no Spark session).

  python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import copy
import json
import os
import re
import struct
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import gen  # noqa: E402
import probes  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402

NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT_RE = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def test_generator_is_deterministic_per_seed():
    a, b = gen.extract(5), gen.extract(5)
    assert gen.to_opl(a) == gen.to_opl(b)
    assert gen.to_opl(a) != gen.to_opl(gen.extract(6))
    (ca, pa), (cb, pb) = gen.make_diff(a, 9), gen.make_diff(b, 9)
    assert gen.to_osc(ca) == gen.to_osc(cb)
    assert gen.to_opl(pa) == gen.to_opl(pb)
    assert workloads.query_order(3) == workloads.query_order(3)
    assert sorted(workloads.query_order(3)) == sorted(workloads.OPERATOR_QUERIES)
    assert len({tuple(workloads.query_order(s)) for s in range(20)}) > 1


def test_every_seed_gives_a_valid_extract_and_diff():
    for seed in range(300):
        store = gen.extract(seed)
        for w in store["ways"].values():
            assert set(w["refs"]) <= store["nodes"].keys(), seed
        for r in store["rels"].values():
            assert {ref for _t, ref, _r in r["members"]} <= store["ways"].keys(), seed
        changes, post = gen.make_diff(store, seed * 7 + 1)
        for w in post["ways"].values():
            assert set(w["refs"]) <= post["nodes"].keys(), seed


def test_diff_mixes_every_change_kind_and_keeps_the_base():
    base = gen.extract(2)
    before = gen.to_opl(base)
    changes, post = gen.make_diff(base, 3)
    kinds = {(op, kind) for op, kind, _id, _obj in changes}
    assert {("modify", "n"), ("create", "n"), ("delete", "n"),
            ("modify", "w"), ("modify", "r")} <= kinds
    assert gen.to_opl(base) == before  # the base store is not mutated
    created = sum(1 for op, *_ in changes if op == "create")
    deleted = sum(1 for op, *_ in changes if op == "delete")
    b, p = workloads.expected_rows(base), workloads.expected_rows(post)
    assert len(p["points"]) == len(b["points"]) + created - deleted
    assert p["lines"].keys() == b["lines"].keys()
    assert p["polygons"].keys() == b["polygons"].keys()


def test_opl_round_trips_through_the_program_parser():
    from osm2pgsql_spark.sources.opl import parse_opl_line

    store = gen.extract(1)
    store["nodes"][1]["tags"] = {"name": "a b,c=d@e%f", "amenity": "cafe"}
    seen = 0
    for line in gen.to_opl(store).splitlines():
        kind, obj = parse_opl_line(line)
        table = {"n": "nodes", "w": "ways", "r": "rels"}[kind]
        assert obj["tags"] == store[table][obj["id"]]["tags"], line
        seen += 1
    assert seen == sum(len(store[t]) for t in ("nodes", "ways", "rels"))


def test_benchmark_json_names_match_the_runner():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    names += [w["name"] for w in spec["workloads"]]
    assert len(names) == len(set(names))
    for n in names:
        assert NAME_RE.fullmatch(n), n
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert UNIT_RE.fullmatch(m["unit"]), m
        assert m["better"] in ("lower", "higher")
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    assert e2e == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_units()
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    assert all(0 < b <= 0.25 for b in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())
    from workloads import WORKLOADS

    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)


def _wkb(kind, pts):
    body = struct.pack("<I", len(pts)) + b"".join(struct.pack("<dd", *p) for p in pts)
    if kind == 1:
        body = struct.pack("<dd", *pts[0])
    elif kind == 3:
        body = struct.pack("<I", 1) + body
    return struct.pack("<BI", 1, kind) + body


def _write_db(path, rows):
    import pyarrow as pa
    import pyarrow.parquet as pq

    for name, table in rows.items():
        os.makedirs(path / "tables" / name)
        ids = sorted(table)
        pq.write_table(pa.table({
            "osm_id": pa.array(ids, pa.int64()),
            "tags": [json.dumps(table[i][0]) for i in ids],
            "geom": pa.array([_wkb(table[i][1], table[i][2]) for i in ids], pa.binary()),
        }), path / "tables" / name / "part-0.parquet")


def test_table_check_accepts_the_reference_and_rejects_changes(tmp_path):
    store = gen.extract(4)
    want = workloads.expected_rows(store)
    ok = copy.deepcopy(want)
    poly = next(iter(ok["polygons"]))
    tags, kind, ring = ok["polygons"][poly]
    ok["polygons"][poly] = (tags, kind, ring[::-1])  # orientation is free
    _write_db(tmp_path / "ok", ok)
    workloads.check_tables(str(tmp_path / "ok"), store)

    line = next(iter(want["lines"]))
    bad_tags = copy.deepcopy(want)
    bad_tags["lines"][line][0]["name"] = "other"
    moved = copy.deepcopy(want)
    t, k, pts = moved["lines"][line]
    moved["lines"][line] = (t, k, [(pts[0][0] + 1.0, pts[0][1])] + pts[1:])
    missing = copy.deepcopy(want)
    del missing["points"][next(iter(missing["points"]))]
    for label, rows in (("tags", bad_tags), ("moved", moved), ("missing", missing)):
        _write_db(tmp_path / label, rows)
        with pytest.raises(workloads.CheckFailed):
            workloads.check_tables(str(tmp_path / label), store)


def _span(name, start, end, parent, sid):
    return spans.Span(name, start, end, parent, "r", sid)


def test_self_time_subtracts_direct_children_only():
    tree = [
        _span("op", 0.0, 10.0, None, 0),
        _span("a", 1.0, 4.0, 0, 1),
        _span("b", 2.0, 3.0, 1, 2),  # grandchild of op
        _span("a", 5.0, 6.5, 0, 3),
    ]
    st = spans.self_times(tree)
    assert st["op"] == 10.0 - 3.0 - 1.5
    assert st["a"] == (3.0 - 1.0) + 1.5
    assert st["b"] == 1.0
    assert sum(st.values()) == 10.0


def test_tracer_records_parents_and_writes_spans(tmp_path):
    t = spans.Tracer("run-1")
    with t.span("outer"):
        with t.span("inner"):
            pass
    t.add("rows", 2)
    t.add("rows", 3)
    assert [(s.name, s.parent) for s in t.spans] == [("outer", None), ("inner", 0)]
    assert t.counters == {"rows": 5}
    path = tmp_path / "s" / "spans.jsonl"
    t.write(str(path))
    lines = [json.loads(x) for x in path.read_text().splitlines()]
    assert [x["name"] for x in lines] == ["outer", "inner"]
    assert all(x["run_id"] == "run-1" for x in lines)


def test_probes_degrade_to_none():
    snap = probes.ProcSnapshot.take()
    assert snap.jvm is not None and snap.total >= 0
    assert probes.peak_rss_by_role()["driver"] > 0
    blank = probes.ProcSnapshot(None, None, None, None)
    assert all(v is None for v in probes.proc_delta(blank, snap).values())
    out = probes.spark_delta(None, probes.SparkSnapshot(None, None))
    assert set(out) == set(probes.SPARK_KEYS)
    assert all(v is None for v in out.values())
    # a broken session object makes the snapshot unreadable, not fatal
    assert probes.SparkSnapshot.take(object()).jobs is None
