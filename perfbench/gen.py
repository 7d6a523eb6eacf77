"""Seeded, deterministic input generator for the benchmark.

Everything the program reads in the replication workload comes from
here (the operators workload reads the fixed corpus in ``corpus/``):

- ``extract(seed)``: a synthetic OSM extract as an object store (node
  grid with tagged POIs, open highway ways, closed building ways,
  multipolygon, boundary and route relations);
- ``make_diff(store, seed)``: one osmChange diff against a store
  (node moves, node creates and deletes, way tag edits, a relation
  member change) plus the post-diff store;
- ``to_opl`` / ``to_osc``: the file formats the import tool reads.

The same seed always gives byte-identical files.  Only the standard
library is used, so the generator (and its tests) run without Spark.
"""

from __future__ import annotations

import copy
import random
from xml.sax.saxutils import quoteattr

ORIGIN_LON = 9.0
ORIGIN_LAT = 50.0
# ~1 km between grid nodes, so an extract spans many z14 tiles
CELL = 0.01

GRID = 20  # nodes per side of the extract's lattice
WAY_BASE = 100_000
NEW_NODE_BASE = 5_000_000

# changes per diff
MOVES, CREATES, DELETES, TAG_EDITS = 12, 8, 6, 6

AMENITIES = ("cafe", "pub", "school", "bench", "bank", "pharmacy")
HIGHWAYS = ("residential", "primary", "service", "tertiary")
LANDUSES = ("grass", "forest", "meadow", "retail")

# generic flex style (examples/generic_import.py): the junk keys it
# strips before deciding whether an object has tags at all
JUNK_KEYS = ("created_by", "source", "note", "fixme")
# keys that make a closed way an area in the generic style
AREA_KEYS = ("building", "landuse", "amenity", "natural", "leisure")


def coord(v: float) -> str:
    return f"{v:.7f}"


def _node_id(i: int, j: int) -> int:
    return i * GRID + j + 1


def extract(seed: int) -> dict:
    """A synthetic extract: ``{"nodes": {id: {...}}, "ways": ..., "rels": ...}``.

    Rows of the ``GRID`` x ``GRID`` node lattice are used in bands of
    four: row 4k carries highways, rows 4k+2/4k+3 carry building
    squares and multipolygon rings, row 4k+1 is free (POIs that no way
    references, so a diff may delete them).
    """
    rnd = random.Random(seed)
    nodes: dict[int, dict] = {}
    ways: dict[int, dict] = {}
    rels: dict[int, dict] = {}
    for i in range(GRID):
        for j in range(GRID):
            nid = _node_id(i, j)
            tags: dict[str, str] = {}
            r = rnd.random()
            # POIs are denser on the free rows, where diffs delete them
            if r < (0.3 if i % 4 == 1 else 0.1):
                tags = {"amenity": rnd.choice(AMENITIES), "name": f"P{nid}"}
                if rnd.random() < 0.3:
                    tags["source"] = "survey"
            elif r > 0.97:
                # only junk tags: the style drops the node from points
                tags = {"created_by": "bench"}
            nodes[nid] = {"lon": ORIGIN_LON + j * CELL,
                          "lat": ORIGIN_LAT + i * CELL, "tags": tags}

    wid = WAY_BASE
    highways = []
    for i in range(0, GRID, 4):
        j = 0
        while j < GRID - 1:
            n = rnd.randint(3, 8)
            refs = [_node_id(i, c) for c in range(j, min(GRID, j + n))]
            if len(refs) >= 2:
                wid += 1
                ways[wid] = {"refs": refs, "tags": {
                    "highway": rnd.choice(HIGHWAYS), "name": f"Road {wid}"}}
                highways.append(wid)
            j += n
    rings = []
    for i in range(2, GRID - 1, 4):
        j = 0
        while j < GRID - 1:
            a, b = _node_id(i, j), _node_id(i, j + 1)
            c, d = _node_id(i + 1, j + 1), _node_id(i + 1, j)
            wid += 1
            # a ring spans three columns; at the right edge only a
            # building fits
            if rnd.random() < 0.7 or j + 2 >= GRID:
                ways[wid] = {"refs": [a, b, c, d, a],
                             "tags": {"building": "yes"}}
                j += 2
            else:
                # untagged closed ring: a multipolygon's outer member
                e, f = _node_id(i, j + 2), _node_id(i + 1, j + 2)
                ways[wid] = {"refs": [a, b, e, f, c, d, a], "tags": {}}
                rings.append(wid)
                j += 3
    rid = 0
    for w in rings:
        rid += 1
        rels[rid] = {"members": [("w", w, "outer")], "tags": {
            "type": "multipolygon", "landuse": rnd.choice(LANDUSES)}}
    for w in rings[::3]:
        rid += 1
        rels[rid] = {"members": [("w", w, "outer")], "tags": {
            "type": "boundary", "boundary": "administrative",
            "admin_level": "8", "name": f"Area {rid}"}}
    for k in range(0, len(highways) - 3, 5):
        rid += 1
        members = [("w", w, "") for w in highways[k:k + rnd.randint(2, 4)]]
        rels[rid] = {"members": members, "tags": {
            "type": "route", "route": "bus", "ref": str(rid)}}
    return {"nodes": nodes, "ways": ways, "rels": rels}


def _referenced_nodes(store: dict) -> set[int]:
    out: set[int] = set()
    for w in store["ways"].values():
        out.update(w["refs"])
    for r in store["rels"].values():
        out.update(ref for t, ref, _ in r["members"] if t == "n")
    return out


def make_diff(store: dict, seed: int) -> tuple[list, dict]:
    """One osmChange against ``store``: ``(changes, post_store)``.

    ``changes`` is a list of ``(op, kind, id, obj)`` in document order.
    Node moves shift referenced nodes by at most a quarter grid cell, so
    every way and relation stays valid and the generic style keeps the
    same rows; only geometries, tags and memberships change.
    """
    rnd = random.Random(seed)
    post = copy.deepcopy(store)
    changes: list = []
    used = _referenced_nodes(store)
    referenced = sorted(used)
    free_pois = sorted(nid for nid, n in store["nodes"].items()
                       if clean_tags(n["tags"]) and nid not in used)
    for nid in rnd.sample(referenced, MOVES):
        n = post["nodes"][nid]
        n["lon"] += rnd.uniform(-0.25, 0.25) * CELL
        n["lat"] += rnd.uniform(-0.25, 0.25) * CELL
        changes.append(("modify", "n", nid, n))
    for nid in rnd.sample(free_pois, DELETES):
        del post["nodes"][nid]
        changes.append(("delete", "n", nid, None))
    span = GRID * CELL
    for k in range(CREATES):
        nid = NEW_NODE_BASE + seed % 1000 * 100 + k
        n = {"lon": ORIGIN_LON + rnd.uniform(0, span),
             "lat": ORIGIN_LAT + rnd.uniform(0, span),
             "tags": {"amenity": rnd.choice(AMENITIES), "name": f"New{nid}"}}
        post["nodes"][nid] = n
        changes.append(("create", "n", nid, n))
    highways = sorted(w for w, v in store["ways"].items() if "highway" in v["tags"])
    for wid in rnd.sample(highways, TAG_EDITS):
        w = post["ways"][wid]
        w["tags"] = {**w["tags"], "highway": rnd.choice(HIGHWAYS),
                     "name": f"Renamed {wid}.{seed}"}
        changes.append(("modify", "w", wid, w))
    routes = sorted(r for r, v in store["rels"].items()
                    if v["tags"].get("type") == "route")
    rid = rnd.choice(routes)
    r = post["rels"][rid]
    current = {ref for _, ref, _ in r["members"]}
    candidates = [w for w in highways if w not in current]
    r["members"] = r["members"][:-1] + [("w", rnd.choice(candidates), "")]
    changes.append(("modify", "r", rid, r))
    return changes, post


_OPL_SPECIAL = " ,=@%\n"


def _opl_escape(s: str) -> str:
    """OPL escapes separators as %<hex codepoint>%."""
    return "".join(f"%{ord(c):x}%" if c in _OPL_SPECIAL else c for c in s)


def _opl_tags(tags: dict) -> str:
    return ",".join(f"{_opl_escape(k)}={_opl_escape(v)}"
                    for k, v in sorted(tags.items()))


def to_opl(store: dict) -> str:
    lines = []
    for nid in sorted(store["nodes"]):
        n = store["nodes"][nid]
        t = f" T{_opl_tags(n['tags'])}" if n["tags"] else ""
        lines.append(f"n{nid} v1{t} x{coord(n['lon'])} y{coord(n['lat'])}")
    for wid in sorted(store["ways"]):
        w = store["ways"][wid]
        t = f" T{_opl_tags(w['tags'])}" if w["tags"] else ""
        refs = ",".join(f"n{r}" for r in w["refs"])
        lines.append(f"w{wid} v1{t} N{refs}")
    for rid in sorted(store["rels"]):
        r = store["rels"][rid]
        t = f" T{_opl_tags(r['tags'])}" if r["tags"] else ""
        mem = ",".join(f"{k}{ref}@{role}" for k, ref, role in r["members"])
        lines.append(f"r{rid} v1{t} M{mem}")
    return "\n".join(lines) + "\n"


def _xml_tags(tags: dict) -> str:
    return "".join(f"<tag k={quoteattr(k)} v={quoteattr(v)}/>"
                   for k, v in sorted(tags.items()))


def to_osc(changes: list) -> str:
    out = ["<?xml version='1.0' encoding='UTF-8'?>",
           '<osmChange version="0.6" generator="perfbench">']
    for op, kind, oid, obj in changes:
        # creates are version 1 (no parents yet); edits are version 2
        v = 1 if op == "create" else 2
        if kind == "n":
            if obj is None:
                body = f'<node id="{oid}" version="{v}"/>'
            else:
                body = (f'<node id="{oid}" version="{v}" '
                        f'lat="{coord(obj["lat"])}" lon="{coord(obj["lon"])}">'
                        f'{_xml_tags(obj["tags"])}</node>')
        elif kind == "w":
            nds = "".join(f'<nd ref="{r}"/>' for r in obj["refs"])
            body = f'<way id="{oid}" version="{v}">{nds}{_xml_tags(obj["tags"])}</way>'
        else:
            names = {"n": "node", "w": "way", "r": "relation"}
            mem = "".join(
                f'<member type="{names[k]}" ref="{ref}" role={quoteattr(role)}/>'
                for k, ref, role in obj["members"])
            body = f'<relation id="{oid}" version="{v}">{mem}{_xml_tags(obj["tags"])}</relation>'
        out.append(f"<{op}>{body}</{op}>")
    out.append("</osmChange>")
    return "\n".join(out) + "\n"


def clean_tags(tags: dict) -> dict:
    return {k: v for k, v in tags.items() if k not in JUNK_KEYS}


def is_area(refs: list[int], tags: dict) -> bool:
    """A closed way with an area key becomes a polygon (generic style)."""
    closed = len(refs) >= 4 and refs[0] == refs[-1]
    return closed and any(k in tags for k in AREA_KEYS)
