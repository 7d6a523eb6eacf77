"""The benchmark's workloads.

Each workload has three parts: ``setup`` (untimed by the op metrics,
counted in ``setup_s``), ``op`` (one timed operation) and ``check``
(correctness of what the ops produced; raises ``CheckFailed``).
``traced_op`` repeats one op with layer tracing for ``--trace 1``.

- ``replication``: a base database is created from a seeded extract
  with perfbench/style.py during set-up; each op restores that base and
  applies one seeded osmChange diff with ``--append --refresh full
  --expire-tiles 14``.
- ``operators``: after four warm-up passes in set-up, each op is one pass
  over a fixed list of registered queries on the sf0.01 TPC-H-ish corpus
  in ``corpus/``, in a seed-shuffled order.
"""

from __future__ import annotations

import contextlib
import json
import math
import os
import random
import shutil
import struct
import sys

import gen
import spans as tr

EXPIRE_ZOOM = 14
HERE = os.path.dirname(os.path.abspath(__file__))
STYLE = os.path.join(HERE, "style.py")
# the repository's TPC-H-ish test corpus at scale factor 0.01 (the scale
# its oracle_sql() gate runs at), the tables the operator queries read
CORPUS = os.path.join(HERE, "corpus", "sf0.01")

# queries() entries timed by the operators workload (each has an
# oracle_sql() twin)
OPERATOR_QUERIES = (
    "tile_expiry_rollup",
    "way_polygon_area",
    "locator_all_intersecting",
    "discrete_isolation",
)


# on the sf0.01 corpus the first pass costs ~16 s and the next three
# 6.3, 4.8 and 4.3 s; from the fifth on a pass takes 3.5-3.7 s, so the
# timed passes are on that plateau however many of them fit in a run
WARMUP_PASSES = 4


class CheckFailed(Exception):
    pass


def _expect(cond: bool, msg: str) -> None:
    if not cond:
        raise CheckFailed(msg)


def run_tool(ctx, argv: list[str]) -> None:
    """Run the import tool's command line in this process; its table
    report goes to stderr so stdout stays for the result line."""
    saved = sys.argv
    sys.argv = ["import_tool.py", *argv]
    try:
        with contextlib.redirect_stdout(sys.stderr):
            ctx.import_tool.main()
    finally:
        sys.argv = saved


def read_tables(db: str) -> dict[str, dict[int, tuple[dict, bytes]]]:
    """``{table: {osm_id: (tags, geom WKB)}}`` of a database's plain
    parquet output tables, read without Spark."""
    import pyarrow.parquet as pq

    out = {}
    tables = os.path.join(db, "tables")
    for name in sorted(os.listdir(tables)):
        rows = pq.read_table(os.path.join(tables, name),
                             columns=["osm_id", "tags", "geom"]).to_pylist()
        out[name] = {r["osm_id"]: (json.loads(r["tags"]), r["geom"]) for r in rows}
        if len(out[name]) != len(rows):
            raise CheckFailed(f"table {name}: duplicate osm_id")
    return out


_MERC = 20037508.342789244


def _merc(lon: float, lat: float) -> tuple[float, float]:
    return (lon * _MERC / 180.0,
            math.log(math.tan((90.0 + lat) * math.pi / 360.0)) * _MERC / math.pi)


def wkb_coords(wkb: bytes) -> tuple[int, list[tuple[float, float]]]:
    """(geometry type, vertices) of a 2-D WKB point, linestring or
    single-ring polygon."""
    order = "<" if wkb[0] == 1 else ">"
    (kind,) = struct.unpack_from(order + "I", wkb, 1)
    if kind == 1:
        return kind, [struct.unpack_from(order + "dd", wkb, 5)]
    off = 5
    if kind == 3:
        (rings,) = struct.unpack_from(order + "I", wkb, off)
        if rings != 1:
            raise CheckFailed(f"polygon with {rings} rings")
        off += 4
    if kind not in (2, 3):
        raise CheckFailed(f"unexpected WKB geometry type {kind}")
    (n,) = struct.unpack_from(order + "I", wkb, off)
    return kind, [struct.unpack_from(order + "dd", wkb, off + 4 + 16 * i)
                  for i in range(n)]


def expected_rows(store: dict) -> dict[str, dict[int, tuple[dict, int, list]]]:
    """What perfbench/style.py must write for ``store``:
    ``{table: {osm_id: (tags, WKB type, EPSG:3857 vertices)}}``,
    coordinates rounded to the 1e-7 degrees the input files carry."""
    def at(nid):
        n = store["nodes"][nid]
        return _merc(float(gen.coord(n["lon"])), float(gen.coord(n["lat"])))

    out: dict = {"points": {}, "lines": {}, "polygons": {}}
    for nid, n in store["nodes"].items():
        tags = gen.clean_tags(n["tags"])
        if tags:
            out["points"][nid] = (tags, 1, [at(nid)])
    for wid, w in store["ways"].items():
        tags = gen.clean_tags(w["tags"])
        if not tags:
            continue
        pts = [at(r) for r in w["refs"]]
        if gen.is_area(w["refs"], tags):
            out["polygons"][wid] = (tags, 3, pts)
        else:
            out["lines"][wid] = (tags, 2, pts)
    return out


def _same_vertices(kind: int, got: list, want: list) -> bool:
    if len(got) != len(want):
        return False
    if kind == 3:
        # a ring may be stored from another start vertex or reversed
        got, want = sorted(got[:-1]), sorted(want[:-1])
    return all(abs(a - c) < 1e-3 and abs(b - d) < 1e-3
               for (a, b), (c, d) in zip(got, want))


def check_tables(db: str, store: dict) -> None:
    """The database's tables hold exactly the rows the style must
    derive from ``store``: ids, tags and geometry within 1 mm."""
    got = read_tables(db)
    want = expected_rows(store)
    _expect(set(got) == set(want), f"tables {sorted(got)} != {sorted(want)}")
    for name, rows in want.items():
        have = got[name]
        missing, extra = set(rows) - set(have), set(have) - set(rows)
        _expect(not missing and not extra,
                f"table {name}: missing ids {sorted(missing)[:5]}, "
                f"unexpected ids {sorted(extra)[:5]}")
        for oid, (tags, kind, pts) in rows.items():
            htags, wkb = have[oid]
            _expect(htags == tags, f"{name} {oid}: tags {htags} != {tags}")
            hkind, hpts = wkb_coords(wkb)
            _expect(hkind == kind and _same_vertices(kind, hpts, pts),
                    f"{name} {oid}: geometry {hkind} {hpts} != {kind} {pts}")


def _lonlat_tile(lon: float, lat: float, z: int) -> tuple[int, int]:
    n = 1 << z
    x = int((lon + 180.0) / 360.0 * n)
    y = int((1.0 - math.asinh(math.tan(math.radians(lat))) / math.pi) / 2.0 * n)
    return x, y


class Replication:
    name = "replication"

    def setup(self, ctx) -> None:
        w = ctx.work
        self.base = gen.extract(ctx.seed)
        self.changes, self.post = gen.make_diff(self.base, ctx.seed * 7 + 1)
        self.base_opl = os.path.join(w, "base.opl")
        self.diff = os.path.join(w, "diff.osc")
        for path, text in ((self.base_opl, gen.to_opl(self.base)),
                           (self.diff, gen.to_osc(self.changes))):
            with open(path, "w", encoding="utf-8") as fh:
                fh.write(text)
        self.pristine = os.path.join(w, "base.db")
        self.db = os.path.join(w, "db")
        argv = [self.base_opl, self.pristine, "-S", STYLE]
        if ctx.tracer is not None:
            with tr.hooks(ctx.tracer, ctx.import_tool, "create"):
                run_tool(ctx, argv)
        else:
            run_tool(ctx, argv)
        # no warm-up append: it would push a run past its share of the
        # time a measurement round may take (perfbench/README.md)
        self.expire_lists: list[list[str]] = []

    def prepare(self, ctx) -> None:
        shutil.rmtree(self.db, ignore_errors=True)
        shutil.copytree(self.pristine, self.db)

    def _argv(self) -> list[str]:
        return [self.diff, self.db, "--append", "-S", STYLE, "--refresh", "full",
                "--expire-tiles", str(EXPIRE_ZOOM),
                "--expire-output", os.path.join(self.db, "dirty.list")]

    def after_op(self, ctx) -> None:
        with open(os.path.join(self.db, "dirty.list"), encoding="utf-8") as fh:
            self.expire_lists.append(sorted(line.strip() for line in fh if line.strip()))
        check_tables(self.db, self.post)

    def op(self, ctx) -> None:
        run_tool(ctx, self._argv())

    def traced_op(self, ctx) -> None:
        with tr.hooks(ctx.tracer, ctx.import_tool, "append"):
            self.op(ctx)

    def after_traced(self, ctx) -> dict:
        self.after_op(ctx)
        old, new = read_tables(self.pristine), read_tables(self.db)
        rewritten = sum(len(rows) for rows in new.values())
        changed = sum(1 for name, rows in new.items() for oid, row in rows.items()
                      if old.get(name, {}).get(oid) != row)
        return {"append.refresh_useful_ratio":
                changed / rewritten if rewritten else 0.0}

    def check(self, ctx) -> list[str]:
        # the base database from set-up; every applied diff was checked
        # against the post-diff state in after_op
        check_tables(self.pristine, self.base)
        _expect(all(e == self.expire_lists[0] for e in self.expire_lists),
                "expire list differs between applications of the same diff")
        tiles = set(self.expire_lists[0])
        # a moved, created or deleted node that is a tagged point or a
        # vertex of a tagged way lies on a geometry whose old or new
        # version must be expired
        rendered = {nid for nid, n in self.base["nodes"].items()
                    if gen.clean_tags(n["tags"])}
        for w in self.base["ways"].values():
            if gen.clean_tags(w["tags"]):
                rendered.update(w["refs"])
        for op, kind, oid, obj in self.changes:
            if kind != "n" or (op != "create" and oid not in rendered):
                continue
            where = []
            if op != "create":
                n = self.base["nodes"][oid]
                where.append((n["lon"], n["lat"]))
            if obj is not None:
                where.append((obj["lon"], obj["lat"]))
            for lon, lat in where:
                x, y = _lonlat_tile(lon, lat, EXPIRE_ZOOM)
                _expect(f"{EXPIRE_ZOOM}/{x}/{y}" in tiles,
                        f"node {oid} at {lon},{lat}: tile {x}/{y} not expired")
        span = gen.GRID * gen.CELL
        lo = _lonlat_tile(gen.ORIGIN_LON, gen.ORIGIN_LAT + span, EXPIRE_ZOOM)
        hi = _lonlat_tile(gen.ORIGIN_LON + span, gen.ORIGIN_LAT, EXPIRE_ZOOM)
        for t in tiles:
            _z, x, y = (int(v) for v in t.split("/"))
            _expect(lo[0] - 1 <= x <= hi[0] + 1 and lo[1] - 1 <= y <= hi[1] + 1,
                    f"expired tile {t} lies outside the extract")
        return [f"{len(self.expire_lists)} diff application(s) match the "
                f"post-diff state; expire.tiles={len(tiles)}"]


def query_order(seed: int) -> list[str]:
    order = list(OPERATOR_QUERIES)
    random.Random(seed).shuffle(order)
    return order


class Operators:
    name = "operators"

    def setup(self, ctx) -> None:
        import __spark_entry__ as entry

        self.sf_dir = CORPUS
        self.queries = entry.queries()
        self.order = query_order(ctx.seed)
        # warm-up passes: the first pass in a JVM is mostly class loading
        # and code generation, and the JIT keeps speeding passes up for
        # several more; timed passes measure the operators
        self.passes: list[dict] = [self._pass(ctx) for _ in range(WARMUP_PASSES)]

    def prepare(self, ctx) -> None:
        pass

    def _pass(self, ctx, tracer=None) -> dict:
        out = {}
        for name in self.order:
            span = (tracer.span(f"query.{name}") if tracer is not None
                    else contextlib.nullcontext())
            with span:
                # collect() is the query's materialization barrier
                df = self.queries[name](ctx.spark, self.sf_dir)
                out[name] = (df.columns, [tuple(r) for r in df.collect()])
        return out

    def op(self, ctx) -> None:
        self.passes.append(self._pass(ctx))

    def after_op(self, ctx) -> None:
        pass

    def traced_op(self, ctx) -> None:
        self.passes.append(self._pass(ctx, ctx.tracer))

    def after_traced(self, ctx) -> dict:
        return {}

    def check(self, ctx) -> list[str]:
        import duckdb
        import __spark_entry__ as entry
        from check_correctness import normalize, value_hash

        oracles = entry.oracle_sql()
        con = duckdb.connect()
        for t in sorted(f[:-len(".parquet")] for f in os.listdir(self.sf_dir)):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(self.sf_dir, t)}.parquet')")
        notes = []
        for name in self.order:
            res = con.execute(oracles[name])
            dcols = [d[0] for d in res.description]
            want = value_hash(normalize(res.fetchall(), dcols))
            for i, p in enumerate(self.passes):
                cols, rows = p[name]
                _expect(sorted(cols) == sorted(dcols),
                        f"{name}: columns {sorted(cols)} != oracle {sorted(dcols)}")
                got = value_hash(normalize(rows, cols))
                _expect(got == want, f"{name} (pass {i}): value hash {got} "
                        f"!= oracle {want}")
            notes.append(f"{name}: rows={len(self.passes[0][name][1])}")
        _expect(all(len(p[n][1]) > 0 for p in self.passes for n in self.order),
                "a query returned no rows")
        return notes


WORKLOADS = {w.name: w for w in (Replication, Operators)}
