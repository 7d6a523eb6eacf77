"""Span tracing of the program's layers, for the traced run only.

Spark is lazy: a span around a layer call would time plan
construction and leave the work to whoever acts last.  While tracing,
each hooked layer therefore ends in a materialization barrier
(``localCheckpoint``), so its span holds the layer's own work.

``Tracer`` keeps spans in memory; ``self_times`` subtracts each
span's direct children, so nested layers are not counted twice.
``hooks`` installs the layer wrappers on the import tool and restores
the originals on exit.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    span_id: int


class Tracer:
    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[Span] = []
        self.counters: dict[str, float] = {}
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        s = Span(name, time.perf_counter(), 0.0, parent, self.run_id, sid)
        self.spans.append(s)
        self._stack.append(sid)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.perf_counter()

    def add(self, key: str, value: float) -> None:
        self.counters[key] = self.counters.get(key, 0) + value

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")


def self_times(spans: list[Span]) -> dict[str, float]:
    """Total self time per span name: duration minus the durations of
    the span's direct children."""
    child_total: dict[int, float] = {}
    for s in spans:
        if s.parent is not None:
            child_total[s.parent] = child_total.get(s.parent, 0.0) + (s.end - s.start)
    out: dict[str, float] = {}
    for s in spans:
        own = (s.end - s.start) - child_total.get(s.span_id, 0.0)
        out[s.name] = out.get(s.name, 0.0) + own
    return out


def _barrier(df):
    return df.localCheckpoint(eager=True)


def dir_bytes(path: str) -> int:
    total = 0
    for base, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(base, f))
            except OSError:
                pass
    return total


@contextlib.contextmanager
def hooks(tracer: Tracer, import_tool, phase: str):
    """Wrap the layers the import tool calls during one create or
    append (``phase``), with a barrier after each.

    Span names: ``sources.opl_parse``, ``middle.write``,
    ``plans.style``, ``sinks.write`` for a create; ``sources.osc_parse``,
    ``append.apply``, ``append.affected``, ``append.style``,
    ``expire.tiles``, ``middle.merge``, ``append.sinks_write`` for an
    append.  The enclosing op span is ``<phase>.other``.
    """
    from osm2pgsql_spark.sinks import writers
    from osm2pgsql_spark.sources import osm_xml
    from osm2pgsql_spark.streaming import append as append_mod
    from osm2pgsql_spark.streaming.merge_sink import ParquetMergeTable

    it = import_tool
    saved: list[tuple[object, str, object]] = []

    def patch(owner, attr, make):
        orig = getattr(owner, attr)
        saved.append((owner, attr, orig))
        setattr(owner, attr, make(orig))

    def frames_layer(name, count_key=None):
        def make(orig):
            def wrapped(*a, **kw):
                with tracer.span(name):
                    out = tuple(_barrier(df) for df in orig(*a, **kw))
                if count_key:
                    tracer.add(count_key, sum(df.count() for df in out))
                return out
            return wrapped
        return make

    def style_layer(orig_load):
        def load(*a, **kw):
            fn, spaces = orig_load(*a, **kw)

            def styled(*sa, **skw):
                name = "plans.style" if phase == "create" else "append.style"
                with tracer.span(name):
                    tables = {k: _barrier(v) for k, v in fn(*sa, **skw).items()}
                tracer.add(f"{name}.rows", sum(v.count() for v in tables.values()))
                return tables

            styled.__dict__.update(getattr(fn, "__dict__", {}))
            return styled, spaces
        return load

    def sinks_layer(orig):
        def wrapped(tables, out_dir, *a, **kw):
            name = "sinks.write" if phase == "create" else "append.sinks_write"
            with tracer.span(name):
                out = orig(tables, out_dir, *a, **kw)
            tracer.add(f"{name}.bytes", dir_bytes(os.path.join(out_dir, "tables")))
            return out
        return wrapped

    def plain_layer(name):
        def make(orig):
            def wrapped(*a, **kw):
                with tracer.span(name):
                    return orig(*a, **kw)
            return wrapped
        return make

    def apply_layer(orig):
        def wrapped(*a, **kw):
            with tracer.span("append.apply"):
                return _barrier(orig(*a, **kw))
        return wrapped

    def affected_layer(orig):
        def wrapped(*a, **kw):
            with tracer.span("append.affected"):
                sets = orig(*a, **kw)
                for f in ("changed_nodes", "changed_ways", "changed_rels",
                          "pending_ways", "pending_rels"):
                    setattr(sets, f, _barrier(getattr(sets, f)))
            tracer.add("touched_nodes", sets.changed_nodes.count())
            tracer.add("touched_ways", sets.changed_ways.count()
                       + sets.pending_ways.count())
            tracer.add("touched_rels", sets.changed_rels.count()
                       + sets.pending_rels.count())
            return sets
        return wrapped

    def merge_layer(orig):
        def wrapped(*a, **kw):
            with tracer.span("middle.merge"):
                buckets = orig(*a, **kw)
            tracer.add("buckets_rewritten", len(buckets))
            return buckets
        return wrapped

    def expire_layer(orig):
        def wrapped(tiles, path, *a, **kw):
            with tracer.span("expire.tiles"):
                out = orig(tiles, path, *a, **kw)
            with open(path, encoding="utf-8") as fh:
                tracer.add("expire_tiles", sum(1 for line in fh if line.strip()))
            return out
        return wrapped

    patch(it, "read_osm_any", frames_layer("sources.opl_parse", "objects_in"))
    patch(it, "load_style", style_layer)
    patch(it, "_write_tables", sinks_layer)
    patch(ParquetMergeTable, "write_full", plain_layer("middle.write"))
    patch(ParquetMergeTable, "merge_diff", merge_layer)
    patch(osm_xml, "read_osc_xml", frames_layer("sources.osc_parse"))
    patch(append_mod, "apply_diff", apply_layer)
    patch(append_mod, "affected_ids", affected_layer)
    patch(writers, "write_expire_file", expire_layer)
    try:
        with tracer.span(f"{phase}.other"):
            yield
    finally:
        for owner, attr, orig in reversed(saved):
            setattr(owner, attr, orig)
