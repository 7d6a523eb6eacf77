"""Flex style for the replication workload: the generic style's node
and way tables (points, lines, polygons from closed ways) without its
relation tables.

Relation assembly dominates the generic style's planning cost, which
puts one generic-style append beyond a benchmark run's time limit.
This style keeps every append layer busy (diff parse, apply, reverse
dependencies, style refresh, expiry, middle merge, table writes) at a
cost that fits.  The tag cleanup and area rules are the generic
style's own (examples/generic_import.py).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from examples.generic_import import AREA_KEYS, DELETE_KEYS
from osm2pgsql_spark.functions.tags import filter_tags
from osm2pgsql_spark.plans.flex import ColumnDef, FlexConfig

ID_SPACES = {"points": "node", "lines": "way", "polygons": "area"}


def tables(spark, nodes, ways, rels):
    clean = filter_tags(F.col("tags"), delete_patterns=DELETE_KEYS)
    cfg = FlexConfig()
    cfg.define_table("points", ids="node", columns=[
        ColumnDef("tags", "jsonb"),
        ColumnDef("geom", "point", srid=3857, not_null=True)])
    cfg.define_table("lines", ids="way", columns=[
        ColumnDef("tags", "jsonb"),
        ColumnDef("geom", "linestring", srid=3857, not_null=True)])
    cfg.define_table("polygons", ids="area", columns=[
        ColumnDef("tags", "jsonb"),
        ColumnDef("geom", "geometry", srid=3857, not_null=True)])

    has_tags = F.size(clean) > 0
    closed = (F.size("refs") >= 4) & (F.element_at("refs", 1) == F.element_at("refs", -1))
    area_keys = F.lit(False)
    for k in AREA_KEYS:
        area_keys = area_keys | clean[k].isNotNull()
    area_tags = (F.when(clean["area"] == "yes", F.lit(True))
                 .when(clean["area"] == "no", F.lit(False))
                 .otherwise(area_keys))
    is_area = F.coalesce(closed & area_tags, F.lit(False))

    cfg.insert("points", "node", when=has_tags, tags=clean)
    cfg.insert("polygons", "way", when=has_tags & is_area,
               way_geometry="polygon", tags=clean)
    cfg.insert("lines", "way", when=has_tags & ~is_area, tags=clean)
    return cfg.run(nodes=nodes, ways=ways, relations=rels)
