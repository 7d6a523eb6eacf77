"""OSM XML (.osm / .osc) reader.

Reference reads XML via libosmium (/root/reference/src/input.cpp:307-336
auto-detects format by suffix).  XML is not splittable, so this reader
parses driver-side (fine for extracts/changesets; planet-scale input
should use PBF or OPL).  .osc change files yield an extra `op` column
(create/modify/delete) per the <create>/<modify>/<delete> sections
(/root/reference/src/osmdata.cpp:55-70 semantics).
"""

from __future__ import annotations

import gzip
import xml.etree.ElementTree as ET

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from osm2pgsql_spark.model import NODE_SCHEMA, RELATION_SCHEMA, WAY_SCHEMA
from osm2pgsql_spark.sources import rows_frame


def _attrs(el) -> tuple:
    ts = el.get("timestamp")
    return (
        int(el.get("version")) if el.get("version") else None,
        None if ts is None else ts.replace("T", " ").rstrip("Z"),
        int(el.get("changeset")) if el.get("changeset") else None,
        int(el.get("uid")) if el.get("uid") else None,
        el.get("user"),
        el.get("visible") != "false",
    )


def _tags(el) -> dict:
    return {t.get("k"): t.get("v") for t in el.findall("tag")}


def _parse(root, op: str | None):
    nodes, ways, rels = [], [], []
    for el in root:
        tag = el.tag
        if tag == "node":
            # libosmium stores locations fixed-point at 1e-7 degrees
            # (reference src/osmtypes.hpp:31 via osmium::Location);
            # quantizing here reproduces its coordinates bit-for-bit,
            # which matters when tests pin areas to the square meter.
            lat, lon = el.get("lat"), el.get("lon")
            row = (
                int(el.get("id")),
                round(float(lat) * 1e7) / 1e7 if lat else None,
                round(float(lon) * 1e7) / 1e7 if lon else None,
                _tags(el),
                *_attrs(el),
            )
            nodes.append(row if op is None else (*row, op))
        elif tag == "way":
            row = (
                int(el.get("id")),
                [int(nd.get("ref")) for nd in el.findall("nd")],
                _tags(el),
                *_attrs(el),
            )
            ways.append(row if op is None else (*row, op))
        elif tag == "relation":
            row = (
                int(el.get("id")),
                [
                    (m.get("type")[0], int(m.get("ref")), m.get("role") or "")
                    for m in el.findall("member")
                ],
                _tags(el),
                *_attrs(el),
            )
            rels.append(row if op is None else (*row, op))
    return nodes, ways, rels


def _with_ts(df: DataFrame) -> DataFrame:
    from pyspark.sql import functions as F

    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def _schema(base: T.StructType, with_op: bool) -> T.StructType:
    fields = [
        T.StructField("ts", T.StringType()) if f.name == "ts" else f for f in base.fields
    ]
    if with_op:
        fields = fields + [
            T.StructField("op", T.StringType()),
            T.StructField("op_seq", T.LongType()),
        ]
    return T.StructType(fields)


def open_compressed(path: str, mode: str = "rb"):
    """Open a possibly-compressed OSM file.  libosmium resolves the
    compression from the filename suffix (.gz via zlib, .bz2 via
    libbz2 — reference vendored libosmium io/compression handling);
    here the stdlib gzip/bz2 modules cover the same two formats."""
    if path.endswith(".gz"):
        return gzip.open(path, mode)
    if path.endswith(".bz2"):
        import bz2

        return bz2.open(path, mode)
    return open(path, mode)


def _parse_root(path: str):
    if path.endswith((".gz", ".bz2")):
        with open_compressed(path, "rb") as fh:
            return ET.parse(fh).getroot()
    return ET.parse(path).getroot()


def read_osm_xml(
    spark: SparkSession, path: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Parse a .osm(.gz/.bz2) file into the (nodes, ways, relations) trio."""
    root = _parse_root(path)
    nodes, ways, rels = _parse(root, op=None)
    return (
        _with_ts(rows_frame(spark, nodes, _schema(NODE_SCHEMA, False))),
        _with_ts(rows_frame(spark, ways, _schema(WAY_SCHEMA, False))),
        _with_ts(rows_frame(spark, rels, _schema(RELATION_SCHEMA, False))),
    )


def read_osc_xml(
    spark: SparkSession, path: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Parse a .osc(.gz/.bz2) change file; each DataFrame carries an `op` column."""
    root = _parse_root(path)
    all_nodes, all_ways, all_rels = [], [], []
    for section in root:
        op = {"create": "create", "modify": "modify", "delete": "delete"}.get(section.tag)
        if op is None:
            continue
        n, w, r = _parse(section, op=op)
        all_nodes.extend(n)
        all_ways.extend(w)
        all_rels.extend(r)
    # op_seq = document order, so apply_diff can keep the LAST op per
    # id (the reference applies ops sequentially, src/osmdata.cpp:55-70)
    all_nodes = [(*row, i) for i, row in enumerate(all_nodes)]
    all_ways = [(*row, i) for i, row in enumerate(all_ways)]
    all_rels = [(*row, i) for i, row in enumerate(all_rels)]
    return (
        _with_ts(rows_frame(spark, all_nodes, _schema(NODE_SCHEMA, True))),
        _with_ts(rows_frame(spark, all_ways, _schema(WAY_SCHEMA, True))),
        _with_ts(rows_frame(spark, all_rels, _schema(RELATION_SCHEMA, True))),
    )
