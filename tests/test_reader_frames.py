"""The readers that parse in the Python process (OSC and OSM XML, OPL,
o5m/o5c) land their rows in the JVM once: no PythonRDD in any frame's
lineage, so a frame read by several queries never re-runs Python
worker tasks, and each frame keeps the model schema (types and
nullability)."""

from datetime import datetime

from pyspark.sql import types as T

from osm2pgsql_spark.model import NODE_SCHEMA, RELATION_SCHEMA, WAY_SCHEMA
from osm2pgsql_spark.sources.o5m import read_o5c, read_o5m, write_o5m
from osm2pgsql_spark.sources.opl import read_opl
from osm2pgsql_spark.sources.osm_xml import read_osc_xml, read_osm_xml

MODEL = (NODE_SCHEMA, WAY_SCHEMA, RELATION_SCHEMA)


def _with_op(schema: T.StructType) -> T.StructType:
    return T.StructType(list(schema.fields) + [
        T.StructField("op", T.StringType()),
        T.StructField("op_seq", T.LongType()),
    ])


def _check_frames(frames, schemas) -> None:
    for df, schema in zip(frames, schemas):
        assert df.schema == schema
        lineage = df._jdf.queryExecution().toRdd().toDebugString()
        assert "PythonRDD" not in lineage, lineage


OSM = """<?xml version='1.0'?>
<osm version="0.6">
  <node id="1" lat="50.0" lon="9.0" version="2" timestamp="2024-01-01T10:00:00Z"
        changeset="7" uid="3" user="u"><tag k="amenity" v="pub"/></node>
  <node id="2" lat="50.1" lon="9.1"/>
  <way id="10"><nd ref="1"/><nd ref="2"/><tag k="highway" v="service"/></way>
  <relation id="20"><member type="way" ref="10" role="outer"/>
    <tag k="type" v="multipolygon"/></relation>
</osm>
"""

OSC = """<?xml version='1.0'?>
<osmChange version="0.6">
  <modify><node id="1" lat="50.5" lon="9.5" version="3" timestamp="2024-02-01T00:00:00Z"/></modify>
  <create><node id="30" lat="50.3" lon="9.3" version="1" timestamp="2024-02-02T12:30:00Z">
    <tag k="amenity" v="cafe"/></node></create>
  <delete><node id="2" version="2" timestamp="2024-02-03T00:00:00Z"/>
    <relation id="20" version="2"/></delete>
  <modify><node id="1" lat="50.6" lon="9.6" version="4" timestamp="2024-02-04T00:00:00Z"/>
    <way id="10" version="2"><nd ref="1"/><nd ref="30"/></way></modify>
</osmChange>
"""


def test_osm_xml_frames_are_jvm_resident(spark, tmp_path):
    p = tmp_path / "a.osm"
    p.write_text(OSM)
    frames = read_osm_xml(spark, str(p))
    _check_frames(frames, MODEL)
    n = {r.id: r for r in frames[0].collect()}
    assert n[1].ts == datetime(2024, 1, 1, 10) and n[1].tags == {"amenity": "pub"}
    assert n[2].ts is None
    assert [tuple(m) for m in frames[2].first().members] == [("w", 10, "outer")]


def test_osc_frames_keep_op_order_and_timestamps(spark, tmp_path):
    p = tmp_path / "c.osc"
    p.write_text(OSC)
    frames = read_osc_xml(spark, str(p))
    _check_frames(frames, [_with_op(s) for s in MODEL])
    nodes, ways, rels = (
        sorted((r.id, r.op, r.op_seq, r.ts) for r in df.collect()) for df in frames)
    assert nodes == [
        (1, "modify", 0, datetime(2024, 2, 1)),
        (1, "modify", 3, datetime(2024, 2, 4)),
        (2, "delete", 2, datetime(2024, 2, 3)),
        (30, "create", 1, datetime(2024, 2, 2, 12, 30)),
    ]
    assert ways == [(10, "modify", 0, None)]
    assert rels == [(20, "delete", 0, None)]


def test_opl_frames_are_jvm_resident(spark):
    frames = read_opl(spark, [
        "n1 v2 t2024-01-01T10:00:00Z Tamenity=pub x9.0 y50.0",
        "n2 x9.1 y50.1",
        "w10 Thighway=service Nn1,n2",
        "r20 Ttype=multipolygon Mw10@outer,n1@",
    ])
    _check_frames(frames, MODEL)
    n = {r.id: r for r in frames[0].collect()}
    assert n[1].ts == datetime(2024, 1, 1, 10) and n[2].ts is None
    assert frames[1].first().refs == [1, 2]
    assert [tuple(m) for m in frames[2].first().members] == [
        ("w", 10, "outer"), ("n", 1, "")]
    _check_frames(read_opl(spark, []), MODEL)


def test_o5m_and_o5c_frames_are_jvm_resident(spark, tmp_path):
    p = str(tmp_path / "mini.o5m")

    def build(enc):
        enc.node(1, 50.0, 9.0, {"amenity": "cafe"}, version=3,
                 ts=datetime(2020, 1, 2, 3, 4, 5), changeset=77, uid=42, user="a")
        enc.node(2, 0.0, 0.0, visible=False)
        enc.way(10, [1, 2], {"highway": "primary"})
        enc.relation(20, [("w", 10, "outer")], {"type": "multipolygon"})

    write_o5m(p, build)
    frames = read_o5m(spark, p)
    _check_frames(frames, MODEL)
    n = {r.id: r for r in frames[0].collect()}
    assert n[1].ts == datetime(2020, 1, 2, 3, 4, 5)

    raw = bytearray(open(p, "rb").read())
    raw[5:6] = b"c"
    c = str(tmp_path / "mini.o5c")
    open(c, "wb").write(bytes(raw))
    frames = read_o5c(spark, c)
    _check_frames(frames, [_with_op(s) for s in MODEL])
    assert sorted((r.id, r.op, r.op_seq) for r in frames[0].collect()) == [
        (1, "modify", 0), (2, "delete", 1)]
