"""O5M / O5C input format.

Reference reads o5m via libosmium
(/root/reference/src/input.cpp:307-336 dispatches by suffix;
contrib/libosmium/include/osmium/io/detail/o5m_input_format.hpp is
the decoder whose semantics this module re-implements; format spec:
https://wiki.openstreetmap.org/wiki/O5m).

Format essentials:
- header: 0xff reset, then dataset 0xe0 len=4 payload "o5m2"/"o5c2"
- datasets: type byte (0x10 node / 0x11 way / 0x12 relation /
  0xdb bbox / 0xdc timestamp / 0xe0 header / 0xee sync / 0xef jump /
  0xff reset), then uvarint payload length (except reset)
- all integers are varints; signed values use zigzag
- ids/timestamps/changesets/lon/lat/way-refs/member-refs are DELTA
  coded against per-category accumulators; 0xff resets them all
- strings (tag k\\0v\\0 pairs, uid+user, member type+role) are either
  inline (0x00-prefixed, and entered into a 15000-entry ring table if
  <= 250 bytes) or a varint back-reference into that table

Like the XML reader this parses driver-side: the delta chains make
o5m non-splittable without scanning for 0xff reset points (planet
scale should use PBF).  Deleted objects (no body after the info
section) surface with visible=False.
"""

from __future__ import annotations

from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from osm2pgsql_spark.model import NODE_SCHEMA, RELATION_SCHEMA, WAY_SCHEMA
from osm2pgsql_spark.sources import rows_frame

_NODE, _WAY, _REL = 0x10, 0x11, 0x12
_BBOX, _TIMESTAMP, _HEADER, _SYNC, _JUMP, _RESET = 0xDB, 0xDC, 0xE0, 0xEE, 0xEF, 0xFF

_TABLE_ENTRIES = 15000
_TABLE_MAX_LEN = 250 + 2


class _Reader:
    def __init__(self, buf: bytes, pos: int = 0) -> None:
        self.buf = buf
        self.pos = pos

    def byte(self) -> int:
        b = self.buf[self.pos]
        self.pos += 1
        return b

    def uvarint(self) -> int:
        out = 0
        shift = 0
        while True:
            b = self.byte()
            out |= (b & 0x7F) << shift
            if not b & 0x80:
                return out
            shift += 7

    def zvarint(self) -> int:
        v = self.uvarint()
        return (v >> 1) ^ -(v & 1)

    def cstring(self) -> bytes:
        end = self.buf.index(0, self.pos)
        s = self.buf[self.pos : end]
        self.pos = end + 1
        return s

    @property
    def at_end(self) -> bool:
        return self.pos >= len(self.buf)


class _State:
    """Delta accumulators + string reference table (o5m 'reset' scope)."""

    def __init__(self) -> None:
        self.reset()

    def reset(self) -> None:
        self.id = 0
        self.timestamp = 0
        self.changeset = 0
        self.lon = 0
        self.lat = 0
        self.way_node = 0
        self.member = [0, 0, 0]  # node, way, relation
        self.table: list[bytes] = []

    def table_add(self, s: bytes) -> None:
        if len(s) <= _TABLE_MAX_LEN:
            self.table.append(s)
            if len(self.table) > _TABLE_ENTRIES:
                self.table.pop(0)

    def table_get(self, index: int) -> bytes:
        if index == 0 or index > len(self.table):
            raise ValueError("o5m: reference to non-existing string in table")
        return self.table[-index]


def _decode_pair(r: _Reader, st: _State) -> tuple[bytes, bytes]:
    """'first\\0second\\0' — tag (k, v) or member (typ+role,) style."""
    if r.buf[r.pos] == 0x00:
        r.pos += 1
        a = r.cstring()
        b = r.cstring()
        st.table_add(a + b"\x00" + b + b"\x00")
        return a, b
    blob = st.table_get(r.uvarint())
    i = blob.index(0)
    return blob[:i], blob[i + 1 : blob.index(0, i + 1)]


def _decode_single(r: _Reader, st: _State) -> bytes:
    """A single-part table string (member typ+role)."""
    if r.buf[r.pos] == 0x00:
        r.pos += 1
        a = r.cstring()
        st.table_add(a + b"\x00")
        return a
    blob = st.table_get(r.uvarint())
    return blob[: blob.index(0)]


def _decode_user(r: _Reader, st: _State) -> tuple[int | None, str | None]:
    """uid-varint + '\\0' + username + '\\0' (o5m user encoding)."""
    if r.buf[r.pos] == 0x00:
        r.pos += 1
        start = r.pos
        uid = r.uvarint()
        r.pos += 1  # nul between uid bytes and username
        if uid == 0:
            st.table_add(b"\x00\x00")
            return 0, ""
        user = r.cstring()
        st.table_add(r.buf[start : r.pos])
        return uid, user.decode("utf-8", "replace")
    blob = st.table_get(r.uvarint())
    br = _Reader(blob)
    uid = br.uvarint()
    if uid == 0:
        return 0, ""
    br.pos += 1
    return uid, br.cstring().decode("utf-8", "replace")


def _decode_info(r: _Reader, st: _State):
    """(version, ts, changeset, uid, user) — o5m info section."""
    if r.buf[r.pos] == 0x00:
        r.pos += 1
        return None, None, None, None, None
    version = r.uvarint()
    st.timestamp += r.zvarint()
    if st.timestamp == 0:
        return version, None, None, None, None
    ts = datetime.fromtimestamp(st.timestamp, tz=timezone.utc).replace(tzinfo=None)
    st.changeset += r.zvarint()
    if r.at_end:
        return version, ts, st.changeset, 0, None
    uid, user = _decode_user(r, st)
    return version, ts, st.changeset, uid, user


def _decode_tags(r: _Reader, st: _State) -> dict:
    tags = {}
    while not r.at_end:
        k, v = _decode_pair(r, st)
        tags[k.decode("utf-8", "replace")] = v.decode("utf-8", "replace")
    return tags


def _parse(data: bytes):
    nodes, ways, rels = [], [], []
    st = _State()
    r = _Reader(data)
    if data[:7] not in (b"\xff\xe0\x04o5m2", b"\xff\xe0\x04o5c2"):
        raise ValueError("o5m: wrong header magic")
    r.pos = 7
    while not r.at_end:
        ds = r.byte()
        if ds > _JUMP:
            if ds == _RESET:
                st.reset()
            continue
        length = r.uvarint()
        body = _Reader(r.buf[r.pos : r.pos + length])
        r.pos += length
        if ds == _NODE:
            st.id += body.zvarint()
            version, ts, cs, uid, user = _decode_info(body, st)
            if body.at_end:
                nodes.append((st.id, None, None, {}, version, ts, cs, uid, user, False))
                continue
            st.lon += body.zvarint()
            st.lat += body.zvarint()
            tags = _decode_tags(body, st)
            nodes.append(
                (st.id, st.lat * 1e-7, st.lon * 1e-7, tags, version, ts, cs, uid, user, True)
            )
        elif ds == _WAY:
            st.id += body.zvarint()
            version, ts, cs, uid, user = _decode_info(body, st)
            if body.at_end:
                ways.append((st.id, [], {}, version, ts, cs, uid, user, False))
                continue
            ref_len = body.uvarint()
            refs_r = _Reader(body.buf[body.pos : body.pos + ref_len])
            body.pos += ref_len
            refs = []
            while not refs_r.at_end:
                st.way_node += refs_r.zvarint()
                refs.append(st.way_node)
            tags = _decode_tags(body, st)
            ways.append((st.id, refs, tags, version, ts, cs, uid, user, True))
        elif ds == _REL:
            st.id += body.zvarint()
            version, ts, cs, uid, user = _decode_info(body, st)
            if body.at_end:
                rels.append((st.id, [], {}, version, ts, cs, uid, user, False))
                continue
            ref_len = body.uvarint()
            refs_r = _Reader(body.buf[body.pos : body.pos + ref_len])
            body.pos += ref_len
            members = []
            while not refs_r.at_end:
                delta = refs_r.zvarint()
                typ_role = _decode_single(refs_r, st)
                nwr = typ_role[0:1].decode()  # '0' | '1' | '2'
                if nwr not in "012":
                    raise ValueError("o5m: unknown member type")
                idx = int(nwr)
                st.member[idx] += delta
                members.append(
                    ("nwr"[idx], st.member[idx], typ_role[1:].decode("utf-8", "replace"))
                )
            tags = _decode_tags(body, st)
            rels.append((st.id, members, tags, version, ts, cs, uid, user, True))
        # bbox/timestamp/header/sync/jump payloads are skipped
    return nodes, ways, rels


def read_o5m(spark: SparkSession, path: str) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Parse a .o5m file into the (nodes, ways, relations) trio
    (model schemas; deleted objects carry visible=False)."""
    from osm2pgsql_spark.sources.osm_xml import open_compressed

    with open_compressed(path, "rb") as fh:
        data = fh.read()
    nodes, ways, rels = _parse(data)
    return (
        rows_frame(spark, nodes, NODE_SCHEMA),
        rows_frame(spark, ways, WAY_SCHEMA),
        rows_frame(spark, rels, RELATION_SCHEMA),
    )


def read_o5c(spark: SparkSession, path: str) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Parse a .o5c change file; each DataFrame carries op + op_seq
    columns (delete where the object body is absent, else modify —
    o5c carries no explicit create marker; modify covers both for the
    delete-before-insert fold)."""

    def schema(base: T.StructType) -> T.StructType:
        return T.StructType(
            list(base.fields)
            + [T.StructField("op", T.StringType()), T.StructField("op_seq", T.LongType())]
        )

    from osm2pgsql_spark.sources.osm_xml import open_compressed

    with open_compressed(path, "rb") as fh:
        data = fh.read()
    nodes, ways, rels = _parse(data)

    def mark(rows):
        return [
            (*row, "delete" if row[-1] is False else "modify", i)
            for i, row in enumerate(rows)
        ]

    return (
        rows_frame(spark, mark(nodes), schema(NODE_SCHEMA)),
        rows_frame(spark, mark(ways), schema(WAY_SCHEMA)),
        rows_frame(spark, mark(rels), schema(RELATION_SCHEMA)),
    )


# ----------------------------------------------------------- encoder

def _uvarint(v: int) -> bytes:
    out = bytearray()
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _zvarint(v: int) -> bytes:
    return _uvarint((v << 1) ^ (v >> 63) if v >= 0 else ((-v) << 1) - 1)


class _Enc:
    """Minimal o5m encoder (inline strings only) for tests and small
    exports; mirrors the decoder's delta/table state."""

    def __init__(self) -> None:
        self.st = _State()
        self.out = bytearray(b"\xff\xe0\x04o5m2")

    def _string(self, b: bytearray, blob: bytes, inline: bytes | None = None) -> None:
        """Emit a table string: back-reference when the blob is still
        in the ring table (most recent occurrence, like osmconvert),
        else inline + table add.  `inline` overrides the inline byte
        form when it differs from the table blob (user strings)."""
        tbl = self.st.table
        for i in range(len(tbl) - 1, -1, -1):
            if tbl[i] == blob:
                b += _uvarint(len(tbl) - i)
                return
        b.append(0)
        b += inline if inline is not None else blob
        self.st.table_add(blob)

    def _info(self, b: bytearray, version, ts, changeset, uid, user) -> None:
        if version is None:
            b.append(0)
            return
        b += _uvarint(version)
        tsv = 0 if ts is None else int(ts.replace(tzinfo=timezone.utc).timestamp())
        b += _zvarint(tsv - self.st.timestamp)
        self.st.timestamp = tsv
        if tsv == 0:
            return
        b += _zvarint((changeset or 0) - self.st.changeset)
        self.st.changeset = changeset or 0
        if (uid or 0) == 0:
            # uid 0: marker + uid byte + separator, no username
            b.append(0)
            b += _uvarint(0)
            b.append(0)
            self.st.table_add(b"\x00\x00")
        else:
            blob = _uvarint(uid) + b"\x00" + (user or "").encode() + b"\x00"
            self._string(b, blob)

    def _tags(self, b: bytearray, tags: dict) -> None:
        for k, v in tags.items():
            self._string(b, k.encode() + b"\x00" + v.encode() + b"\x00")

    def _emit(self, ds: int, body: bytes) -> None:
        self.out.append(ds)
        self.out += _uvarint(len(body))
        self.out += body

    def node(self, nid, lat, lon, tags=None, version=None, ts=None,
             changeset=None, uid=None, user=None, visible=True) -> None:
        b = bytearray()
        b += _zvarint(nid - self.st.id)
        self.st.id = nid
        self._info(b, version, ts, changeset, uid, user)
        if visible:
            loni, lati = round(lon / 1e-7), round(lat / 1e-7)
            b += _zvarint(loni - self.st.lon)
            b += _zvarint(lati - self.st.lat)
            self.st.lon, self.st.lat = loni, lati
            self._tags(b, tags or {})
        self._emit(_NODE, bytes(b))

    def way(self, wid, refs, tags=None, version=None, ts=None,
            changeset=None, uid=None, user=None, visible=True) -> None:
        b = bytearray()
        b += _zvarint(wid - self.st.id)
        self.st.id = wid
        self._info(b, version, ts, changeset, uid, user)
        if visible:
            rb = bytearray()
            for ref in refs:
                rb += _zvarint(ref - self.st.way_node)
                self.st.way_node = ref
            b += _uvarint(len(rb))
            b += rb
            self._tags(b, tags or {})
        self._emit(_WAY, bytes(b))

    def relation(self, rid, members, tags=None, version=None, ts=None,
                 changeset=None, uid=None, user=None, visible=True) -> None:
        b = bytearray()
        b += _zvarint(rid - self.st.id)
        self.st.id = rid
        self._info(b, version, ts, changeset, uid, user)
        if visible:
            rb = bytearray()
            for typ, ref, role in members:
                idx = "nwr".index(typ)
                rb += _zvarint(ref - self.st.member[idx])
                self.st.member[idx] = ref
                self._string(rb, str(idx).encode() + role.encode() + b"\x00")
            b += _uvarint(len(rb))
            b += rb
            self._tags(b, tags or {})
        self._emit(_REL, bytes(b))

    def reset(self) -> None:
        self.out.append(_RESET)
        self.st.reset()

    def tobytes(self) -> bytes:
        return bytes(self.out)


def write_o5m(path: str, build) -> None:
    """Write an o5m file: `build(enc)` adds objects via enc.node/way/
    relation (test/export helper)."""
    enc = _Enc()
    build(enc)
    with open(path, "wb") as fh:
        fh.write(enc.tobytes())
