"""MySQL binlog v4 byte-level decoder — the S1 fidelity tier.

The reference consumes decoded binlog structs from the go-mysql
library (``internal/sync_server/sync.go:120-188``; dependency at
``go.mod:10``); the Debezium-envelope path (cdc/debezium.py) starts
one layer above the wire. This module closes that gap: it parses
the PUBLIC binlog wire format itself — the MySQL Internals manual's
binary-log event layouts (v4 common header; TABLE_MAP_EVENT;
WRITE/UPDATE/DELETE_ROWS_EVENT v2; QUERY_EVENT; ROTATE_EVENT;
FORMAT_DESCRIPTION_EVENT) — into the same positional row arrays the
reference zips with its cached column list
(``internal/sync_server/process.go:114-214``).

Two design points, both mirroring the reference:

- **Decoding is source-boundary, sequential state.** A rows event
  is meaningless without the TABLE_MAP event that precedes it (the
  binlog carries column TYPES per table_id but NO column names), so
  the decoder runs per-connection/per-file like the reference's
  single-threaded syncer goroutine (``sync.go:105``) — this is the
  connector layer, NOT a distributed operator. The distributed plan
  starts at the decoded MQEvent-shaped rows (schema attach P1 then
  projections P2-P4 run as column algebra in Spark).
- **Values degrade to strings** in ``org_row``
  (array<array<string>>), the engine's transport encoding for the
  reference's ``encoding/json`` wire degrade
  (``internal/mq_manager/kafka/kafka.go:70,109``).

Column-type coverage (public type codes + their TABLE_MAP metadata
widths): TINY(1), SHORT(2), LONG(3), FLOAT(4, meta 1), DOUBLE(5,
meta 1), legacy TIMESTAMP(7)/TIME(11)/DATETIME(12) (the pre-5.6.4
formats a 5.5-era binlog still carries), LONGLONG(8), INT24(9),
DATE(10)/NEWDATE(14), YEAR(13), VARCHAR(15, meta 2), BIT(16, meta
2), TIMESTAMP2(17, meta 1), DATETIME2(18, meta 1), TIME2(19,
meta 1), JSON(245, meta 1 — the full json_binary.cc document
format: small/large objects and arrays, every scalar width,
opaque-NEWDECIMAL decimals rendered digit-exact), NEWDECIMAL(246,
meta 2), BLOB/TEXT(252, meta 1), and the
STRING(254, meta 2) family — CHAR (xor-0x30 packed length bits)
plus ENUM/SET smuggled behind it (the wire carries the enum INDEX
/ set BITMASK; the label lists live in the table definition, so
the integer is the faithful transport value, exactly what go-mysql
hands the reference), plus GEOMETRY(255, meta 1 — SRID-tagged
canonical WKT out of the stored SRID+WKB). The only MySQL column
type NOT decoded is the pre-5.0 legacy DECIMAL(0); unknown types
raise — a CDC relay that guesses at bytes corrupts silently.

Exactness notes (the reference's ``UseDecimal: true`` guarantee,
``internal/sync_server/sync.go:52``): NEWDECIMAL decodes the
public sign/9-digits-per-4-bytes packed layout digit-exactly into
a string — the value NEVER transits a float, and trailing zeros
are kept to the declared scale. Temporal types render canonical
MySQL text (``YYYY-MM-DD HH:MM:SS[.ffff]`` with exactly ``fsp``
fractional digits; TIMESTAMP2 renders in UTC — the wire carries an
epoch, server-timezone-free). BLOB vs TEXT is not distinguishable
on the wire (the charset lives in the table def, not TABLE_MAP):
payloads that decode as UTF-8 render as text, anything else as
``0x``-prefixed hex.

Checksums: the FORMAT_DESCRIPTION event's trailing
checksum-algorithm byte is honored — CRC32 streams (the MySQL
5.6+ default ``binlog_checksum=CRC32``) verify every event's
trailing CRC and trim it before parsing; a corrupt event raises.
Legacy / checksum-NONE streams (no trailer) decode as before.

Fixtures: tests/fixtures/binlog_v4_sample.bin (checksum NONE, core
types; construction documented in
tests/fixtures/make_binlog_fixture.py) and
tests/fixtures/binlog_v4_rich.bin (CRC32 + decimal/temporal/blob
coverage; authored by the INDEPENDENT encoder in
tests/fixtures/binlog_wire_encoder.py — written against the public
layout separately from both this decoder and the first fixture
builder, so the two implementations validate each other, and
property tests round-trip random values through encoder→decoder).
This sandbox has no MySQL server to capture from; the bytes are
authored to the published spec. tests/test_binlog_bytes.py and
tests/test_binlog_rich_types.py replay both through this decoder
and the projection chain.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass, field

MAGIC = b"\xfebin"

QUERY_EVENT = 2
STOP_EVENT = 3
ROTATE_EVENT = 4
FORMAT_DESCRIPTION_EVENT = 15
XID_EVENT = 16
TABLE_MAP_EVENT = 19
HEARTBEAT_EVENT = 27
ROWS_QUERY_EVENT = 29
WRITE_ROWS_EVENT_V2 = 30
UPDATE_ROWS_EVENT_V2 = 31
DELETE_ROWS_EVENT_V2 = 32
GTID_EVENT = 33
ANONYMOUS_GTID_EVENT = 34
PREVIOUS_GTIDS_EVENT = 35
TRANSACTION_PAYLOAD_EVENT = 40
#: MySQL >= 8.3 tagged-GTID transaction header (WL#15294). Its
#: body uses the mysql::serialization self-describing format,
#: decoded by cdc/mysql_serialization.py; a body that fails its
#: validation is an undecodable transaction boundary (resume-at,
#: never skip-past; the ANONYMOUS_GTID discipline), and the GtidSet
#: class handles tagged sets in text/wire form
#: (replication_client.py)
GTID_TAGGED_EVENT = 42
#: MariaDB's replication event range (>= 160, flavor-specific —
#: the reference supports the flavor as a one-string go-mysql
#: config, ``internal/sync_server/sync.go:47``)
MARIADB_ANNOTATE_ROWS_EVENT = 160
MARIADB_BINLOG_CHECKPOINT_EVENT = 161
MARIADB_GTID_EVENT = 162
MARIADB_GTID_LIST_EVENT = 163

_ACTIONS = {WRITE_ROWS_EVENT_V2: "insert",
            UPDATE_ROWS_EVENT_V2: "update",
            DELETE_ROWS_EVENT_V2: "delete"}

# public column-type codes -> TABLE_MAP metadata byte width
TYPE_TINY, TYPE_SHORT, TYPE_LONG = 1, 2, 3
TYPE_FLOAT, TYPE_DOUBLE, TYPE_LONGLONG, TYPE_VARCHAR = 4, 5, 8, 15
TYPE_INT24, TYPE_DATE, TYPE_YEAR = 9, 10, 13
TYPE_TIMESTAMP, TYPE_TIME, TYPE_DATETIME, TYPE_NEWDATE = 7, 11, 12, 14
TYPE_BIT = 16
TYPE_TIMESTAMP2, TYPE_DATETIME2, TYPE_TIME2 = 17, 18, 19
TYPE_JSON = 245
TYPE_NEWDECIMAL, TYPE_ENUM, TYPE_SET, TYPE_BLOB = 246, 247, 248, 252
TYPE_GEOMETRY = 255
TYPE_STRING = 254   # CHAR; also carries ENUM/SET (real type in meta)
_META_LEN = {TYPE_TINY: 0, TYPE_SHORT: 0, TYPE_LONG: 0,
             TYPE_FLOAT: 1, TYPE_DOUBLE: 1, TYPE_LONGLONG: 0,
             TYPE_VARCHAR: 2, TYPE_INT24: 0, TYPE_DATE: 0,
             TYPE_YEAR: 0, TYPE_TIMESTAMP: 0, TYPE_TIME: 0,
             TYPE_DATETIME: 0, TYPE_NEWDATE: 0, TYPE_BIT: 2,
             TYPE_TIMESTAMP2: 1, TYPE_DATETIME2: 1,
             TYPE_TIME2: 1, TYPE_JSON: 1, TYPE_NEWDECIMAL: 2,
             TYPE_BLOB: 1, TYPE_STRING: 2, TYPE_GEOMETRY: 1}

#: packed-decimal leftover-digit storage widths (public layout:
#: full groups of 9 decimal digits take 4 bytes; a leftover group
#: of k digits takes _DIG2BYTES[k])
_DIG2BYTES = [0, 1, 1, 2, 2, 3, 3, 4, 4, 4]


#: column types counted by the 8.0 SIGNEDNESS optional-metadata
#: bitmap (MySQL's is_numeric_type order — one bit per numeric
#: column, MSB-first). Only the integer types change decode; the
#: others carry sign in the value itself.
_NUMERIC_TYPES = frozenset({
    1, 2, 3, 4, 5, 8, 9, 13, 246,
})  # TINY SHORT LONG FLOAT DOUBLE LONGLONG INT24 YEAR NEWDECIMAL


@dataclass
class TableMap:
    table_id: int
    database: str
    table: str
    col_types: list[int]
    col_meta: list[int]
    #: per-COLUMN unsigned flags from the 8.0 TABLE_MAP optional
    #: metadata (SIGNEDNESS TLV); all-False when the writer is
    #: pre-8.0 / did not send it — signed decode, the old behavior
    unsigned: list[bool] = field(default_factory=list)

    def is_unsigned(self, i: int) -> bool:
        return bool(self.unsigned) and self.unsigned[i]


@dataclass
class DecodedEvent:
    """One decoded binlog event in MQEvent orientation: positional
    row images only (column names are P1's job, not the wire's)."""

    kind: str                 # insert/update/delete/query/rotate/...
    timestamp: int
    log_pos: int
    database: str | None = None
    table: str | None = None
    #: insert: [[after]]; delete: [[before]]; update: [before, after]
    #: per modified row — canonical Debezium orientation (the
    #: reference inverts the pair, process.go:138-141; documented
    #: divergence in cdc/envelope.py).
    rows: list[list[list[str]]] = field(default_factory=list)
    query: str | None = None
    next_file: str | None = None
    #: "<uuid>:<gno>" for GTID events — the event's actual GNO is
    #: carried for BOTH kinds (an anonymous event's SID/GNO fields
    #: are whatever the writer put on the wire, usually zeros)
    gtid: str | None = None
    #: MariaDB GTID (162) FL_STANDALONE: True = a standalone
    #: statement (DDL), False = the event OPENS a transaction
    #: group (it replaces the BEGIN Query), None = not a MariaDB
    #: GTID event. A dedicated field — overloading ``query`` with a
    #: marker string collided with its SQL-text contract (r10
    #: review).
    standalone: bool | None = None


class _Reader:
    def __init__(self, buf: bytes) -> None:
        self.buf, self.off = buf, 0

    def take(self, n: int) -> bytes:
        if self.off + n > len(self.buf):
            raise ValueError(
                f"truncated binlog event: need {n} bytes at "
                f"offset {self.off}, have {len(self.buf) - self.off}")
        out = self.buf[self.off:self.off + n]
        self.off += n
        return out

    def u8(self) -> int:
        return self.take(1)[0]

    def u16(self) -> int:
        return struct.unpack("<H", self.take(2))[0]

    def u32(self) -> int:
        return struct.unpack("<I", self.take(4))[0]

    def u48(self) -> int:
        lo, hi = struct.unpack("<IH", self.take(6))
        return lo | (hi << 32)

    def u64(self) -> int:
        return struct.unpack("<Q", self.take(8))[0]

    def lenenc(self) -> int:
        """Length-encoded integer (public wire encoding)."""
        first = self.u8()
        if first < 0xFB:
            return first
        if first == 0xFC:
            return self.u16()
        if first == 0xFD:
            b = self.take(3)
            return b[0] | (b[1] << 8) | (b[2] << 16)
        if first == 0xFE:
            return self.u64()
        raise ValueError(f"invalid lenenc prefix 0x{first:02x}")

    def rest(self) -> bytes:
        return self.take(len(self.buf) - self.off)

    def remaining(self) -> int:
        return len(self.buf) - self.off


def _bitmap_bit(bitmap: bytes, i: int) -> bool:
    return bool(bitmap[i // 8] & (1 << (i % 8)))


def _decode_newdecimal(r: _Reader, precision: int, scale: int) -> str:
    """Packed NEWDECIMAL -> digit-exact string. Public layout:
    integer and fraction digits in big-endian base-10^9 groups of 4
    bytes, leftover digits in _DIG2BYTES-compressed prefix/suffix
    groups; the first byte's MSB is the sign (stored XOR 0x80),
    negative values stored as the bitwise complement. The value
    never transits a float — the reference's ``UseDecimal: true``
    exactness (``sync.go:52``)."""
    intg = precision - scale
    intg0, intg_rem = divmod(intg, 9)
    frac0, frac_rem = divmod(scale, 9)
    total = (intg0 * 4 + _DIG2BYTES[intg_rem]
             + frac0 * 4 + _DIG2BYTES[frac_rem])
    raw = bytearray(r.take(total))
    negative = not (raw[0] & 0x80)
    raw[0] ^= 0x80
    if negative:
        raw = bytearray((~b) & 0xFF for b in raw)
    pos = 0

    def group(n_bytes: int) -> int:
        nonlocal pos
        v = int.from_bytes(raw[pos:pos + n_bytes], "big")
        pos += n_bytes
        return v

    int_digits = ""
    if intg_rem:
        int_digits += str(group(_DIG2BYTES[intg_rem])).zfill(intg_rem)
    for _ in range(intg0):
        int_digits += str(group(4)).zfill(9)
    frac_digits = ""
    for _ in range(frac0):
        frac_digits += str(group(4)).zfill(9)
    if frac_rem:
        frac_digits += str(group(_DIG2BYTES[frac_rem])).zfill(frac_rem)
    out = ("-" if negative else "") + (int_digits.lstrip("0") or "0")
    if scale:
        out += "." + frac_digits       # trailing zeros kept to scale
    return out


def _read_frac(r: _Reader, fsp: int) -> str:
    """Fractional-second suffix for the *2 temporal types: stored
    in ceil(fsp/2) big-endian bytes as the fraction scaled to
    2*ceil(fsp/2) digits (fsp=1 stores centiseconds 0-99; fsp=3
    stores 100-us units 0-9999), rendered to EXACTLY fsp digits —
    formatting the raw value at fsp digits printed 2n digits for
    odd fsp ('.500' came out '.5000'). Empty when fsp == 0."""
    n = (fsp + 1) // 2
    if n == 0:
        return ""
    v = int.from_bytes(r.take(n), "big")
    return "." + f"{v:0{2 * n}d}"[:fsp]


# MySQL JSON binary (json_binary.cc public layout) type bytes
_J_SMALL_OBJ, _J_LARGE_OBJ = 0x00, 0x01
_J_SMALL_ARR, _J_LARGE_ARR = 0x02, 0x03
_J_LITERAL, _J_INT16, _J_UINT16 = 0x04, 0x05, 0x06
_J_INT32, _J_UINT32, _J_INT64, _J_UINT64 = 0x07, 0x08, 0x09, 0x0A
_J_DOUBLE, _J_STRING, _J_OPAQUE = 0x0B, 0x0C, 0x0F


def _json_varint(b: bytes, pos: int) -> tuple[int, int]:
    n, shift = 0, 0
    while True:
        byte = b[pos]
        pos += 1
        n |= (byte & 0x7F) << shift
        if not (byte & 0x80):
            return n, pos
        shift += 7


def _decode_json_doc(b: bytes) -> str:
    """MySQL JSON binary document -> canonical JSON text (keys in
    STORED order — MySQL sorts them by length then bytes at write
    time, so the rendering is deterministic). Numbers render
    exactly: integers as integers, doubles via repr, and the
    opaque-NEWDECIMAL values MySQL stores for JSON decimals through
    the same digit-exact packed-decimal decoder as DECIMAL columns
    (no float transit). Other opaque payloads render as the
    '0x<hex>' string rule. Large (u32-offset) and small (u16)
    container variants both supported."""
    import json as _json

    def scalar(jtype: int, pos: int) -> str:
        if jtype == _J_LITERAL:
            return {0: "null", 1: "true", 2: "false"}[b[pos]]
        if jtype == _J_INT16:
            return str(int.from_bytes(b[pos:pos + 2], "little",
                                      signed=True))
        if jtype == _J_UINT16:
            return str(int.from_bytes(b[pos:pos + 2], "little"))
        if jtype == _J_INT32:
            return str(int.from_bytes(b[pos:pos + 4], "little",
                                      signed=True))
        if jtype == _J_UINT32:
            return str(int.from_bytes(b[pos:pos + 4], "little"))
        if jtype == _J_INT64:
            return str(int.from_bytes(b[pos:pos + 8], "little",
                                      signed=True))
        if jtype == _J_UINT64:
            return str(int.from_bytes(b[pos:pos + 8], "little"))
        if jtype == _J_DOUBLE:
            return repr(struct.unpack("<d", b[pos:pos + 8])[0])
        if jtype == _J_STRING:
            n, p = _json_varint(b, pos)
            return _json.dumps(b[p:p + n].decode("utf-8"),
                               ensure_ascii=False)
        if jtype == _J_OPAQUE:
            field_type = b[pos]
            n, p = _json_varint(b, pos + 1)
            payload = b[p:p + n]
            if field_type == TYPE_NEWDECIMAL:
                pr, sc = payload[0], payload[1]
                return _decode_newdecimal(_Reader(payload[2:]), pr, sc)
            return _json.dumps("0x" + payload.hex(),
                               ensure_ascii=False)
        if jtype in (_J_SMALL_OBJ, _J_LARGE_OBJ,
                     _J_SMALL_ARR, _J_LARGE_ARR):
            return container(jtype, pos)
        raise ValueError(f"unsupported JSON binary type 0x{jtype:02x}")

    def container(jtype: int, base: int) -> str:
        large = jtype in (_J_LARGE_OBJ, _J_LARGE_ARR)
        is_obj = jtype in (_J_SMALL_OBJ, _J_LARGE_OBJ)
        osz = 4 if large else 2

        def word(p: int) -> int:
            return int.from_bytes(b[p:p + osz], "little")

        count = word(base)
        pos = base + 2 * osz                 # skip count + size
        keys = []
        if is_obj:
            for i in range(count):
                koff = word(pos + i * (osz + 2))
                klen = int.from_bytes(
                    b[pos + i * (osz + 2) + osz:
                      pos + i * (osz + 2) + osz + 2], "little")
                keys.append(_json.dumps(
                    b[base + koff:base + koff + klen].decode("utf-8"),
                    ensure_ascii=False))
            pos += count * (osz + 2)
        vals = []
        inline = {_J_LITERAL, _J_INT16, _J_UINT16}
        if large:
            inline |= {_J_INT32, _J_UINT32}
        for i in range(count):
            vt = b[pos + i * (1 + osz)]
            vfield = pos + i * (1 + osz) + 1
            if vt in inline:
                vals.append(scalar(vt, vfield))
            else:
                vals.append(scalar(vt, base + word(vfield)))
        if is_obj:
            return "{" + ",".join(f"{k}:{v}"
                                  for k, v in zip(keys, vals)) + "}"
        return "[" + ",".join(vals) + "]"

    if not b:
        return "null"                        # empty value = SQL NULL
    return scalar(b[0], 1)


def _wkb_to_wkt(wkb: bytes) -> str:
    """OGC WKB -> WKT text (MySQL stores GEOMETRY values as a
    4-byte SRID prefix + standard little-endian WKB). Points,
    linestrings, polygons, their multi* variants, and collections;
    coordinates render via repr (shortest round-trip double).
    Unknown WKB types fall back to the 0x-hex rule."""
    def parse(pos: int) -> tuple[str, int]:
        if wkb[pos] != 1:                   # big-endian WKB: rare
            return "0x" + wkb[pos:].hex(), len(wkb)
        gtype = int.from_bytes(wkb[pos + 1:pos + 5], "little")
        pos += 5

        def point(p: int) -> tuple[str, int]:
            x, y = struct.unpack("<dd", wkb[p:p + 16])
            return f"{x!r} {y!r}", p + 16

        def ring(p: int) -> tuple[str, int]:
            k = int.from_bytes(wkb[p:p + 4], "little")
            p += 4
            pts = []
            for _ in range(k):
                t, p = point(p)
                pts.append(t)
            return "(" + ", ".join(pts) + ")", p

        if gtype == 1:
            t, pos = point(pos)
            return f"POINT({t})", pos
        if gtype == 2:
            t, pos = ring(pos)
            return "LINESTRING" + t, pos
        if gtype == 3:
            k = int.from_bytes(wkb[pos:pos + 4], "little")
            pos += 4
            rings = []
            for _ in range(k):
                t, pos = ring(pos)
                rings.append(t)
            return "POLYGON(" + ", ".join(rings) + ")", pos
        if gtype in (4, 5, 6, 7):
            names = {4: "MULTIPOINT", 5: "MULTILINESTRING",
                     6: "MULTIPOLYGON", 7: "GEOMETRYCOLLECTION"}
            k = int.from_bytes(wkb[pos:pos + 4], "little")
            pos += 4
            parts = []
            for _ in range(k):
                t, pos = parse(pos)
                if gtype != 7:
                    t = t[t.index("("):]    # canonical WKT: multi*
                    #                         children drop their tag
                parts.append(t)
            return names[gtype] + "(" + ", ".join(parts) + ")", pos
        return "0x" + wkb.hex(), len(wkb)

    txt, _ = parse(0)
    return txt


def _decode_value(r: _Reader, col_type: int, meta: int,
                  unsigned: bool = False) -> str:
    """One column value -> transport string (the JSON degrade;
    NEWDECIMAL/temporals render canonical MySQL text, see module
    docstring). ``unsigned`` comes from the TABLE_MAP SIGNEDNESS
    metadata and flips the integer types' interpretation — the
    bytes are identical on the wire; without the flag, INT UNSIGNED
    values above the signed midpoint rendered negative."""
    if col_type == TYPE_TINY:
        v = r.take(1)
        return str(v[0] if unsigned else struct.unpack("<b", v)[0])
    if col_type == TYPE_SHORT:
        return str(struct.unpack("<H" if unsigned else "<h",
                                 r.take(2))[0])
    if col_type == TYPE_LONG:
        return str(struct.unpack("<I" if unsigned else "<i",
                                 r.take(4))[0])
    if col_type == TYPE_LONGLONG:
        return str(struct.unpack("<Q" if unsigned else "<q",
                                 r.take(8))[0])
    if col_type == TYPE_INT24:
        v = int.from_bytes(r.take(3), "little")
        if unsigned:
            return str(v)
        return str(v - 0x1000000 if v & 0x800000 else v)
    if col_type == TYPE_FLOAT:
        return str(struct.unpack("<f", r.take(4))[0])
    if col_type == TYPE_DOUBLE:
        return str(struct.unpack("<d", r.take(8))[0])
    if col_type == TYPE_VARCHAR:
        n = r.u16() if meta > 255 else r.u8()
        return r.take(n).decode("utf-8")
    if col_type in (TYPE_DATE, TYPE_NEWDATE):
        v = int.from_bytes(r.take(3), "little")
        return f"{v >> 9:04d}-{(v >> 5) & 0x0F:02d}-{v & 0x1F:02d}"
    if col_type == TYPE_YEAR:
        v = r.u8()
        return "0000" if v == 0 else str(1900 + v)
    if col_type == TYPE_DATETIME2:
        # 5 bytes big-endian: 1 sign bit, 17 bits year*13+month,
        # 5 day, 5 hour, 6 minute, 6 second; then fsp fraction
        v = int.from_bytes(r.take(5), "big")
        ym = (v >> 22) & 0x1FFFF
        return (f"{ym // 13:04d}-{ym % 13:02d}-{(v >> 17) & 0x1F:02d}"
                f" {(v >> 12) & 0x1F:02d}:{(v >> 6) & 0x3F:02d}"
                f":{v & 0x3F:02d}" + _read_frac(r, meta))
    if col_type == TYPE_TIMESTAMP2:
        # 4 bytes big-endian epoch seconds; rendered in UTC — the
        # wire value is timezone-free
        from datetime import datetime, timezone

        secs = int.from_bytes(r.take(4), "big")
        txt = datetime.fromtimestamp(secs, timezone.utc) \
            .strftime("%Y-%m-%d %H:%M:%S")
        return txt + _read_frac(r, meta)
    if col_type == TYPE_TIME2:
        # (3 + ceil(fsp/2)) bytes big-endian as ONE biased quantity
        # (bias = top bit): time packed as 10-bit hour, 6-bit
        # minute, 6-bit second in the high 3 bytes, fsp-digit
        # fraction in the low bytes. Negative times are the
        # arithmetic below-bias values, so a fraction "borrow"
        # across the packed boundary falls out of plain integer
        # subtraction.
        n = (meta + 1) // 2
        raw = int.from_bytes(r.take(3 + n), "big")
        v = raw - (1 << (8 * (3 + n) - 1))
        sign = ""
        if v < 0:
            sign, v = "-", -v
        frac = v & ((1 << (8 * n)) - 1) if n else 0
        packed = v >> (8 * n)
        txt = (f"{sign}{(packed >> 12) & 0x3FF:02d}"
               f":{(packed >> 6) & 0x3F:02d}:{packed & 0x3F:02d}")
        if meta:
            # stored at 2n digits, rendered to exactly fsp digits
            txt += "." + f"{frac:0{2 * n}d}"[:meta]
        return txt
    if col_type == TYPE_TIMESTAMP:
        # legacy (pre-5.6.4) TIMESTAMP: 4-byte LE epoch, no fsp
        from datetime import datetime, timezone

        secs = int.from_bytes(r.take(4), "little")
        return datetime.fromtimestamp(secs, timezone.utc) \
            .strftime("%Y-%m-%d %H:%M:%S")
    if col_type == TYPE_DATETIME:
        # legacy DATETIME: u64 LE decimal-packed YYYYMMDDHHMMSS
        v = int.from_bytes(r.take(8), "little")
        d, t = divmod(v, 1_000_000)
        return (f"{d // 10000:04d}-{(d // 100) % 100:02d}-{d % 100:02d}"
                f" {t // 10000:02d}:{(t // 100) % 100:02d}:{t % 100:02d}")
    if col_type == TYPE_TIME:
        # legacy TIME: 3-byte LE signed, decimal-packed HHMMSS
        v = int.from_bytes(r.take(3), "little")
        if v & 0x800000:
            v -= 0x1000000
        sign, v = ("-", -v) if v < 0 else ("", v)
        return (f"{sign}{v // 10000:02d}:{(v // 100) % 100:02d}"
                f":{v % 100:02d}")
    if col_type == TYPE_BIT:
        # meta wire bytes [bits % 8, bytes]; value stored in
        # ceil(total_bits / 8) bytes BIG-endian
        nbits = (meta >> 8) * 8 + (meta & 0xFF)
        return str(int.from_bytes(r.take((nbits + 7) // 8), "big"))
    if col_type == TYPE_NEWDECIMAL:
        # TABLE_MAP meta read as LE u16: low byte precision, high
        # byte scale (the wire order is [precision, scale])
        return _decode_newdecimal(r, meta & 0xFF, meta >> 8)
    if col_type == TYPE_BLOB:
        n = int.from_bytes(r.take(meta), "little")
        payload = r.take(n)
        try:
            return payload.decode("utf-8")        # TEXT-ish
        except UnicodeDecodeError:
            return "0x" + payload.hex()           # true binary
    if col_type == TYPE_JSON:
        n = int.from_bytes(r.take(meta), "little")
        return _decode_json_doc(r.take(n))
    if col_type == TYPE_GEOMETRY:
        n = int.from_bytes(r.take(meta), "little")
        payload = r.take(n)
        srid = int.from_bytes(payload[:4], "little")
        return f"SRID={srid};" + _wkb_to_wkt(payload[4:])
    if col_type == TYPE_STRING:
        # CHAR, or an ENUM/SET smuggled in STRING's clothes: wire
        # meta bytes [m0, m1] where m0 is the REAL type with CHAR's
        # upper length bits folded into bits 4-5 (xor-0x30 packed),
        # m1 the low length byte / index size
        m0, m1 = meta & 0xFF, meta >> 8
        if m0 == TYPE_ENUM:
            return str(int.from_bytes(r.take(m1), "little"))
        if m0 == TYPE_SET:
            return str(int.from_bytes(r.take(m1), "little"))
        max_len = ((((m0 >> 4) & 3) ^ 3) << 8) | m1
        n = r.u16() if max_len > 255 else r.u8()
        return r.take(n).decode("utf-8")
    raise ValueError(f"unsupported binlog column type {col_type}")


def _decode_row_image(r: _Reader, tmap: TableMap,
                      present: bytes) -> list[str | None]:
    n_present = sum(_bitmap_bit(present, i)
                    for i in range(len(tmap.col_types)))
    null_bits = r.take((n_present + 7) // 8)
    out: list[str | None] = []
    j = 0  # index among present columns (null bitmap is over these)
    for i, (ct, meta) in enumerate(zip(tmap.col_types, tmap.col_meta)):
        if not _bitmap_bit(present, i):
            continue
        if _bitmap_bit(null_bits, j):
            out.append(None)
        else:
            out.append(_decode_value(r, ct, meta,
                                     unsigned=tmap.is_unsigned(i)))
        j += 1
    return out


def _detect_checksum(raw_event: bytes) -> bool:
    """FORMAT_DESCRIPTION checksum probe: a 5.6+ server appends a
    checksum-algorithm byte (0 = NONE, 1 = CRC32) plus the FDE's
    own 4-byte CRC to the FDE body. Returns True iff the alg byte
    reads CRC32 AND the FDE's own CRC verifies; raises if the alg
    byte claims CRC32 but the checksum is wrong. The trailer's very
    EXISTENCE is decided by the FDE's own server_version string
    first: pre-5.6.1 servers never write the alg byte, so for them
    body[-5] is just a post-header-length (1 is a legal length) and
    reading it as the alg byte misclassified valid legacy streams
    — previously as a hard ValueError when the accidental CRC
    didn't verify."""
    import re as _re
    import zlib

    body = raw_event[19:]
    # 57 fixed FDE bytes (version u16 + server_version 50 +
    # create_ts u32 + header_len u8) + >=1 post-header length +
    # alg byte + CRC32
    if len(body) < 57 + 1 + 5:
        return False
    ver = body[2:52].split(b"\x00", 1)[0].decode("latin-1")
    m = _re.match(r"(\d+)\.(\d+)\.(\d+)", ver)
    if m and tuple(int(g) for g in m.groups()) < (5, 6, 1):
        return False                       # trailer cannot exist
    if body[-5] != 1:
        return False
    stored = int.from_bytes(raw_event[-4:], "little")
    if zlib.crc32(raw_event[:-4]) != stored:
        raise ValueError(
            "FORMAT_DESCRIPTION declares binlog_checksum=CRC32 but "
            "its own checksum does not verify")
    return True


# The GTID body layouts, parsed once for both consumers: decode_binlog
# and the source's header walk (sources/binlog_source.py). Both hand
# over the exact body, the CRC32 trailer trimmed by the segment's
# FORMAT_DESCRIPTION checksum mode. Short bodies are refused: a slice
# past the end would read as zero and fabricate a GTID.

def gtid_text(body: bytes) -> str:
    """GTID (33) / ANONYMOUS_GTID (34) body -> ``uuid:gno``: 1-byte
    commit flag, 16-byte SID, u64 GNO (the logical-timestamp fields
    after them are bookkeeping). An anonymous event's SID/GNO are
    whatever the writer put on the wire, usually zeros."""
    if len(body) < 25:
        raise ValueError(
            f"corrupt GTID event: body {len(body)} bytes < 25 "
            "(flag + SID + GNO)")
    u = body[1:17].hex()
    gno = int.from_bytes(body[17:25], "little")
    return (f"{u[0:8]}-{u[8:12]}-{u[12:16]}-{u[16:20]}-{u[20:32]}"
            f":{gno}")


def mariadb_gtid(body: bytes, server_id: int) -> tuple[str, bool]:
    """MariaDB GTID (162) body -> (``domain-server-seq``,
    standalone): u64 sequence, u32 domain, u8 flags2 (+ optional
    commit-id/XA fields the flags gate — skipped). The GTID's
    server_id is the event HEADER's. Without FL_STANDALONE (0x01)
    the event opens a transaction group (MariaDB replaces the BEGIN
    Query with it)."""
    if len(body) < 13:
        raise ValueError(
            f"corrupt MariaDB GTID event: body {len(body)} bytes < 13 "
            "(seq + domain + flags)")
    seq = int.from_bytes(body[0:8], "little")
    domain = int.from_bytes(body[8:12], "little")
    return f"{domain}-{server_id}-{seq}", bool(body[12] & 0x01)


def mariadb_gtid_list(body: bytes) -> list[str]:
    """MariaDB GTID_LIST (163) body -> ``domain-server-seq`` texts:
    u32 with the count in the low 28 bits, then count x (u32
    domain, u32 server_id, u64 seq). The flavor's PREVIOUS_GTIDS
    analog: the binlog state at segment start."""
    if len(body) < 4:
        raise ValueError(
            f"corrupt MariaDB GTID_LIST event: body {len(body)} "
            "bytes < 4 (count field)")
    cnt = int.from_bytes(body[0:4], "little") & 0x0FFFFFFF
    if 4 + 16 * cnt > len(body):
        raise ValueError(
            f"corrupt MariaDB GTID_LIST event: count {cnt} needs "
            f"{4 + 16 * cnt} body bytes, have {len(body)}")
    return [f"{int.from_bytes(body[p:p + 4], 'little')}-"
            f"{int.from_bytes(body[p + 4:p + 8], 'little')}-"
            f"{int.from_bytes(body[p + 8:p + 16], 'little')}"
            for p in range(4, 4 + 16 * cnt, 16)]


def decode_binlog(blob: bytes) -> list[DecodedEvent]:
    """Decode a binlog byte stream (leading magic optional) into
    DecodedEvents. Sequential: TABLE_MAP state keyed by table_id,
    exactly the dependency the wire imposes. Handles both
    ``binlog_checksum=NONE`` and ``=CRC32`` streams — the algorithm
    is read from the FORMAT_DESCRIPTION event, every CRC32 event's
    trailer is verified then trimmed, and a corrupt event raises
    (refuse-don't-guess, same contract as unknown types)."""
    import zlib

    if blob[:4] == MAGIC:
        blob = blob[4:]
    events: list[DecodedEvent] = []
    table_maps: dict[int, TableMap] = {}
    crc32_mode = False
    off = 0
    while off < len(blob):
        if len(blob) - off < 19:
            raise ValueError(f"truncated event header at offset {off}")
        ts, etype, _server_id, esize, log_pos, _flags = struct.unpack(
            "<IBIIIH", blob[off:off + 19])
        if esize < 19 or off + esize > len(blob):
            raise ValueError(
                f"event at offset {off} claims size {esize} past "
                f"stream end {len(blob)}")
        raw = blob[off:off + esize]
        body_end = esize
        if etype == FORMAT_DESCRIPTION_EVENT:
            crc32_mode = _detect_checksum(raw)
        if crc32_mode:
            stored = int.from_bytes(raw[-4:], "little")
            if zlib.crc32(raw[:-4]) != stored:
                raise ValueError(
                    f"binlog checksum mismatch on event type {etype} "
                    f"at offset {off}: stored 0x{stored:08x}, "
                    f"computed 0x{zlib.crc32(raw[:-4]):08x}")
            body_end = esize - 4
        r = _Reader(blob[off + 19:off + body_end])
        off += esize

        if etype == FORMAT_DESCRIPTION_EVENT:
            version = r.u16()
            if version != 4:
                raise ValueError(f"unsupported binlog version {version}")
            events.append(DecodedEvent("format_description", ts, log_pos))
        elif etype == TABLE_MAP_EVENT:
            tid = r.u48()
            r.u16()  # flags
            db = r.take(r.u8()).decode(); r.take(1)  # trailing \0
            tbl = r.take(r.u8()).decode(); r.take(1)
            n_cols = r.lenenc()
            col_types = list(r.take(n_cols))
            meta_blob = _Reader(r.take(r.lenenc()))
            col_meta = []
            for ct in col_types:
                width = _META_LEN.get(ct)
                if width is None:
                    raise ValueError(f"unsupported column type {ct}")
                if width == 0:
                    col_meta.append(0)
                elif width == 1:
                    col_meta.append(meta_blob.u8())
                else:
                    col_meta.append(meta_blob.u16())
            r.take((n_cols + 7) // 8)  # nullability bitmap (unused)
            # 8.0 optional metadata: TLVs (type u8, len lenenc,
            # value). SIGNEDNESS (type 1) is a bitmap over the
            # NUMERIC columns in field order, MSB-first — without
            # it INT UNSIGNED 4294967295 decoded as -1 (discarding
            # the TLVs was the old behavior). Unknown TLV types are
            # skipped by length: they are typed extensions, not
            # framing, so skip-don't-raise is the spec's intent.
            unsigned = [False] * n_cols
            while r.remaining() > 0:
                tlv_type = r.u8()
                tlv = _Reader(r.take(r.lenenc()))
                if tlv_type == 1:          # SIGNEDNESS
                    bits = tlv.take(tlv.remaining())
                    j = 0
                    for i, ct in enumerate(col_types):
                        if ct in _NUMERIC_TYPES:
                            if j < len(bits) * 8 and (
                                    bits[j // 8] >> (7 - j % 8)) & 1:
                                unsigned[i] = True
                            j += 1
            table_maps[tid] = TableMap(tid, db, tbl, col_types,
                                       col_meta, unsigned)
        elif etype in _ACTIONS:
            tid = r.u48()
            r.u16()  # flags
            extra = r.u16()  # v2 extra-data length, includes itself
            if extra > 2:
                r.take(extra - 2)
            tmap = table_maps.get(tid)
            if tmap is None:
                raise ValueError(
                    f"rows event for unknown table_id {tid} (no "
                    "preceding TABLE_MAP — stream started mid-binlog?)")
            n_cols = r.lenenc()
            if n_cols != len(tmap.col_types):
                raise ValueError("rows/table_map column count mismatch")
            present1 = r.take((n_cols + 7) // 8)
            present2 = (r.take((n_cols + 7) // 8)
                        if etype == UPDATE_ROWS_EVENT_V2 else None)
            action = _ACTIONS[etype]
            rows: list[list[list[str]]] = []
            while r.off < len(r.buf):
                img1 = _decode_row_image(r, tmap, present1)
                if etype == UPDATE_ROWS_EVENT_V2:
                    img2 = _decode_row_image(r, tmap, present2)
                    rows.append([img1, img2])  # canonical before, after
                else:
                    rows.append([img1])
            events.append(DecodedEvent(action, ts, log_pos,
                                       database=tmap.database,
                                       table=tmap.table, rows=rows))
        elif etype == QUERY_EVENT:
            r.u32(); r.u32()  # thread_id, exec_time
            db_len = r.u8()
            r.u16()  # error code
            status_len = r.u16()
            r.take(status_len)
            db = r.take(db_len).decode(); r.take(1)
            events.append(DecodedEvent("query", ts, log_pos, database=db,
                                       query=r.rest().decode("utf-8")))
        elif etype == ROTATE_EVENT:
            pos = r.u64()
            events.append(DecodedEvent(
                "rotate", ts, log_pos if log_pos else pos,
                next_file=r.rest().decode()))
        elif etype == XID_EVENT:
            events.append(DecodedEvent("xid", ts, log_pos))
        elif etype in (GTID_EVENT, ANONYMOUS_GTID_EVENT):
            # a real 5.6+ server writes one of these before every
            # transaction — a decoder that raises on them cannot
            # read any real stream
            events.append(DecodedEvent("gtid", ts, log_pos,
                                       gtid=gtid_text(r.rest())))
        elif etype == PREVIOUS_GTIDS_EVENT:
            # gtid-set payload: positional bookkeeping (first event
            # after the FDE on 5.6+); recognized and carried as an
            # opaque marker — resume positions here are (file, pos),
            # not GTID sets (documented scope)
            events.append(DecodedEvent("previous_gtids", ts, log_pos))
        elif etype == GTID_TAGGED_EVENT:
            # MySQL >= 8.3 tagged-GTID transaction header
            # (WL#15294). Body is mysql::serialization-encoded;
            # decode_tagged_gtid (cdc/mysql_serialization.py)
            # extracts (uuid, tag, gno) with strict validation and
            # returns None on ANY anomaly — the event then stays an
            # undecodable conservative resume boundary exactly as
            # in r11 (re-delivery, never a silent skip), so a
            # format misread degrades, never loses data.
            from galaxy_spark.cdc.mysql_serialization import (
                decode_tagged_gtid, tagged_gtid_text)

            # the body is CRC-trimmed here: the final bytes parse
            # and validate like any others
            parsed = decode_tagged_gtid(r.rest())
            events.append(DecodedEvent(
                "gtid_tagged", ts, log_pos,
                gtid=tagged_gtid_text(parsed) if parsed else None))
        elif etype == ROWS_QUERY_EVENT:
            r.u8()                          # length byte (truncated)
            events.append(DecodedEvent(
                "rows_query", ts, log_pos,
                query=r.rest().decode("utf-8", "replace")))
        elif etype == TRANSACTION_PAYLOAD_EVENT:
            # 8.0.20+ with binlog_transaction_compression=ON wraps
            # each transaction's events in a payload event. OTW
            # layout: TLV fields {type lenenc, length lenenc,
            # value} terminated by the end mark (type 0), then the
            # payload bytes. libbinlogevents' OTW field codes:
            # 1 = payload size (skippable — the event size bounds
            # it), 2 = compression algorithm (0 = zstd, 255 = NONE
            # — the server emits NONE for small/incompressible
            # transactions), 3 = uncompressed size (skippable).
            # Inner events carry NO per-event
            # checksum (the OUTER event's trailer covers them) and
            # each transaction re-sends its TABLE_MAPs, so an
            # algorithm-NONE payload decodes by plain recursion.
            # zstd payloads are refused with the TARGETED
            # operational message (this runtime has no zstd
            # module; the generic unknown-type error would send an
            # operator spelunking).
            # absent field 2 means NONE: libbinlogevents'
            # read-side default is compression::type::NONE and the
            # writer omits the field for uncompressed payloads —
            # defaulting to zstd here refused real uncompressed
            # events (r8 review finding). Reading field 1 as the
            # algorithm (r8's bug) misread payload SIZE as the
            # algorithm on real 8.0.20+ streams (r9 advice).
            algo = 255
            try:
                while r.off < len(r.buf):
                    ftype = r.lenenc()
                    if ftype == 0:               # end mark
                        break
                    val = _Reader(r.take(r.lenenc()))
                    if ftype == 2:
                        algo = val.lenenc()
                payload = r.rest()
                inner = (decode_binlog(payload) if algo == 255
                         else None)
            except ValueError as exc:
                # malformed TLVs or a payload that does not parse
                # as raw events: keep the TARGETED operational
                # message (a bare lenenc/truncation error sends the
                # operator spelunking) with the real cause chained
                raise ValueError(
                    "Transaction_payload_event (type 40) did not "
                    "decode: the source server runs with "
                    "binlog_transaction_compression=ON (MySQL "
                    "8.0.20+); if the payload is compressed this "
                    "runtime cannot decompress it (no zstd "
                    "module). Fix: SET GLOBAL "
                    "binlog_transaction_compression=OFF on the "
                    "source, or relay through a replica writing "
                    f"uncompressed binlogs. (cause: {exc})") from exc
            if inner is None:
                name = {0: "zstd"}.get(algo, f"#{algo}")
                raise ValueError(
                    "Transaction_payload_event (type 40, "
                    f"compression={name}): the source server runs "
                    "with binlog_transaction_compression=ON (MySQL "
                    "8.0.20+) and this payload is compressed with "
                    f"{name}, which this runtime cannot decompress "
                    "(no zstd module; algorithm-NONE payloads ARE "
                    "decoded). Fix: SET GLOBAL "
                    "binlog_transaction_compression=OFF on the "
                    "source (existing compressed segments stay "
                    "compressed — resume past them), or relay "
                    "through a replica writing uncompressed "
                    "binlogs.")
            events.extend(inner)
        elif etype == STOP_EVENT:
            events.append(DecodedEvent("stop", ts, log_pos))
        elif etype == HEARTBEAT_EVENT:
            events.append(DecodedEvent("heartbeat", ts, log_pos))
        elif etype == MARIADB_GTID_EVENT:
            gtid, standalone = mariadb_gtid(r.rest(), _server_id)
            events.append(DecodedEvent("gtid", ts, log_pos, gtid=gtid,
                                       standalone=standalone))
        elif etype == MARIADB_GTID_LIST_EVENT:
            # carried as text so resume logic can seed from it
            # (MySQL's PREVIOUS_GTIDS stays opaque for compatibility
            # with the documented file/pos scope)
            events.append(DecodedEvent(
                "gtid_list", ts, log_pos,
                gtid=",".join(mariadb_gtid_list(r.rest()))))
        elif etype == MARIADB_ANNOTATE_ROWS_EVENT:
            # MariaDB's ROWS_QUERY analog: the body IS the SQL text
            # (no length byte) — surfaced under the same kind so
            # downstream treats both flavors' annotations uniformly
            events.append(DecodedEvent(
                "rows_query", ts, log_pos,
                query=r.rest().decode("utf-8", "replace")))
        elif etype == MARIADB_BINLOG_CHECKPOINT_EVENT:
            # crash-recovery watermark: u32 len + binlog file name;
            # informational for a replica
            events.append(DecodedEvent(
                "binlog_checkpoint", ts, log_pos,
                next_file=r.take(r.u32()).decode()))
        else:
            raise ValueError(f"unsupported binlog event type {etype}")
    return events


def mq_rows_from_binlog(blob: bytes) -> list[tuple]:
    """Flatten decoded rows events into MQEvent-shaped tuples
    (database, table, action, org_row, timestamp, log_pos) — one
    tuple per modified row, ready for
    ``spark.createDataFrame`` + schema attach (P1) +
    ``projections.project_changes`` (P2-P4). DDL QueryEvents are
    excluded here; route them to cdc/ddl.py (S3's dispatch)."""
    out = []
    for ev in decode_binlog(blob):
        if ev.kind in ("insert", "update", "delete"):
            for row in ev.rows:
                out.append((ev.database, ev.table, ev.kind, row,
                            ev.timestamp, ev.log_pos))
    return out
