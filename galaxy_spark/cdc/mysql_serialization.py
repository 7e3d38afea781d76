"""Minimal reader/validator for the ``mysql::serialization``
binary format — exactly enough to decode the GTID_TAGGED_EVENT
(type 42, MySQL >= 8.3, WL#15294) transaction header.

Format, per the public documentation of MySQL's serialization
library (libs/mysql/serialization; the self-describing archive
WL#15294 switched Gtid_log_event to):

- **Variable-length integers**: the count of consecutive 1-bits at
  the least-significant end of the FIRST byte gives the number of
  EXTRA bytes ``c`` (0..8); the value is the little-endian integer
  over all ``c+1`` bytes shifted right by ``c+1`` (the length
  prefix bits). ``c == 8`` (first byte 0xFF) is the escape: the
  value is the full little-endian u64 in the 8 following bytes.
  One-byte values therefore appear doubled in hex dumps
  (``v << 1``, low bit 0).
- **Signed integers** map through zigzag (``u = (v << 1) ^ (v >>
  63)``) before the unsigned encoding.
- **Strings**: unsigned varint byte length, then the raw bytes.
- **Fixed-size fields** (the uuid, the flags byte): raw bytes.
- **Message**: a leading unsigned varint (serialization format
  version), then each encoded field as (field id as unsigned
  varint, field payload). Optional fields whose encode predicate
  was false are simply absent — readers detect that by the id
  skipping ahead; ids are strictly increasing.

Field table of the tagged GTID event (Gtid_event's serializer,
mirrored by other public implementations of the 8.3 decode):

    0 gtid_flags   u8 fixed     4 last_committed      sint
    1 uuid         16B fixed    5 sequence_number     sint
    2 gno          sint         6 immediate_commit_ts uint
    3 tag          string       7 original_commit_ts  uint (opt)
                                8 transaction_length  uint
                                9 immediate_server_version  uint
                               10 original_server_version   uint (opt)
                               11 commit_group_ticket uint (opt)

Only fields 0-3 matter for replication resume; the tail is parsed
for VALIDATION only (strictly-increasing known ids, well-formed
varints, a field boundary landing exactly at the end of the buffer —
callers pass the body with any CRC32 trailer already trimmed).

**Honesty note**: this decoder is written from the format's public
description and validated against this repo's independently
written fixture encoder (tests/fixtures) plus hypothesis
round-trips — not against a live 8.3 server (none in this
runtime). The resume machinery is therefore designed so a
systematic misread CANNOT cause data loss: ``decode_tagged_gtid``
returns None on any anomaly, callers then fall back to the r11
conservative boundary (resume AT the event = re-delivery), and a
wrong SKIP would additionally require the misread (uuid, tag, gno)
to exactly collide with an entry of the carried executed set.
Offset-carried sets are built and consumed by this same decoder,
so skip/deliver decisions stay self-consistent even under a
misread; sets from a real server (startingGtids text,
PREVIOUS_GTIDS wire) failing to match only widen re-delivery.
"""

from __future__ import annotations

import re

#: WL#15294 tag syntax (same as GtidSet._TAG; duplicated here so
#: the decode module stays import-light)
_TAG = re.compile(r"^[a-zA-Z_][a-zA-Z0-9_]{0,31}$")

#: field id -> kind for the tagged GTID event ("fixed1", "uuid",
#: "sint", "uint", "str")
_FIELDS = {
    0: "fixed1", 1: "uuid", 2: "sint", 3: "str",
    4: "sint", 5: "sint", 6: "uint", 7: "uint",
    8: "uint", 9: "uint", 10: "uint", 11: "uint",
}


def read_varuint(buf: bytes, off: int) -> tuple[int, int]:
    """Unsigned variable-length integer at ``off`` ->
    (value, next_off). Raises ValueError on truncation."""
    if off >= len(buf):
        raise ValueError("varint at end of buffer")
    b0 = buf[off]
    if b0 == 0xFF:                       # escape: full u64 follows
        if off + 9 > len(buf):
            raise ValueError("truncated 9-byte varint")
        return (int.from_bytes(buf[off + 1:off + 9], "little"),
                off + 9)
    c = 0
    while (b0 >> c) & 1:
        c += 1
    n = c + 1
    if off + n > len(buf):
        raise ValueError("truncated varint")
    raw = int.from_bytes(buf[off:off + n], "little")
    return raw >> n, off + n


def read_varsint(buf: bytes, off: int) -> tuple[int, int]:
    """Signed (zigzag) variable-length integer."""
    u, off = read_varuint(buf, off)
    return (u >> 1) ^ -(u & 1), off


def write_varuint(value: int) -> bytes:
    """Encoder twin of ``read_varuint`` (used by GtidSet tooling
    and kept next to the reader so the two stay in one spec)."""
    if value < 0:
        raise ValueError("write_varuint: negative")
    for c in range(8):                   # n = c+1 bytes, 7n value bits
        n = c + 1
        if value < (1 << (7 * n)):
            raw = (value << n) | ((1 << c) - 1)
            return raw.to_bytes(n, "little")
    return b"\xff" + value.to_bytes(8, "little")


def write_varsint(value: int) -> bytes:
    return write_varuint((value << 1) ^ (value >> 63)
                         if value < 0 else value << 1)


def decode_tagged_gtid(body: bytes) -> tuple[str, str, int] | None:
    """(uuid_text, tag, gno) from a GTID_TAGGED_EVENT body, or
    None when the body does not VALIDATE as one — truncation, a
    non-increasing or unknown field id, a malformed tag, an
    out-of-range gno, or a field boundary that does not land at
    the end of the buffer. ``body`` is exact: both callers
    (``decode_binlog`` and the source's header walk) trim the
    CRC32 trailer by the segment's checksum mode first, so the
    final bytes parse and validate like any others. Callers treat
    None as the conservative resume boundary."""
    try:
        off = 0
        version, off = read_varuint(body, off)
        if version > 3:                  # unknown future format
            return None
        flags = uuid_hex = tag = gno = None
        last_id = -1
        while off < len(body):
            fid, off = read_varuint(body, off)
            if fid <= last_id or fid not in _FIELDS:
                return None
            last_id = fid
            kind = _FIELDS[fid]
            if kind == "fixed1":
                if off + 1 > len(body):
                    return None
                val, off = body[off], off + 1
            elif kind == "uuid":
                if off + 16 > len(body):
                    return None
                val, off = body[off:off + 16].hex(), off + 16
            elif kind == "sint":
                val, off = read_varsint(body, off)
            elif kind == "uint":
                val, off = read_varuint(body, off)
            else:                        # str
                ln, off = read_varuint(body, off)
                if ln > 32 or off + ln > len(body):
                    return None
                val, off = body[off:off + ln].decode("ascii"), off + ln
            if fid == 0:
                flags = val
            elif fid == 1:
                uuid_hex = val
            elif fid == 2:
                gno = val
            elif fid == 3:
                tag = val
        if flags is None or uuid_hex is None or gno is None \
                or tag is None:
            return None                  # 0-3 are mandatory on 42
        if flags > 3 or not (1 <= gno < (1 << 63)):
            return None
        if tag and not _TAG.match(tag):
            return None
        u = uuid_hex
        uuid_txt = "-".join((u[0:8], u[8:12], u[12:16],
                             u[16:20], u[20:32]))
        return uuid_txt, tag.lower(), gno
    except (ValueError, UnicodeDecodeError):
        return None


def tagged_gtid_text(parsed: tuple[str, str, int]) -> str:
    """``uuid:tag:gno`` (or ``uuid:gno`` for an empty tag) from a
    decode_tagged_gtid tuple — ONE rendering shared by the event
    decoder and the source's header walks, so the gtid strings in
    DecodedEvents and the offset-carried executed sets cannot
    drift (r12 review)."""
    uuid_txt, tag, gno = parsed
    return (f"{uuid_txt}:{tag}:{gno}" if tag
            else f"{uuid_txt}:{gno}")
