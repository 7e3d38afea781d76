"""S1 as a genuine Spark source: a Python streaming DataSource
(Spark 4 API) tailing MySQL binlog files.

SURVEY §2.1 maps the reference's binlog source
(``internal/sync_server/sync.go:44-118,120-188``) to either a
Kafka/Debezium feed (cdc/streams.py, cdc/debezium.py) or "a custom
Python streaming DataSource (Spark 4 API) doing binlog tailing" —
this is that second tier, built on the byte-level decoder
(cdc/binlog.py). ``spark.readStream.format("galaxy_binlog")``
yields one row per row-change with positional ``org_row`` images;
schema attach (P1) and projections (P2-P4) then run as the same
column algebra as every other source tier.

Offset model (mirrors the reference's ``(file, pos)`` position,
``pkg/shared.go:13-14``, EXTENDED with the failover currency the
reference lacks): ``{"file": <name>, "pos": <byte>, "gtids":
<executed set text>}`` where ``pos`` is the END log_pos of the last
consumed event and ``gtids`` is the executed-GTID set at that
boundary (startingGtids plus every GTID event at or before it,
incrementally tracked). When a checkpointed offset names a segment
that no longer exists — a primary failover renamed/renumbered the
binlogs — ``partitions`` re-resolves the boundary from the carried
set instead of refusing: same transactions, new layout, no
duplicates and no gaps mid-stream, not only at first start.
Binlog events chain end-positions in their headers, and
``latestOffset`` walks those headers to the last COMPLETE event in
the growing tail segment (``_aligned_end``), so every offset is
event-aligned even when the writer is mid-append — a torn trailing
event stays beyond the offset until complete. Files must sort in
rotation order (``binlog.000001`` style); only the LAST file may
grow (earlier segments are immutable once rotated — MySQL's own
contract), so an offset pair spans: tail of start.file, any whole
files between, head of end.file.

Replay-skip, not mid-file seek: decoding needs the TABLE_MAP state
accumulated earlier in the segment (the wire sends column types
per table_id, names never), so ``read`` decodes the segment from
its start and FILTERS events at ``log_pos <= start.pos`` — exactly
the reference's recovery semantics (``Continue()`` drops
already-applied positions, ``concurrently_task_manager.go:97-120``).
Cost: each micro-batch re-scans its segment's prefix; segments are
bounded (max_binlog_size), so this is O(segment), not O(history).

Parallelism: one InputPartition per segment — decode is inherently
sequential WITHIN a segment (TABLE_MAP state), but segments decode
in parallel across executors, which is the unit Kafka gives you
too (partition-ordered, not globally ordered).

``startingOffsets=latest`` (S2 parity, ``baseinfo.go:254-262``):
the initial offset probes the directory's current end instead of
the first file's magic.

``startingGtids="<uuid>:1-5,..."`` — GTID auto-position, the
failover-safe alternative to (file, pos): file names die with a
primary (a failover's new relay segments have new names, breaking
any saved (file, pos)), the executed-GTID set does not. On first
start the reader scans segments in rotation order for the first
GTID event NOT covered by the set and begins there; if the whole
directory is covered it starts at the end. Only the FIRST start
consults it (same contract as Kafka's startingOffsets — the
checkpoint, whose offsets carry the executed set continuously,
owns position afterward).

``startingTimestamp=<epoch seconds>`` — historical replay from a
wall-clock instant, the reference's designed-but-disabled
``start_time`` (``README.md:75``, commented out at
``pkg/req_resp.go:72``): a header-walk seek to the first event at
or past the instant, snapped back to the enclosing transaction's
GTID boundary. O(event headers), not the "performance hungry" full
decode the reference feared.
"""

from __future__ import annotations

import os
from collections.abc import Iterator, Sequence
from typing import NamedTuple

from pyspark.sql.datasource import (DataSource, DataSourceStreamReader,
                                    InputPartition)
from pyspark.sql.types import StructType

from galaxy_spark.cdc.binlog import (ANONYMOUS_GTID_EVENT,
                                     FORMAT_DESCRIPTION_EVENT,
                                     GTID_EVENT, GTID_TAGGED_EVENT,
                                     MARIADB_GTID_EVENT,
                                     MARIADB_GTID_LIST_EVENT,
                                     PREVIOUS_GTIDS_EVENT, QUERY_EVENT,
                                     XID_EVENT, _detect_checksum,
                                     gtid_text, mariadb_gtid,
                                     mariadb_gtid_list)
from galaxy_spark.cdc.mysql_serialization import (decode_tagged_gtid,
                                                  tagged_gtid_text)
from galaxy_spark.cdc.replication_client import GtidSet, MariaDbGtidSet

SCHEMA = ("database string, `table` string, action string, "
          "org_row array<array<string>>, ts_sec bigint, "
          "log_pos bigint, binlog_file string")

#: option("include", "ddl") stream: QUERY events for the schema-
#: evolution path (S3 routes QueryEvent -> P5, sync.go:168-174)
DDL_SCHEMA = ("database string, query string, ts_sec bigint, "
              "log_pos bigint, binlog_file string")


def _seg_key(name: str) -> tuple:
    """Rotation-order sort key: MySQL names segments with a numeric
    suffix (``binlog.000001``), and plain lexicographic order breaks
    at the width rollover (``binlog.1000000`` sorts before
    ``binlog.999999``); sort (stem, numeric-suffix) when the suffix
    is digits, else the bare name."""
    base = name[:-4] if name.endswith(".bin") else name
    stem, _, seq = base.rpartition(".")
    if seq.isdigit():
        return (stem, int(seq))
    return (base, -1)


def _segments(path: str) -> list[str]:
    """Binlog segment files, in rotation order. Both the relay
    writer's ``<name>.bin`` convention and a real MySQL binlog
    directory's bare ``binlog.000001`` naming match (files need a
    dot-separated numeric suffix, which also keeps index/state
    files out)."""
    return sorted(
        (f for f in os.listdir(path)
         if f.endswith(".bin")
         or f.rpartition(".")[2].isdigit()),
        key=_seg_key)


def _walk_event_headers(f, size: int, start: int | None = None):
    """Iterate COMPLETE event headers in an open segment file:
    yields ``(pos, etype, esize, log_pos, ts)`` per event and stops
    at the last whole-event boundary at or before ``size`` — a torn
    trailing event (the writer mid-append) or garbage tail ends the
    walk instead of raising, and a ``size`` below the file's
    length bounds the walk at an offset. Seeks + 19-byte header
    reads only, no payload decode. ONE implementation of the
    torn-tail boundary rule, shared by ``_aligned_end``, the
    segment fingerprint and ``_walk_segments``.

    ``start``: resume the walk at a KNOWN event boundary (>= 4,
    past the magic) instead of the file head."""
    if start is not None:
        pos = start
    else:
        pos = 4 if f.read(4) == b"\xfebin" else 0
    while pos + 19 <= size:
        f.seek(pos)
        head = f.read(19)
        esize = int.from_bytes(head[9:13], "little")
        if esize < 19 or pos + esize > size:
            return                   # torn/garbage tail: stop here
        yield (pos, head[4], esize,
               int.from_bytes(head[13:17], "little"),
               int.from_bytes(head[0:4], "little"))
        pos += esize


def _checksum_tail(f, size: int) -> int:
    """Length of the CRC32 trailer every event of an open segment
    carries: 4 when its FORMAT_DESCRIPTION event (the first event)
    declares ``binlog_checksum=CRC32`` (``cdc/binlog.py:
    _detect_checksum``, the decoder's own probe), else 0."""
    for pos, etype, esize, _lp, _ts in _walk_event_headers(f, size):
        if etype != FORMAT_DESCRIPTION_EVENT:
            return 0
        f.seek(pos)
        return 4 if _detect_checksum(f.read(esize)) else 0
    return 0


def _walk_segments(path: str, upto: tuple | None = None,
                   after: tuple = ("", 0)):
    """The one header walk ACROSS segments, shared by the GTID
    auto-position scan, the executed-set scan (stateless and
    incremental) and the timestamp seek: yields ``(segment, open
    file, headers, tail)`` per segment in rotation order,
    ``headers`` being that segment's ``_walk_event_headers`` and
    ``tail`` its checksum trailer length (``_checksum_tail``, read
    once per segment) — callers stop anywhere by returning.
    ``after=(file, pos)`` resumes at a watermark: earlier segments
    are skipped and ``file`` is walked from ``pos`` (an event
    boundary: offsets are aligned ends), so a growing tail segment
    is never re-walked from byte 0 every micro-batch (that made its
    cost quadratic over the segment's lifetime). ``upto=(file, pos)`` stops at that offset: later
    segments stay unopened and ``file``'s walk ends with the last
    event ending at or before ``pos``."""
    for s in _segments(path):
        k = _seg_key(s)
        if after[0] and k < _seg_key(after[0]):
            continue
        if upto is not None and k > _seg_key(upto[0]):
            return
        fpath = os.path.join(path, s)
        size = os.path.getsize(fpath)
        if upto is not None and s == upto[0]:
            size = min(size, upto[1])
        with open(fpath, "rb") as f:
            tail = _checksum_tail(f, size)
            f.seek(0)          # the walk below sniffs the magic here
            yield s, f, _walk_event_headers(
                f, size,
                start=after[1] if s == after[0] and after[1] >= 4
                else None), tail


def _aligned_end(fpath: str, start: int | None = None) -> int:
    """End byte-offset of the last COMPLETE event in a (possibly
    growing) segment. The writer may be mid-append when
    ``latestOffset`` samples the file, and an offset landing inside
    a half-written event would make every retry of that micro-batch
    re-slice the same torn bytes and fail permanently. A trailing
    partial event simply stays beyond the offset until a later
    ``latestOffset`` sees it complete. ``start`` resumes the walk
    at a known event boundary (``_walk_event_headers``) instead of
    the file head."""
    size = os.path.getsize(fpath)
    with open(fpath, "rb") as f:
        if start is None:
            end = 4 if f.read(4) == b"\xfebin" else 0
            f.seek(0)
        else:
            end = start
        for pos, _etype, esize, _lp, _ts in _walk_event_headers(
                f, size, start=start):
            end = pos + esize
    return end


class _Flavor(NamedTuple):
    """A GTID flavor: the executed-set class and the event types
    every GTID-bearing path resolves through. MySQL: uuid:interval
    sets over GTID/ANONYMOUS_GTID/PREVIOUS_GTIDS/GTID_TAGGED events
    (33/34/35/42). MariaDB: domain-server-seq positions over
    GTID/GTID_LIST events (162/163) — no anonymous mode (GTIDs are
    always on since 10.0), no tags, and GTID_LIST plays
    PREVIOUS_GTIDS' purge-gate/seed role. The reference flips
    go-mysql's one-string Flavor config (sync.go:47)."""

    gset: type
    gtid: int
    anon: int | None
    prev: int
    tagged: int | None
    prev_name: str


_FLAVORS = {
    "mysql": _Flavor(GtidSet, GTID_EVENT, ANONYMOUS_GTID_EVENT,
                     PREVIOUS_GTIDS_EVENT, GTID_TAGGED_EVENT,
                     "PREVIOUS_GTIDS"),
    "mariadb": _Flavor(MariaDbGtidSet, MARIADB_GTID_EVENT, None,
                       MARIADB_GTID_LIST_EVENT, None, "GTID_LIST"),
}


#: Query prefixes that leave the enclosing transaction OPEN — BEGIN
#: and XA START open one; SAVEPOINT / ROLLBACK TO / XA END occur
#: inside one (row format logs them as Query). Everything else
#: (COMMIT, plain ROLLBACK, XA COMMIT/ROLLBACK, auto-commit DDL —
#: DDL cannot run inside an open transaction: implicit commit)
#: closes it.
_TXN_OPEN_PREFIXES = ("BEGIN", "SAVEPOINT", "ROLLBACK TO",
                      "XA START", "XA BEGIN", "XA END")


def _query_keeps_txn_open(f, pos: int, esize: int) -> bool:
    """Classify a QUERY event during a header walk: does it leave
    the enclosing transaction open? Reads this one event's body and
    extracts the statement through the documented layout
    (post-header 13 bytes, status vars, schema, NUL, query) — the
    prefix is unaffected by the optional CRC32 trailer. Unparseable
    bodies classify as KEEP-open: that errs toward replaying more,
    never toward a torn resume."""
    f.seek(pos + 19)
    body = f.read(esize - 19)
    if len(body) < 13:
        return True
    db_len = body[8]
    status_len = int.from_bytes(body[11:13], "little")
    qstart = 13 + status_len + db_len + 1
    if qstart >= len(body):
        return True
    stmt = " ".join(
        body[qstart:qstart + 24].decode("latin-1", "replace")
        .upper().split())
    return stmt.startswith(_TXN_OPEN_PREFIXES)


class _SegmentSlice(InputPartition):
    def __init__(self, path: str, fname: str, start_pos: int,
                 end_pos: int) -> None:
        self.path, self.fname = path, fname
        self.start_pos, self.end_pos = start_pos, end_pos


class BinlogStreamReader(DataSourceStreamReader):
    def __init__(self, options: dict) -> None:
        self.path = options.get("path")
        if not self.path:
            raise ValueError("galaxy_binlog requires option 'path'")
        self.starting = options.get("startingOffsets", "earliest")
        self.starting_gtids = options.get("startingGtids")
        self.starting_ts = options.get("startingTimestamp")
        if self.starting_ts is not None:
            try:
                self.starting_ts = int(self.starting_ts)
            except ValueError:
                raise ValueError(
                    f"startingTimestamp={self.starting_ts!r}: "
                    "expected epoch SECONDS (the binlog event "
                    "header's own unit)") from None
        n_starts = (bool(self.starting_gtids)
                    + (self.starting_ts is not None)
                    + (self.starting != "earliest"))
        if n_starts > 1:
            raise ValueError(
                "startingGtids, startingTimestamp and "
                "startingOffsets are mutually exclusive start "
                "positions — pass one")
        self.include = options.get("include", "rows")
        if self.include not in ("rows", "ddl"):
            raise ValueError(
                f"include={self.include!r}: expected 'rows' (row "
                "changes) or 'ddl' (QUERY events for the schema-"
                "evolution path)")
        #: GTID flavor (``_FLAVORS``): every GTID-bearing path —
        #: auto-position scan, executed-set tracker, failover gates,
        #: purge checks, timestamp seek — resolves its set class and
        #: event types through this one table entry
        self.flavor = options.get("flavor", "mysql")
        if self.flavor not in _FLAVORS:
            raise ValueError(
                f"flavor={self.flavor!r}: expected 'mysql' or "
                "'mariadb'")
        self._fl = _FLAVORS[self.flavor]

    def _read_gtid_event(self, f, pos: int, etype: int, esize: int,
                         tail: int):
        """The one GTID event reader of the header walks, for an
        event whose type the caller already matched against the
        flavor's GTID, previous-set or tagged type: returns
        ``("prev", set)`` for a PREVIOUS_GTIDS / GTID_LIST
        declaration, else ``("gtid", text)``. The text is None for
        a tagged body that fails validation: callers then resume AT
        the event and never claim it executed (re-delivery, never
        a silent skip — the ANONYMOUS_GTID discipline). ``tail``
        is the segment's checksum trailer length
        (``_walk_segments``): the parsers get the exact body, as
        ``decode_binlog`` gives them, so both refuse the same
        truncations."""
        f.seek(pos)
        raw = f.read(esize)
        body = raw[19:esize - tail]
        try:
            if etype == self._fl.prev:
                if self._fl.gset is GtidSet:
                    return "prev", GtidSet.decode(body)
                return "prev", MariaDbGtidSet.parse(
                    ",".join(mariadb_gtid_list(body)))
            if etype == self._fl.tagged:
                parsed = decode_tagged_gtid(body)
                return "gtid", (tagged_gtid_text(parsed) if parsed
                                else None)
            if self._fl.gset is MariaDbGtidSet:
                return "gtid", mariadb_gtid(
                    body, int.from_bytes(raw[5:9], "little"))[0]
            return "gtid", gtid_text(body)
        except ValueError as exc:
            raise ValueError(
                f"{exc} (at {os.path.basename(f.name)}:{pos})") \
                from None

    def _end_of_dir(self) -> dict:
        segs = _segments(self.path)
        if not segs:
            return {"file": "", "pos": 0}
        last = segs[-1]
        fpath = os.path.join(self.path, last)
        # resume the alignment walk at the GTID tracker's watermark
        # (an aligned end already returned for this file, trusted
        # as ``_gtids_at`` trusts it), so a growing tail segment is
        # not re-walked from byte 0 every trigger
        start = None
        if getattr(self, "_scan_file", "") == last and \
                4 <= self._scan_pos <= os.path.getsize(fpath):
            start = self._scan_pos
        return {"file": last, "pos": _aligned_end(fpath, start)}

    #: fingerprint recipe version — stamped INTO every stored fp so
    #: a future recipe change skips (never falsely flags) offsets
    #: checkpointed under an older recipe (r10 review wave 2: an
    #: unversioned semantics change would brick healthy checkpoints
    #: with a permanent bogus history-mismatch)
    _FP_VER = 2

    def _segment_fingerprint(self, fname: str) -> list | None:
        """Identity stamp for the same-NAME rebuild gate:
        ``[ver, fde_ts, fde_sid, fde_esize, ev_ts, ev_sid,
        ev_esize]`` — the FDE's header AND the first non-FDE
        event's header. Works where the GTID check cannot:
        anonymous streams carry no set at all, and a rebuild whose
        GTIDs below the boundary are all covered but RELOCATED
        passes the coverage check (its documented residual limit,
        r9 verdict #8).

        Why BOTH parts (r10 review, two waves): the relay writer
        legally REWRITES a virgin segment's seeded FDE when a
        checksum-config rotation makes the seed mis-declare the
        mode — an FDE-only stamp taken in that window poisons the
        checkpoint with a permanent false positive. But the first
        non-FDE event alone is an origin-stamped header a diverged
        history sharing its first transaction can REPRODUCE, losing
        the detection the gate exists for. The resolution: the FDE
        rewrite only ever touches VIRGIN segments (nothing past the
        seed), so once a non-FDE event exists the FDE is frozen
        forever — stamping both parts ONLY when the segment is
        non-virgin is simultaneously rewrite-proof (no stamp exists
        in the rewrite window; such offsets skip the gate and the
        next offset re-stamps) and divergence-sensitive (a rebuilt
        file's FDE carries ITS creation time/server). Append-only
        means neither part can change on the same history: zero
        false positives. A few 19-byte reads."""
        fpath = os.path.join(self.path, fname)
        if not os.path.exists(fpath):
            return None
        size = os.path.getsize(fpath)
        fde_part = None
        with open(fpath, "rb") as f:
            for _pos, etype, esize, _lp, ts in \
                    _walk_event_headers(f, size):
                f.seek(_pos + 5)
                sid = int.from_bytes(f.read(4), "little")
                if etype == FORMAT_DESCRIPTION_EVENT:
                    if fde_part is None:
                        fde_part = [ts, sid, esize]
                    continue
                if fde_part is None:
                    return None     # no FDE: not a decodable segment
                return [self._FP_VER, *fde_part, ts, sid, esize]
        return None                 # virgin (magic + FDE only)

    def initialOffset(self) -> dict:
        if self.starting_gtids:
            off = self._offset_after_gtids(self.starting_gtids)
        elif self.starting_ts is not None:
            off = self._offset_at_timestamp(self.starting_ts)
        elif self.starting == "latest":
            off = self._end_of_dir()    # SHOW MASTER STATUS analog
        else:
            segs = _segments(self.path)
            off = {"file": segs[0] if segs else "", "pos": 0}
        # every offset carries the executed set from the very first
        # one — a failover before the first latestOffset is covered
        off["gtids"] = self._gtids_at(off["file"], off["pos"])
        if off["file"]:
            off["fp"] = self._segment_fingerprint(off["file"])
        # this instance just derived the offset from the directory
        # itself: the restart-time history check has nothing new to
        # verify (it only matters when offsets arrive from a
        # CHECKPOINT into a fresh instance)
        self._start_verified = True
        return off

    def _offset_after_gtids(self, gtids: str) -> dict:
        """GTID auto-position over segment files: the offset just
        BEFORE the first GTID event not covered by the executed
        set — the file-tier twin of COM_BINLOG_DUMP_GTID (the
        server-side auto-position the replication client speaks).
        One driver-side scan at FIRST start only; the checkpoint
        owns position afterward.

        The scan is a seek-based HEADER WALK (``_walk_segments``),
        not a decode: only event headers (19 bytes) plus the bodies
        of GTID-bearing events (one per transaction, plus one set
        declaration per segment) are read, so locating the resume
        point in a directory of 1 GB segments costs O(event
        headers) seeks, never gigabytes of row-image decode on the
        driver; torn trailing events end the walk at the last
        complete boundary.

        ANONYMOUS_GTID events (gtid_mode OFF/ON_PERMISSIVE
        transactions) are NEVER covered by an executed set — no
        set names them — so the scan resumes at the first one it
        meets, matching MySQL's own auto-position (which always
        sends anonymous transactions). A tagged transaction (8.3+)
        is skipped only on proven coverage of its (uuid, tag, gno);
        a body that fails validation resumes AT the event."""
        fl = self._fl
        gset = fl.gset.parse(gtids)
        reads = (fl.gtid, fl.prev, fl.tagged)
        for i, (s, f, headers, tail) in enumerate(
                _walk_segments(self.path)):
            prev_end = 0
            for pos, etype, esize, log_pos, _ts in headers:
                if etype == fl.anon:
                    return {"file": s, "pos": prev_end}
                if etype in reads:
                    kind, got = self._read_gtid_event(f, pos, etype,
                                                      esize, tail)
                    if kind == "gtid" and (got is None
                                           or not gset.covers(got)):
                        return {"file": s, "pos": prev_end}
                    if kind == "prev" and i == 0 \
                            and not gset.covers_set(got):
                        # MySQL's own purged-gap gate (error 1236):
                        # the first retained segment declares the
                        # executed set of everything BEFORE it; any
                        # transaction there that our set has not
                        # executed lives only in purged files —
                        # resuming would silently skip it
                        raise ValueError(
                            f"cannot auto-position: the first "
                            f"retained segment {s!r} declares "
                            f"{fl.prev_name} {got} not covered "
                            f"by the executed set {gset} — the "
                            "gap was purged with the earlier "
                            "segments (error 1236 analog); "
                            "recover with a fresh checkpoint "
                            "(recovery_v2) or restore the "
                            "segments")
                prev_end = log_pos
        return self._end_of_dir()       # whole directory covered

    def _tracker(self):
        """The lazily-initialized executed-GTID tracker (set +
        name-based walk watermark), flavor-typed."""
        if not hasattr(self, "_gtids"):
            #: the consumer-executed seed (startingGtids) is kept
            #: separately: those transactions were delivered BEFORE
            #: this stream, so their absence from a post-failover
            #: directory is not data loss (the deletion gate must
            #: not demand them)
            self._seed = (self._fl.gset.parse(self.starting_gtids)
                          if self.starting_gtids else self._fl.gset())
            self._gtids = self._fl.gset()
            self._gtids.merge(self._seed)
            self._scan_file, self._scan_pos = "", 0
        return self._gtids

    def _scan_gtids(self, file: str | None = None,
                    pos: int | None = None, into=None,
                    after: tuple = ("", 0)):
        """Executed-set scan of the directory up to (file, pos) —
        the whole directory when ``file`` is None — merged into
        ``into`` (a fresh set by default) and returned. ``after``
        resumes the walk at a watermark instead of the first
        segment: ``_gtids_at`` runs this scan from the tracker's
        watermark into the tracker's set. Includes PREVIOUS_GTIDS
        / GTID_LIST declarations (the gtid_purged seeding a real
        replica gets at provisioning): history purged before these
        segments is still EXECUTED history, and omitting it made
        carried sets regress on restart and the error-1236 gate
        fire on healthy streams. A tagged body that fails
        validation stays untracked: the carried set then
        under-covers and resume falls back to the conservative
        boundary — never a false claim."""
        fl = self._fl
        out = fl.gset() if into is None else into
        reads = (fl.gtid, fl.prev, fl.tagged)
        upto = None if file is None else (file, pos)
        for _s, f, headers, tail in _walk_segments(self.path, upto,
                                                   after):
            for p, etype, esize, _lp, _ts in headers:
                if etype in reads:
                    kind, got = self._read_gtid_event(f, p, etype,
                                                      esize, tail)
                    if kind == "prev":
                        out.merge(got)
                    elif got is not None:
                        out.add(got)
        return out

    def _gtids_at(self, file: str, pos: int) -> str:
        """Executed-GTID text at offset (file, pos): the starting
        set plus every GTID event at or before it, maintained
        INCREMENTALLY — a watermark remembers how far the directory
        has been walked, so steady-state cost per micro-batch is a
        header walk over the tail delta (the same cost class as
        ``_aligned_end``'s alignment walk); only the first call of
        a reader instance (fresh start or restart) walks the whole
        directory once. This is what makes the offsets themselves
        failover-safe MID-STREAM: every committed offset carries
        the currency that survives a primary's death, not only the
        first start."""
        self._tracker()
        if (_seg_key(file), pos) < (_seg_key(self._scan_file),
                                    self._scan_pos):
            # the watermark is already PAST the target: the
            # incremental tracker's set was computed for a LATER
            # boundary, so returning it would overstate this
            # offset's executed set — GTIDs between the target and
            # the watermark would be stamped as executed on an
            # offset that precedes them, and a relocation through
            # that offset would skip them. Rare path (latestOffset
            # is monotone); recompute statelessly for exactly this
            # boundary instead.
            out = self._scan_gtids(file, pos)
            out.merge(self._seed)
            return str(out)
        self._scan_gtids(file, pos, into=self._gtids,
                         after=(self._scan_file, self._scan_pos))
        self._scan_file, self._scan_pos = file, pos
        return str(self._gtids)

    def _offset_at_timestamp(self, ts: int) -> dict:
        """Historical replay from a wall-clock instant — the
        reference feature that is DESIGNED BUT DISABLED (`start_time`
        documented as "very performance hungry (not recommended)" at
        ``README.md:75``, the field commented out at
        ``pkg/req_resp.go:72``): the offset just before the first
        event whose header timestamp is at or past ``ts``, snapped
        BACK to the enclosing transaction's GTID boundary when one
        opened it (a mid-transaction resume would deliver a torn
        transaction; GTID-less streams resume event-exact, the
        mysqlbinlog --start-datetime behavior).

        The reference's performance warning dissolves here: this is
        the same seek-based header walk as the GTID scan — 19-byte
        reads, no payload decode — so locating the instant costs
        O(event headers), measured in SCALE.md, not a full-history
        decode. Binlog header timestamps are STATEMENT times and
        only per-transaction monotone; the scan takes the first
        match, so a clock wobble across concurrent sessions errs
        toward replaying slightly more, never skipping. Every
        transaction opener anchors — GTID, anonymous and tagged
        alike — by header type alone."""
        fl = self._fl
        anchor_types = (fl.gtid, fl.anon, fl.tagged)
        for s, f, headers, _tail in _walk_segments(self.path):
            prev_end = 0
            anchor = None              # prev_end before the OPEN
                                       # transaction's GTID event
            for pos, etype, esize, log_pos, ev_ts in headers:
                if etype in anchor_types:
                    anchor = prev_end
                if ev_ts >= ts:
                    return {"file": s,
                            "pos": anchor if anchor is not None
                            else prev_end}
                if etype == XID_EVENT:
                    anchor = None      # transaction closed: a later
                                       # match must not replay it
                elif etype == QUERY_EVENT and anchor is not None:
                    # a COMMITTING Query also CLOSES the GTID
                    # transaction (auto-commit DDL, MyISAM COMMIT);
                    # leaving the anchor set replays a committed
                    # transaction when the first at/past-instant
                    # event is GTID-less. Queries that legitimately
                    # occur INSIDE an open row-format transaction
                    # (BEGIN, SAVEPOINT, ROLLBACK TO, XA START/END)
                    # must KEEP it — clearing on them produces a
                    # torn mid-transaction resume.
                    if not _query_keeps_txn_open(f, pos, esize):
                        anchor = None
                prev_end = log_pos
        return self._end_of_dir()      # instant is past the stream

    def latestOffset(self) -> dict:
        # Monotonic floor: binlog segments are APPEND-ONLY (MySQL's
        # own contract), but a raced sample during an external
        # rewrite could observe a transiently smaller file; Spark
        # compares offsets by EQUALITY, so returning a smaller
        # offset would silently move the checkpoint BACKWARD and
        # re-emit everything after it. Never hand back less than
        # this reader instance has already reported.
        cur = self._end_of_dir()
        floor = getattr(self, "_max_offset", None)
        if floor is not None and (_seg_key(cur["file"]), cur["pos"]) < \
                (_seg_key(floor["file"]), floor["pos"]):
            if (floor["file"] and floor["file"] not in
                    _segments(self.path)
                    and bool(getattr(self, "_gtids", None))):
                # LIVE failover to segment names that sort below the
                # dead primary's: the pinned segment is GONE (not a
                # transient shrink of an existing file — that is what
                # the floor guards) and the tracked executed set can
                # re-locate the boundary, so accept the new directory
                # instead of pinning the stream to a dead name
                # forever (r9 review). Failover vs DELETION gate
                # (review wave 2): every transaction this instance
                # has already OBSERVED (tracker, up to the old end)
                # must still exist in the new history — renamed
                # segments carry them, a deleted tail does not, and
                # skipping a deleted tail silently is the data loss
                # the purge checks refuse loudly elsewhere. The scan
                # is BOUNDED at the offset being returned: an
                # unbounded directory scan raced against concurrent
                # appends would fold GTIDs PAST (cur.file, cur.pos)
                # into this offset's carried set even though they
                # were never delivered, and a later checkpoint
                # relocation through that offset would treat them as
                # executed and silently skip those transactions
                # (r9 ADVICE, medium).
                fresh = self._scan_gtids(cur["file"], cur["pos"])
                fresh.merge(getattr(self, "_seed", None)
                            or type(fresh)())
                if not fresh.covers_set(self._gtids):
                    raise ValueError(
                        f"segment {floor['file']!r} vanished and the "
                        f"remaining directory does not contain "
                        f"transactions already observed up to "
                        f"{floor['pos']} (observed {self._gtids}, "
                        f"directory has {fresh}) — this is a deleted "
                        "tail, not a failover rename; recover with a "
                        "fresh checkpoint (recovery_v2) or restore "
                        "the segment")
                # adopt the new history: tracker = full fresh scan
                # (⊇ observed), watermark = the new directory's end
                self._gtids = fresh
                self._scan_file, self._scan_pos = cur["file"], cur["pos"]
            else:
                # no executed set to re-locate with (anonymous
                # stream) or the file still exists (transient
                # shrink): keep the monotonic floor
                return floor
        cur["gtids"] = self._gtids_at(cur["file"], cur["pos"])
        if cur["file"]:
            cur["fp"] = self._segment_fingerprint(cur["file"])
        self._max_offset = cur
        return cur

    def _resolve_offset(self, off: dict, segs_now: list[str],
                        is_start: bool = False) -> dict:
        """Failover re-resolution: a checkpointed offset whose
        segment no longer exists names a dead primary's file — but
        if it carries the executed-GTID set, the set re-locates the
        exact boundary in the NEW primary's segments (same
        transactions, new names/positions). Without the set the
        refuse-loudly paths below still apply."""
        if (off.get("file") and off["file"] not in segs_now
                and off.get("gtids")):
            # NON-EMPTY executed set only: the empty string every
            # anonymous-GTID stream carries has no information to
            # re-locate with — resolving through it would restart
            # at the first retained transaction and re-deliver
            # everything (r9 review); such offsets fall through to
            # the refuse-loudly purge checks in partitions()
            new = self._offset_after_gtids(off["gtids"])
            new["gtids"] = off["gtids"]
            if new.get("file"):
                new["fp"] = self._segment_fingerprint(new["file"])
            if is_start:
                # the relocated START was just derived from the
                # current directory — the restart-time history check
                # has nothing to verify against it (it would re-walk
                # the directory for a tautology). Resolving only the
                # END must NOT suppress the start check: if end's
                # segment vanished but start's NAME survived a
                # same-name rebuild, the start's bytes are exactly
                # what _verify_start_history exists to vet (r9
                # ADVICE, low).
                self._start_verified = True
            return new
        return off

    def _verify_start_history(self, start: dict) -> None:
        """Same-NAME failover gate (r9 review): a new primary that
        reuses the checkpointed segment names defeats the
        file-absence failover detection, and byte positions into
        different file contents silently corrupt the stream. The
        carried executed set contains exactly the information to
        catch it: every GTID observed at or below the committed
        boundary in the CURRENT directory must already be covered
        by the carried set (retention may have purged covered
        history — a smaller observed set is fine; an UNCOVERED
        observed transaction below our own committed position is a
        contradiction only content replacement can produce). One
        header walk per reader instance, restart-time only.

        Residual limit (documented, not silent): a replacement
        whose GTIDs below the boundary are all covered but sit at
        different byte offsets passes this gate; full detection
        needs per-event content digests the binlog format does not
        carry."""
        carried = self._fl.gset.parse(start["gtids"])
        observed = self._scan_gtids(start["file"], start["pos"])
        if not carried.covers_set(observed):
            raise ValueError(
                f"binlog history mismatch at committed offset "
                f"{start['file']}:{start['pos']}: the directory now "
                f"contains transactions ({observed}) not covered by "
                f"the checkpointed executed set ({carried}) — the "
                "segment names were reused by a different history "
                "(same-name failover/rebuild). Resume with "
                "startingGtids on a fresh checkpoint (recovery_v2) "
                "instead of trusting file/pos")

    def partitions(self, start: dict, end: dict) \
            -> Sequence[InputPartition]:
        segs_now = _segments(self.path)
        start = self._resolve_offset(start, segs_now, is_start=True)
        end = self._resolve_offset(end, segs_now)
        if (start.get("fp") and start.get("file") in segs_now
                and start["fp"][0] == self._FP_VER):
            # fingerprint gate (r9 verdict #8): catches same-name
            # rebuilds the GTID coverage check cannot — anonymous
            # streams (no set to compare) and rebuilds whose
            # covered GTIDs merely RELOCATED. Append-only segments
            # never change their stamped events, so a mismatch is
            # always content replacement. A recipe-version mismatch
            # SKIPS (older-checkpoint offsets must never falsely
            # flag). A few 19-byte reads per micro-batch.
            now_fp = self._segment_fingerprint(start["file"])
            if now_fp is not None and now_fp != start["fp"]:
                raise ValueError(
                    f"binlog history mismatch at committed offset "
                    f"{start['file']}:{start['pos']}: the segment's "
                    f"first event fingerprint (ts, server_id, size) "
                    f"is now {now_fp}, the checkpoint recorded "
                    f"{start['fp']} — the name was reused by a "
                    "different history (same-name failover/"
                    "rebuild). Resume with startingGtids on a fresh "
                    "checkpoint (recovery_v2) instead of trusting "
                    "file/pos")
        if (start.get("gtids") and start.get("file") in segs_now
                and not getattr(self, "_start_verified", False)):
            self._verify_start_history(start)
            self._start_verified = True
        if (_seg_key(end["file"]), end["pos"]) < \
                (_seg_key(start["file"]), start["pos"]):
            # cross-restart shrink: the committed offset points past
            # the directory's current end — the append-only contract
            # is broken (truncated/replaced segment). Refuse loudly;
            # silently re-reading would duplicate delivered events.
            raise ValueError(
                f"binlog directory went backward: committed offset "
                f"{start} is past current end {end}; segments are "
                "append-only — a shrunken/replaced segment needs a "
                "fresh checkpoint (recovery_v2)")
        segs = [s for s in _segments(self.path)
                if (not start["file"]
                    or _seg_key(s) >= _seg_key(start["file"]))
                and _seg_key(s) <= _seg_key(end["file"])]
        if (start["file"] and start["file"] not in segs
                and any(_seg_key(s) > _seg_key(start["file"])
                        for s in segs)):
            # the committed START segment was purged while later
            # segments remain: its unread tail is gone. Silently
            # omitting it (the old behavior: the list comprehension
            # just skipped the missing name) would drop those events
            # with no error -- same refuse-loudly contract as the
            # shrink case above.
            raise ValueError(
                f"committed start segment {start['file']!r} is no "
                f"longer in {self.path!r} but later segments exist; "
                "its unread tail has been purged -- recover with a "
                "fresh checkpoint (recovery_v2) or restore the "
                "segment")
        out = []
        for s in segs:
            start_pos = start["pos"] if s == start["file"] else 0
            end_pos = (end["pos"] if s == end["file"] else
                       os.path.getsize(os.path.join(self.path, s)))
            if end_pos > start_pos:
                out.append(_SegmentSlice(self.path, s, start_pos,
                                         end_pos))
        return out

    def read(self, partition: _SegmentSlice) -> Iterator[tuple]:
        from galaxy_spark.cdc.binlog import decode_binlog

        with open(os.path.join(partition.path, partition.fname),
                  "rb") as f:
            blob = f.read(partition.end_pos)
        for ev in decode_binlog(blob):
            if ev.log_pos <= partition.start_pos:
                continue            # replay-skip (C1 Continue())
            if self.include == "ddl":
                if ev.kind == "query" and ev.query != "BEGIN":
                    yield (ev.database, ev.query, ev.timestamp,
                           ev.log_pos, partition.fname)
            elif ev.kind in ("insert", "update", "delete"):
                for row in ev.rows:
                    yield (ev.database, ev.table, ev.kind, row,
                           ev.timestamp, ev.log_pos, partition.fname)

    def commit(self, end: dict) -> None:
        pass                        # checkpoint log owns durability


class BinlogDataSource(DataSource):
    """``spark.dataSource.register(BinlogDataSource)`` then
    ``spark.readStream.format("galaxy_binlog").option("path", dir)``."""

    @classmethod
    def name(cls) -> str:
        return "galaxy_binlog"

    def schema(self) -> str:
        if self.options.get("include", "rows") == "ddl":
            return DDL_SCHEMA
        return SCHEMA

    def streamReader(self, schema: StructType) -> BinlogStreamReader:
        return BinlogStreamReader(self.options)


def binlog_envelope_factory(path: str):
    """TaskManager source factory over binlog segment files: plugs
    the wire-byte tier into the control plane (T1/T2) so a task's
    full lifecycle — create / stop / recovery_v1 / recovery_v2 /
    update-filters — runs against real binlog bytes. Maps the
    source's flat schema into the MQEvent envelope the pipeline's
    filters/projections/routing consume (before/after are P2-P4's
    job downstream)."""
    from pyspark.sql import functions as F

    def factory(spark, spec):
        try:
            spark.dataSource.register(BinlogDataSource)
        except Exception:
            pass  # this session already registered the format
        # recovery_v2 = TRUE jump-to-latest here (the reference's
        # PositionPos=0 -> SHOW MASTER STATUS, update_task.go:63-68):
        # a bumped checkpoint epoch starts the fresh offset log at
        # the directory's current end instead of re-reading history
        # (file-source factories can only approximate this).
        starting = ("latest" if getattr(spec, "checkpoint_epoch", 0)
                    else "earliest")
        raw = (spark.readStream.format("galaxy_binlog")
               .option("path", path)
               .option("startingOffsets", starting).load())
        return raw.select(
            "database", "table", "action", "org_row",
            F.struct(F.col("ts_sec").alias("timestamp"),
                     F.col("log_pos").alias("log_pos"))
            .alias("event_header"))

    return factory
