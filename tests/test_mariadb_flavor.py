"""MariaDB replication flavor: domain-server-sequence GTIDs over
GTID (162) / GTID_LIST (163) events, the @slave_connect_state +
@mariadb_slave_capability handshake over plain COM_BINLOG_DUMP, and
the source's ``flavor=mariadb`` option. The reference reaches
MariaDB through go-mysql's one-string ``Flavor: "mariadb"`` config
(``internal/sync_server/sync.go:47``); these tests drive the same
switch over raw bytes against a fake MariaDB master and
wire-encoder-authored relay segments."""

from __future__ import annotations

import os
import socket
import struct
import threading

import pytest

from galaxy_spark.cdc import replication_client as rc
from galaxy_spark.cdc.binlog import decode_binlog
from tests.fixtures.binlog_wire_encoder import LONG, VARCHAR, BinlogWriter

COLS = [(LONG, 0), (VARCHAR, 64)]


# ------------------------------------------------------------------
# MariaDbGtidSet algebra
# ------------------------------------------------------------------

def test_mariadb_gtidset_algebra():
    s = rc.MariaDbGtidSet.parse("0-1-5, 1-2-7")
    assert s.covers("0-1-5") and s.covers("0-99-4")   # server_id is
    assert not s.covers("0-1-6")                      # provenance,
    assert not s.covers("2-1-1")                      # not ordering
    s.add("0-3-9")                                    # max per domain
    s.add("0-4-2")                                    # lower: ignored
    assert str(s) == "0-3-9,1-2-7"
    t = rc.MariaDbGtidSet.parse("0-8-8,1-2-7")
    assert s.covers_set(t) and not t.covers_set(s)
    u = rc.MariaDbGtidSet()
    assert not u and s
    u.merge(s)
    assert str(u) == str(s)


def test_mariadb_gtidset_refuses_mysql_form_and_vice_versa():
    with pytest.raises(ValueError, match="not a MariaDB GTID"):
        rc.MariaDbGtidSet.parse(
            "0f81a2b3-c4d5-e6f7-0819-22aabbccddee:1-5")
    with pytest.raises(ValueError, match="flavor=mariadb"):
        rc.GtidSet.parse("0-1-100")


def test_start_dump_flavor_gtid_type_check():
    """A flavor/set-class mismatch must fail at the CONFIG, before
    any byte reaches the wire — the two GTID models are not
    convertible."""
    with pytest.raises(ValueError, match="needs MariaDbGtidSet"):
        rc._start_dump(None, 1, "f", 4,
                       gtid_set=rc.GtidSet.parse(
                           "0f81a2b3-c4d5-e6f7-0819-22aabbccddee:1"),
                       flavor="mariadb")
    with pytest.raises(ValueError, match="needs GtidSet"):
        rc._start_dump(None, 1, "f", 4,
                       gtid_set=rc.MariaDbGtidSet.parse("0-1-5"),
                       flavor="mysql")
    with pytest.raises(ValueError, match="unknown flavor"):
        rc._start_dump(None, 1, "f", 4, flavor="percona")


# ------------------------------------------------------------------
# MariaDB event decode (types 160-163)
# ------------------------------------------------------------------

def _mariadb_txn(w: BinlogWriter, domain: int, seq: int,
                 val: int, server_id: int | None = None) -> None:
    """One MariaDB transaction group: the GTID event replaces the
    BEGIN Query (implicit BEGIN without FL_STANDALONE)."""
    w.mariadb_gtid(domain, seq, server_id=server_id)
    w.table_map(7, "shop", "orders", COLS)
    w.write_rows(7, COLS, [[val, f"order-{val}"]])
    w.xid(900 + seq)


def test_mariadb_stream_decodes():
    w = BinlogWriter(server_id=41)
    w.format_description()
    w.mariadb_binlog_checkpoint("mariadb-bin.000001")
    w.mariadb_gtid_list([(0, 41, 3), (1, 7, 9)])
    w.mariadb_annotate_rows("INSERT INTO shop.orders VALUES (4, ..)")
    _mariadb_txn(w, 0, 4, 4)
    w.mariadb_gtid(0, 5, standalone=True)     # DDL: standalone flag
    w.query("shop", "CREATE TABLE t2 (id INT)")
    evs = decode_binlog(w.bytes())
    kinds = [e.kind for e in evs]
    assert kinds == ["format_description", "binlog_checkpoint",
                     "gtid_list", "rows_query", "gtid", "insert",
                     "xid", "gtid", "query"]
    assert evs[1].next_file == "mariadb-bin.000001"
    assert evs[2].gtid == "0-41-3,1-7-9"
    assert "INSERT INTO shop.orders" in evs[3].query
    assert evs[4].gtid == "0-41-4" and evs[4].standalone is False
    assert evs[5].rows[0][0] == ["4", "order-4"]
    assert evs[7].gtid == "0-41-5" and evs[7].standalone is True
    assert evs[4].query is None and evs[7].query is None


def test_mariadb_gtid_server_id_from_header():
    """The GTID's server_id is the event HEADER's — a failover
    changes it while domain sequences continue."""
    w = BinlogWriter(server_id=41)
    w.format_description()
    w.mariadb_gtid(2, 10, server_id=77)
    w.query("shop", "COMMIT")
    evs = decode_binlog(w.bytes())
    assert [e.gtid for e in evs if e.kind == "gtid"] == ["2-77-10"]


# ------------------------------------------------------------------
# Fake MariaDB master: handshake + dump-from-GTID over the wire
# ------------------------------------------------------------------

SCRAMBLE = bytes(range(1, 21))
USER, PASSWORD = "repl", "s3cret"


class FakeMariaDbMaster(threading.Thread):
    """Server side of the MariaDB replication handshake: announces
    a MariaDB version, CHECKS the mysql_native_password proof,
    expects the session-variable dance (@slave_connect_state +
    @mariadb_slave_capability) BEFORE COM_REGISTER_SLAVE, then
    serves only the transaction groups past the connect state over
    plain COM_BINLOG_DUMP — a real mariadbd's observable behavior
    for a capability-4 replica."""

    def __init__(self, sock, txns: list, fde: bytes) -> None:
        super().__init__(daemon=True)
        self.sock = sock
        self.txns = txns          # [(domain, seq, [event bytes])]
        self.fde = fde
        self.seen: dict = {}
        self.error: Exception | None = None

    def _send(self, payload: bytes, seq: int) -> None:
        self.sock.sendall(rc.frame_packet(payload, seq))

    def _read(self) -> tuple[int, bytes]:
        head = b""
        while len(head) < 4:
            head += self.sock.recv(4 - len(head))
        n = head[0] | (head[1] << 8) | (head[2] << 16)
        payload = b""
        while len(payload) < n:
            payload += self.sock.recv(n - len(payload))
        return head[3], payload

    def run(self) -> None:
        try:
            self._run()
        except Exception as exc:
            self.error = exc

    def _run(self) -> None:
        import hashlib

        hs = (bytes([10]) + b"5.5.5-10.6.14-MariaDB-log\x00"
              + struct.pack("<I", 99) + SCRAMBLE[:8] + b"\x00"
              + struct.pack("<H", (rc.CLIENT_SECURE_CONNECTION
                                   | rc.CLIENT_PROTOCOL_41) & 0xFFFF)
              + bytes([33]) + struct.pack("<H", 2)
              + struct.pack("<H", (rc.CLIENT_PLUGIN_AUTH) >> 16)
              + bytes([21]) + bytes(10)
              + SCRAMBLE[8:] + b"\x00"
              + b"mysql_native_password\x00")
        self._send(hs, 0)
        _seq, resp = self._read()
        p = 32
        nul = resp.index(b"\x00", p)
        self.seen["user"] = resp[p:nul].decode()
        n = resp[nul + 1]
        proof = resp[nul + 2:nul + 2 + n]
        h1 = hashlib.sha1(PASSWORD.encode()).digest()
        h2 = hashlib.sha1(h1).digest()
        want = bytes(a ^ b for a, b in zip(
            h1, hashlib.sha1(SCRAMBLE + h2).digest()))
        self.seen["auth_ok"] = proof == want
        self._send(b"\x00\x00\x00\x02\x00\x00\x00", 2)

        # session-variable phase: checksum + connect state +
        # capability, each a COM_QUERY answered with OK
        self.seen["vars"] = {}
        while True:
            _seq, cmd = self._read()
            if cmd[0] != rc.COM_QUERY:
                break
            sql = cmd[1:].decode()
            key = sql.split("=")[0].split("@")[-1].strip()
            self.seen["vars"][key] = sql.partition("=")[2].strip()
            self._send(b"\x00\x00\x00\x02\x00\x00\x00", 1)

        assert cmd[0] == rc.COM_REGISTER_SLAVE
        self.seen["server_id"] = struct.unpack("<I", cmd[1:5])[0]
        self._send(b"\x00\x00\x00\x02\x00\x00\x00", 1)

        _seq, cmd = self._read()
        assert cmd[0] == rc.COM_BINLOG_DUMP
        pos, flags, sid = struct.unpack("<IHI", cmd[1:11])
        self.seen["dump"] = (pos, flags, sid, cmd[11:].decode())

        # resume from the connect state: only groups PAST it (a
        # file/pos resume carries no state -> empty set, serve all)
        state = rc.MariaDbGtidSet.parse(
            self.seen["vars"].get("slave_connect_state", "''")
            .strip("'"))
        seq = 1
        self._send(b"\x00" + self.fde, seq)
        seq += 1
        served = []
        for domain, s_no, events in self.txns:
            if state.covers(f"{domain}-0-{s_no}"):
                continue
            served.append((domain, s_no))
            for ev in events:
                self._send(b"\x00" + ev, seq)
                seq += 1
        self.seen["served"] = served
        self._send(b"\xfe\x00\x00\x02\x00", seq)
        self.sock.close()


def _mariadb_stream_fixture():
    """Three transaction groups (domain 0 seq 1-2, domain 1 seq 1)
    as per-transaction event-byte lists plus the stream FDE."""
    w = BinlogWriter(server_id=41)
    w.format_description()
    marks = []
    for domain, s_no, val in ((0, 1, 10), (0, 2, 20), (1, 1, 30)):
        start = len(w.bytes())
        _mariadb_txn(w, domain, s_no, val)
        marks.append((domain, s_no, start, len(w.bytes())))
    blob = w.bytes()[4:]                    # strip magic
    # split into per-event byte strings, then group by transaction
    events, off = [], 0
    while off < len(blob):
        size = struct.unpack("<I", blob[off + 9:off + 13])[0]
        events.append((off + 4, blob[off:off + size]))
        off += size
    fde = events[0][1]
    txns = []
    for domain, s_no, start, end in marks:
        txns.append((domain, s_no,
                     [ev for pos, ev in events
                      if start <= pos < end]))
    return txns, fde


def test_mariadb_fake_master_gtid_resume():
    """The full wire path: MariaDB handshake, session-variable
    resume state, plain COM_BINLOG_DUMP with an empty file name,
    and only the uncovered transaction groups delivered + decoded
    (domain 0 covered through seq 1 -> groups 0-2 and 1-1 arrive)."""
    txns, fde = _mariadb_stream_fixture()
    client_sock, server_sock = socket.socketpair()
    master = FakeMariaDbMaster(server_sock, txns, fde)
    master.start()
    got = list(rc.tail_binlog(
        client_sock, USER, PASSWORD, server_id=4321,
        file="", pos=4, flavor="mariadb",
        gtid_set=rc.MariaDbGtidSet.parse("0-41-1")))
    master.join(timeout=10)
    assert master.error is None
    assert master.seen["auth_ok"] and master.seen["user"] == USER
    assert master.seen["vars"]["slave_connect_state"] == "'0-41-1'"
    assert master.seen["vars"]["mariadb_slave_capability"] == "4"
    assert "master_binlog_checksum" in master.seen["vars"]
    assert master.seen["server_id"] == 4321
    pos, _flags, _sid, fname = master.seen["dump"]
    assert fname == "" and pos == 4        # connect state owns it
    assert master.seen["served"] == [(0, 2), (1, 1)]
    gtids = [e.gtid for e in got if e.kind == "gtid"]
    assert gtids == ["0-41-2", "1-41-1"]
    vals = [r[0][0] for e in got if e.kind == "insert"
            for r in e.rows]
    assert vals == ["20", "30"]


def test_mariadb_relay_to_segments_over_wire(tmp_path):
    """The relay writer against the MariaDB master: segments land
    decodable with the flavor's GTID events intact."""
    txns, fde = _mariadb_stream_fixture()
    client_sock, server_sock = socket.socketpair()
    master = FakeMariaDbMaster(server_sock, txns, fde)
    master.start()
    out = str(tmp_path / "maria_relay")
    n = rc.relay_to_segments(
        client_sock, USER, PASSWORD, server_id=99,
        file="mariadb-bin.000001", pos=4, out_dir=out,
        flavor="mariadb",
        gtid_set=rc.MariaDbGtidSet.parse("0-41-2,1-41-1"))
    master.join(timeout=10)
    assert master.error is None
    assert master.seen["served"] == []     # everything covered
    assert n == 0
    client_sock2, server_sock2 = socket.socketpair()
    master2 = FakeMariaDbMaster(server_sock2, txns, fde)
    master2.start()
    n2 = rc.relay_to_segments(
        client_sock2, USER, PASSWORD, server_id=99,
        file="mariadb-bin.000001", pos=4, out_dir=out,
        flavor="mariadb",
        gtid_set=rc.MariaDbGtidSet.parse("0-41-1"))
    master2.join(timeout=10)
    assert master2.error is None and n2 > 0
    seg = os.path.join(out, "mariadb-bin.000001.bin")
    with open(seg, "rb") as f:
        evs = decode_binlog(f.read())
    assert [e.gtid for e in evs if e.kind == "gtid"] == \
        ["0-41-2", "1-41-1"]
    assert [r[0][0] for e in evs if e.kind == "insert"
            for r in e.rows] == ["20", "30"]


# ------------------------------------------------------------------
# Source option flavor=mariadb (file-tier auto-position + gates)
# ------------------------------------------------------------------

def _maria_relay_dir(tmp_path, name="mdb_relay"):
    """Two segments: seg 1 = domain 0 seqs 1-2, seg 2 = domain 0
    seq 3 + domain 1 seq 1, GTID_LIST-led."""
    d = str(tmp_path / name)
    os.makedirs(d)
    w1 = BinlogWriter(server_id=41)
    w1.format_description()
    _mariadb_txn(w1, 0, 1, 1)
    _mariadb_txn(w1, 0, 2, 2)
    with open(os.path.join(d, "mariadb-bin.000001.bin"), "wb") as f:
        f.write(w1.bytes())
    w2 = BinlogWriter(server_id=41)
    w2.format_description()
    w2.mariadb_gtid_list([(0, 41, 2)])
    _mariadb_txn(w2, 0, 3, 3)
    _mariadb_txn(w2, 1, 1, 4)
    with open(os.path.join(d, "mariadb-bin.000002.bin"), "wb") as f:
        f.write(w2.bytes())
    return d


def _mk_reader(d, **opts):
    from galaxy_spark.sources.binlog_source import BinlogStreamReader

    return BinlogStreamReader({"path": d, "flavor": "mariadb",
                               **opts})


def test_source_mariadb_auto_position_resumes_uncovered(tmp_path):
    d = _maria_relay_dir(tmp_path)
    rd = _mk_reader(d, startingGtids="0-41-2")
    off = rd.initialOffset()
    assert off["file"] == "mariadb-bin.000002.bin"
    # carried set text is the flavor's own form
    assert off["gtids"] == "0-41-2"
    rd2 = _mk_reader(d, startingGtids="0-41-3,1-41-1")
    assert rd2.initialOffset()["file"] == "mariadb-bin.000002.bin"
    assert rd2._offset_after_gtids("0-41-3,1-41-1") == \
        rd2._end_of_dir()


def test_source_mariadb_purge_gate_via_gtid_list(tmp_path):
    """The first retained segment's GTID_LIST declares purged
    history — an executed set below it must refuse (error-1236
    analog), a covering set resumes."""
    d = _maria_relay_dir(tmp_path)
    os.remove(os.path.join(d, "mariadb-bin.000001.bin"))
    rd = _mk_reader(d, startingGtids="0-41-1")   # 0-*-2 purged
    with pytest.raises(ValueError, match="GTID_LIST"):
        rd.initialOffset()
    ok = _mk_reader(d, startingGtids="0-41-2")
    assert ok.initialOffset()["file"] == "mariadb-bin.000002.bin"


def test_source_mariadb_carried_offsets_relocate_on_failover(
        tmp_path):
    """Mid-stream failover with MariaDB-flavor carried sets: the
    committed offset's domain positions re-locate the boundary in
    the renamed history (the r9 GTID-continuity machinery through
    the flavor seam)."""
    d = _maria_relay_dir(tmp_path)
    rd = _mk_reader(d)
    rd.initialOffset()
    end = rd.latestOffset()
    assert end["gtids"] == "0-41-3,1-41-1"

    # rebuild under new names: same history + one new transaction
    for f in os.listdir(d):
        os.remove(os.path.join(d, f))
    w = BinlogWriter(server_id=52)
    w.format_description()
    for domain, s_no, val, sid in ((0, 1, 1, 41), (0, 2, 2, 41),
                                   (0, 3, 3, 41), (1, 1, 4, 41),
                                   (0, 4, 5, 52)):
        _mariadb_txn(w, domain, s_no, val, server_id=sid)
    with open(os.path.join(d, "failover-bin.000001.bin"), "wb") as f:
        f.write(w.bytes())

    rd2 = _mk_reader(d)
    start = rd2._resolve_offset(end, ["failover-bin.000001.bin"],
                                is_start=True)
    assert start["file"] == "failover-bin.000001.bin"
    new_end = rd2._end_of_dir()
    parts = rd2.partitions(start, new_end)
    vals = [int(row[3][0][0]) for p in parts for row in rd2.read(p)]
    assert vals == [5], "exactly the new transaction, no replay"


def test_mariadb_capability_sent_without_gtid_resume():
    """r10 review: @mariadb_slave_capability=4 must be sent for the
    FLAVOR, not only for GTID resume — a real mariadbd substitutes
    GTID/GTID_LIST events with MySQL-compat dummies for
    capability < 4, silently disabling every downstream GTID gate
    on a file/pos-resumed stream."""
    txns, fde = _mariadb_stream_fixture()
    client_sock, server_sock = socket.socketpair()
    master = FakeMariaDbMaster(server_sock, txns, fde)
    master.start()
    got = list(rc.tail_binlog(client_sock, USER, PASSWORD,
                              server_id=5, file="mariadb-bin.000001",
                              pos=4, flavor="mariadb"))
    master.join(timeout=10)
    assert master.error is None
    assert master.seen["vars"]["mariadb_slave_capability"] == "4"
    assert "slave_connect_state" not in master.seen["vars"]
    assert [e.gtid for e in got if e.kind == "gtid"] == \
        ["0-41-1", "0-41-2", "1-41-1"]


def test_mariadb_corrupt_gtid_list_refused(tmp_path):
    """r10 review: a GTID_LIST whose count field claims more
    entries than the body holds must refuse loudly —
    int.from_bytes(b'') == 0 would otherwise fabricate 0-0-0
    entries into the executed set the purge/history gates compare
    against."""
    from tests.fixtures.binlog_wire_encoder import le

    d = str(tmp_path / "bad_list")
    os.makedirs(d)
    w = BinlogWriter(server_id=41)
    w.format_description()
    w._emit(163, le(100, 4) + le(0, 4) + le(41, 4) + le(7, 8))
    _mariadb_txn(w, 0, 8, 8)
    with open(os.path.join(d, "mariadb-bin.000001.bin"), "wb") as f:
        f.write(w.bytes())
    rd = _mk_reader(d)
    with pytest.raises(ValueError, match="corrupt MariaDB GTID_LIST"):
        rd._scan_gtids()


def test_mariadb_reference_shape_chain(spark, tmp_path):
    """MariaDB twin of the MySQL reference-shape chain test
    (test_binlog_source.py::test_reference_shape_pipeline_end_to_end):
    fake-master WIRE bytes -> relay writer -> galaxy_binlog source
    with flavor=mariadb -> db filter -> projections -> keyed topic
    sink -> a downstream consumer folding the published topic into
    the durable snapshot store — with a producer kill/restart
    between two wire passes (recovery_v1 from the same checkpoint:
    phase A's events are not re-published) and the second pass
    resuming over the flavor's own connect-state GTIDs."""
    import glob
    import json

    from pyspark.sql import functions as F

    from galaxy_spark.cdc.filters import TaskFilter
    from galaxy_spark.sinks_topic import TopicFilesDataSource
    from galaxy_spark.sources.binlog_source import BinlogDataSource
    from galaxy_spark.streaming.pipeline import (SinkConfig,
                                                 start_pipeline)
    from galaxy_spark.streaming.state_store import (
        SNAPSHOT_SPEC, KeyedParquetStore, partial_snapshot)

    for ds in (BinlogDataSource, TopicFilesDataSource):
        try:
            spark.dataSource.register(ds)
        except Exception:
            pass

    relay = str(tmp_path / "m_relay")
    txns, fde = _mariadb_stream_fixture()

    # phase A: the master has only the first two groups; the relay
    # writer lands them in a segment
    cs, ss = socket.socketpair()
    m1 = FakeMariaDbMaster(ss, txns[:2], fde)
    m1.start()
    n1 = rc.relay_to_segments(cs, USER, PASSWORD, server_id=99,
                              file="mariadb-bin.000001", pos=4,
                              out_dir=relay, flavor="mariadb",
                              gtid_set=rc.MariaDbGtidSet())
    m1.join(timeout=10)
    assert m1.error is None and n1 > 0

    topics = str(tmp_path / "m_topics")
    ckpt = str(tmp_path / "m_ck")

    def start():
        raw = (spark.readStream.format("galaxy_binlog")
               .option("path", relay)
               .option("flavor", "mariadb").load())
        env = raw.select(
            "database", "table", "action", "org_row",
            F.struct(F.col("ts_sec").alias("timestamp"),
                     F.col("log_pos").alias("log_pos"))
            .alias("event_header"))
        return start_pipeline(
            env, "t_mdb", TaskFilter(databases=("shop",)),
            ["id", "note"],
            SinkConfig("topic_files", {"path": topics}), ckpt)

    q = start()
    q.processAllAvailable()
    q.stop()                                   # the "kill"

    # phase B: a second wire pass, connect state = what the relay
    # already holds — the master serves ONLY the remaining group,
    # the relay appends it, the restarted pipeline publishes it
    cs2, ss2 = socket.socketpair()
    m2 = FakeMariaDbMaster(ss2, txns, fde)
    m2.start()
    n2 = rc.relay_to_segments(cs2, USER, PASSWORD, server_id=99,
                              file="mariadb-bin.000001", pos=4,
                              out_dir=relay, flavor="mariadb",
                              gtid_set=rc.MariaDbGtidSet.parse("0-41-2"))
    m2.join(timeout=10)
    assert m2.error is None and n2 > 0
    assert m2.seen["served"] == [(1, 1)]
    q = start()
    q.processAllAvailable()
    q.stop()

    msgs = []
    for f in glob.glob(f"{topics}/t_mdb.shop.orders/batch-*.jsonl"):
        with open(f) as fh:
            msgs.extend(json.loads(ln) for ln in fh)
    # conservation across the restart: three inserts total, exactly
    # once each, all keyed db.table
    assert len(msgs) == 3
    assert {m["key"] for m in msgs} == {"shop.orders"}
    assert sorted(os.listdir(topics)) == ["t_mdb.shop.orders"]

    # downstream consumer: topic -> snapshot store fold
    vschema = ("database string, `table` string, action string, "
               "before map<string,string>, after map<string,string>, "
               "org_row array<array<string>>, "
               "event_header struct<timestamp:bigint,log_pos:bigint>")
    raw = spark.read.json(f"{topics}/t_mdb.shop.orders/batch-*.jsonl",
                          schema="key string, value string")
    img = F.coalesce(F.col("m.after"), F.col("m.before"))
    changes = (raw.select(F.from_json("value", vschema).alias("m"))
               .select("m.database", "m.table", "m.action",
                       F.element_at(img, "id").cast("long").alias("pk"),
                       F.element_at(img, "id").cast("double").alias("v"),
                       F.col("m.event_header.log_pos").alias("pos")))
    store = KeyedParquetStore(spark, str(tmp_path / "m_snap"), SNAPSHOT_SPEC)
    store.merge(partial_snapshot(changes), "mconsume.000000000000")
    assert [(r[0], r[1], r[2]) for r in store.snapshot()] == \
        [("shop", "orders", 10), ("shop", "orders", 20),
         ("shop", "orders", 30)]
