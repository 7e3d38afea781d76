"""The galaxy_binlog Python streaming DataSource (Spark 4 API):
binlog BYTES -> micro-batches, with (file, pos) offsets, rotation
across segments, replay-skip resume, and startingOffsets=latest —
S1 as an actual Spark source (SURVEY §2.1 S1's named mapping),
driven end-to-end on the recorded wire-format fixture."""

from __future__ import annotations

import os
import re
import shutil
import struct

import pytest

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures",
                       "binlog_v4_sample.bin")


def _second_segment() -> bytes:
    """A follow-on binlog segment authored with the fixture
    builder's helpers (code-disjoint from the decoder): new
    TABLE_MAP (state never leaks across segments) + one insert."""
    import tests.fixtures.make_binlog_fixture as B

    s = B.Stream()
    s.event(15, B.fde_body())
    s.event(19, B.table_map_body())
    s.event(30, B.rows_body([B.row_image(9, 2, 7.5, "rotated")]))
    return s.bytes()


@pytest.fixture()
def binlog_dir(tmp_path):
    d = str(tmp_path / "binlogs")
    os.makedirs(d)
    shutil.copy(FIXTURE, os.path.join(d, "binlog.000001.bin"))
    return d


def _start(spark, d, name, ckpt, starting="earliest"):
    from galaxy_spark.sources.binlog_source import BinlogDataSource

    try:
        spark.dataSource.register(BinlogDataSource)
    except Exception:
        pass  # already registered in this session
    return (spark.readStream.format("galaxy_binlog")
            .option("path", d).option("startingOffsets", starting)
            .load()
            .writeStream.format("memory").queryName(name)
            .option("checkpointLocation", ckpt).start())


def test_stream_matches_batch_decode(spark, binlog_dir, tmp_path):
    """First micro-batch == the batch byte decode of the segment:
    same rows, same positions, plus the source's file column."""
    from galaxy_spark.cdc.binlog import mq_rows_from_binlog

    q = _start(spark, binlog_dir, "bl_out", str(tmp_path / "ck"))
    q.processAllAvailable()
    got = {(r.database, r["table"], r.action,
            tuple(tuple(x) for x in r.org_row), r.ts_sec, r.log_pos,
            r.binlog_file)
           for r in spark.sql("SELECT * FROM bl_out").collect()}
    with open(FIXTURE, "rb") as f:
        want = {(db, tbl, act, tuple(tuple(x) for x in rows), ts, pos,
                 "binlog.000001.bin")
                for db, tbl, act, rows, ts, pos
                in mq_rows_from_binlog(f.read())}
    assert got == want and len(want) == 4
    q.stop()


def test_rotation_and_incremental_offsets(spark, binlog_dir, tmp_path):
    """Appending a rotated segment between micro-batches delivers
    ONLY the new events (offset advance, no replay of segment 1),
    with fresh TABLE_MAP state decoded inside the new segment."""
    q = _start(spark, binlog_dir, "bl_rot", str(tmp_path / "ck"))
    q.processAllAvailable()
    n1 = spark.sql("SELECT count(*) c FROM bl_rot").collect()[0]["c"]

    with open(os.path.join(binlog_dir, "binlog.000002.bin"), "wb") as f:
        f.write(_second_segment())
    q.processAllAvailable()
    rows = spark.sql("SELECT * FROM bl_rot").collect()
    assert len(rows) == n1 + 1
    (new,) = [r for r in rows if r.binlog_file == "binlog.000002.bin"]
    assert new.action == "insert"
    assert [list(x) for x in new.org_row] == [["9", "2", "7.5",
                                              "rotated"]]
    q.stop()


def test_starting_offsets_latest_skips_history(spark, binlog_dir,
                                               tmp_path):
    """S2 parity (SHOW MASTER STATUS): a latest-start stream sees
    nothing until new bytes land, then exactly the new events."""
    q = _start(spark, binlog_dir, "bl_latest", str(tmp_path / "ck"),
               starting="latest")
    q.processAllAvailable()
    assert spark.sql("SELECT count(*) c FROM bl_latest") \
        .collect()[0]["c"] == 0

    with open(os.path.join(binlog_dir, "binlog.000002.bin"), "wb") as f:
        f.write(_second_segment())
    q.processAllAvailable()
    rows = spark.sql("SELECT * FROM bl_latest").collect()
    assert [r.log_pos for r in rows] and len(rows) == 1
    q.stop()


def test_replay_skip_on_mid_segment_resume(spark, binlog_dir, tmp_path):
    """Growing the LAST segment between batches must deliver only
    events past the consumed end-position — the C1 Continue()
    replay-skip, here across a re-decoded segment prefix."""
    seg1 = os.path.join(binlog_dir, "binlog.000001.bin")
    with open(seg1, "rb") as f:
        full = f.read()
    # truncate segment 1 to just past the first rows event (insert):
    # magic + FDE + BEGIN + TABLE_MAP + WRITE_ROWS
    off, sizes = 4, []
    while off < len(full):
        size = struct.unpack("<I", full[off + 9:off + 13])[0]
        sizes.append(size)
        off += size
    cut = 4 + sum(sizes[:4])
    with open(seg1, "wb") as f:
        f.write(full[:cut])

    q = _start(spark, binlog_dir, "bl_resume", str(tmp_path / "ck"))
    q.processAllAvailable()
    n1 = spark.sql("SELECT count(*) c FROM bl_resume").collect()[0]["c"]
    assert n1 == 2  # the two inserted rows

    with open(seg1, "ab") as f:   # segment GROWS to its full length
        f.write(full[cut:])       # (append-only, like a real writer)
    q.processAllAvailable()
    rows = spark.sql("SELECT * FROM bl_resume").collect()
    # update + delete arrive once; the re-decoded prefix's inserts
    # are skipped by log_pos, not re-emitted
    assert sorted(r.action for r in rows) == ["delete", "insert",
                                              "insert", "update"]
    q.stop()


def test_live_tail_mid_append_offset_is_event_aligned(spark, binlog_dir,
                                                      tmp_path):
    """A writer caught MID-APPEND must not poison the stream: the
    sampled end offset stops at the last complete event, the torn
    tail is never sliced into a micro-batch (which would fail the
    same (start, end) range on every retry), and once the event's
    remaining bytes land it is delivered exactly once."""
    seg1 = os.path.join(binlog_dir, "binlog.000001.bin")
    with open(seg1, "rb") as f:
        full = f.read()
    # cut INSIDE the DELETE_ROWS event (stream event #5): FDE,
    # BEGIN, TABLE_MAP, WRITE, UPDATE complete; DELETE half-written
    off, sizes = 4, []
    while off < len(full):
        size = struct.unpack("<I", full[off + 9:off + 13])[0]
        sizes.append(size)
        off += size
    torn_cut = 4 + sum(sizes[:5]) + sizes[5] // 2
    with open(seg1, "wb") as f:
        f.write(full[:torn_cut])

    from galaxy_spark.sources.binlog_source import _aligned_end
    assert _aligned_end(seg1) == 4 + sum(sizes[:5])

    q = _start(spark, binlog_dir, "bl_tail", str(tmp_path / "ck"))
    q.processAllAvailable()           # would raise pre-fix
    rows = spark.sql("SELECT * FROM bl_tail").collect()
    assert sorted(r.action for r in rows) == ["insert", "insert",
                                              "update"]

    with open(seg1, "ab") as f:       # the append completes
        f.write(full[torn_cut:])
    q.processAllAvailable()
    rows = spark.sql("SELECT * FROM bl_tail").collect()
    assert sorted(r.action for r in rows) == ["delete", "insert",
                                              "insert", "update"]
    q.stop()


def test_bytes_to_snapshot_store_full_chain(spark, binlog_dir, tmp_path):
    """The round-6 capstone: wire-format bytes -> galaxy_binlog
    streaming source (S1) -> projection chain (P1-P4) -> latest-wins
    fold -> executor-side parquet MERGE store (C1's consumer) —
    every stage the reference pipeline has, end to end, including a
    segment rotation mid-stream. Final table state is asserted
    against the hand-derived truth of the recorded events."""
    from pyspark.sql import functions as F

    from galaxy_spark.cdc.projections import project_changes
    from galaxy_spark.sources.binlog_source import BinlogDataSource
    from galaxy_spark.streaming.state_store import (
        SNAPSHOT_SPEC, KeyedParquetStore, start_incremental_snapshot_parquet)

    try:
        spark.dataSource.register(BinlogDataSource)
    except Exception:
        pass
    raw = (spark.readStream.format("galaxy_binlog")
           .option("path", binlog_dir).load())
    proj = project_changes(raw, ["id", "qty", "amount", "note"])
    changes = (proj.filter(~F.col("quarantined"))
               .select("database", "table", "action",
                       F.coalesce(F.col("after.id"), F.col("before.id"))
                       .cast("long").alias("pk"),
                       F.coalesce(F.col("after.amount"),
                                  F.col("before.amount"))
                       .cast("double").alias("v"),
                       F.col("log_pos").alias("pos")))
    store = KeyedParquetStore(spark, str(tmp_path / "snap"), SNAPSHOT_SPEC)
    q = start_incremental_snapshot_parquet(
        changes, store, str(tmp_path / "ck"))
    q.processAllAvailable()

    # segment 1 folds: id 1 inserted@299 then deleted@442 (tombstone
    # drops, 2 changes); id 2 inserted@299 then updated@390 -> 21.0
    assert store.snapshot() == [("shop", "orders", 2, 21.0, 390, 2)]

    with open(os.path.join(binlog_dir, "binlog.000002.bin"), "wb") as f:
        f.write(_second_segment())
    q.processAllAvailable()
    q.stop()
    snap = store.snapshot()
    assert ("shop", "orders", 2, 21.0, 390, 2) in snap
    (_, _, pk9, v9, _, n9) = [r for r in snap if r[2] == 9][0]
    assert (pk9, v9, n9) == (9, 7.5, 1) and len(snap) == 2


def test_shrunken_segment_after_restart_refuses_loudly(spark,
                                                       binlog_dir,
                                                       tmp_path):
    """Binlog segments are append-only; if a restart finds the
    committed offset PAST the directory's current end (truncated or
    replaced segment), the source must refuse loudly — silently
    planning from the smaller end would move the checkpoint
    backward and re-deliver everything after it."""
    from pyspark.sql.streaming import StreamingQueryException

    from galaxy_spark.sources.binlog_source import BinlogDataSource

    try:
        spark.dataSource.register(BinlogDataSource)
    except Exception:
        pass

    def start():
        # memory sinks refuse checkpoint recovery; restart tests
        # need a foreachBatch sink
        return (spark.readStream.format("galaxy_binlog")
                .option("path", binlog_dir).load()
                .writeStream
                .option("checkpointLocation", str(tmp_path / "ck"))
                .foreachBatch(lambda b, e: b.count())
                .start())

    q = start()
    q.processAllAvailable()
    q.stop()

    seg = os.path.join(binlog_dir, "binlog.000001.bin")
    with open(seg, "rb+") as f:       # segment shrinks while down
        f.truncate(os.path.getsize(seg) // 2)
    q = start()
    with pytest.raises(StreamingQueryException,
                       match="went backward|append-only"):
        q.processAllAvailable()
        q.awaitTermination(30)
    q.stop()


def test_reference_shape_pipeline_end_to_end(spark, binlog_dir,
                                             tmp_path):
    """The reference's ENTIRE purpose as one executable assertion
    (``sync.go:120-188`` -> ``kafka.go:97-127`` -> consumer):
    binlog wire BYTES -> galaxy_binlog source (S1) -> db filter
    (F1) -> projections with quarantine (P2-P4) -> keyed topic sink
    (K1, broker-less DataSource twin) with dead-letter routing ->
    a DOWNSTREAM CONSUMER parsing the published topics and folding
    them into the durable snapshot store — including a producer
    kill/restart mid-stream (recovery_v1: the checkpoint's (file,
    pos) offset resumes, already-published events are not
    re-published) and a mid-stream rotation to a segment whose
    table does NOT match the attached schema (its rows must survive
    on the DLQ topic, not vanish and not kill the stream)."""
    from types import SimpleNamespace

    from pyspark.sql import functions as F

    from galaxy_spark.cdc.filters import TaskFilter
    from galaxy_spark.sinks_topic import TopicFilesDataSource
    from galaxy_spark.sources.binlog_source import binlog_envelope_factory
    from galaxy_spark.streaming.pipeline import SinkConfig, start_pipeline
    from galaxy_spark.streaming.state_store import (
        SNAPSHOT_SPEC, KeyedParquetStore, partial_snapshot)

    try:
        spark.dataSource.register(TopicFilesDataSource)
    except Exception:
        pass
    topics = str(tmp_path / "topics")
    ckpt = str(tmp_path / "pipe_ck")
    env_factory = binlog_envelope_factory(binlog_dir)

    def start():
        env = env_factory(spark, SimpleNamespace(checkpoint_epoch=0))
        return start_pipeline(
            env, "t_ref", TaskFilter(databases=("shop",)),
            ["id", "qty", "amount", "note"],
            SinkConfig("topic_files", {"path": topics}), ckpt)

    # phase A: segment 1 (shop.orders, well-formed) -> publish
    q = start()
    q.processAllAvailable()
    q.stop()                                  # the "kill"

    # phase B: rotation lands a segment of a DIFFERENT table
    # (shop.payments, 13 columns vs the attached 4-column schema ->
    # every row quarantines); restart from the same checkpoint
    rich = os.path.join(os.path.dirname(__file__), "fixtures",
                        "binlog_v4_rich.bin")
    shutil.copy(rich, os.path.join(binlog_dir, "binlog.000002.bin"))
    q = start()
    q.processAllAvailable()
    q.stop()

    import glob
    import json

    def topic_rows(topic):
        out = []
        for f in glob.glob(f"{topics}/{topic}/batch-*.jsonl"):
            with open(f) as fh:
                out.extend(json.loads(ln) for ln in fh)
        return out

    good = topic_rows("t_ref.shop.orders")
    dlq = topic_rows("t_ref.deadletter.shop.payments")
    # conservation across the restart: segment 1's 4 row-changes
    # published exactly once (no re-publish after recovery_v1),
    # segment 2's 4 row-changes all on the DLQ with full payloads
    assert len(good) == 4 and len(dlq) == 4
    assert {m["key"] for m in good} == {"shop.orders"}
    assert {m["key"] for m in dlq} == {"shop.payments"}
    assert all("org_row" in m["value"] for m in dlq)
    assert sorted(os.listdir(topics)) == [
        "t_ref.deadletter.shop.payments", "t_ref.shop.orders"]

    # downstream consumer: parse the published topic and fold it
    # into the durable snapshot store (the reference's Kafka
    # consumer re-expressed)
    vschema = ("database string, `table` string, action string, "
               "before map<string,string>, after map<string,string>, "
               "org_row array<array<string>>, "
               "event_header struct<timestamp:bigint,log_pos:bigint>")
    msgs = spark.read.json(f"{topics}/t_ref.shop.orders/batch-*.jsonl",
                           schema="key string, value string")
    img = F.coalesce(F.col("m.after"), F.col("m.before"))
    changes = (msgs.select(F.from_json("value", vschema).alias("m"))
               .select("m.database", "m.table", "m.action",
                       F.element_at(img, "id").cast("long").alias("pk"),
                       F.element_at(img, "amount").cast("double")
                       .alias("v"),
                       F.col("m.event_header.log_pos").alias("pos")))
    store = KeyedParquetStore(spark, str(tmp_path / "consumer_snap"),
                              SNAPSHOT_SPEC)
    store.merge(partial_snapshot(changes), "consume.000000000000")
    # hand-derived truth of segment 1: id 1 inserted then deleted
    # (tombstone), id 2 inserted@299 then updated@390 -> 21.0
    assert store.snapshot() == [("shop", "orders", 2, 21.0, 390, 2)]


def _run_registry_pipeline(spark, binlog_dir, tmp_path, registry):
    """``start_pipeline`` with a registry frame over both fixture
    segments (shop.orders, then shop.payments). Returns the stopped
    query and the message count published on each topic."""
    import glob
    from types import SimpleNamespace

    from galaxy_spark.cdc.filters import TaskFilter
    from galaxy_spark.sinks_topic import TopicFilesDataSource
    from galaxy_spark.sources.binlog_source import binlog_envelope_factory
    from galaxy_spark.streaming.pipeline import SinkConfig, start_pipeline

    try:
        spark.dataSource.register(TopicFilesDataSource)
    except Exception:
        pass
    rich = os.path.join(os.path.dirname(__file__), "fixtures",
                        "binlog_v4_rich.bin")
    shutil.copy(rich, os.path.join(binlog_dir, "binlog.000002.bin"))
    topics = str(tmp_path / "topics")
    env = binlog_envelope_factory(binlog_dir)(
        spark, SimpleNamespace(checkpoint_epoch=0))
    q = start_pipeline(
        env, "t_reg", TaskFilter(databases=("shop",)),
        spark.createDataFrame(
            registry,
            "database string, `table` string, columns array<string>"),
        SinkConfig("topic_files", {"path": topics}),
        str(tmp_path / "ck"))
    q.processAllAvailable()
    q.stop()

    def lines(path):
        with open(path) as fh:
            return sum(1 for _line in fh)
    return q, {t: sum(map(lines, glob.glob(f"{topics}/{t}/batch-*.jsonl")))
               for t in os.listdir(topics)}


_ORDERS = [("shop", "orders", ["id", "qty", "amount", "note"])]


def test_registry_pipeline_counts_each_row_change_once(spark, binlog_dir,
                                                       tmp_path):
    """The dead-letter routing rides the same scan as the good rows:
    the query's progress counts each of the 8 decoded row-changes
    once (a union of the two routes read the source twice and
    reported 16), and each lands on its own topic."""
    q, published = _run_registry_pipeline(spark, binlog_dir, tmp_path,
                                          _ORDERS)
    assert sum(p["numInputRows"] for p in q.recentProgress) == 8
    assert published == {"t_reg.shop.orders": 4,
                         "t_reg.deadletter.shop.payments": 4}


def test_registry_pipeline_plan_is_one_scan(spark, binlog_dir, tmp_path):
    """The final micro-batch plan reads the source once (no Union)
    and broadcasts the registry from the driver-local snapshot taken
    at query start, not from a Python RDD scan."""
    from galaxy_spark.plans.audit import streaming_plan

    q, _ = _run_registry_pipeline(spark, binlog_dir, tmp_path, _ORDERS)
    final = streaming_plan(q).split("== Initial Plan ==")[0]
    assert "== Final Plan ==" in final
    assert final.count("MicroBatchScan") == 1
    assert "Union" not in final
    assert re.search(r"BroadcastExchange .*\n\s*\+- LocalTableScan ",
                     final)


def test_empty_registry_routes_every_row_to_dead_letter(spark, binlog_dir,
                                                        tmp_path):
    """With no table in the registry every row quarantines: all 8
    row-changes reach their table's dead-letter topic and the query
    does not fail."""
    _, published = _run_registry_pipeline(spark, binlog_dir, tmp_path, [])
    assert published == {"t_reg.deadletter.shop.orders": 4,
                         "t_reg.deadletter.shop.payments": 4}


def test_checkpoint_restart_resumes_from_saved_offset(spark, binlog_dir,
                                                      tmp_path):
    """Kill the query, append a segment, restart from the SAME
    checkpoint: Spark must hand the source its committed (file,pos)
    offset and the restarted stream must deliver only the new
    events — the reference's recovery_v1 (resume saved position)
    against real wire bytes."""
    from galaxy_spark.sources.binlog_source import BinlogDataSource

    try:
        spark.dataSource.register(BinlogDataSource)
    except Exception:
        pass
    ckpt, out = str(tmp_path / "ck"), str(tmp_path / "out")

    def start():
        # parquet sink: the memory sink refuses checkpoint recovery
        return (spark.readStream.format("galaxy_binlog")
                .option("path", binlog_dir).load()
                .writeStream.format("parquet").option("path", out)
                .option("checkpointLocation", ckpt).start())

    q = start()
    q.processAllAvailable()
    q.stop()
    assert spark.read.parquet(out).count() == 4

    with open(os.path.join(binlog_dir, "binlog.000002.bin"), "wb") as f:
        f.write(_second_segment())

    q2 = start()
    q2.processAllAvailable()
    q2.stop()
    rows = spark.read.parquet(out).collect()
    # exactly one new row appended — segment 1 was not replayed
    assert len(rows) == 5
    assert sorted(r.binlog_file for r in rows)[-1] == "binlog.000002.bin"
    assert sum(r.binlog_file == "binlog.000002.bin" for r in rows) == 1


def test_ddl_stream_maintains_schema_registry(spark, binlog_dir,
                                              tmp_path):
    """include='ddl': QUERY events stream on their own branch (S3's
    dispatch) and drive the P5 evolution path per micro-batch — the
    cached column list for shop.orders gains the ALTER's column,
    exactly what the reference's updateSchema does from the same
    wire bytes (sync.go:168-174, baseinfo.go:100-251)."""
    from galaxy_spark.cdc.ddl import parse_alter
    from galaxy_spark.sources.binlog_source import BinlogDataSource

    try:
        spark.dataSource.register(BinlogDataSource)
    except Exception:
        pass
    columns = {"shop.orders": ["id", "qty", "amount", "note"]}

    def handle(batch_df, epoch_id):
        for r in batch_df.collect():        # DDL is rare + tiny
            stmt = parse_alter(r.query)
            if stmt is None:
                continue
            key = f"{stmt.database or r.database}.{stmt.table}"
            cols = columns.setdefault(key, [])
            for op in stmt.ops:
                if type(op).__name__ == "AddColumn":
                    cols.append(op.name)
                elif type(op).__name__ == "DropColumn":
                    cols.remove(op.name)

    q = (spark.readStream.format("galaxy_binlog")
         .option("path", binlog_dir).option("include", "ddl").load()
         .writeStream
         .option("checkpointLocation", str(tmp_path / "ddl_ck"))
         .foreachBatch(handle).start())
    q.processAllAvailable()
    q.stop()
    assert columns["shop.orders"] == ["id", "qty", "amount", "note",
                                      "coupon"]


def test_corrupt_segment_fails_query_loudly(spark, binlog_dir, tmp_path):
    """A COMPLETE but invalid event appended to a segment must
    surface as a streaming query error (the decoder's
    refuse-don't-guess contract carried through the source), never
    as silently dropped events. Bytes that never parse as a
    complete event header, by contrast, are indistinguishable from
    a writer mid-append — they are held back by the event-aligned
    offset, not crashed on (a real replica tailing the wire waits
    the same way)."""
    from pyspark.sql.streaming import StreamingQueryException

    q = _start(spark, binlog_dir, "bl_corrupt", str(tmp_path / "ck"))
    q.processAllAvailable()
    n1 = spark.sql("SELECT count(*) c FROM bl_corrupt") \
        .collect()[0]["c"]

    seg = os.path.join(binlog_dir, "binlog.000001.bin")
    # (a) unparseable tail: header never completes -> held back
    with open(seg, "ab") as f:
        f.write(b"\xde\xad")
    q.processAllAvailable()
    assert spark.sql("SELECT count(*) c FROM bl_corrupt") \
        .collect()[0]["c"] == n1
    with open(seg, "rb+") as f:      # writer "un-writes" the stub
        f.seek(-2, os.SEEK_END)
        f.truncate()

    # (b) structured corruption: a complete 28-byte event with an
    # unsupported type code -> included by the aligned offset,
    # decode raises, the query dies loudly
    bad = struct.pack("<IBIIIH", 0, 0xEE, 1, 28, 0, 0) + b"\xbe" * 9
    with open(seg, "ab") as f:
        f.write(bad)
    with pytest.raises(StreamingQueryException):
        q.processAllAvailable()
        q.awaitTermination(30)
    q.stop()


def test_control_plane_lifecycle_over_binlog_bytes(spark, binlog_dir,
                                                   tmp_path):
    """T1 over the byte tier: a control-plane task whose source is
    the galaxy_binlog stream — create routes the fixture's changes
    to the keyed sink; stop; a segment rotates in while stopped;
    recovery_v1 resumes from the saved (file, pos) and emits ONLY
    the new events (the reference lifecycle, update_task.go:19-96,
    against real wire bytes end to end)."""
    from galaxy_spark.control.tasks import TaskManager, TaskSpec
    from galaxy_spark.sources.binlog_source import binlog_envelope_factory

    out = str(tmp_path / "task_out")
    mgr = TaskManager(spark, str(tmp_path / "task_state"),
                      binlog_envelope_factory(binlog_dir))
    spec = TaskSpec(task_id="t_binlog", databases=("shop",),
                    columns=("id", "qty", "amount", "note"),
                    sink_kind="parquet", sink_options={"path": out})
    mgr.create_task(spec)
    mgr.await_all()
    first = spark.read.parquet(out).collect()
    assert len(first) == 4            # insert x2, update, delete
    assert all(r.key == "shop.orders" for r in first)
    assert all(r.topic == "t_binlog.shop.orders" for r in first)

    mgr.stop_task("t_binlog")
    with open(os.path.join(binlog_dir, "binlog.000002.bin"), "wb") as f:
        f.write(_second_segment())
    mgr.recover_v1("t_binlog")
    mgr.await_all()
    mgr.stop_task("t_binlog")
    rows = spark.read.parquet(out).collect()
    assert len(rows) == 5             # exactly the rotated insert
    import json as _json
    new = [r for r in rows if _json.loads(r.value)
           ["event_header"]["log_pos"] not in
           {_json.loads(x.value)["event_header"]["log_pos"]
            for x in first}]
    assert len(new) == 1
    assert _json.loads(new[0].value)["after"]["note"] == "rotated"


def test_recovery_v2_jumps_to_latest_position(spark, binlog_dir,
                                              tmp_path):
    """recovery_v2 at the byte tier is the reference's EXACT
    semantics (PositionPos=0 -> SHOW MASTER STATUS): after the jump,
    already-written history is NOT re-emitted — only bytes that land
    after the recovery appear at the sink."""
    from galaxy_spark.control.tasks import TaskManager, TaskSpec
    from galaxy_spark.sources.binlog_source import binlog_envelope_factory

    out = str(tmp_path / "v2_out")
    mgr = TaskManager(spark, str(tmp_path / "v2_state"),
                      binlog_envelope_factory(binlog_dir))
    mgr.create_task(TaskSpec(
        task_id="t_v2", columns=("id", "qty", "amount", "note"),
        sink_kind="parquet", sink_options={"path": out}))
    mgr.await_all()
    n1 = spark.read.parquet(out).count()
    assert n1 == 4

    mgr.stop_task("t_v2")
    mgr.recover_v2("t_v2")           # fresh checkpoint + LATEST
    mgr.await_all()
    assert spark.read.parquet(out).count() == n1, \
        "v2 re-emitted history instead of jumping to latest"

    with open(os.path.join(binlog_dir, "binlog.000002.bin"), "wb") as f:
        f.write(_second_segment())
    mgr.await_all()
    mgr.stop_task("t_v2")
    assert spark.read.parquet(out).count() == n1 + 1


# ---- GTID auto-position (startingGtids) -------------------------------

def _gtid_relay_dir(tmp_path, names=("binlog.000001.bin",
                                     "binlog.000002.bin")):
    """Two relay segments of GTID transactions: segment 1 holds
    GNOs 1-2 (+ rotate), segment 2 holds GNO 3 — authored by the
    independent wire encoder."""
    from tests.fixtures.binlog_wire_encoder import (LONG, VARCHAR,
                                                    BinlogWriter)

    sid = "0f81a2b3c4d5e6f7081922aabbccddee"
    cols = [(LONG, 0), (VARCHAR, 64)]

    def txn(w, g):
        w.gtid(sid, g)
        w.query("shop", "BEGIN")
        w.table_map(7, "shop", "orders", cols)
        w.write_rows(7, cols, [[g, f"order-{g}"]])
        w.xid(900 + g)

    d = str(tmp_path / "gtid_relay")
    os.makedirs(d)
    w1 = BinlogWriter()
    w1.format_description()
    txn(w1, 1)
    txn(w1, 2)
    w1.rotate(names[1].removesuffix(".bin"))
    with open(os.path.join(d, names[0]), "wb") as f:
        f.write(w1.bytes())
    w2 = BinlogWriter()
    w2.format_description()
    txn(w2, 3)
    with open(os.path.join(d, names[1]), "wb") as f:
        f.write(w2.bytes())
    return d, f"{sid[0:8]}-{sid[8:12]}-{sid[12:16]}-" \
              f"{sid[16:20]}-{sid[20:32]}"


def _start_gtids(spark, d, name, ckpt, gtids):
    from galaxy_spark.sources.binlog_source import BinlogDataSource

    try:
        spark.dataSource.register(BinlogDataSource)
    except Exception:
        pass
    return (spark.readStream.format("galaxy_binlog")
            .option("path", d).option("startingGtids", gtids)
            .load()
            .writeStream.format("memory").queryName(name)
            .option("checkpointLocation", ckpt).start())


def test_starting_gtids_resumes_at_first_uncovered(spark, tmp_path):
    d, uuid = _gtid_relay_dir(tmp_path)
    q = _start_gtids(spark, d, "gt_resume", str(tmp_path / "ck"),
                     f"{uuid}:1-2")
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("SELECT * FROM gt_resume").collect()
    assert [(r.action, r.org_row[0]) for r in rows] == \
        [("insert", ["3", "order-3"])]


def test_starting_gtids_survives_file_rename_failover(spark, tmp_path):
    """The failover story (file, pos) cannot tell: the new primary's
    segments have NEW names, but GTIDs are preserved — the same
    executed set finds the same resume point under any naming."""
    d, uuid = _gtid_relay_dir(
        tmp_path, names=("after-failover.000007.bin",
                         "after-failover.000008.bin"))
    q = _start_gtids(spark, d, "gt_failover", str(tmp_path / "ck"),
                     f"{uuid}:1-2")
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("SELECT * FROM gt_failover").collect()
    assert [(r.action, r.org_row[0]) for r in rows] == \
        [("insert", ["3", "order-3"])]


def test_starting_gtids_fully_covered_emits_nothing(spark, tmp_path):
    d, uuid = _gtid_relay_dir(tmp_path)
    q = _start_gtids(spark, d, "gt_covered", str(tmp_path / "ck"),
                     f"{uuid}:1-3")
    q.processAllAvailable()
    q.stop()
    assert spark.sql("SELECT * FROM gt_covered").count() == 0


def test_starting_gtids_excludes_starting_offsets():
    from galaxy_spark.sources.binlog_source import BinlogStreamReader

    with pytest.raises(ValueError, match="mutually exclusive"):
        BinlogStreamReader({"path": "/tmp/x",
                            "startingGtids": "a" * 32 + ":1",
                            "startingOffsets": "latest"})


def test_starting_gtids_tolerates_torn_tail_and_stays_cheap(
        spark, tmp_path, monkeypatch):
    """The GTID scan must be a header WALK: (1) a torn trailing
    event (relay writer mid-append) ends the walk at the last
    complete boundary instead of raising; (2) no full-segment
    decode runs — decode_binlog is never called during
    initialOffset (a 1 GB segment must cost header seeks, not
    gigabytes of row-image decode on the driver)."""
    import galaxy_spark.cdc.binlog as B
    from galaxy_spark.sources.binlog_source import BinlogStreamReader

    d, uuid = _gtid_relay_dir(tmp_path)
    # tear the tail: append half an event header + garbage
    with open(os.path.join(d, "binlog.000002.bin"), "ab") as f:
        f.write(b"\x01\x02\x03\x04\x05\x06\x07\x08\x09\x0a\x0b")

    calls = []
    real = B.decode_binlog
    monkeypatch.setattr(B, "decode_binlog",
                        lambda blob: calls.append(len(blob))
                        or real(blob))
    reader = BinlogStreamReader({"path": d,
                                 "startingGtids": f"{uuid}:1-2"})
    off = reader.initialOffset()
    assert off["file"] == "binlog.000002.bin"
    assert not calls, "GTID scan must not full-decode segments"


def test_starting_gtids_refuses_corrupt_short_gtid_event(tmp_path):
    """A GTID event shorter than header + flag/SID/GNO (44 bytes)
    cannot carry a full transaction id — the scan must fail loudly,
    not compute a GNO from truncated bytes (the silent-wrong-resume
    outcome)."""
    import struct

    from tests.fixtures.binlog_wire_encoder import BinlogWriter

    from galaxy_spark.sources.binlog_source import BinlogStreamReader

    d = str(tmp_path / "corrupt_relay")
    os.makedirs(d)
    w = BinlogWriter()
    w.format_description()
    blob = bytearray(w.bytes())
    # complete (per its own header) but undersized GTID event:
    # 19-byte header declaring total size 30 -> 11-byte body, far
    # short of the 25-byte flag/SID/GNO layout
    size = 30
    pos = len(blob) - 4 + size
    ev = struct.pack("<IBIIIH", 1_710_000_000, 33, 7007, size,
                     pos, 0) + bytes(size - 19)
    blob += ev
    with open(os.path.join(d, "binlog.000001.bin"), "wb") as f:
        f.write(bytes(blob))

    uuid = "0f81a2b3-c4d5-e6f7-0819-22aabbccddee"
    reader = BinlogStreamReader({"path": d,
                                 "startingGtids": f"{uuid}:1"})
    with pytest.raises(ValueError, match="corrupt GTID event"):
        reader.initialOffset()


# ---- startingTimestamp (historical replay) ----------------------------

def _ts_relay_dir(tmp_path):
    """One segment, three GTID transactions at distinct wall-clock
    instants; transaction 2's row events carry a LATER statement
    time than its GTID (concurrent-session reality) to exercise the
    transaction-boundary snap-back."""
    from tests.fixtures.binlog_wire_encoder import (LONG, VARCHAR,
                                                    BinlogWriter)

    sid = "0f81a2b3c4d5e6f7081922aabbccddee"
    cols = [(LONG, 0), (VARCHAR, 64)]
    d = str(tmp_path / "ts_relay")
    os.makedirs(d)
    w = BinlogWriter(base_ts=500)
    w.format_description()
    for g, ts in ((1, 1000), (2, 2000), (3, 3000)):
        w.ts = ts
        w.gtid(sid, g)
        w.query("shop", "BEGIN")
        if g == 2:
            w.ts = 2005          # statement time past the GTID's
        w.table_map(7, "shop", "orders", cols)
        w.write_rows(7, cols, [[g, f"order-{g}"]])
        w.xid(900 + g)
    with open(os.path.join(d, "binlog.000001.bin"), "wb") as f:
        f.write(w.bytes())
    return d


def _start_ts(spark, d, name, ckpt, ts):
    from galaxy_spark.sources.binlog_source import BinlogDataSource

    try:
        spark.dataSource.register(BinlogDataSource)
    except Exception:
        pass
    return (spark.readStream.format("galaxy_binlog")
            .option("path", d).option("startingTimestamp", str(ts))
            .load()
            .writeStream.format("memory").queryName(name)
            .option("checkpointLocation", ckpt).start())


def test_starting_timestamp_resumes_at_instant(spark, tmp_path):
    """The reference's designed-but-disabled start_time feature
    (README.md:75, field commented out at pkg/req_resp.go:72),
    implemented as a header-walk seek: an instant between
    transactions 1 and 2 delivers exactly transactions 2 and 3."""
    d = _ts_relay_dir(tmp_path)
    q = _start_ts(spark, d, "ts_mid", str(tmp_path / "ck"), 1500)
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("SELECT * FROM ts_mid").collect()
    assert sorted(int(r.org_row[0][0]) for r in rows) == [2, 3]


def test_starting_timestamp_snaps_to_transaction_start(spark,
                                                       tmp_path):
    """An instant INSIDE transaction 2 (after its GTID's clock but
    before its statements') must deliver the WHOLE transaction —
    resuming mid-transaction would emit a torn one."""
    d = _ts_relay_dir(tmp_path)
    q = _start_ts(spark, d, "ts_snap", str(tmp_path / "ck"), 2003)
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("SELECT * FROM ts_snap").collect()
    assert sorted(int(r.org_row[0][0]) for r in rows) == [2, 3]


def test_starting_timestamp_past_stream_emits_nothing(spark,
                                                      tmp_path):
    d = _ts_relay_dir(tmp_path)
    q = _start_ts(spark, d, "ts_end", str(tmp_path / "ck"), 9999)
    q.processAllAvailable()
    q.stop()
    assert spark.sql("SELECT * FROM ts_end").count() == 0


def test_starting_timestamp_mutually_exclusive_and_validated():
    from galaxy_spark.sources.binlog_source import BinlogStreamReader

    with pytest.raises(ValueError, match="mutually exclusive"):
        BinlogStreamReader({"path": "/tmp/x",
                            "startingTimestamp": "1000",
                            "startingOffsets": "latest"})
    with pytest.raises(ValueError, match="mutually exclusive"):
        BinlogStreamReader({"path": "/tmp/x",
                            "startingTimestamp": "1000",
                            "startingGtids": "a" * 32 + ":1"})
    with pytest.raises(ValueError, match="epoch SECONDS"):
        BinlogStreamReader({"path": "/tmp/x",
                            "startingTimestamp": "2024-01-01"})


def test_gtid_offsets_survive_midstream_failover(spark, tmp_path):
    """r9 (r8 verdict missing #2): committed offsets carry the
    executed-GTID set CONTINUOUSLY, so a primary failover AFTER the
    stream has been running — segments renamed, renumbered and
    re-grouped (positions shift), GTIDs preserved — resumes from
    the checkpoint with no duplicate and no gap. r8 resolved GTIDs
    only at startingGtids time and went back to bare (file, pos)
    offsets, which die with the old primary's file names."""
    from tests.fixtures.binlog_wire_encoder import (LONG, VARCHAR,
                                                    BinlogWriter)

    from galaxy_spark.sources.binlog_source import BinlogDataSource

    try:
        spark.dataSource.register(BinlogDataSource)
    except Exception:
        pass
    sid = "0f81a2b3c4d5e6f7081922aabbccddee"
    cols = [(LONG, 0), (VARCHAR, 64)]

    def txn(w, g):
        w.gtid(sid, g)
        w.query("shop", "BEGIN")
        w.table_map(7, "shop", "orders", cols)
        w.write_rows(7, cols, [[g, f"order-{g}"]])
        w.xid(900 + g)

    d = str(tmp_path / "relay")
    os.makedirs(d)
    w1 = BinlogWriter()
    w1.format_description()
    for g in (1, 2, 3):
        txn(w1, g)
    with open(os.path.join(d, "old-primary.000001.bin"), "wb") as f:
        f.write(w1.bytes())

    ckpt, out = str(tmp_path / "ck"), str(tmp_path / "out")

    def start():
        # parquet sink: the memory sink refuses checkpoint recovery
        return (spark.readStream.format("galaxy_binlog")
                .option("path", d).load()
                .writeStream.format("parquet").option("path", out)
                .option("checkpointLocation", ckpt).start())

    q = start()
    q.processAllAvailable()
    q.stop()
    assert spark.read.parquet(out).count() == 3

    # FAILOVER: the new primary re-serializes the same history into
    # differently-named segments with different grouping (so every
    # (file, pos) the checkpoint holds is meaningless), then commits
    # new transactions 4 and 5
    os.remove(os.path.join(d, "old-primary.000001.bin"))
    w2 = BinlogWriter()
    w2.format_description()
    for g in (1, 2):
        txn(w2, g)
    w2.rotate("new-primary.000002")
    with open(os.path.join(d, "new-primary.000001.bin"), "wb") as f:
        f.write(w2.bytes())
    w3 = BinlogWriter()
    w3.format_description()
    for g in (3, 4, 5):
        txn(w3, g)
    with open(os.path.join(d, "new-primary.000002.bin"), "wb") as f:
        f.write(w3.bytes())

    q2 = start()
    q2.processAllAvailable()
    q2.stop()
    rows = spark.read.parquet(out).collect()
    assert sorted(int(r.org_row[0][0]) for r in rows) == [1, 2, 3, 4, 5]


def test_gtidset_rejects_reversed_and_malformed_ranges():
    import pytest as _pytest

    from galaxy_spark.cdc.replication_client import GtidSet

    u = "0f81a2b3-c4d5-e6f7-0819-22aabbccddee"
    with _pytest.raises(ValueError, match="invalid gtid range"):
        GtidSet.parse(f"{u}:5-3")
    with _pytest.raises(ValueError, match="invalid gtid range"):
        GtidSet.parse(f"{u}:0")
    with _pytest.raises(ValueError, match="malformed gtid range"):
        GtidSet.parse(f"{u}:x-3")


def test_gtidset_names_mariadb_format_in_refusal():
    """A MariaDB ``domain-server-sequence`` GTID must be RECOGNIZED
    and refused with the operational fix (flavor=mariadb — the
    MariaDB handshake is now implemented behind that switch), not a
    generic 'malformed'; the config is where the failure belongs."""
    import pytest as _pytest

    from galaxy_spark.cdc.replication_client import GtidSet

    with _pytest.raises(ValueError, match="MariaDB GTID"):
        GtidSet.parse("0-1-100")
    with _pytest.raises(ValueError, match="flavor=mariadb"):
        GtidSet.parse("0f81a2b3-c4d5-e6f7-0819-22aabbccddee:1-5, "
                      "1-2-300")
    # a MySQL uuid set must still parse — the dashes inside the
    # uuid must not trip the three-decimal-field recognizer
    s = GtidSet.parse("0f81a2b3-c4d5-e6f7-0819-22aabbccddee:1-5")
    assert s.covers("0f81a2b3-c4d5-e6f7-0819-22aabbccddee:3")


def test_starting_gtids_resumes_at_anonymous_transactions(spark,
                                                          tmp_path):
    """ANONYMOUS_GTID transactions (gtid_mode OFF/ON_PERMISSIVE)
    are never covered by any executed set — the scan must resume AT
    the first one (MySQL's auto-position always sends anonymous
    transactions), not skip past it to end-of-directory."""
    from tests.fixtures.binlog_wire_encoder import (LONG, VARCHAR,
                                                    BinlogWriter)

    sid = "0f81a2b3c4d5e6f7081922aabbccddee"
    cols = [(LONG, 0), (VARCHAR, 64)]
    w = BinlogWriter()
    w.format_description()
    w.gtid(sid, 1)
    w.query("shop", "BEGIN")
    w.table_map(7, "shop", "orders", cols)
    w.write_rows(7, cols, [[1, "tagged-1"]])
    w.xid(901)
    w.gtid(sid, 0, anonymous=True)               # anonymous txn
    w.query("shop", "BEGIN")
    w.table_map(7, "shop", "orders", cols)
    w.write_rows(7, cols, [[2, "anon-2"]])
    w.xid(902)
    d = str(tmp_path / "anon_relay")
    os.makedirs(d)
    with open(os.path.join(d, "binlog.000001.bin"), "wb") as f:
        f.write(w.bytes())

    uuid = f"{sid[0:8]}-{sid[8:12]}-{sid[12:16]}-" \
           f"{sid[16:20]}-{sid[20:32]}"
    q = _start_gtids(spark, d, "gt_anon", str(tmp_path / "ck"),
                     f"{uuid}:1")
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("SELECT * FROM gt_anon").collect()
    assert [(r.action, r.org_row[0]) for r in rows] == \
        [("insert", ["2", "anon-2"])]


def test_starting_gtids_resumes_at_tagged_transactions(spark,
                                                       tmp_path):
    """MySQL >= 8.3 GTID_TAGGED_EVENT (42) transactions: the body
    is mysql::serialization-encoded and not decoded here, so the
    auto-position scan cannot prove coverage — it must resume AT
    the first tagged event (conservative re-delivery), never skip
    past it (which silently drops the transaction if it was NOT
    covered — the r8 ANONYMOUS_GTID bug class). Downstream, the
    tagged transaction's row events decode and flow normally."""
    from tests.fixtures.binlog_wire_encoder import (LONG, VARCHAR,
                                                    BinlogWriter)

    sid = "0f81a2b3c4d5e6f7081922aabbccddee"
    cols = [(LONG, 0), (VARCHAR, 64)]
    w = BinlogWriter()
    w.format_description()
    w.gtid(sid, 1)
    w.query("shop", "BEGIN")
    w.table_map(7, "shop", "orders", cols)
    w.write_rows(7, cols, [[1, "plain-1"]])
    w.xid(901)
    w.tagged_gtid()                              # 8.3+ tagged txn
    w.query("shop", "BEGIN")
    w.table_map(7, "shop", "orders", cols)
    w.write_rows(7, cols, [[2, "tagged-2"]])
    w.xid(902)
    w.gtid(sid, 2)
    w.query("shop", "BEGIN")
    w.table_map(7, "shop", "orders", cols)
    w.write_rows(7, cols, [[3, "plain-3"]])
    w.xid(903)
    d = str(tmp_path / "tagged_relay")
    os.makedirs(d)
    with open(os.path.join(d, "binlog.000001.bin"), "wb") as f:
        f.write(w.bytes())

    uuid = f"{sid[0:8]}-{sid[8:12]}-{sid[12:16]}-" \
           f"{sid[16:20]}-{sid[20:32]}"
    # the whole untagged history {1,2} is covered — but the tagged
    # transaction between them is unprovable, so the scan resumes
    # there and re-delivers everything from it on
    q = _start_gtids(spark, d, "gt_tagged", str(tmp_path / "ck"),
                     f"{uuid}:1-2")
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("SELECT * FROM gt_tagged").collect()
    assert [(r.action, r.org_row[0]) for r in rows] == \
        [("insert", ["2", "tagged-2"]), ("insert", ["3", "plain-3"])]


def _mk_reader(d, **opts):
    from galaxy_spark.sources.binlog_source import BinlogStreamReader

    return BinlogStreamReader({"path": d, **opts})


def test_previous_gtids_purged_gap_refused(tmp_path):
    """MySQL's error-1236 analog (r9 review): when the first
    retained segment's PREVIOUS_GTIDS declares transactions the
    executed set has NOT covered, those transactions lived only in
    purged files — auto-position must refuse loudly, never resume
    past a silent gap. A covering set still resumes normally."""
    import pytest as _pytest

    from tests.fixtures.binlog_wire_encoder import (LONG, VARCHAR,
                                                    BinlogWriter)

    sid = "0f81a2b3c4d5e6f7081922aabbccddee"
    cols = [(LONG, 0), (VARCHAR, 64)]
    w = BinlogWriter()
    w.format_description()
    w.previous_gtids(sid, 4)          # declares 1-3 live in purged files
    for g in (4, 5):
        w.gtid(sid, g)
        w.query("shop", "BEGIN")
        w.table_map(7, "shop", "orders", cols)
        w.write_rows(7, cols, [[g, f"o-{g}"]])
        w.xid(900 + g)
    d = str(tmp_path / "purged_relay")
    os.makedirs(d)
    with open(os.path.join(d, "binlog.000009.bin"), "wb") as f:
        f.write(w.bytes())

    u = f"{sid[0:8]}-{sid[8:12]}-{sid[12:16]}-" \
        f"{sid[16:20]}-{sid[20:32]}"
    rd = _mk_reader(d, startingGtids=f"{u}:1-2")   # 3 is the gap
    with _pytest.raises(ValueError, match="PREVIOUS_GTIDS"):
        rd.initialOffset()
    ok = _mk_reader(d, startingGtids=f"{u}:1-3")   # covering: fine
    off = ok.initialOffset()
    assert off["file"] == "binlog.000009.bin"


def test_anonymous_offsets_refuse_resolution_through_empty_set(
        tmp_path):
    """An anonymous-GTID stream's offsets carry gtids='' — that
    empty string must NOT trigger GTID re-resolution when the
    committed segment is purged (r9 review: it restarted at the
    first retained transaction and re-delivered everything);
    the refuse-loudly purge check must fire instead."""
    import pytest as _pytest

    from tests.fixtures.binlog_wire_encoder import (LONG, VARCHAR,
                                                    BinlogWriter)

    sid = "0f81a2b3c4d5e6f7081922aabbccddee"
    cols = [(LONG, 0), (VARCHAR, 64)]

    def seg(vals):
        w = BinlogWriter()
        w.format_description()
        for v in vals:
            w.gtid(sid, 0, anonymous=True)
            w.query("shop", "BEGIN")
            w.table_map(7, "shop", "orders", cols)
            w.write_rows(7, cols, [[v, f"o-{v}"]])
            w.xid(900 + v)
        return w.bytes()

    d = str(tmp_path / "anon_purge")
    os.makedirs(d)
    with open(os.path.join(d, "binlog.000001.bin"), "wb") as f:
        f.write(seg([1, 2]))
    rd = _mk_reader(d)
    committed = rd.initialOffset()
    committed = {"file": "binlog.000001.bin",
                 "pos": rd._end_of_dir()["pos"],
                 "gtids": committed["gtids"]}
    assert committed["gtids"] == ""   # anonymous stream: empty set

    # purge the committed segment, retain a later one
    os.remove(os.path.join(d, "binlog.000001.bin"))
    with open(os.path.join(d, "binlog.000002.bin"), "wb") as f:
        f.write(seg([3]))
    rd2 = _mk_reader(d)
    with _pytest.raises(ValueError, match="purged"):
        rd2.partitions(committed, rd2._end_of_dir())


def test_same_name_history_mismatch_refused(tmp_path):
    """Same-NAME failover (r9 review): a rebuilt primary that
    reuses the checkpointed segment name defeats file-absence
    detection — the restart-time history check must catch the
    foreign GTIDs below the committed boundary and refuse."""
    import pytest as _pytest

    from tests.fixtures.binlog_wire_encoder import (LONG, VARCHAR,
                                                    BinlogWriter)

    cols = [(LONG, 0), (VARCHAR, 64)]

    def seg(sid, gnos):
        w = BinlogWriter()
        w.format_description()
        for g in gnos:
            w.gtid(sid, g)
            w.query("shop", "BEGIN")
            w.table_map(7, "shop", "orders", cols)
            w.write_rows(7, cols, [[g, f"o-{g}"]])
            w.xid(900 + g)
        return w.bytes()

    sid_a = "0f81a2b3c4d5e6f7081922aabbccddee"
    sid_b = "ffffa2b3c4d5e6f7081922aabbccddee"
    d = str(tmp_path / "samename")
    os.makedirs(d)
    fpath = os.path.join(d, "binlog.000001.bin")
    with open(fpath, "wb") as f:
        f.write(seg(sid_a, [1, 2, 3]))
    rd = _mk_reader(d)
    off = rd.initialOffset()
    committed = {"file": "binlog.000001.bin",
                 "pos": rd._end_of_dir()["pos"],
                 "gtids": rd._gtids_at("binlog.000001.bin",
                                       rd._end_of_dir()["pos"])}
    assert committed["gtids"]

    # a DIFFERENT history under the SAME name, at least as long
    with open(fpath, "wb") as f:
        f.write(seg(sid_b, [1, 2, 3, 4]))
    rd2 = _mk_reader(d)               # fresh instance = restart
    with _pytest.raises(ValueError, match="history mismatch"):
        rd2.partitions(committed, rd2._end_of_dir())
    assert off["file"] == "binlog.000001.bin"


def test_live_failover_releases_monotonic_floor(tmp_path):
    """LIVE failover (same reader instance) to segment names that
    sort BELOW the dead primary's (r9 review): the monotonic floor
    must release when the pinned segment is gone and the executed
    set can re-locate — pinning forever stalls the stream with no
    error. Resume must deliver exactly the new transaction."""
    from tests.fixtures.binlog_wire_encoder import (LONG, VARCHAR,
                                                    BinlogWriter)

    sid = "0f81a2b3c4d5e6f7081922aabbccddee"
    cols = [(LONG, 0), (VARCHAR, 64)]

    def txn(w, g):
        w.gtid(sid, g)
        w.query("shop", "BEGIN")
        w.table_map(7, "shop", "orders", cols)
        w.write_rows(7, cols, [[g, f"o-{g}"]])
        w.xid(900 + g)

    d = str(tmp_path / "live_failover")
    os.makedirs(d)
    w1 = BinlogWriter()
    w1.format_description()
    for g in (1, 2, 3):
        txn(w1, g)
    old = os.path.join(d, "old-primary.000007.bin")
    with open(old, "wb") as f:
        f.write(w1.bytes())

    rd = _mk_reader(d)
    rd.initialOffset()
    committed = rd.latestOffset()     # floor pinned here
    assert committed["file"] == "old-primary.000007.bin"

    # failover: same history 1-3 regrouped + NEW txn 4, names sort
    # BELOW the old primary's
    os.remove(old)
    w2 = BinlogWriter()
    w2.format_description()
    for g in (1, 2):
        txn(w2, g)
    with open(os.path.join(d, "new-primary.000001.bin"), "wb") as f:
        f.write(w2.bytes())
    w3 = BinlogWriter()
    w3.format_description()
    for g in (3, 4):
        txn(w3, g)
    with open(os.path.join(d, "new-primary.000002.bin"), "wb") as f:
        f.write(w3.bytes())

    new_end = rd.latestOffset()
    assert new_end["file"] == "new-primary.000002.bin", \
        "floor must release on live failover, not pin a dead name"
    parts = rd.partitions(committed, new_end)
    vals = []
    for p in parts:
        for row in rd.read(p):
            vals.append(int(row[3][0][0]))
    assert vals == [4], "no duplicate, no gap across live failover"


def test_starting_timestamp_skips_query_committed_transaction(
        tmp_path):
    """A GTID transaction committed by a Query (auto-commit DDL —
    no XID) must NOT be replayed when the first at/past-instant
    event is GTID-less (r9 review: the anchor was only cleared on
    XID, so the seek snapped back before the already-committed
    DDL)."""
    from tests.fixtures.binlog_wire_encoder import BinlogWriter

    sid = "0f81a2b3c4d5e6f7081922aabbccddee"
    w = BinlogWriter(base_ts=100)
    w.format_description()
    w.gtid(sid, 1)
    w.query("shop", "CREATE TABLE t1 (id INT)")   # commits at ts=100
    end_after_ddl = w.pos
    w.ts = 200
    w.stop()                                      # GTID-less, ts=200
    d = str(tmp_path / "ts_ddl")
    os.makedirs(d)
    with open(os.path.join(d, "binlog.000001.bin"), "wb") as f:
        f.write(w.bytes())

    rd = _mk_reader(d, startingTimestamp="150")
    off = rd._offset_at_timestamp(150)
    assert off["pos"] == end_after_ddl, \
        "committed DDL transaction must not be replayed"


def test_previous_gtids_seed_into_carried_sets(tmp_path):
    """gtid_purged seeding (r9 review wave 2): history declared by
    PREVIOUS_GTIDS is EXECUTED history — carried offset sets must
    include it, or the purged-gap gate fires on perfectly healthy
    failovers (the new primary redeclares the same aged history)."""
    from tests.fixtures.binlog_wire_encoder import (LONG, VARCHAR,
                                                    BinlogWriter)

    from galaxy_spark.cdc.replication_client import GtidSet

    sid = "0f81a2b3c4d5e6f7081922aabbccddee"
    u = f"{sid[0:8]}-{sid[8:12]}-{sid[12:16]}-" \
        f"{sid[16:20]}-{sid[20:32]}"
    cols = [(LONG, 0), (VARCHAR, 64)]

    def seg(gnos):
        w = BinlogWriter()
        w.format_description()
        w.previous_gtids(sid, 11)          # 1-10 purged long ago
        for g in gnos:
            w.gtid(sid, g)
            w.query("shop", "BEGIN")
            w.table_map(7, "shop", "orders", cols)
            w.write_rows(7, cols, [[g, f"o-{g}"]])
            w.xid(900 + g)
        return w.bytes()

    d = str(tmp_path / "seeded")
    os.makedirs(d)
    old = os.path.join(d, "old-primary.000005.bin")
    with open(old, "wb") as f:
        f.write(seg([11, 12]))
    rd = _mk_reader(d)
    off = rd.initialOffset()
    end = rd._end_of_dir()
    carried = rd._gtids_at(end["file"], end["pos"])
    got = GtidSet.parse(carried)
    assert got.covers(f"{u}:5") and got.covers(f"{u}:12"), \
        "carried set must include the PREVIOUS_GTIDS-declared history"
    committed = {"file": end["file"], "pos": end["pos"],
                 "gtids": carried}

    # healthy failover: new primary, same aged PREVIOUS_GTIDS, one
    # new transaction — must resume at 13, not raise error-1236
    os.remove(old)
    with open(os.path.join(d, "new-primary.000001.bin"), "wb") as f:
        f.write(seg([11, 12, 13]))
    rd2 = _mk_reader(d)
    parts = rd2.partitions(committed, rd2._end_of_dir())
    vals = [int(row[3][0][0]) for p in parts for row in rd2.read(p)]
    assert vals == [13]
    assert off["file"] == "old-primary.000005.bin"


def test_live_floor_release_refuses_deleted_tail(tmp_path):
    """Deletion vs failover gate (r9 review wave 2): when the pinned
    newest segment vanishes and the remaining history does NOT
    contain transactions this instance already observed, that is a
    deleted tail — refuse loudly instead of silently skipping the
    unread events."""
    import pytest as _pytest

    from tests.fixtures.binlog_wire_encoder import (LONG, VARCHAR,
                                                    BinlogWriter)

    sid = "0f81a2b3c4d5e6f7081922aabbccddee"
    cols = [(LONG, 0), (VARCHAR, 64)]

    def seg(gnos):
        w = BinlogWriter()
        w.format_description()
        for g in gnos:
            w.gtid(sid, g)
            w.query("shop", "BEGIN")
            w.table_map(7, "shop", "orders", cols)
            w.write_rows(7, cols, [[g, f"o-{g}"]])
            w.xid(900 + g)
        return w.bytes()

    d = str(tmp_path / "deltail")
    os.makedirs(d)
    old = os.path.join(d, "zz-primary.000009.bin")
    with open(old, "wb") as f:
        f.write(seg([1, 2, 3]))
    rd = _mk_reader(d)
    rd.initialOffset()
    rd.latestOffset()                  # observes 1-3, pins floor

    os.remove(old)                     # tail with 3 DELETED
    with open(os.path.join(d, "aa-primary.000001.bin"), "wb") as f:
        f.write(seg([1, 2]))           # 3 exists nowhere
    with _pytest.raises(ValueError, match="deleted tail"):
        rd.latestOffset()


def test_starting_timestamp_keeps_anchor_through_savepoint(tmp_path):
    """SAVEPOINT (and friends) occur INSIDE open row-format
    transactions — the timestamp seek must keep the transaction
    anchor through them (r9 review wave 2: clearing produced a torn
    mid-transaction resume, the exact failure the anchor exists to
    prevent)."""
    from tests.fixtures.binlog_wire_encoder import (LONG, VARCHAR,
                                                    BinlogWriter)

    sid = "0f81a2b3c4d5e6f7081922aabbccddee"
    cols = [(LONG, 0), (VARCHAR, 64)]
    w = BinlogWriter(base_ts=100)
    w.format_description()
    anchor_pos = w.pos                 # boundary before the GTID
    w.gtid(sid, 1)
    w.query("shop", "BEGIN")
    w.table_map(7, "shop", "orders", cols)
    w.write_rows(7, cols, [[1, "early"]])
    w.query("shop", "SAVEPOINT s1")    # in-txn Query
    w.ts = 200                         # the txn continues past the
    w.table_map(7, "shop", "orders", cols)   # requested instant
    w.write_rows(7, cols, [[2, "late"]])
    w.xid(901)
    d = str(tmp_path / "ts_savepoint")
    os.makedirs(d)
    with open(os.path.join(d, "binlog.000001.bin"), "wb") as f:
        f.write(w.bytes())

    rd = _mk_reader(d, startingTimestamp="150")
    off = rd._offset_at_timestamp(150)
    assert off["pos"] == anchor_pos, \
        "resume must snap to the transaction's GTID boundary, not " \
        "tear the open transaction at the SAVEPOINT"


def test_live_failover_adoption_scan_bounded_at_offset(tmp_path):
    """r9 ADVICE (medium): on live floor-release failover, the
    adoption scan must be BOUNDED at the offset being returned —
    GTIDs appended between the _end_of_dir() sample and the scan
    would otherwise fold into the committed offset's carried set
    despite lying past its boundary, and a later relocation through
    that offset would treat them as executed and skip them."""
    from tests.fixtures.binlog_wire_encoder import (LONG, VARCHAR,
                                                    BinlogWriter)

    from galaxy_spark.cdc.replication_client import GtidSet

    sid = "0f81a2b3c4d5e6f7081922aabbccddee"
    uuid = f"{sid[0:8]}-{sid[8:12]}-{sid[12:16]}-" \
           f"{sid[16:20]}-{sid[20:32]}"
    cols = [(LONG, 0), (VARCHAR, 64)]

    def seg(gnos):
        w = BinlogWriter()
        w.format_description()
        for g in gnos:
            w.gtid(sid, g)
            w.query("shop", "BEGIN")
            w.table_map(7, "shop", "orders", cols)
            w.write_rows(7, cols, [[g, f"o-{g}"]])
            w.xid(900 + g)
        return w.bytes()

    d = str(tmp_path / "adoption_bound")
    os.makedirs(d)
    old = os.path.join(d, "old-primary.000007.bin")
    with open(old, "wb") as f:
        f.write(seg([1, 2]))
    rd = _mk_reader(d)
    rd.initialOffset()
    rd.latestOffset()                  # observes 1-2, pins floor

    # failover to a BELOW-sorting name carrying 1-3 plus txn 4
    os.remove(old)
    with open(os.path.join(d, "new-primary.000001.bin"), "wb") as f:
        f.write(seg([1, 2, 3, 4]))

    # simulate the race: the end-of-dir sample landed BEFORE txn 4
    # was appended (the directory then grew behind the sample)
    probe = _mk_reader(d)
    boundary = probe._offset_after_gtids(f"{uuid}:1-3")
    assert boundary["file"] == "new-primary.000001.bin"
    real_end = rd._end_of_dir
    rd._end_of_dir = lambda: dict(boundary)
    try:
        off = rd.latestOffset()
    finally:
        rd._end_of_dir = real_end
    carried = GtidSet.parse(off["gtids"])
    assert carried.covers(f"{uuid}:3")
    assert not carried.covers(f"{uuid}:4"), \
        "carried set must not claim GTIDs past the offset boundary"


def test_end_resolution_must_not_suppress_start_history_check(
        tmp_path):
    """r9 ADVICE (low): resolving the END offset through its carried
    GTID set must NOT mark the START verified — when end's segment
    vanished but start's NAME survived a same-name rebuild, start's
    byte position points into different content and only
    _verify_start_history can catch it."""
    import pytest as _pytest

    from tests.fixtures.binlog_wire_encoder import (LONG, VARCHAR,
                                                    BinlogWriter)

    sid_a = "0f81a2b3c4d5e6f7081922aabbccddee"
    sid_b = "ffffa2b3c4d5e6f7081922aabbccddee"
    ua = f"{sid_a[0:8]}-{sid_a[8:12]}-{sid_a[12:16]}-" \
         f"{sid_a[16:20]}-{sid_a[20:32]}"
    ub = f"{sid_b[0:8]}-{sid_b[8:12]}-{sid_b[12:16]}-" \
         f"{sid_b[16:20]}-{sid_b[20:32]}"
    cols = [(LONG, 0), (VARCHAR, 64)]

    def seg(txns):
        w = BinlogWriter()
        w.format_description()
        for sid, g in txns:
            w.gtid(sid, g)
            w.query("shop", "BEGIN")
            w.table_map(7, "shop", "orders", cols)
            w.write_rows(7, cols, [[g, "x"]])
            w.xid(900 + g)
        return w.bytes()

    d = str(tmp_path / "end_resolve_gate")
    os.makedirs(d)
    f1 = os.path.join(d, "binlog.000001.bin")
    f2 = os.path.join(d, "binlog.000002.bin")
    with open(f1, "wb") as f:
        f.write(seg([(sid_a, 1), (sid_a, 2), (sid_a, 3)]))
    with open(f2, "wb") as f:
        f.write(seg([(sid_a, 4)]))
    rd = _mk_reader(d)
    rd.initialOffset()
    start_pos = os.path.getsize(f1)
    start = {"file": "binlog.000001.bin", "pos": start_pos,
             "gtids": f"{ua}:1-3"}
    end = {"file": "binlog.000002.bin",
           "pos": os.path.getsize(f2),
           "gtids": f"{ua}:1-4,{ub}:1"}

    # same-NAME rebuild: 000002 gone, 000001 replaced by a history
    # that interleaves a FOREIGN transaction below start's boundary
    # yet is fully covered by end's carried set (so end resolves)
    os.remove(f2)
    with open(f1, "wb") as f:
        f.write(seg([(sid_a, 1), (sid_b, 1), (sid_a, 2),
                     (sid_a, 3), (sid_a, 4)]))

    rd2 = _mk_reader(d)                # fresh instance = restart
    with _pytest.raises(ValueError, match="history mismatch"):
        rd2.partitions(start, rd2._resolve_offset(
            end, ["binlog.000001.bin"]) | {})
    # and via the public path too: a fresh instance resolving BOTH
    rd3 = _mk_reader(d)
    with _pytest.raises(ValueError, match="history mismatch"):
        rd3.partitions(start, end)


def test_gtids_at_below_watermark_recomputes_statelessly(tmp_path):
    """r9 ADVICE (low): asking _gtids_at for a boundary BELOW the
    incremental watermark must not hand back the watermark's (later)
    set — the offset would claim GTIDs it precedes. It must
    recompute for exactly the requested boundary."""
    from tests.fixtures.binlog_wire_encoder import (LONG, VARCHAR,
                                                    BinlogWriter)

    from galaxy_spark.cdc.replication_client import GtidSet

    sid = "0f81a2b3c4d5e6f7081922aabbccddee"
    uuid = f"{sid[0:8]}-{sid[8:12]}-{sid[12:16]}-" \
           f"{sid[16:20]}-{sid[20:32]}"
    cols = [(LONG, 0), (VARCHAR, 64)]
    w = BinlogWriter()
    w.format_description()
    for g in (1, 2, 3, 4):
        w.gtid(sid, g)
        w.query("shop", "BEGIN")
        w.table_map(7, "shop", "orders", cols)
        w.write_rows(7, cols, [[g, f"o-{g}"]])
        w.xid(900 + g)
    d = str(tmp_path / "below_wm")
    os.makedirs(d)
    fp = os.path.join(d, "binlog.000001.bin")
    with open(fp, "wb") as f:
        f.write(w.bytes())

    rd = _mk_reader(d)
    end = rd._end_of_dir()
    assert GtidSet.parse(
        rd._gtids_at(end["file"], end["pos"])).covers(f"{uuid}:4")

    boundary = rd._offset_after_gtids(f"{uuid}:1-2")
    below = GtidSet.parse(rd._gtids_at(boundary["file"],
                                       boundary["pos"]))
    assert below.covers(f"{uuid}:2")
    assert not below.covers(f"{uuid}:3"), \
        "below-watermark set must be computed for the requested " \
        "boundary, not echoed from the later watermark"


_AGREE_SID = "0f81a2b3c4d5e6f7081922aabbccddee"
_AGREE_UUID = "0f81a2b3-c4d5-e6f7-0819-22aabbccddee"


def _agree_segments(case: str) -> tuple[list[bytes], str, dict]:
    """Two segments of one GTID flavor for the decoder/walk
    agreement test: (segment bytes, the first segment's
    PREVIOUS_GTIDS declaration text or "", reader options)."""
    from tests.fixtures.binlog_wire_encoder import (LONG, VARCHAR,
                                                    BinlogWriter)

    cols = [(LONG, 0), (VARCHAR, 64)]

    def rows(w, v):
        w.table_map(7, "shop", "orders", cols)
        w.write_rows(7, cols, [[v, f"o-{v}"]])
        w.xid(900 + v)

    segs = []
    for n in (0, 1):
        if case == "mariadb_gtid_list":
            w = BinlogWriter(server_id=41)
            w.format_description()
            w.mariadb_gtid_list([(0, 41, 2 + 2 * n), (1, 7, 9)])
            for seq in (3 + 2 * n, 4 + 2 * n):
                w.mariadb_gtid(0, seq)
                rows(w, seq)
            w.mariadb_gtid(2, 1 + n, server_id=52, standalone=True)
            w.query("shop", "CREATE TABLE t (a INT)")
        else:
            w = BinlogWriter(checksum="none" if case == "mysql_none"
                             else "crc32")
            w.format_description()
            if n == 0:
                w.previous_gtids(_AGREE_SID, 3)    # declares 1-2
            for g in (3 + 2 * n, 4 + 2 * n):
                w.gtid(_AGREE_SID, g)
                w.query("shop", "BEGIN")
                rows(w, g)
            if case == "mysql_tagged":
                w.tagged_gtid(_AGREE_SID, 1 + n, tag="patch")
                w.query("shop", "BEGIN")
                rows(w, 50 + n)
        segs.append(w.bytes())
    if case == "mariadb_gtid_list":
        return segs, "", {"flavor": "mariadb"}
    return segs, f"{_AGREE_UUID}:1-2", {}


@pytest.mark.parametrize("case", ["mysql_none", "mysql_crc32",
                                  "mysql_tagged", "mariadb_gtid_list"])
def test_decoder_and_header_walk_read_the_same_gtids(tmp_path, case):
    """The two consumers of the GTID body layouts agree: the
    executed set the source's header walk builds (``_scan_gtids``)
    equals the union of the GTID texts and GTID_LIST entries
    ``decode_binlog`` reports plus the PREVIOUS_GTIDS declaration,
    over both checksum modes, tagged GTIDs and the MariaDB flavor."""
    from galaxy_spark.cdc.binlog import decode_binlog

    segs, declared, opts = _agree_segments(case)
    d = str(tmp_path / case)
    os.makedirs(d)
    for i, blob in enumerate(segs, 1):
        with open(os.path.join(d, f"binlog.00000{i}.bin"), "wb") as f:
            f.write(blob)
    rd = _mk_reader(d, **opts)
    want = rd._fl.gset.parse(declared)
    n_gtids = 0
    for blob in segs:
        for ev in decode_binlog(blob):
            if ev.kind in ("gtid", "gtid_tagged"):
                want.add(ev.gtid)
                n_gtids += 1
            elif ev.kind == "gtid_list":
                for g in filter(None, ev.gtid.split(",")):
                    want.add(g)
    assert n_gtids >= 4
    assert str(rd._scan_gtids()) == str(want)
    if case == "mysql_tagged":
        assert want.covers(f"{_AGREE_UUID}:patch:2")


@pytest.mark.parametrize("case,etype,keep,message", [
    ("gtid", 33, 21, "corrupt GTID event: body 21 bytes < 25"),
    ("mariadb_gtid", 162, 9,
     "corrupt MariaDB GTID event: body 9 bytes < 13"),
    ("mariadb_gtid_list", 163, 16,
     "corrupt MariaDB GTID_LIST event: count 1 needs 20 body bytes, "
     "have 16"),
])
def test_header_walk_refuses_truncated_gtid_bodies_on_crc32_segments(
        tmp_path, case, etype, keep, message):
    """On a CRC32 segment a GTID body truncated by up to 4 bytes
    still passes a length check that counts the trailer: the walk
    must trim the trailer by the segment's checksum mode, so
    ``_scan_gtids`` refuses the event with the decoder's own message
    instead of recording a GTID built from the CRC bytes."""
    from galaxy_spark.cdc.binlog import decode_binlog
    from tests.fixtures.binlog_wire_encoder import BinlogWriter

    probe = BinlogWriter(server_id=41)
    if case == "gtid":
        probe.gtid(_AGREE_SID, 1)
    elif case == "mariadb_gtid":
        probe.mariadb_gtid(0, 5)
    else:
        probe.mariadb_gtid_list([(1, 7, 2)])
    w = BinlogWriter(server_id=41)          # checksum=CRC32
    w.format_description()
    w._emit(etype, probe.last_body()[:keep])
    with pytest.raises(ValueError, match=message):
        decode_binlog(bytes(w.bytes()))
    d = str(tmp_path / case)
    os.makedirs(d)
    with open(os.path.join(d, "binlog.000001.bin"), "wb") as f:
        f.write(w.bytes())
    rd = _mk_reader(d, **({} if case == "gtid"
                          else {"flavor": "mariadb"}))
    with pytest.raises(ValueError, match=message):
        rd._scan_gtids()


def test_steady_state_tracker_walks_only_the_tail(tmp_path,
                                                  monkeypatch):
    """The executed-GTID tracker resumes at its watermark: after a
    first latestOffset, appending transactions and asking again
    walks the segment from the previous aligned end and reads only
    the new events' headers — re-walking from byte 0 every
    micro-batch would make a growing segment's cost quadratic."""
    import galaxy_spark.sources.binlog_source as S
    from tests.fixtures.binlog_wire_encoder import (LONG, VARCHAR,
                                                    BinlogWriter)

    from galaxy_spark.cdc.replication_client import GtidSet

    cols = [(LONG, 0), (VARCHAR, 64)]
    w = BinlogWriter()
    w.format_description()

    def txn(g):                         # 5 events per transaction
        w.gtid(_AGREE_SID, g)
        w.query("shop", "BEGIN")
        w.table_map(7, "shop", "orders", cols)
        w.write_rows(7, cols, [[g, f"o-{g}"]])
        w.xid(900 + g)

    d = str(tmp_path / "tail")
    os.makedirs(d)
    seg = os.path.join(d, "binlog.000001.bin")
    for g in (1, 2):
        txn(g)
    with open(seg, "wb") as f:
        f.write(w.bytes())
    rd = _mk_reader(d)
    first = rd.latestOffset()
    assert first["pos"] == len(w.bytes())

    for g in (3, 4):
        txn(g)
    with open(seg, "ab") as f:
        f.write(w.bytes()[first["pos"]:])

    walks = []
    real = S._walk_event_headers

    def spy(f, size, start=None):
        walk = {"start": start, "headers": 0}
        walks.append(walk)
        for h in real(f, size, start=start):
            walk["headers"] += 1
            yield h

    monkeypatch.setattr(S, "_walk_event_headers", spy)
    second = rd.latestOffset()
    assert second["pos"] == len(w.bytes())
    assert str(GtidSet.parse(second["gtids"])) == f"{_AGREE_UUID}:1-4"
    resumed = [x for x in walks if x["start"] is not None]
    assert resumed == [{"start": first["pos"], "headers": 10}], walks


def test_fingerprint_gate_catches_anonymous_same_name_rebuild(
        tmp_path):
    """r9 verdict #8: an ANONYMOUS stream carries gtids='' — the
    GTID same-name-rebuild gate has nothing to compare, so content
    replacement under a reused name went undetected. The committed
    offset's first-event fingerprint (ts, server_id, size) catches
    it: append-only segments never change their first event."""
    import pytest as _pytest

    from tests.fixtures.binlog_wire_encoder import (LONG, VARCHAR,
                                                    BinlogWriter)

    cols = [(LONG, 0), (VARCHAR, 64)]

    def seg(base_ts, server_id, vals):
        w = BinlogWriter(server_id=server_id, base_ts=base_ts)
        w.format_description()
        for v in vals:
            w.query("shop", "BEGIN")
            w.table_map(7, "shop", "orders", cols)
            w.write_rows(7, cols, [[v, f"o-{v}"]])
            w.xid(900 + v)
        return w.bytes()

    d = str(tmp_path / "fp_anon")
    os.makedirs(d)
    fpath = os.path.join(d, "binlog.000001.bin")
    with open(fpath, "wb") as f:
        f.write(seg(100, 7, [1, 2]))
    rd = _mk_reader(d)
    rd.initialOffset()
    committed = rd.latestOffset()
    assert committed["gtids"] == "" and committed["fp"]

    # same name, different history (new creation time/server)
    with open(fpath, "wb") as f:
        f.write(seg(999, 8, [1, 2, 3]))
    rd2 = _mk_reader(d)
    with _pytest.raises(ValueError, match="fingerprint"):
        rd2.partitions(committed, rd2._end_of_dir())

    # control: the SAME history grown by appends passes the gate
    with open(fpath, "wb") as f:
        f.write(seg(100, 7, [1, 2]))
    with open(fpath, "ab") as f:
        tail = seg(100, 7, [1, 2, 3])
        f.write(tail[len(seg(100, 7, [1, 2])):])
    rd3 = _mk_reader(d)
    parts = rd3.partitions(committed, rd3._end_of_dir())
    vals = [int(row[3][0][0]) for p in parts for row in rd3.read(p)]
    assert vals == [3]


def test_fingerprint_gate_catches_covered_but_relocated_rebuild(
        tmp_path):
    """The GTID gate's documented residual limit: a rebuild whose
    GTIDs below the boundary are all COVERED but sit at different
    byte offsets passes coverage — the fingerprint closes it."""
    import pytest as _pytest

    from tests.fixtures.binlog_wire_encoder import (LONG, VARCHAR,
                                                    BinlogWriter)

    sid = "0f81a2b3c4d5e6f7081922aabbccddee"
    cols = [(LONG, 0), (VARCHAR, 64)]

    def seg(base_ts, gnos, pad=False):
        w = BinlogWriter(base_ts=base_ts)
        w.format_description()
        for g in gnos:
            w.gtid(sid, g)
            w.query("shop", "BEGIN")
            if pad:                      # relocate later events
                w.rows_query(f"/* padding for gno {g} */")
            w.table_map(7, "shop", "orders", cols)
            w.write_rows(7, cols, [[g, f"o-{g}"]])
            w.xid(900 + g)
        return w.bytes()

    d = str(tmp_path / "fp_reloc")
    os.makedirs(d)
    fpath = os.path.join(d, "binlog.000001.bin")
    with open(fpath, "wb") as f:
        f.write(seg(100, [1, 2, 3]))
    rd = _mk_reader(d)
    rd.initialOffset()
    committed = rd.latestOffset()
    assert committed["gtids"] and committed["fp"]

    # SAME gtids (coverage check passes), later creation stamp,
    # different byte layout
    with open(fpath, "wb") as f:
        f.write(seg(500, [1, 2, 3], pad=True))
    rd2 = _mk_reader(d)
    with _pytest.raises(ValueError, match="fingerprint"):
        rd2.partitions(committed, rd2._end_of_dir())


def test_fingerprint_skips_virgin_segment_and_fde_rewrite(tmp_path):
    """r10 review wave 2, the rewrite window: an offset stamped on a
    VIRGIN segment (magic + seeded FDE only) carries fp=None — the
    relay may still legally rewrite that FDE on a checksum-config
    rotation, and the gate must not fire on the healthy stream."""
    from tests.fixtures.binlog_wire_encoder import (LONG, VARCHAR,
                                                    BinlogWriter)

    cols = [(LONG, 0), (VARCHAR, 64)]
    d = str(tmp_path / "fp_virgin")
    os.makedirs(d)
    fpath = os.path.join(d, "binlog.000001.bin")
    w = BinlogWriter(base_ts=100)
    w.format_description()
    with open(fpath, "wb") as f:
        f.write(w.bytes())              # virgin: magic + FDE only
    rd = _mk_reader(d)
    rd.initialOffset()
    committed = rd.latestOffset()
    assert committed.get("fp") is None  # no stamp in the window

    # the re-seed: same-shape FDE, different creation stamp, then
    # real events land
    w2 = BinlogWriter(base_ts=500)
    w2.format_description()
    w2.query("shop", "BEGIN")
    w2.table_map(7, "shop", "orders", cols)
    w2.write_rows(7, cols, [[1, "o-1"]])
    w2.xid(901)
    with open(fpath, "wb") as f:
        f.write(w2.bytes())
    rd2 = _mk_reader(d)
    parts = rd2.partitions(committed, rd2._end_of_dir())
    vals = [int(row[3][0][0]) for p in parts for row in rd2.read(p)]
    assert vals == [1], "gate must not fire across the FDE rewrite"


def test_fingerprint_catches_diverged_prefix_same_first_txn(
        tmp_path):
    """r10 review wave 2, the lost-detection case: an anonymous
    rebuild whose FIRST transaction is byte-identical to the old
    history (shared prefix, divergence later) reproduces the first
    non-FDE header — the FDE part of the stamp (frozen once the
    segment is non-virgin) still catches it."""
    import pytest as _pytest

    from tests.fixtures.binlog_wire_encoder import (LONG, VARCHAR,
                                                    BinlogWriter)

    cols = [(LONG, 0), (VARCHAR, 64)]

    def seg(fde_ts, vals):
        w = BinlogWriter(base_ts=fde_ts)
        w.format_description()
        w.ts = 100                      # events share the old stamps
        for v in vals:
            w.query("shop", "BEGIN")
            w.table_map(7, "shop", "orders", cols)
            w.write_rows(7, cols, [[v, f"o-{v}"]])
            w.xid(900 + v)
        return w.bytes()

    d = str(tmp_path / "fp_prefix")
    os.makedirs(d)
    fpath = os.path.join(d, "binlog.000001.bin")
    with open(fpath, "wb") as f:
        f.write(seg(100, [1, 2]))
    rd = _mk_reader(d)
    rd.initialOffset()
    committed = rd.latestOffset()
    assert committed["fp"] and committed["fp"][0] == 2

    # rebuild: FDE created later, first transaction identical bytes,
    # history diverges at txn 2
    with open(fpath, "wb") as f:
        f.write(seg(777, [1, 9]))
    rd2 = _mk_reader(d)
    with _pytest.raises(ValueError, match="fingerprint"):
        rd2.partitions(committed, rd2._end_of_dir())


def test_fingerprint_version_mismatch_skips_not_flags(tmp_path):
    """r10 review wave 2: an offset checkpointed under an OLDER
    fingerprint recipe must SKIP the gate, never falsely flag a
    healthy directory."""
    from tests.fixtures.binlog_wire_encoder import (LONG, VARCHAR,
                                                    BinlogWriter)

    cols = [(LONG, 0), (VARCHAR, 64)]
    d = str(tmp_path / "fp_ver")
    os.makedirs(d)
    w = BinlogWriter(base_ts=100)
    w.format_description()
    w.query("shop", "BEGIN")
    w.table_map(7, "shop", "orders", cols)
    w.write_rows(7, cols, [[1, "o-1"]])
    w.xid(901)
    with open(os.path.join(d, "binlog.000001.bin"), "wb") as f:
        f.write(w.bytes())
    rd = _mk_reader(d)
    rd.initialOffset()
    committed = rd.latestOffset()
    committed["fp"] = [1, 100, 7007, 123]   # an older recipe's shape
    rd2 = _mk_reader(d)
    parts = rd2.partitions(
        {**committed, "pos": 4}, rd2._end_of_dir())
    vals = [int(row[3][0][0]) for p in parts for row in rd2.read(p)]
    assert vals == [1], "version mismatch must skip, not flag"


def test_previous_gtids_tagged_purge_gate(tmp_path):
    """A checksummed segment whose PREVIOUS_GTIDS declares a TAGGED
    range (8.3+): the purge gate must decode it — including the
    CRC32 tail the body read carries — and compare coverage PER TAG
    IDENTITY: an executed set covering only the untagged range is
    refused (the tagged history lived in purged files), a set
    covering the tagged range too resumes normally."""
    import pytest as _pytest

    from tests.fixtures.binlog_wire_encoder import (LONG, VARCHAR,
                                                    BinlogWriter)

    sid = "0f81a2b3c4d5e6f7081922aabbccddee"
    cols = [(LONG, 0), (VARCHAR, 64)]
    w = BinlogWriter()                    # crc32 checksum default
    w.format_description()
    w.previous_gtids_tagged(sid, "patch", 3)   # patch:1-3 purged
    for g in (4, 5):
        w.gtid(sid, g)
        w.query("shop", "BEGIN")
        w.table_map(7, "shop", "orders", cols)
        w.write_rows(7, cols, [[g, f"o-{g}"]])
        w.xid(900 + g)
    d = str(tmp_path / "tagged_prev_relay")
    os.makedirs(d)
    with open(os.path.join(d, "binlog.000003.bin"), "wb") as f:
        f.write(w.bytes())

    u = f"{sid[0:8]}-{sid[8:12]}-{sid[12:16]}-" \
        f"{sid[16:20]}-{sid[20:32]}"
    rd = _mk_reader(d, startingGtids=f"{u}:1-3")   # untagged 1-3
    with _pytest.raises(ValueError, match="PREVIOUS_GTIDS"):
        rd.initialOffset()                # tag is part of identity
    ok = _mk_reader(d, startingGtids=f"{u}:patch:1-3")
    off = ok.initialOffset()
    assert off["file"] == "binlog.000003.bin"


def test_starting_gtids_skips_covered_tagged_transactions(spark,
                                                          tmp_path):
    """r11 verdict #5 (precise tagged resume): with the type-42
    body DECODED, a covered tagged transaction is skipped like any
    covered plain transaction — the scan resumes past it at the
    first genuinely-uncovered anchor instead of the r11
    conservative window (which re-delivered every covered tagged
    transaction on a tag-heavy 8.3+ primary). Executed-set
    tracking accumulates the tagged identity (uuid:tag:gno
    namespace, disjoint from the untagged one)."""
    from tests.fixtures.binlog_wire_encoder import (LONG, VARCHAR,
                                                    BinlogWriter)

    sid = "0f81a2b3c4d5e6f7081922aabbccddee"
    cols = [(LONG, 0), (VARCHAR, 64)]
    w = BinlogWriter()
    w.format_description()
    w.gtid(sid, 1)
    w.query("shop", "BEGIN")
    w.table_map(7, "shop", "orders", cols)
    w.write_rows(7, cols, [[1, "plain-1"]])
    w.xid(901)
    w.tagged_gtid(sid, gno=1, tag="patch")       # real 8.3 body
    w.query("shop", "BEGIN")
    w.table_map(7, "shop", "orders", cols)
    w.write_rows(7, cols, [[2, "tagged-2"]])
    w.xid(902)
    w.gtid(sid, 2)
    w.query("shop", "BEGIN")
    w.table_map(7, "shop", "orders", cols)
    w.write_rows(7, cols, [[3, "plain-3"]])
    w.xid(903)
    d = str(tmp_path / "tagged_precise")
    os.makedirs(d)
    with open(os.path.join(d, "binlog.000001.bin"), "wb") as f:
        f.write(w.bytes())

    uuid = f"{sid[0:8]}-{sid[8:12]}-{sid[12:16]}-" \
           f"{sid[16:20]}-{sid[20:32]}"
    # plain :1 AND the tagged transaction are covered; plain :2 is
    # not — resume must land exactly there, WITHOUT replaying the
    # tagged transaction the r11 conservative boundary re-delivered
    q = _start_gtids(spark, d, "gt_tag_skip", str(tmp_path / "ck"),
                     f"{uuid}:1,{uuid}:patch:1")
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("SELECT * FROM gt_tag_skip").collect()
    assert [(r.action, r.org_row[0]) for r in rows] == \
        [("insert", ["3", "plain-3"])]

    # the tagged identity must NOT leak into the untagged
    # namespace: covering uuid:1-2 (untagged) alone leaves the
    # tagged transaction uncovered -> it IS delivered
    q2 = _start_gtids(spark, d, "gt_tag_ns", str(tmp_path / "ck2"),
                      f"{uuid}:1-2")
    q2.processAllAvailable()
    q2.stop()
    rows2 = spark.sql("SELECT * FROM gt_tag_ns").collect()
    assert [(r.action, r.org_row[0]) for r in rows2] == \
        [("insert", ["2", "tagged-2"]), ("insert", ["3", "plain-3"])]

    # offset-carried executed sets track the tagged transaction
    rd = _mk_reader(d, startingGtids=f"{uuid}:1")
    scanned = rd._scan_gtids()
    assert scanned.covers(f"{uuid}:patch:1")
    assert scanned.covers(f"{uuid}:2")
    assert not scanned.covers(f"{uuid}:patch:2")


def test_tagged_body_decode_and_conservative_fallback():
    """The mysql::serialization decoder: round-trips the fixture
    encoder's independently-written bodies (plain and >1-byte
    varints, empty and max-length tags), refuses a 4-byte tail
    after the body, and rejects malformed bodies
    (truncation, bad tag charset, zero gno, unknown/decreasing
    field ids) -> None, which every caller maps to the r11
    conservative resume boundary."""
    from galaxy_spark.cdc.mysql_serialization import (
        decode_tagged_gtid, read_varsint, read_varuint,
        write_varsint, write_varuint)
    from tests.fixtures.binlog_wire_encoder import BinlogWriter

    # varint roundtrips incl. every byte-length boundary
    for v in (0, 1, 63, 64, 127, 128, 16383, 16384, (1 << 21) - 1,
              1 << 21, (1 << 49) - 1, 1 << 49, (1 << 56) - 1,
              1 << 56, (1 << 63) + 5, (1 << 64) - 1):
        buf = write_varuint(v)
        got, off = read_varuint(buf, 0)
        assert (got, off) == (v, len(buf)), v
    for v in (0, 1, -1, 5, -5, (1 << 62), -(1 << 62)):
        buf = write_varsint(v)
        got, off = read_varsint(buf, 0)
        assert (got, off) == (v, len(buf)), v

    sid = "00112233445566778899aabbccddeeff"
    uuid = "00112233-4455-6677-8899-aabbccddeeff"

    def body(gno, tag):
        w = BinlogWriter()
        w.format_description()
        w.tagged_gtid(sid, gno=gno, tag=tag)
        # extract the last event's body (fixture emits checksummed
        # FDE first; tagged event body = bytes after its header)
        return w.last_body()

    for gno, tag in ((1, "patch"), (7, ""), (123456789, "x"),
                     ((1 << 62) + 3, "a" * 32),
                     (1, "maint_2024")):
        got = decode_tagged_gtid(body(gno, tag))
        assert got == (uuid, tag, gno), (gno, tag, got)
        # every caller trims the CRC32 trailer first, so a 4-byte
        # tail is refused: the final bytes parse and validate like
        # any others
        tailed = body(gno, tag) + b"\x01\x02\x03\x04"
        assert decode_tagged_gtid(tailed) is None

    ok = body(5, "patch")
    assert decode_tagged_gtid(b"\x02\x01\x00") is None  # r11 opaque
    assert decode_tagged_gtid(ok[:10]) is None          # truncated
    assert decode_tagged_gtid(b"") is None
    bad_tag = body(5, "ok")
    assert decode_tagged_gtid(bad_tag.replace(b"\x04ok", b"\x04-k")) \
        is None                                         # tag charset
    assert decode_tagged_gtid(body(5, "t") + b"\x99") is None
    # zero gno is invalid (GNOs start at 1)
    from tests.fixtures.binlog_wire_encoder import BinlogWriter as BW
    w = BW()
    w.format_description()
    w.tagged_gtid(sid, gno=0, tag="t")
    assert decode_tagged_gtid(w.last_body()) is None
