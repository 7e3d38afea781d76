"""Streaming assembly tests: file-source -> envelope -> filters ->
projections -> memory sink, task lifecycle (stop/recover_v1/
recover_v2/update_filters/boot recovery), and the keyed parquet
store behind the stateful task kinds.

File sources + ``processAllAvailable()`` drive deterministic
micro-batches without external brokers (the Kafka path differs only
in ``format(...)`` + routing options, which are unit-checked on the
batch plan).
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from galaxy_spark.cdc.envelope import EVENT_SOURCE_COLUMNS, envelope_from_events
from galaxy_spark.control.metrics import MetricsListener
from galaxy_spark.control.tasks import _KINDS, TaskManager, TaskSpec
from galaxy_spark.streaming.pipeline import (
    SinkConfig,
    ddl_apply_batch,
    routed_messages,
)
from galaxy_spark.streaming.state_store import (
    CLUSTER_SPEC,
    COOC_SPEC,
    CORPUS_STATS_SPEC,
    DOC_LEN_SPEC,
    DOC_SPEC,
    ITEM_DEG_SPEC,
    LSH_SPEC,
    PAIR_SPEC,
    POSTINGS_SPEC,
    PURCHASE_SPEC,
    REDIRECT_SPEC,
    ROLLUP_SPEC,
    SNAPSHOT_SPEC,
    KeyedParquetStore,
    StoreSpec,
    basket_spec,
    event_index_spec,
    user_seq_spec,
    winnow_spec,
)
from galaxy_spark.tables import load_table

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def events_dir(spark, tmp_path):
    """Materialize sf0.001 events as a streamable parquet dir."""
    out = str(tmp_path / "events_src")
    load_table(spark, SF, "events").write.mode("overwrite").parquet(out)
    return out


def _stream_events(spark, path):
    static = spark.read.parquet(path)
    return spark.readStream.schema(static.schema).parquet(path)


def _source_factory(path):
    def factory(spark, spec):
        return envelope_from_events(_stream_events(spark, path))
    return factory


def _batch_expected(spark, flt):
    env = envelope_from_events(load_table(spark, SF, "events"))
    return flt.apply(env).count()


def test_cdc_pipeline_end_to_end(spark, events_dir, tmp_path):
    """Streaming result == batch result for the same envelope plan."""
    spec = TaskSpec(
        task_id="t_e2e",
        databases=("db0", "db1"),
        tables=("db0.*", "db1.click"),
        columns=EVENT_SOURCE_COLUMNS,
        sink_kind="memory",
    )
    mgr = TaskManager(spark, str(tmp_path / "state"), _source_factory(events_dir))
    mgr.create_task(spec)
    mgr.await_all()

    got = spark.sql("SELECT * FROM t_e2e")
    n_stream = got.count()
    n_batch = _batch_expected(spark, spec.task_filter())
    assert n_stream == n_batch > 0

    # K1 routing: topic <task>.<db>.<table>, key <db>.<table>
    row = got.limit(1).collect()[0]
    assert row["topic"].startswith("t_e2e.db")
    db, table = row["key"].split(".")
    assert row["topic"] == f"t_e2e.{db}.{table}"
    payload = json.loads(row["value"])
    assert payload["action"] in ("insert", "update", "delete")
    if payload["action"] == "insert":
        assert set(payload["after"]) == set(EVENT_SOURCE_COLUMNS)
        assert "before" not in payload or payload["before"] is None
    mgr.stop_task("t_e2e")


def test_task_lifecycle_stop_recover(spark, events_dir, tmp_path):
    # parquet sink: supports checkpoint recovery (memory sink doesn't,
    # matching production where the sink is Kafka)
    state = str(tmp_path / "state")
    mgr = TaskManager(spark, state, _source_factory(events_dir))
    spec = TaskSpec(task_id="t_lc", columns=EVENT_SOURCE_COLUMNS,
                    sink_kind="parquet",
                    sink_options={"path": str(tmp_path / "out_lc")})
    mgr.create_task(spec)
    mgr.await_all()
    assert mgr.status()["t_lc"]["active"]

    mgr.stop_task("t_lc")
    assert not mgr.status()["t_lc"]["active"]
    assert mgr.tasks["t_lc"].stopped

    # recovery_v1: same checkpoint -> no reprocessing of seen files
    ckpt_before = mgr.checkpoint_dir(mgr.tasks["t_lc"])
    mgr.recover_v1("t_lc")
    assert mgr.checkpoint_dir(mgr.tasks["t_lc"]) == ckpt_before
    mgr.await_all()
    assert mgr.status()["t_lc"]["active"]

    # recovery_v2: fresh checkpoint epoch
    mgr.recover_v2("t_lc")
    assert mgr.checkpoint_dir(mgr.tasks["t_lc"]) != ckpt_before
    mgr.await_all()
    mgr.stop_task("t_lc")


def test_boot_recovery_restarts_only_non_stopped(spark, events_dir, tmp_path):
    state = str(tmp_path / "state")
    mgr = TaskManager(spark, state, _source_factory(events_dir))
    mgr.create_task(TaskSpec(task_id="t_run", columns=EVENT_SOURCE_COLUMNS,
                             sink_kind="parquet",
                             sink_options={"path": str(tmp_path / "out_run")}))
    mgr.create_task(TaskSpec(task_id="t_stopped", columns=EVENT_SOURCE_COLUMNS,
                             sink_kind="parquet",
                             sink_options={"path": str(tmp_path / "out_stop")}))
    mgr.await_all()
    mgr.stop_task("t_stopped")
    mgr.stop_task("t_run")
    mgr.tasks["t_run"].stopped = False   # simulate crash while running
    mgr._persist()

    mgr2 = TaskManager(spark, state, _source_factory(events_dir))
    started = mgr2.recover_all()
    assert started == ["t_run"]
    mgr2.await_all()
    mgr2.stop_task("t_run")


def test_update_filters_restarts_with_new_predicate(spark, events_dir, tmp_path):
    mgr = TaskManager(spark, str(tmp_path / "state"), _source_factory(events_dir))
    spec = TaskSpec(task_id="t_upd", columns=EVENT_SOURCE_COLUMNS,
                    sink_kind="parquet",
                    sink_options={"path": str(tmp_path / "out_upd")},
                    databases=("db0",))
    mgr.create_task(spec)
    mgr.await_all()
    mgr.update_filters("t_upd", databases=("db0", "db1", "db2"))
    assert mgr.tasks["t_upd"].databases == ("db0", "db1", "db2")
    mgr.await_all()
    assert mgr.status()["t_upd"]["active"]
    mgr.stop_task("t_upd")


def test_ddl_foreach_batch_applies_to_registry(spark):
    from galaxy_spark.cdc.schema_registry import ColumnDef, SchemaRegistry
    reg = SchemaRegistry()
    reg.put("db0", "click", [ColumnDef("event_id", "bigint"),
                             ColumnDef("value", "double")])
    handler = ddl_apply_batch(reg, "db0")
    batch = spark.createDataFrame(
        [("db0", "alter table click add user_id bigint null after event_id"),
         ("db0", "BEGIN"),
         ("db0", "alter table click drop column value")],
        "database string, query string")
    handler(batch, epoch_id=0)
    assert reg.column_names("db0", "click") == ["event_id", "user_id"]


def test_metrics_listener(spark, events_dir):
    listener = MetricsListener()
    spark.streams.addListener(listener)
    try:
        from galaxy_spark.cdc.filters import TaskFilter
        from galaxy_spark.streaming.pipeline import transform_envelope
        env = envelope_from_events(_stream_events(spark, events_dir))
        projected = transform_envelope(env, TaskFilter(), EVENT_SOURCE_COLUMNS)
        msgs = routed_messages(projected, "t_metrics")
        q = (msgs.writeStream.outputMode("append").format("memory")
             .queryName("metrics_out").start())
        q.processAllAvailable()
        q.stop()
        # listener events arrive on an async bus; poll briefly
        import time
        text = ""
        for _ in range(40):
            text = listener.render_prometheus()
            if 'query="metrics_out"' in text:
                break
            time.sleep(0.25)
        assert "galaxy_stream_batches_total" in text
        assert 'query="metrics_out"' in text
    finally:
        spark.streams.removeListener(listener)


def test_sink_mux_unimplemented_kinds_raise(spark):
    from galaxy_spark.streaming.pipeline import SinkConfig
    with pytest.raises(NotImplementedError):
        SinkConfig("nsq").apply(None, "x")
    with pytest.raises(NotImplementedError):
        SinkConfig("es").apply(None, "x")
    with pytest.raises(NotImplementedError):
        SinkConfig("mongodb").apply(None, "x")


def test_stream_stream_join_within_interval(spark, events_dir, tmp_path):
    """Watermarked stream-stream inner join: click events joined to
    the same user's purchase events within 1 hour — state on both
    sides is bounded by the watermark + time-range condition."""
    schema = spark.read.parquet(events_dir).schema
    clicks = (spark.readStream.schema(schema).parquet(events_dir)
              .filter(F.col("event_type") == "click")
              .selectExpr("user_id", "ts AS click_ts",
                          "event_id AS click_id")
              .withWatermark("click_ts", "1 hour"))
    buys = (spark.readStream.schema(schema).parquet(events_dir)
            .filter(F.col("event_type") == "purchase")
            .selectExpr("user_id AS b_user_id", "ts AS buy_ts",
                        "event_id AS buy_id")
            .withWatermark("buy_ts", "1 hour"))
    joined = clicks.join(
        buys,
        F.expr("""user_id = b_user_id AND
                  buy_ts BETWEEN click_ts AND click_ts + INTERVAL 1 HOUR"""),
    ).select("user_id", "click_id", "buy_id")
    q = (joined.writeStream.outputMode("append").format("memory")
         .queryName("ssj_out").start())
    q.processAllAvailable()
    q.stop()

    ev = load_table(spark, SF, "events")
    c = ev.filter(F.col("event_type") == "click") \
          .selectExpr("user_id", "ts AS click_ts", "event_id AS click_id")
    b = ev.filter(F.col("event_type") == "purchase") \
          .selectExpr("user_id AS b_user_id", "ts AS buy_ts",
                      "event_id AS buy_id")
    exp = c.join(b, F.expr(
        """user_id = b_user_id AND
           buy_ts BETWEEN click_ts AND click_ts + INTERVAL 1 HOUR"""
    )).select("user_id", "click_id", "buy_id")
    got = spark.sql("SELECT user_id, click_id, buy_id FROM ssj_out")
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, exp.collect()))
    assert got.count() > 0


def test_quarantine_malformed_rows(spark):
    """Arity-mismatched rows are flagged, not fatal (divergence from
    the reference, which errors out: process.go:120-122,190-192 —
    documented in galaxy_spark.cdc.projections)."""
    from galaxy_spark.cdc.projections import project_changes

    rows = [
        # good insert: 3 values for 3 columns
        ("db0", "click", "insert", [["1", "10", "0.5"]]),
        # bad insert: arity 2 != 3
        ("db0", "click", "insert", [["2", "11"]]),
        # bad update: only one row in the pair
        ("db0", "click", "update", [["3", "12", "0.7"]]),
        # good update
        ("db0", "click", "update", [["4", "13", "0.1"], ["4", "13", "0.9"]]),
    ]
    df = spark.createDataFrame(
        rows, "database string, table string, action string, "
              "org_row array<array<string>>")
    out = project_changes(df, ("event_id", "user_id", "value"))
    got = {r.org_row[0][0]: r for r in out.collect()}
    assert not got["1"].quarantined and got["1"].after["value"] == "0.5"
    assert got["2"].quarantined and got["2"].after is None
    assert got["3"].quarantined
    assert not got["4"].quarantined
    assert got["4"].before["value"] == "0.1" and got["4"].after["value"] == "0.9"
    # the stream survives: quarantined rows are routable, not thrown
    assert out.count() == 4


def test_watermark_drops_late_rows(spark, tmp_path):
    """Append-mode windowed agg with watermark: rows arriving after
    the watermark passed their window are DROPPED (late-data
    semantics), not silently merged."""
    import datetime as dt
    src = str(tmp_path / "late_src")
    schema = "event_id long, ts timestamp, value double"

    def write_batch(rows, name):
        spark.createDataFrame(rows, schema).coalesce(1) \
            .write.mode("append").parquet(src)

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    # batch 1: events in hour 0 and hour 6 -> watermark advances to
    # max_ts - 1h = 05:00, far past hour 0's window end (01:00)
    write_batch([(1, t0, 1.0),
                 (2, t0 + dt.timedelta(hours=6), 1.0)], "b1")

    stream = spark.readStream.schema(schema).parquet(src)
    agg = (stream.withWatermark("ts", "1 hour")
           .groupBy(F.window("ts", "1 hour").alias("w"))
           .agg(F.count("*").alias("n")))
    q = (agg.writeStream.outputMode("append").format("memory")
         .queryName("late_out").start())
    q.processAllAvailable()
    # batch 2: a LATE row for hour 0 (watermark is already 05:00)
    write_batch([(3, t0 + dt.timedelta(minutes=30), 1.0)], "b2")
    q.processAllAvailable()
    # batch 3: advance watermark past hour 6 so its window emits too
    write_batch([(4, t0 + dt.timedelta(hours=12), 1.0)], "b3")
    q.processAllAvailable()
    q.stop()

    got = {r.ws: r.n for r in spark.sql(
        "SELECT w.start AS ws, n FROM late_out").collect()}
    # hour-0 window emitted with ONLY the on-time row; the late row
    # (event 3) was dropped, not added
    assert got[t0] == 1
    assert got[t0 + dt.timedelta(hours=6)] == 1


def test_parquet_store_rejects_foreign_lineage(spark, events_dir,
                                               tmp_path):
    """Spark epoch ids restart at 0 per checkpoint, so pointing a
    FRESH checkpoint at a used store would silently drop live
    batches as 'replays'. The sink must fail loudly instead."""
    import pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from galaxy_spark.streaming.state_store import (
        start_incremental_rollup_parquet)

    store = KeyedParquetStore(spark, str(tmp_path / "pr_store"), ROLLUP_SPEC)
    q = start_incremental_rollup_parquet(
        _stream_events(spark, events_dir), store, str(tmp_path / "ckpt_a"))
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(30)
    assert store.lineages()

    q2 = start_incremental_rollup_parquet(
        _stream_events(spark, events_dir), store, str(tmp_path / "ckpt_b"))
    with pytest.raises(StreamingQueryException, match="lineage"):
        q2.processAllAvailable()
        q2.awaitTermination(30)
    q2.stop()


def test_live_filter_update_no_restart(spark, tmp_path):
    """VERDICT r4 #8 / reference ``update_task.go:150-197``: flip an
    include list MID-STREAM and the change applies on the next
    micro-batch with NO query restart — same query id, same runId,
    offsets/state untouched. Batch 1 flows under databases=('db0',);
    after the swap to ('db1',) batch 2's db0 rows are dropped and
    its db1 rows pass — both proving the swap took effect live."""
    from galaxy_spark.streaming.pipeline import live_memory_rows

    src = str(tmp_path / "live_src")
    ev = load_table(spark, SF, "events")
    # batch 1: the first 100 events
    ev.filter(F.col("event_id") < 100).write.mode("overwrite").parquet(src)
    mgr = TaskManager(spark, str(tmp_path / "state"),
                      _source_factory(src))
    spec = TaskSpec(task_id="t_live", columns=EVENT_SOURCE_COLUMNS,
                    sink_kind="memory", databases=("db0",), live=True)
    mgr.create_task(spec)
    q = mgr.queries["t_live"]
    q.processAllAvailable()
    qid, run_id = q.id, q.runId

    rows1 = live_memory_rows("t_live")
    assert rows1 and all(r.topic.startswith("t_live.db0.") for r in rows1)
    n1 = len(rows1)

    # live swap: db0 -> db1 (no restart anywhere in this path)
    mgr.update_filters("t_live", databases=("db1",))
    # batch 2: the next 100 events land as a new file
    ev.filter(F.col("event_id").between(100, 199)) \
        .write.mode("append").parquet(src)
    q.processAllAvailable()

    assert mgr.queries["t_live"] is q          # same query object
    assert (q.id, q.runId) == (qid, run_id)    # never restarted
    assert q.isActive
    rows2 = live_memory_rows("t_live")[n1:]
    assert rows2, "batch 2 produced no rows"
    assert all(r.topic.startswith("t_live.db1.") for r in rows2)
    # db0 events exist in batch 2's id range but were filtered live
    env = envelope_from_events(ev.filter(F.col("event_id").between(100, 199)))
    assert env.filter(F.col("database") == "db0").count() > 0
    n_db1 = env.filter(F.col("database") == "db1").count()
    assert len(rows2) == n_db1                 # exactly the db1 rows
    mgr.stop_task("t_live")


def test_live_task_survives_filter_identity_update(spark, tmp_path):
    """Updating a live task's filter to the SAME value is a no-op
    that must not disturb the stream (regression guard for the
    restart-path fallthrough)."""
    src = str(tmp_path / "live_src2")
    load_table(spark, SF, "events").limit(50) \
        .write.mode("overwrite").parquet(src)
    mgr = TaskManager(spark, str(tmp_path / "state2"),
                      _source_factory(src))
    mgr.create_task(TaskSpec(task_id="t_live2",
                             columns=EVENT_SOURCE_COLUMNS,
                             sink_kind="memory", live=True))
    q = mgr.queries["t_live2"]
    q.processAllAvailable()
    run_id = q.runId
    mgr.update_filters("t_live2", databases=())
    q.processAllAvailable()
    assert q.runId == run_id and q.isActive
    mgr.stop_task("t_live2")


def test_stream_static_bloom_gate_matches_batch(spark, tmp_path):
    """Stream-static join: a document stream probes the STATIC
    Bloom position set built from the reference sources — the
    streaming twin of dedup_bloom_reference (same positions, same
    all-k fold), and the missing stream⋈static member next to the
    stream-stream join test. The static side re-resolves per
    micro-batch, so on a cluster a refreshed filter table is picked
    up without restarting the query."""
    from galaxy_spark.queries.indexing import (_BLOOM_K, _bloom_positions,
                                               dedup_bloom_reference)

    src_dir = str(tmp_path / "docs_src")
    docs = load_table(spark, SF, "documents")
    docs.write.mode("overwrite").parquet(src_dir)

    is_ref = F.col("source").isin("src0", "src1", "src2", "src3", "src4")
    ref_bits = (docs.filter(is_ref)
                .select(F.explode(_bloom_positions(F.col("text")))
                        .alias("pos"))
                .distinct().withColumn("hit", F.lit(1)))

    stream = spark.readStream.schema(docs.schema).parquet(src_dir)
    flags = (stream
             .select("doc_id",
                     F.explode(_bloom_positions(F.col("text"))).alias("pos"))
             .join(F.broadcast(ref_bits), "pos", "left")
             .groupBy("doc_id")
             .agg((F.count("hit") == _BLOOM_K).alias("bloom_hit")))
    q = (flags.writeStream.outputMode("complete").format("memory")
         .queryName("bloom_stream").start())
    q.processAllAvailable()
    q.stop()

    got = {(r.doc_id, r.bloom_hit)
           for r in spark.sql("SELECT * FROM bloom_stream").collect()}
    want = {(r.doc_id, r.bloom_hit)
            for r in dedup_bloom_reference(spark, SF).collect()}
    assert got == want and any(h for _, h in want)


def test_parquet_snapshot_store_matches_batch_and_stays_off_driver(
        spark, events_dir, tmp_path):
    """The DEFAULT durable snapshot backend (bucketed parquet MERGE,
    state_store.SNAPSHOT_SPEC) must end at exactly the batch
    cdc_apply_snapshot rows — and the accumulated state must live in
    FILES, not in any driver-side Python container: the store object
    holds only session/path/config metadata, while every state row
    is readable from the bucket dirs with plain pyarrow."""
    import glob

    import pyarrow.parquet as pq

    from galaxy_spark.queries.cdc import (cdc_apply_snapshot,
                                          snapshot_change_frame)
    from galaxy_spark.streaming.state_store import (
        start_incremental_snapshot_parquet)

    changes = snapshot_change_frame(
        envelope_from_events(_stream_events(spark, events_dir)))
    store = KeyedParquetStore(spark, str(tmp_path / "snap_store"),
                              SNAPSHOT_SPEC)
    q = start_incremental_snapshot_parquet(
        changes, store, str(tmp_path / "snap_ckpt"))
    q.processAllAvailable()
    q.stop()

    want = sorted(
        (r.database, r["table"], r.pk, r.last_value, r.last_pos,
         r.n_changes)
        for r in cdc_apply_snapshot(spark, SF).collect())
    assert store.snapshot() == want
    assert len(want) > 50

    # off-driver: no attribute of the store scales with key count
    for name, val in vars(store).items():
        assert not isinstance(val, dict), name
        if isinstance(val, (list, set, tuple)):
            assert len(val) <= 8, (name, len(val))  # key_cols/aggs
    # ...and the full state is in parquet files (incl. tombstones)
    files = glob.glob(f"{store.path}/bucket-*/v-*/part-*.parquet")
    n_file_rows = sum(pq.read_table(f).num_rows for f in files)
    n_all_keys = (cdc_apply_snapshot.__globals__["snapshot_change_frame"](
        envelope_from_events(load_table(spark, SF, "events")))
        .select("database", "table", "pk").distinct().count())
    assert n_file_rows == n_all_keys > len(want)


def test_parquet_store_epoch_replay_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: re-applying the SAME epoch key
    must be a no-op (the per-bucket _COMMITTED claim), while a new
    epoch key folds in — so the non-idempotent n_changes counter
    never double-counts on replay."""

    store = KeyedParquetStore(spark, str(tmp_path / "st"), SNAPSHOT_SPEC,
                              n_buckets=4)

    def partial(rows):
        return spark.createDataFrame(
            rows, "database string, `table` string, pk long, "
                  "last_action string, last_value double, "
                  "last_pos long, n_changes long")

    p0 = partial([("d", "t", 1, "insert", 1.0, 10, 1),
                  ("d", "t", 2, "insert", 2.0, 11, 1)])
    store.merge(p0, "lin.000000000000")
    store.merge(p0, "lin.000000000000")  # replayed epoch: dropped
    assert store.snapshot() == [("d", "t", 1, 1.0, 10, 1),
                                ("d", "t", 2, 2.0, 11, 1)]

    p1 = partial([("d", "t", 1, "update", 5.0, 20, 2)])
    store.merge(p1, "lin.000000000001")
    assert store.snapshot() == [("d", "t", 1, 5.0, 20, 3),
                                ("d", "t", 2, 2.0, 11, 1)]
    # stale-position partial arriving later: count folds, value wins
    # by position, not arrival order (latest-wins monoid)
    p2 = partial([("d", "t", 1, "update", 9.0, 15, 1)])
    store.merge(p2, "lin.000000000002")
    assert store.snapshot() == [("d", "t", 1, 5.0, 20, 4),
                                ("d", "t", 2, 2.0, 11, 1)]


def test_parquet_store_merge_rewrites_only_touched_buckets(
        spark, tmp_path):
    """Copy-on-write MERGE shape: an epoch touching one key rewrites
    ONLY that key's bucket; every other bucket keeps its prior
    version dir untouched — the property that keeps per-batch cost
    proportional to the batch at 100 TB state."""

    store = KeyedParquetStore(spark, str(tmp_path / "st"), SNAPSHOT_SPEC,
                              n_buckets=4)
    wide = spark.createDataFrame(
        [("d", "t", pk, "insert", float(pk), pk, 1)
         for pk in range(40)],
        "database string, `table` string, pk long, last_action string,"
        " last_value double, last_pos long, n_changes long")
    store.merge(wide, "lin.000000000000")
    before = {b: sorted(os.listdir(os.path.join(store.path, b)))
              for b in os.listdir(store.path) if b.startswith("bucket-")}
    assert len(before) == 4  # 40 keys cover all 4 buckets

    one = wide.filter(F.col("pk") == 7) \
        .withColumn("last_pos", F.lit(100).cast("long"))
    store.merge(one, "lin.000000000001")
    after = {b: sorted(os.listdir(os.path.join(store.path, b)))
             for b in os.listdir(store.path) if b.startswith("bucket-")}
    changed = [b for b in before if after[b] != before[b]]
    assert len(changed) == 1  # pk=7's bucket, vacuumed + new version
    assert after[changed[0]] == ["v-lin.000000000001"]
    for b in before:
        if b != changed[0]:
            assert after[b] == before[b] == ["v-lin.000000000000"]


def test_parquet_rollup_store_matches_batch(spark, events_dir, tmp_path):
    """Durable continuous-aggregate backend == one-shot batch
    aggregation (the same pin as the dict-store twin, now with the
    accumulated buckets in executor-written parquet)."""
    from galaxy_spark.streaming.state_store import (
        start_incremental_rollup_parquet)

    stream = _stream_events(spark, events_dir)
    store = KeyedParquetStore(spark, str(tmp_path / "roll_store"), ROLLUP_SPEC)
    q = start_incremental_rollup_parquet(
        stream, store, str(tmp_path / "roll_ckpt"))
    q.processAllAvailable()
    q.stop()

    ev = load_table(spark, SF, "events")
    exp = sorted(
        (r.grain, r.bucket_start, r.event_type, r.n_events,
         round(r.total_value, 2))
        for g in ("hour", "day")
        for r in (ev.groupBy(F.lit(g).alias("grain"),
                             F.date_trunc(g, "ts").alias("bucket_start"),
                             "event_type")
                  .agg(F.count("*").alias("n_events"),
                       F.sum("value").alias("total_value"))).collect())
    assert store.snapshot() == exp


def test_live_memory_sink_hard_caps_driver_buffer(spark, events_dir,
                                                  tmp_path):
    """The live pipeline's memory sink is a test surface: it must
    REFUSE to buffer past maxRows (killing the query with a clear
    error) rather than silently accumulate a 100 TB stream on the
    driver. The kafka/parquet paths write distributed and have no
    cap."""
    from galaxy_spark.cdc.filters import TaskFilter
    from galaxy_spark.streaming.pipeline import (LiveFilterRef,
                                                 start_pipeline_live)

    env = envelope_from_events(_stream_events(spark, events_dir))
    q = start_pipeline_live(
        env, "t_cap", LiveFilterRef(TaskFilter()),
        EVENT_SOURCE_COLUMNS,
        SinkConfig(kind="memory", options={"maxRows": "50"}),
        str(tmp_path / "cap_ckpt"))
    with pytest.raises(Exception, match="maxRows=50"):
        q.processAllAvailable()
    q.stop()


def test_parquet_rollup_store_survives_spark_epoch_replay(
        spark, events_dir, tmp_path):
    """Spark-driven epoch replay against the DURABLE parquet store:
    drop the last checkpoint commit marker, restart, and the
    bucketed MERGE must recognize its committed (bucket, epoch)
    versions and skip the replayed batch — totals unchanged, no new
    version dirs minted."""
    from galaxy_spark.streaming.state_store import (
        start_incremental_rollup_parquet)

    ckpt = str(tmp_path / "pr_ckpt")
    store = KeyedParquetStore(spark, str(tmp_path / "pr_store"), ROLLUP_SPEC)
    q = start_incremental_rollup_parquet(
        _stream_events(spark, events_dir), store, ckpt)
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(30)
    first = store.snapshot()
    versions = {d: sorted(os.listdir(os.path.join(store.path, d)))
                for d in os.listdir(store.path)
                if d.startswith("bucket-")}
    assert first and versions

    commits_dir = os.path.join(ckpt, "commits")
    last = [c for c in sorted(os.listdir(commits_dir))
            if not c.startswith(".")][-1]
    os.remove(os.path.join(commits_dir, last))
    crc = os.path.join(commits_dir, f".{last}.crc")
    if os.path.exists(crc):
        os.remove(crc)

    q2 = start_incremental_rollup_parquet(
        _stream_events(spark, events_dir), store, ckpt)
    q2.processAllAvailable()
    q2.stop()
    q2.awaitTermination(30)

    assert store.snapshot() == first, "replayed epoch double-counted"
    after = {d: sorted(os.listdir(os.path.join(store.path, d)))
             for d in os.listdir(store.path)
             if d.startswith("bucket-")}
    assert after == versions, "replay minted new version dirs"


def test_stream_static_minhash_gate_matches_batch(spark, tmp_path):
    """Stream-static NEAR-DUP gate: incoming documents probe a
    precomputed static MinHash band index of the reference corpus —
    the incremental crawl-dedup shape ("is this document a near-dup
    of anything we already hold?"), completing the stream-static
    family next to the Bloom (exact-membership) gate. Candidates
    per micro-batch must equal the batch equi-join over the same
    data."""
    from galaxy_spark.operators.dedup import minhash_band_buckets

    docs = load_table(spark, SF, "documents")
    ref = docs.filter(F.col("source").isin("src0", "src1", "src2"))
    probe = docs.filter(~F.col("source").isin("src0", "src1", "src2"))

    idx_path = str(tmp_path / "ref_idx")
    minhash_band_buckets(ref).write.parquet(idx_path)  # static index

    probe_path = str(tmp_path / "probe_src")
    probe.write.parquet(probe_path)
    stream = _stream_events(spark, probe_path)

    got: set = set()

    def handle(batch_df, epoch_id):
        bb = minhash_band_buckets(batch_df)
        static = spark.read.parquet(idx_path)  # re-resolved per batch
        cands = (bb.alias("p")
                 .join(static.alias("r"),
                       (F.col("p.band") == F.col("r.band"))
                       & (F.col("p.bucket") == F.col("r.bucket")))
                 .select(F.col("p.id").alias("probe_id"),
                         F.col("r.id").alias("ref_id"))
                 .distinct())
        got.update((r.probe_id, r.ref_id) for r in cands.collect())

    q = (stream.writeStream
         .option("checkpointLocation", str(tmp_path / "mh_ckpt"))
         .foreachBatch(handle).start())
    q.processAllAvailable()
    q.stop()

    bb_p = minhash_band_buckets(probe)
    static = spark.read.parquet(idx_path)
    want = {(r.probe_id, r.ref_id) for r in
            (bb_p.alias("p")
             .join(static.alias("r"),
                   (F.col("p.band") == F.col("r.band"))
                   & (F.col("p.bucket") == F.col("r.bucket")))
             .select(F.col("p.id").alias("probe_id"),
                     F.col("r.id").alias("ref_id"))
             .distinct()).collect()}
    assert got == want and want


def test_streaming_histogram_quantile_on_durable_store(spark, events_dir,
                                                       tmp_path):
    """Streaming quantiles on the durable store (VERDICT r6 #8):
    the fixed-bin histogram is a SUM-mergeable (bin -> count) map,
    so per-batch partial counts fold into the generic
    KeyedParquetStore exactly like the rollup — and the
    incrementally-maintained histogram must equal the batch build
    bin-for-bin, with the quantile read off the store honoring the
    one-bin-width value bound against the exact order statistic.
    (A t-digest would bound tails tighter but its float centroids
    are merge-order-dependent — unreproducible across replays; the
    fixed-bin sketch is the determinism-correct choice, see
    agg_histogram_quantile_value_bound.)"""
    import math

    ev = load_table(spark, SF, "events").filter(F.col("value").isNotNull())
    B = 128
    mm = ev.agg(
        (F.min("value") * 100).cast("long").alias("mn"),
        (F.max("value") * 100).cast("long").alias("mx")).collect()[0]
    mn, span = mm["mn"], mm["mx"] - mm["mn"]

    def binned_counts(df):
        vi = (F.col("value") * 100).cast("long")
        return (df.filter(F.col("value").isNotNull())
                .select(F.least(
                    F.floor(((vi - F.lit(mn)) * B).cast("double")
                            / F.lit(span)).cast("int"),
                    F.lit(B - 1)).alias("bin"))
                .groupBy("bin")
                .agg(F.count("*").cast("long").alias("cnt")))

    store = KeyedParquetStore(spark, str(tmp_path / "hist_store"), StoreSpec(
        ("bin",), lambda: [F.sum("cnt").cast("long").alias("cnt")],
        "bin int, cnt long", 2))
    q = (_stream_events(spark, events_dir).writeStream
         .option("checkpointLocation", str(tmp_path / "hist_ck"))
         .foreachBatch(lambda b, e: store.merge(
             binned_counts(b), f"lin.{e:012d}"))
         .start())
    q.processAllAvailable()
    q.stop()

    got = {r.bin: r.cnt for r in store.state().collect()}
    want = {r.bin: r.cnt for r in binned_counts(ev).collect()}
    assert got == want and sum(got.values()) == ev.count()

    # median off the STORE: crossing bin's upper edge within one
    # bin width of the exact order statistic
    n = sum(got.values())
    target = math.ceil(0.5 * n)
    cum, k = 0, None
    for b in sorted(got):
        cum += got[b]
        if cum >= target:
            k = b
            break
    est = mn + math.floor((k + 1) * span / B)
    exact = (ev.select((F.col("value") * 100).cast("long").alias("vi"))
             .orderBy("vi").limit(target).agg(F.max("vi"))
             .collect()[0][0])
    assert -1 <= est - exact <= span // B + 2


def test_streaming_hll_registers_on_durable_store(spark, events_dir,
                                                  tmp_path):
    """Streaming cardinality on the durable store: HLL registers
    are a bucket-wise MAX monoid, so per-batch register partials
    fold into the generic KeyedParquetStore with a max-merge — and
    the incrementally-accumulated registers equal the batch build
    cell-for-cell (the same continuous-aggregate guarantee as the
    histogram sketch, for the COUNT DISTINCT axis)."""
    from galaxy_spark.queries.indexing import hll_registers

    store = KeyedParquetStore(spark, str(tmp_path / "hll_store"), StoreSpec(
        ("bucket",), lambda: [F.max("register").alias("register")],
        "bucket long, register int", 2))
    q = (_stream_events(spark, events_dir).writeStream
         .option("checkpointLocation", str(tmp_path / "hll_ck"))
         .foreachBatch(lambda b, e: store.merge(
             hll_registers(b, F.col("event_id")), f"lin.{e:012d}"))
         .start())
    q.processAllAvailable()
    q.stop()

    got = {(r.bucket, r.register) for r in store.state().collect()}
    ev = load_table(spark, SF, "events")
    want = {(r.bucket, r.register)
            for r in hll_registers(ev, F.col("event_id")).collect()}
    assert got == want and len(want) > 100


def test_rebucket_preserves_state_and_resumes_stream(spark, events_dir,
                                                     tmp_path):
    """The bucket-count migration story: quiesce -> rebucket -> the
    SAME checkpoint resumes against the migrated store, and the
    final state equals the batch fold over everything. Also pins
    the two refusals: a non-quiesced store (claims past the commit
    log) and a lineage mismatch."""
    from galaxy_spark.queries.cdc import (cdc_apply_snapshot,
                                          snapshot_change_frame)
    from galaxy_spark.streaming.state_store import (
        rebucket, start_incremental_snapshot_parquet)
    from galaxy_spark.tables import load_table as _lt

    ev = _lt(spark, SF, "events")
    mid = ev.stat.approxQuantile("event_id", [0.5], 0.01)[0]
    src = str(tmp_path / "ev_src")
    ev.filter(F.col("event_id") <= mid).write.parquet(src)

    ckpt = str(tmp_path / "rb_ckpt")
    store = KeyedParquetStore(spark, str(tmp_path / "rb_a"), SNAPSHOT_SPEC,
                              n_buckets=2)

    def start(st):
        return start_incremental_snapshot_parquet(
            snapshot_change_frame(
                envelope_from_events(_stream_events(spark, src))),
            st, ckpt)

    q = start(store)
    q.processAllAvailable()
    q.stop()
    before = store.snapshot()

    store2 = rebucket(store, str(tmp_path / "rb_b"), 8,
                      checkpoint_dir=ckpt)
    assert store2.n_buckets == 8
    assert store2.snapshot() == before          # identity, re-spread
    assert len(os.listdir(store2.path)) >= 8    # occupied buckets

    # resume from the ORIGINAL checkpoint against the migrated store
    (ev.filter(F.col("event_id") > mid)
     .write.mode("append").parquet(src))
    q2 = start(store2)
    q2.processAllAvailable()
    q2.stop()
    want = sorted(
        (r.database, r["table"], r.pk, r.last_value, r.last_pos,
         r.n_changes)
        for r in cdc_apply_snapshot(spark, SF).collect())
    assert store2.snapshot() == want

    # refusal 1: claims beyond the checkpoint's commit log
    import shutil as _sh

    b0 = os.path.join(store2.path, "bucket-0")
    cur = sorted(os.listdir(b0))[-1]
    lin, ep = cur[2:].rsplit(".", 1)
    bogus = os.path.join(b0, f"v-{lin}.{int(ep) + 99:012d}")
    _sh.copytree(os.path.join(b0, cur), bogus)
    with pytest.raises(ValueError, match="not quiesced"):
        rebucket(store2, str(tmp_path / "rb_c"), 4,
                 checkpoint_dir=ckpt)
    _sh.rmtree(bogus)

    # refusal 2: foreign checkpoint lineage
    foreign_ckpt = str(tmp_path / "foreign_ckpt")
    os.makedirs(foreign_ckpt)
    with open(os.path.join(foreign_ckpt, "metadata"), "w") as f:
        json.dump({"id": "ffffffff-0000-0000-0000-000000000000"}, f)
    with pytest.raises(ValueError, match="lineage"):
        rebucket(store2, str(tmp_path / "rb_d"), 4,
                 checkpoint_dir=foreign_ckpt)


def test_topic_files_sink_routes_like_kafka(spark, events_dir, tmp_path):
    """K1 through the Spark 4 Python DataSource WRITER API: routed
    messages stream into per-topic directories (the broker-less
    Kafka-sink twin, completing the custom reader+writer surface).
    Every message lands exactly once under its <task>.<db>.<table>
    topic with key <db>.<table>, no torn .tmp files survive the
    commit, and content equals the batch routing."""
    import glob
    import json as _json

    from galaxy_spark.sinks_topic import TopicFilesDataSource
    from galaxy_spark.streaming.pipeline import routed_messages

    try:
        spark.dataSource.register(TopicFilesDataSource)
    except Exception:
        pass

    env = envelope_from_events(_stream_events(spark, events_dir))
    msgs = routed_messages(env, "t_files")
    out = str(tmp_path / "topics")
    q = (msgs.writeStream.format("galaxy_topic_files")
         .option("path", out)
         .option("checkpointLocation", str(tmp_path / "tf_ckpt"))
         .start())
    q.processAllAvailable()
    q.stop()

    got = []
    for f in glob.glob(f"{out}/*/batch-*.jsonl"):
        topic = os.path.basename(os.path.dirname(f))
        with open(f) as fh:
            for line in fh:
                m = _json.loads(line)
                got.append((topic, m["key"], m["value"]))
    assert not glob.glob(f"{out}/*/*.tmp-*"), "torn batch visible"

    batch = routed_messages(
        envelope_from_events(load_table(spark, SF, "events")), "t_files")
    want = [(r.topic, r.key, r.value) for r in batch.collect()]
    assert sorted(got) == sorted(want) and len(want) > 500
    # routing invariants: topic = <task>.<key>; one dir per topic
    for topic, key, _ in got:
        assert topic == f"t_files.{key}"


def test_parquet_store_recovers_from_crash_debris(spark, tmp_path):
    """Pin the documented crash windows of the keyed parquet store:
    (a) an orphaned .stage- dir (crash before any rename) is swept
    by the next merge once STALE — never by construction (a reader
    handle over a running store must not delete a live merge's
    stage, r11 review wave 1) and never while fresh (a zombie
    writer must not delete the LIVE writer's seconds-old stage,
    wave 2); (b) a TORN version dir (renamed but no _COMMITTED
    marker — crash between rename and marker) is never read as
    current and is replaced when its epoch replays; (c) a crash
    mid-vacuum (stale older version left behind) is ignored by the
    max-committed-version rule and swept by the next merge."""
    import time as _time

    path = str(tmp_path / "st")
    store = KeyedParquetStore(spark, path, SNAPSHOT_SPEC, n_buckets=1)

    def partial(pk, pos, v):
        return spark.createDataFrame(
            [("d", "t", pk, "insert", v, pos, 1)],
            "database string, `table` string, pk long, "
            "last_action string, last_value double, last_pos long, "
            "n_changes long")

    store.merge(partial(1, 10, 1.0), "lin.000000000000")
    base = store.snapshot()

    # (a) orphaned staging dirs: one stale (crash debris), one
    # fresh (a concurrent writer's live stage)
    stale = os.path.join(path, ".stage-deadbeef")
    fresh = os.path.join(path, ".stage-11v3aaaa")
    os.makedirs(os.path.join(stale, "x"))
    os.makedirs(fresh)
    old = _time.time() - 3600
    os.utime(stale, (old, old))
    # (b) torn next-epoch version: dir present, no _COMMITTED
    torn = os.path.join(path, "bucket-0", "v-lin.000000000001")
    os.makedirs(torn)
    with open(os.path.join(torn, "garbage"), "w") as f:
        f.write("not parquet")

    store2 = KeyedParquetStore(spark, path, SNAPSHOT_SPEC, n_buckets=1)
    assert os.path.exists(stale), \
        "construction must not sweep (readers share the path)"
    assert store2.snapshot() == base          # torn version invisible

    # replaying the torn epoch recomputes it from the committed base
    store2.merge(partial(2, 20, 2.0), "lin.000000000001")
    assert store2.snapshot() == [("d", "t", 1, 1.0, 10, 1),
                                 ("d", "t", 2, 2.0, 20, 1)]
    # the merge swept the STALE stage and spared the FRESH one
    assert not os.path.exists(stale)
    assert os.path.exists(fresh)
    # (c) mid-vacuum debris: fake an old version surviving next to
    # the current one; the next merge of the bucket sweeps it
    stale = os.path.join(path, "bucket-0", "v-lin.000000000000x")
    os.makedirs(stale)
    store2.merge(partial(3, 30, 3.0), "lin.000000000002")
    versions = sorted(os.listdir(os.path.join(path, "bucket-0")))
    assert versions == ["v-lin.000000000002"], versions
    assert len(store2.snapshot()) == 3


def test_topic_files_abort_sweeps_staged_files(spark, tmp_path):
    """The sink's abort path (Spark calls it when any partition of
    a batch fails) must remove every staged .tmp file so a failed
    epoch leaves no debris for readers to trip on — unit-driven
    against the writer directly, since partition failure isn't
    deterministically injectable through a query."""
    from pyspark.sql import Row

    from galaxy_spark.sinks_topic import TopicFilesStreamWriter

    out = str(tmp_path / "topics")
    w = TopicFilesStreamWriter({"path": out})
    msg = w.write(iter([
        Row(topic="t.a.b", key="a.b", value="{}"),
        Row(topic="t.c.d", key="c.d", value="{}"),
    ]))
    staged = [tmp for tmp, _ in msg.renames]
    assert len(staged) == 2 and all(os.path.exists(p) for p in staged)
    w.abort([msg, None], batchId=5)
    assert not any(os.path.exists(p) for p in staged)
    import glob
    assert not glob.glob(f"{out}/*/batch-*"), "no published files"


def test_topic_files_replay_overwrites_same_batch(tmp_path, monkeypatch):
    """Replaying a batchId must never duplicate rows within that
    batchId: final names are deterministic per (batchId,
    partitionId) so a replay's commit overwrites the crashed
    attempt's files, and files a repartitioned replay did NOT
    republish are swept along with stale .tmp litter."""
    import glob

    from pyspark.sql import Row

    from galaxy_spark.sinks_topic import TopicFilesStreamWriter

    class _Ctx:
        def __init__(self, pid):
            self._pid = pid

        def partitionId(self):
            return self._pid

    def with_pid(pid):
        import pyspark

        monkeypatch.setattr(pyspark.TaskContext, "get",
                            staticmethod(lambda: _Ctx(pid)))

    out = str(tmp_path / "topics")
    w = TopicFilesStreamWriter({"path": out})
    row = Row(topic="t.a.b", key="a.b", value='{"v":1}')

    # attempt 1: two partitions publish under batch 7
    with_pid(0)
    m0 = w.write(iter([row]))
    with_pid(1)
    m1 = w.write(iter([row, row]))
    w.commit([m0, m1], batchId=7)
    assert sorted(os.path.basename(f) for f in
                  glob.glob(f"{out}/t.a.b/batch-7-*")) == [
        "batch-7-part-00000.jsonl", "batch-7-part-00001.jsonl"]

    # crash-post-commit replay: ONE partition this time, plus stale
    # .tmp litter from the crashed attempt
    litter = os.path.join(out, "t.a.b", "part-00009.jsonl.tmp-dead")
    with open(litter, "w") as f:
        f.write("torn\n")
    with_pid(0)
    m0b = w.write(iter([row, row, row]))
    w.commit([m0b], batchId=7)
    files = glob.glob(f"{out}/t.a.b/*")
    assert [os.path.basename(f) for f in files] == [
        "batch-7-part-00000.jsonl"]      # part-1 superseded, tmp swept
    with open(files[0]) as f:
        assert len(f.readlines()) == 3   # last attempt's content wins


def test_quarantined_rows_route_to_dead_letter_topic(spark, tmp_path):
    """A malformed event (wrong org_row arity) must neither kill the
    stream (reference behavior: error out, process.go:120-122) nor
    vanish: it lands on <task>.deadletter.<db>.<table> with its full
    raw payload, while well-formed events flow to their normal
    topics — one stream, one sink, conservation of events."""
    from galaxy_spark.cdc.filters import TaskFilter
    from galaxy_spark.streaming.pipeline import SinkConfig, start_pipeline

    src = str(tmp_path / "dlq_src")
    rows = [
        ("db0", "t", "insert", [["1", "2", "3.5"]], (1, 10)),   # good
        ("db0", "t", "insert", [["1", "2"]], (2, 20)),          # arity!
        ("db0", "t", "update",
         [["1", "2", "3.5"], ["1", "2", "4.5"]], (3, 30)),      # good
    ]
    spark.createDataFrame(
        rows, "database string, `table` string, action string, "
              "org_row array<array<string>>, "
              "event_header struct<timestamp:long, log_pos:long>"
    ).write.mode("overwrite").parquet(src)
    static = spark.read.parquet(src)
    stream = spark.readStream.schema(static.schema).parquet(src)

    q = start_pipeline(stream, "t_dlq", TaskFilter(),
                       EVENT_SOURCE_COLUMNS,
                       SinkConfig(kind="memory"),
                       str(tmp_path / "dlq_ckpt"))
    q.processAllAvailable()
    q.stop()

    out = spark.sql("SELECT * FROM t_dlq").collect()
    assert len(out) == 3, "events must be conserved"
    by_topic = {}
    for r in out:
        by_topic.setdefault(r.topic, []).append(r)
    assert len(by_topic["t_dlq.db0.t"]) == 2
    (dl,) = by_topic["t_dlq.deadletter.db0.t"]
    assert dl.key == "db0.t"
    payload = json.loads(dl.value)
    assert payload["org_row"] == [["1", "2"]]      # replayable raw row
    assert payload["event_header"]["log_pos"] == 20


def test_ddl_apply_batch_persists_registry(spark, tmp_path):
    """The persistence half of the DDL contract: with save_path
    set, applied DDL survives a restart via SchemaRegistry.load —
    without it, Spark's commit log advances past the DDL batch and
    a restarted registry lacks the ALTER, quarantining every later
    row of the table on arity with no error anywhere."""
    from galaxy_spark.cdc.schema_registry import (ColumnDef,
                                                  SchemaRegistry)

    reg = SchemaRegistry()
    reg.put("db0", "t", [ColumnDef("id"), ColumnDef("v")])
    save = str(tmp_path / "registry.json")
    handler = ddl_apply_batch(reg, "db0", save_path=save)
    batch = spark.createDataFrame(
        [("db0", "ALTER TABLE t ADD COLUMN c int")],
        "database string, query string")
    handler(batch, 0)
    assert [c.name for c in reg.get("db0", "t").columns] \
        == ["id", "v", "c"]

    reloaded = SchemaRegistry.load(save)
    assert [c.name for c in reloaded.get("db0", "t").columns] \
        == ["id", "v", "c"]


def test_store_rename_failure_raises_not_skips(tmp_path, monkeypatch):
    """A commit-rename failure that is NOT a lost replay race must
    RAISE (so Spark retries the batch) — swallowing it as a replay
    skip would silently drop a live epoch's contribution while the
    checkpoint advanced."""
    from galaxy_spark.streaming.store_fs import PosixStoreFs

    fs = PosixStoreFs()
    bucket = str(tmp_path / "bucket-0")

    def stage(name):
        d = tmp_path / name
        d.mkdir()
        (d / "part-0.parquet").write_bytes(b"x")
        return str(d)

    real_rename = os.rename

    def failing_rename(src, dst):
        raise OSError("injected: no space left on device")

    monkeypatch.setattr(os, "rename", failing_rename)
    with pytest.raises(OSError, match="injected"):
        fs.publish_version(bucket, "v-lin.000000000001", stage("s1"))
    assert not fs.committed(bucket, "v-lin.000000000001")
    monkeypatch.setattr(os, "rename", real_rename)

    # genuine lost race (the version is already committed) returns
    # quietly and leaves the committed version in place
    fs.publish_version(bucket, "v-lin.000000000002", stage("s2"))
    assert fs.committed(bucket, "v-lin.000000000002")
    monkeypatch.setattr(os, "rename", failing_rename)
    fs.publish_version(bucket, "v-lin.000000000002", stage("s3"))
    assert fs.committed(bucket, "v-lin.000000000002")


def test_live_pipeline_routes_quarantined_to_dlq(spark, tmp_path):
    """The LIVE pipeline must honor the same dead-letter contract
    as start_pipeline: a malformed (short-arity) row routes to
    <task>.deadletter.<db>.<table> through the same sink — it used
    to be silently dropped on exactly the pipeline variant meant
    for production filter updates."""
    from galaxy_spark.cdc.filters import TaskFilter
    from galaxy_spark.streaming.pipeline import (LiveFilterRef,
                                                 _LIVE_MEMORY,
                                                 start_pipeline_live)

    src = str(tmp_path / "dlq_env")
    rows = [
        ("db0", "click", "insert", [["1", "10", "0.5"]]),   # good
        ("db0", "click", "insert", [["2", "11"]]),          # short
    ]
    (spark.createDataFrame(
        rows, "database string, table string, action string, "
              "org_row array<array<string>>")
     .withColumn("event_header",
                 F.struct(F.lit(1).cast("long").alias("timestamp"),
                          F.lit(10).cast("long").alias("log_pos"),
                          F.lit(1000).cast("long")
                          .alias("timestamp_ms")))
     .write.parquet(src))
    env = spark.readStream.schema(
        spark.read.parquet(src).schema).parquet(src)
    q = start_pipeline_live(
        env, "t_dlq", LiveFilterRef(TaskFilter()),
        ("event_id", "user_id", "value"),
        SinkConfig(kind="memory", options={}),
        str(tmp_path / "dlq_ckpt"))
    q.processAllAvailable()
    q.stop()
    topics = sorted(r.topic for r in _LIVE_MEMORY["t_dlq"])
    assert topics == ["t_dlq.db0.click", "t_dlq.deadletter.db0.click"]


def test_topic_files_lineage_scopes_batch_names(tmp_path, monkeypatch):
    """After a checkpoint reset (recovery_v2 bumps the task's
    checkpoint epoch; batchIds restart at 0), the new generation's
    batch 0 must NOT overwrite or sweep the previous generation's
    already-delivered batch-0 files — the lineage option scopes
    names and sweeps to the checkpoint generation, and TaskManager
    wires it from TaskSpec.checkpoint_epoch."""
    import glob

    from pyspark.sql import Row

    from galaxy_spark.control.tasks import TaskSpec
    from galaxy_spark.sinks_topic import TopicFilesStreamWriter

    class _Ctx:
        def partitionId(self):
            return 0

    import pyspark

    monkeypatch.setattr(pyspark.TaskContext, "get",
                        staticmethod(lambda: _Ctx()))
    out = str(tmp_path / "topics")
    row1 = Row(topic="t.a.b", key="a.b", value='{"v":"epoch0"}')
    row2 = Row(topic="t.a.b", key="a.b", value='{"v":"epoch1"}')

    w0 = TopicFilesStreamWriter({"path": out, "lineage": "e0"})
    w0.commit([w0.write(iter([row1]))], batchId=0)
    w1 = TopicFilesStreamWriter({"path": out, "lineage": "e1"})
    w1.commit([w1.write(iter([row2]))], batchId=0)

    names = sorted(os.path.basename(f) for f in
                   glob.glob(f"{out}/t.a.b/batch-*"))
    assert names == ["batch-e0.0-part-00000.jsonl",
                     "batch-e1.0-part-00000.jsonl"]

    # and a replay WITHIN a lineage still overwrites, not duplicates
    w1b = TopicFilesStreamWriter({"path": out, "lineage": "e1"})
    w1b.commit([w1b.write(iter([row2]))], batchId=0)
    assert sorted(os.path.basename(f) for f in
                  glob.glob(f"{out}/t.a.b/batch-e1*")) == [
        "batch-e1.0-part-00000.jsonl"]

    spec = TaskSpec(task_id="t", sink_kind="topic_files",
                    sink_options={"path": out})
    spec.checkpoint_epoch = 3
    assert spec.sink().options["lineage"] == "e3"


def test_rebucket_base_class_store_and_quiesce_warning(spark, tmp_path):
    """rebucket on a store over an ad-hoc StoreSpec must carry its
    key_cols/aggs (a subclass-shaped constructor call once raised a
    bare TypeError), and omitting checkpoint_dir warns that the
    quiesce check is skipped."""
    import warnings

    from pyspark.sql import functions as F

    from galaxy_spark.streaming.state_store import rebucket

    store = KeyedParquetStore(spark, str(tmp_path / "base_a"), StoreSpec(
        ("k",), lambda: [F.sum("v").cast("long").alias("v")],
        "k string, v long", 2))
    store.merge(spark.createDataFrame([("a", 1), ("b", 2)],
                                      "k string, v long"),
                "ck1.000000000000")
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        moved = rebucket(store, str(tmp_path / "base_b"), 4)
    assert any("quiesced" in str(w.message) for w in caught)
    assert moved.n_buckets == 4
    assert sorted((r.k, r.v) for r in moved.state().collect()) == \
        [("a", 1), ("b", 2)]


# ------------------------------------------------------------------
# Streaming incremental near-dup index (durable MinHash-LSH)
# ------------------------------------------------------------------

def _near_dup_stores(spark, tmp_path, tag, delta=None, fs="posix"):
    return tuple(
        KeyedParquetStore(spark, str(tmp_path / f"{tag}_{name}"), spec,
                          delta_threshold=delta, fs=fs)
        for name, spec in (("lsh", LSH_SPEC), ("docs", DOC_SPEC),
                           ("pairs", PAIR_SPEC)))


def test_lsh_probe_plans_as_equi_join(spark, tmp_path):
    """The probe against the grown index must plan as an EQUI-join
    on (band, bucket) — hash/sort-merge/broadcast-HASH — never a
    cartesian or nested-loop product; same only-wide-operation
    contract the batch tier pins."""
    from galaxy_spark.plans import physical_plan
    from galaxy_spark.streaming.state_store import (
        lsh_probe_pairs, partial_lsh_index)

    docs = load_table(spark, SF, "documents")
    lsh, dstore, _ = _near_dup_stores(spark, tmp_path, "ndp")
    lsh.merge(partial_lsh_index(docs.filter(F.col("doc_id") % 2 == 0)),
              "lin.000000000000")
    dstore.merge(
        docs.filter(F.col("doc_id") % 2 == 0)
        .select(F.col("doc_id").alias("id"), "text"),
        "lin.000000000000")
    probe = lsh_probe_pairs(docs.filter(F.col("doc_id") % 2 == 1),
                            lsh, dstore)
    p = physical_plan(probe)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    # the verification inputs must prune to candidate ids BEFORE
    # the shingle compute (r10 review: without the semi-join, every
    # trigger re-shuffled and re-shingled the whole corpus)
    assert "LeftSemi" in p
    assert probe.count() >= 0          # the plan executes


def _cluster_stores(spark, tmp_path, tag):
    return tuple(
        KeyedParquetStore(spark, str(tmp_path / f"{tag}_{name}"), spec)
        for name, spec in (("lsh", LSH_SPEC), ("doc", DOC_SPEC),
                           ("pair", PAIR_SPEC), ("cl", CLUSTER_SPEC),
                           ("rd", REDIRECT_SPEC)))


def test_streaming_clustering_matches_batch(spark, tmp_path):
    """r10 verdict #4: the canonical-document assignment maintained
    INCREMENTALLY on the union-find stores equals the batch
    ``dedup_cluster_canonical`` answer over the replayed corpus —
    doc-for-doc across cluster_id, cluster_size and is_canonical —
    including clusters whose members arrived in different
    micro-batches."""
    import time as _time

    from galaxy_spark.registry import all_queries
    from galaxy_spark.streaming.state_store import (
        start_streaming_near_dup_clustering,
        streaming_cluster_assignments, streaming_near_dup_pairs)

    docs = load_table(spark, SF, "documents")
    src = str(tmp_path / "cl_src")
    for k in range(3):
        (docs.filter(F.col("doc_id") % 3 == k)
         .coalesce(1).write.mode("append").parquet(src))
        _time.sleep(1.1)

    lsh, dstore, pairs, cstore, rstore = _cluster_stores(
        spark, tmp_path, "clm")
    stream = spark.readStream.schema(docs.schema) \
        .option("maxFilesPerTrigger", 1).parquet(src)
    q = start_streaming_near_dup_clustering(
        stream, lsh, dstore, pairs, cstore, rstore,
        str(tmp_path / "cl_ck"))
    q.processAllAvailable()
    q.stop()

    got = sorted(tuple(r) for r in streaming_cluster_assignments(
        docs, cstore, rstore).collect())
    want = sorted(tuple(r) for r in all_queries()
                  ["dedup_cluster_canonical"](spark, SF).collect())
    assert got == want
    # non-vacuous: some cluster spans arrival slices, so a MERGE of
    # previously-separate state actually happened
    emitted = [(r.id_a, r.id_b) for r in
               streaming_near_dup_pairs(pairs).collect()]
    assert any(a % 3 != b % 3 for a, b in emitted)


def test_streaming_clustering_chain_merge_and_restart(spark,
                                                      tmp_path):
    """Chain-shaped merges across batches + kill/restart: docs
    30~20 and 20~10 (never 30~10) arrive LARGEST-FIRST, so the
    final batch must re-resolve 30's stale label through the
    redirect store (the untouched-member case eager relabeling
    would have missed), a fourth doc then walks a batch-time chain,
    and a replayed partial under a fresh epoch key cannot move
    anything (MIN folds)."""
    import time as _time

    from galaxy_spark.streaming.state_store import (
        _cluster_partials, start_streaming_near_dup_clustering,
        streaming_cluster_assignments, streaming_near_dup_pairs)

    W = [f"tok3x{i}" for i in range(16)]

    def txt(lo):
        return " ".join(W[lo:lo + 12])

    # chain shape verified against the batch tier: pairs are
    # exactly (10,20) and (20,30); 40 duplicates 30's text
    slices = [[(30, txt(0))], [(20, txt(2))], [(10, txt(4))],
              [(40, txt(0))]]
    schema = "doc_id long, text string"
    src = str(tmp_path / "ch_src")
    ck = str(tmp_path / "ch_ck")
    lsh, dstore, pairs, cstore, rstore = _cluster_stores(
        spark, tmp_path, "chn")

    def start():
        stream = spark.readStream.schema(schema) \
            .option("maxFilesPerTrigger", 1).parquet(src)
        return start_streaming_near_dup_clustering(
            stream, lsh, dstore, pairs, cstore, rstore, ck)

    for k, rows in enumerate(slices):
        spark.createDataFrame(rows, schema) \
            .coalesce(1).write.mode("append").parquet(src)
        _time.sleep(1.1)
        if k == 1:                     # kill after two slices...
            q = start()
            q.processAllAvailable()
            q.stop()                   # ...and resume below
    q = start()
    q.processAllAvailable()
    q.stop()

    docs = spark.createDataFrame(
        [r for s in slices for r in s], schema)
    got = {r.doc_id: (r.cluster_id, r.cluster_size, r.is_canonical)
           for r in streaming_cluster_assignments(
               docs, cstore, rstore).collect()}
    assert got == {10: (10, 4, True), 20: (10, 4, False),
                   30: (10, 4, False), 40: (10, 4, False)}
    # the redirect store did the work: 30 was never an endpoint of
    # a pair naming 10, so only chain resolution can have moved it
    assert (30, 10) not in [(a, b) for a, b in
                            ((r.id_a, r.id_b) for r in
                             streaming_near_dup_pairs(pairs)
                             .collect())]
    # replay insensitivity: re-fold the full pair backlog under a
    # fresh epoch key — MIN folds cannot move any assignment
    red_p, id_p = _cluster_partials(
        streaming_near_dup_pairs(pairs), cstore, rstore)
    lin = sorted(pairs.lineages())[0]
    rstore.merge(red_p, f"zz{lin}.000000000099")
    cstore.merge(id_p, f"zz{lin}.000000000099")
    got2 = {r.doc_id: (r.cluster_id, r.cluster_size, r.is_canonical)
            for r in streaming_cluster_assignments(
                docs, cstore, rstore).collect()}
    assert got2 == got


def test_cluster_redirect_replay_regenerates_lost_edges(spark,
                                                        tmp_path):
    """r11 review finding on the clustering twin: the redirect
    store must keep EVERY (label -> target) edge, not a per-label
    MIN — with MIN, a crash that committed (30 -> 10) but lost
    (20 -> 10) made the replay walk short-circuit 30 -> 10 without
    revisiting 20, so the lost redirect was never regenerated and
    docs labeled 20 split off permanently. With the edge set, the
    replay rediscovers 20 through the retained (30 -> 20) edge and
    regenerates the lost row."""
    from galaxy_spark.streaming.state_store import (
        _cluster_partials, streaming_cluster_assignments)

    cstore = KeyedParquetStore(spark, str(tmp_path / "rp_c"), CLUSTER_SPEC)
    rstore = KeyedParquetStore(spark, str(tmp_path / "rp_r"), REDIRECT_SPEC,
                               n_buckets=8)

    def pairs_df(rows):
        return spark.createDataFrame(rows, "id_a long, id_b long")

    def apply(rows, key):
        red, idp = _cluster_partials(pairs_df(rows), cstore, rstore)
        rstore.merge(red, key)
        cstore.merge(idp, key)

    apply([(30, 40)], "lin.000000000000")   # cluster {30,40} -> 30
    apply([(20, 40)], "lin.000000000001")   # merges to min 20;
    #                                         doc 30's id row still
    #                                         says 30 (untouched)
    # epoch 2 merges everything to min 10: redirect partial =
    # {(30 -> 10), (20 -> 10)} in DIFFERENT store buckets (labels
    # 30 -> bucket 0, 20 -> bucket 4 at n_buckets=8 — asserted, the
    # crash window below needs per-bucket claims to differ)
    red, idp = _cluster_partials(pairs_df([(10, 30)]), cstore,
                                 rstore)
    red = red.localCheckpoint()
    assert (rstore._buckets_for_keys(
        red.filter(F.col("label") == 30).select("label"))
        != rstore._buckets_for_keys(
            red.filter(F.col("label") == 20).select("label")))
    # the "crash": only label 30's bucket commits at this epoch;
    # (20 -> 10) and the id merge are lost
    rstore.merge(red.filter(F.col("label") == 30),
                 "lin.000000000002")
    # the replay: recompute partials from the post-crash stores and
    # merge fully under the SAME epoch key (claimed buckets skip)
    red2, idp2 = _cluster_partials(pairs_df([(10, 30)]), cstore,
                                   rstore)
    rstore.merge(red2, "lin.000000000002")
    cstore.merge(idp2, "lin.000000000002")

    # the historical edge (30 -> 20) must still exist next to the
    # newer (30 -> 10) — that retention is what made the replay
    # rediscover 20
    edges = {(r.label, r.target) for r in rstore.state().collect()}
    assert {(30, 20), (30, 10), (20, 10)} <= edges
    docs = spark.createDataFrame([(i,) for i in (10, 20, 30, 40)],
                                 "doc_id long")
    got = {r.doc_id: r.cluster_id
           for r in streaming_cluster_assignments(docs, cstore,
                                                  rstore).collect()}
    assert got == {10: 10, 20: 10, 30: 10, 40: 10}, \
        f"cluster split after replay: {got}"


@pytest.mark.parametrize("fs", ["posix", "manifest", "manifest_cas"])
def test_state_for_keys_opens_only_touched_buckets(spark, tmp_path,
                                                   monkeypatch, fs):
    """``state_for_keys`` is the probe-side twin of merge's
    touched-bucket discipline (r10 verdict #1): for a bounded key
    set it must OPEN only the bucket dirs those keys hash to —
    spied at the actual parquet read — and the rows it returns,
    key-joined, must equal a full-state read key-joined (the
    superset-restricted-to-buckets contract). Both commit
    strategies prune identically: the layout is above the seam."""
    import pyspark.sql.readwriter as rw

    from galaxy_spark.streaming.store_fs import store_fs

    store = KeyedParquetStore(spark, str(tmp_path / "sfk"), DOC_SPEC,
                              n_buckets=8)
    store.fs = store_fs(fs)
    docs = load_table(spark, SF, "documents") \
        .select(F.col("doc_id").alias("id"), "text")
    store.merge(docs, "lin.000000000000")
    keys = docs.select("id").filter(F.col("id").isin(3, 11, 40))
    expected = set(store._buckets_for_keys(keys))
    all_buckets = {int(d.split("-")[1]) for d in os.listdir(store.path)
                   if d.startswith("bucket-")}
    assert expected and expected < all_buckets, \
        "pruning vacuous: pick keys that miss some buckets"

    seen: list[str] = []
    orig = rw.DataFrameReader.parquet

    def spy(self, *paths, **kw):
        seen.extend(paths)
        return orig(self, *paths, **kw)

    monkeypatch.setattr(rw.DataFrameReader, "parquet", spy)
    got = sorted((r.id, r.text)
                 for r in store.state_for_keys(keys)
                 .join(keys, "id").collect())
    opened = {p for p in seen if p.startswith(store.path)}
    assert opened, "probe never read the store"
    for p in opened:
        b = int(p.split("bucket-")[1].split("/")[0].split(os.sep)[0])
        assert b in expected, f"opened untouched bucket {b}"
    monkeypatch.setattr(rw.DataFrameReader, "parquet", orig)
    want = sorted((r.id, r.text)
                  for r in store.state().join(keys, "id").collect())
    assert got == want and len(got) == 3


def test_lsh_probe_reads_are_layout_pruned(spark, tmp_path,
                                           monkeypatch):
    """Per-trigger store-scan I/O tracks the BATCH, not history
    (r10 verdict #1, the round's one weak): probing ONE incoming
    document against a grown index opens only the LSH-store buckets
    its (band, bucket) signatures hash to and only the doc-store
    buckets the candidate ids hash to — never full state — and
    still emits the known pair."""
    import pyspark.sql.readwriter as rw

    from galaxy_spark.operators.dedup import minhash_band_buckets
    from galaxy_spark.registry import all_queries
    from galaxy_spark.streaming.state_store import (
        lsh_probe_pairs, partial_lsh_index)

    docs = load_table(spark, SF, "documents")
    a, b = sorted((r.id_a, r.id_b) for r in all_queries()
                  ["dedup_minhash_lsh"](spark, SF).collect())[0]
    lsh = KeyedParquetStore(spark, str(tmp_path / "pr_lsh"), LSH_SPEC,
                            n_buckets=16)
    dstore = KeyedParquetStore(spark, str(tmp_path / "pr_doc"), DOC_SPEC,
                               n_buckets=16)
    hist = docs.filter(F.col("doc_id") != b)     # everything but b
    lsh.merge(partial_lsh_index(hist), "lin.000000000000")
    dstore.merge(hist.select(F.col("doc_id").alias("id"), "text"),
                 "lin.000000000000")

    batch = docs.filter(F.col("doc_id") == b).localCheckpoint()
    exp_lsh = set(lsh._buckets_for_keys(
        minhash_band_buckets(batch).select("band", "bucket")))
    assert len(exp_lsh) <= 8             # one doc = 8 band signatures

    seen: list[str] = []
    orig = rw.DataFrameReader.parquet

    def spy(self, *paths, **kw):
        seen.extend(paths)
        return orig(self, *paths, **kw)

    monkeypatch.setattr(rw.DataFrameReader, "parquet", spy)
    got = sorted((r.id_a, r.id_b)
                 for r in lsh_probe_pairs(batch, lsh, dstore)
                 .collect())
    monkeypatch.setattr(rw.DataFrameReader, "parquet", orig)
    assert (a, b) in got
    lsh_opened = {int(p.split("bucket-")[1].split("/")[0])
                  for p in seen if p.startswith(lsh.path)}
    doc_opened = {int(p.split("bucket-")[1].split("/")[0])
                  for p in seen if p.startswith(dstore.path)}
    assert lsh_opened and lsh_opened <= exp_lsh
    # the candidate id set is known only inside the probe (it may
    # hold band-collision false positives beyond {a, b}), so the
    # doc-read contract asserted here is the pruning itself: a
    # STRICT subset of the store's buckets was opened (one incoming
    # doc admits a handful of candidates — deterministic corpus +
    # seed, so the subset is stable)
    all_doc = {int(d.split("-")[1]) for d in os.listdir(dstore.path)
               if d.startswith("bucket-")}
    assert doc_opened and doc_opened < all_doc


def test_near_dup_emissions_invariant_under_batch_splits(spark,
                                                         tmp_path):
    """The replay/ordering property behind the growing index: the
    UNION of per-batch emissions equals the batch answer under ANY
    partition of the corpus into arrival batches — including
    arrival orders where the 'later' half of a pair streams FIRST.
    Drives the store merges directly (no streaming query) so three
    split shapes stay cheap."""
    from galaxy_spark.registry import all_queries
    from galaxy_spark.streaming.state_store import (
        lsh_probe_pairs, partial_lsh_index, streaming_near_dup_pairs)

    docs = load_table(spark, SF, "documents")
    want = sorted((r.id_a, r.id_b, r.jaccard)
                  for r in all_queries()["dedup_minhash_lsh"](
                      spark, SF).collect())
    shapes = {
        "asc": [docs.filter(F.col("doc_id") % 4 == k)
                for k in range(4)],
        "desc": [docs.filter(F.col("doc_id") % 4 == k)
                 for k in (3, 2, 1, 0)],
        "one": [docs],
    }
    for tag, batches in shapes.items():
        lsh, dstore, pairs = _near_dup_stores(spark, tmp_path,
                                              f"split_{tag}")
        for i, batch in enumerate(batches):
            key = f"lin.{i:012d}"
            pairs.merge(lsh_probe_pairs(batch, lsh, dstore), key)
            lsh.merge(partial_lsh_index(batch), key)
            dstore.merge(batch.select(F.col("doc_id").alias("id"),
                                      "text"), key)
        got = sorted((r.id_a, r.id_b, r.jaccard)
                     for r in streaming_near_dup_pairs(pairs)
                     .collect())
        assert got == want, f"split shape {tag!r} diverged"


def test_near_dup_stores_survive_rebucket(spark, tmp_path):
    """The new stores inherit the generic rebucket() migration —
    pin it for the pair store (results) and the LSH index
    (membership): state is identical element-for-element after
    moving to a different bucket count."""
    from galaxy_spark.registry import all_queries
    from galaxy_spark.streaming.state_store import (
        lsh_probe_pairs, partial_lsh_index, rebucket, streaming_near_dup_pairs)

    docs = load_table(spark, SF, "documents")
    lsh, dstore, pairs = _near_dup_stores(spark, tmp_path, "rb")
    key = "lin.000000000000"
    pairs.merge(lsh_probe_pairs(docs, lsh, dstore), key)
    lsh.merge(partial_lsh_index(docs), key)
    dstore.merge(docs.select(F.col("doc_id").alias("id"), "text"),
                 key)
    want = sorted((r.id_a, r.id_b, r.jaccard)
                  for r in streaming_near_dup_pairs(pairs).collect())
    assert want == sorted(
        (r.id_a, r.id_b, r.jaccard)
        for r in all_queries()["dedup_minhash_lsh"](
            spark, SF).collect())

    pairs2 = rebucket(pairs, str(tmp_path / "rb_pairs7"),
                      n_buckets=7)
    assert pairs2.spec is PAIR_SPEC
    assert sorted((r.id_a, r.id_b, r.jaccard)
                  for r in streaming_near_dup_pairs(pairs2)
                  .collect()) == want

    lsh2 = rebucket(lsh, str(tmp_path / "rb_lsh5"), n_buckets=5)
    assert lsh2.spec is LSH_SPEC
    assert lsh2.state().count() == lsh.state().count()
    a = sorted(map(tuple, lsh.state()
                   .select("band", "bucket", "id").collect()))
    b = sorted(map(tuple, lsh2.state()
                   .select("band", "bucket", "id").collect()))
    assert a == b


# ------------------------------------------------------------------
# Delta-tier merges (r11): O(batch) appends + amortized compaction
# ------------------------------------------------------------------

_SUM_SPEC = StoreSpec(
    ("k",), lambda: [F.sum("v").cast("long").alias("v"),
                     F.max("last").alias("last")],
    "k long, v long, last string", 4)


def _sum_store(spark, path, delta, fs="posix"):
    return KeyedParquetStore(spark, path, _SUM_SPEC,
                             delta_threshold=delta, fs=fs)


_DELTA_BATCHES = [
    [(1, 10, "a"), (2, 5, "b"), (9, 1, "c")],
    [(1, 3, "d"), (3, 7, "e")],
    [(2, 2, "f"), (9, 4, "g"), (4, 1, "h")],
    [(1, 1, "i")],
    [(5, 5, "j"), (9, 9, "k"), (1, 2, "l")],
    [(3, 3, "m"), (9, 1, "n")],
]


def _batch_df(spark, rows):
    return spark.createDataFrame(rows, "k long, v long, last string")


@pytest.mark.parametrize("threshold", [1, 2, 4])
def test_delta_tier_state_matches_cow(spark, tmp_path, threshold):
    """The delta tier is a WRITE strategy, never a semantics change:
    after every epoch (and after a replayed epoch) a delta-tier
    store's folded state equals the copy-on-write twin's, row for
    row. Thresholds cover compact-every-touch (1), mid-stream
    compaction (2) and a never-compacted tail (4)."""
    cow = _sum_store(spark, str(tmp_path / "cow"), None)
    dlt = _sum_store(spark, str(tmp_path / f"d{threshold}"),
                     threshold)
    for i, rows in enumerate(_DELTA_BATCHES):
        key = f"lin.{i:012d}"
        cow.merge(_batch_df(spark, rows), key)
        dlt.merge(_batch_df(spark, rows), key)
        want = sorted(map(tuple, cow.state().collect()))
        got = sorted(map(tuple, dlt.state().collect()))
        assert got == want, f"divergence at epoch {i}"
    # at-least-once replay of the last epoch: both skip
    last = f"lin.{len(_DELTA_BATCHES) - 1:012d}"
    dlt.merge(_batch_df(spark, _DELTA_BATCHES[-1]), last)
    assert sorted(map(tuple, dlt.state().collect())) == want


@pytest.mark.parametrize("threshold,want", [(None, [4, 5, 5, 5, 5]),
                                            (2, [4, 7, 7, 4, 7])])
def test_merge_spark_job_count(spark, tmp_path, threshold, want):
    """Spark jobs per merge, pinned on each tier: the job count is
    the store's per-trigger cost beside its bytes (touched-bucket
    collect, staged writes, compaction reads), so a change that
    adds a job to every merge, or drops one, shows here. At T=2 the
    compacting merges (epochs 1, 2 and 4) pay the delta write and
    the base rewrite; epoch 3 touches one bucket holding only one
    delta and pays the delta write alone."""
    sc = spark.sparkContext
    store = _sum_store(spark, str(tmp_path / "jobs"), threshold)
    got = []
    try:
        for i, rows in enumerate(_DELTA_BATCHES[:5]):
            group = f"merge-jobs-{threshold}-{i}"
            sc.setJobGroup(group, group)
            store.merge(_batch_df(spark, rows), f"lin.{i:012d}")
            got.append(len(sc.statusTracker().getJobIdsForGroup(group)))
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description",
                     "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)
    assert got == want


def test_delta_merge_reads_no_state(spark, tmp_path, monkeypatch):
    """THE write-amplification pin: a non-compacting delta merge
    performs ZERO reads of store state (its I/O is the batch,
    full stop), and the compacting merge reads ONLY the ripe
    buckets' own dirs. CoW pays a touched-bucket rewrite per epoch;
    the delta tier pays O(batch) now and the bucket rewrite once
    per `threshold` touches — the difference between per-trigger
    and amortized bucket I/O at 100 TB state."""
    import pyspark.sql.readwriter as rw

    store = _sum_store(spark, str(tmp_path / "wa"), 3)
    seen: list[str] = []
    orig = rw.DataFrameReader.parquet

    def spy(self, *paths, **kw):
        seen.extend(paths)
        return orig(self, *paths, **kw)

    monkeypatch.setattr(rw.DataFrameReader, "parquet", spy)
    rows = [(1, 1, "x"), (2, 1, "y")]          # one bucket pair,
    for i in range(2):                         # touched every epoch
        store.merge(_batch_df(spark, rows), f"lin.{i:012d}")
    state_reads = [p for p in seen if p.startswith(store.path)]
    assert state_reads == [], \
        f"delta merge read store state: {state_reads}"
    seen.clear()
    store.merge(_batch_df(spark, rows), f"lin.{2:012d}")  # 3rd delta
    opened = [p for p in seen if p.startswith(store.path)]
    assert opened, "threshold hit but no compaction read"
    touched = {int(p.split("bucket-")[1].split(os.sep)[0])
               for p in opened}
    assert touched <= set(store._buckets_for_keys(
        _batch_df(spark, rows).select("k")))
    monkeypatch.setattr(rw.DataFrameReader, "parquet", orig)
    # post-compaction layout: ripe buckets hold ONE base, no deltas
    for b in touched:
        bd = store._bucket_dir(b)
        assert len([v for v in os.listdir(bd)
                    if v.startswith("v-")]) == 1
        assert not [v for v in os.listdir(bd) if v.startswith("d-")]


def test_delta_crash_mid_compaction_no_double_count(spark, tmp_path):
    """Crash window between the compacted base's commit and the
    absorbed deltas' vacuum: the leftover delta sits at-or-below
    the base epoch, so reads ignore it (strictly-above rule) and
    the next merge sweeps it."""
    import shutil as _sh

    store = _sum_store(spark, str(tmp_path / "cr"), 2)
    store.merge(_batch_df(spark, [(1, 10, "a")]), "lin.000000000000")
    b = store._buckets_for_keys(
        _batch_df(spark, [(1, 10, "a")]).select("k"))[0]
    bd = store._bucket_dir(b)
    saved = str(tmp_path / "saved_delta")
    _sh.copytree(os.path.join(bd, "d-lin.000000000000"), saved)
    store.merge(_batch_df(spark, [(1, 5, "b")]),
                "lin.000000000001")               # compacts: v=15
    # resurrect the absorbed delta = the un-vacuumed crash leftover
    _sh.copytree(saved, os.path.join(bd, "d-lin.000000000000"))
    got = {(r.k, r.v) for r in store.state().collect()}
    assert got == {(1, 15)}, f"double-counted absorbed delta: {got}"
    store.merge(_batch_df(spark, [(1, 1, "c")]), "lin.000000000002")
    assert not os.path.isdir(os.path.join(bd, "d-lin.000000000000")), \
        "next merge did not sweep the absorbed delta"
    got = {(r.k, r.v) for r in store.state().collect()}
    assert got == {(1, 16)}


def test_delta_torn_write_cleared_on_replay(spark, tmp_path):
    """A torn delta (crash between rename and _COMMITTED) is
    invisible to reads and is cleared by the epoch's replay —
    same contract the CoW tier has for torn bases."""
    store = _sum_store(spark, str(tmp_path / "torn"), 4)
    rows = [(7, 3, "t")]
    b = store._buckets_for_keys(
        _batch_df(spark, rows).select("k"))[0]
    torn = os.path.join(store._bucket_dir(b), "d-lin.000000000000")
    os.makedirs(torn)
    with open(os.path.join(torn, "part-junk.parquet"), "wb") as f:
        f.write(b"not parquet")
    assert store.state().count() == 0      # torn: never readable
    store.merge(_batch_df(spark, rows), "lin.000000000000")
    assert {(r.k, r.v) for r in store.state().collect()} == {(7, 3)}
    assert os.path.exists(os.path.join(torn, "_COMMITTED"))


def test_delta_threshold_flip_both_directions(spark, tmp_path):
    """delta_threshold is a pure write-strategy knob: flipping a
    live store CoW -> delta -> CoW between epochs never changes
    state — the CoW merge absorbs committed deltas below its epoch
    and its vacuum sweeps them."""
    cow = _sum_store(spark, str(tmp_path / "flip_ref"), None)
    st = _sum_store(spark, str(tmp_path / "flip"), None)
    plan = [None, None, 3, 3, None, 2]
    for i, (rows, mode) in enumerate(zip(_DELTA_BATCHES, plan)):
        key = f"lin.{i:012d}"
        st.delta_threshold = mode
        st.merge(_batch_df(spark, rows), key)
        cow.merge(_batch_df(spark, rows), key)
        assert sorted(map(tuple, st.state().collect())) == \
            sorted(map(tuple, cow.state().collect())), \
            f"flip divergence at epoch {i} (mode={mode})"
    # the CoW epoch at i=4 must have swept the i=2/3 deltas it
    # absorbed for the buckets it touched
    for b in st._buckets_for_keys(
            _batch_df(spark, _DELTA_BATCHES[4]).select("k")):
        bd = st._bucket_dir(b)
        below = [v for v in os.listdir(bd) if v.startswith("d-")
                 and v[2:] <= "lin.000000000004"]
        assert not below, f"unswept absorbed deltas: {below}"


def test_delta_store_rebucket_carries_mode_and_state(spark, tmp_path):
    """rebucket() from a delta-tier store (max claimed epoch may
    live in a delta, not a base) reproduces the folded state and
    carries the write-strategy knob."""
    from galaxy_spark.streaming.state_store import rebucket

    st = _sum_store(spark, str(tmp_path / "rb_src"), 5)
    for i, rows in enumerate(_DELTA_BATCHES[:3]):
        st.merge(_batch_df(spark, rows), f"lin.{i:012d}")
    assert any(v.startswith("d-")                 # precondition:
               for b in range(st.n_buckets)       # uncompacted
               if os.path.isdir(st._bucket_dir(b))
               for v in os.listdir(st._bucket_dir(b)))
    with pytest.warns(UserWarning):
        nb = rebucket(st, str(tmp_path / "rb_dst"), 8)
    assert nb.delta_threshold == 5
    assert sorted(map(tuple, nb.state().collect())) == \
        sorted(map(tuple, st.state().collect()))
    # the carried epoch is the max CLAIMED epoch (a delta): a
    # replay of that epoch against the new store must skip
    nb.merge(_batch_df(spark, _DELTA_BATCHES[2]), "lin.000000000002")
    assert sorted(map(tuple, nb.state().collect())) == \
        sorted(map(tuple, st.state().collect()))


def test_delta_review_fixes(spark, tmp_path):
    """r11 review wave: (a) a stray FILE named bucket-* is noise,
    not a NotADirectoryError inside the lineage check; (b) the
    delta_threshold guard holds on the blessed (attribute) mutation
    path; (c) the read fold is scoped to delta-bearing buckets —
    compacted buckets stay scan-only (one aggregate under a
    union)."""
    from galaxy_spark.plans import physical_plan

    st = _sum_store(spark, str(tmp_path / "rf"), 2)
    # (b) setter guard
    with pytest.raises(ValueError):
        st.delta_threshold = 0
    # rows 1 and 2 land in different buckets (checked below)
    df0 = _batch_df(spark, [(1, 1, "a"), (2, 1, "b")])
    b1, b2 = (st._buckets_for_keys(
        _batch_df(spark, [(k, 0, "")]).select("k"))[0]
        for k in (1, 2))
    assert b1 != b2, "pick keys that hash apart"
    st.merge(df0, "lin.000000000000")
    st.merge(_batch_df(spark, [(1, 1, "c")]), "lin.000000000001")
    # bucket b1 compacted (2 deltas >= threshold), b2 holds a delta
    assert [v for v in os.listdir(st._bucket_dir(b1))
            if v.startswith("d-")] == []
    assert [v for v in os.listdir(st._bucket_dir(b2))
            if v.startswith("d-")]
    # (a) stray file named bucket-junk
    with open(os.path.join(st.path, "bucket-junk"), "w") as f:
        f.write("noise")
    assert st.lineages() == {"lin"}
    # (c) selective fold: union of a scan-only branch and ONE fold
    got = {(r.k, r.v) for r in st.state().collect()}
    assert got == {(1, 2), (2, 1)}
    p = physical_plan(st.state())
    assert "Union" in p, "compacted bucket must bypass the fold"
    assert p.count("partial_max") == 1, \
        "exactly one fold branch (the delta-bearing bucket)"


# ------------------------------------------------------------------
# Streaming search index (r11): postings + doc-len + corpus stats
# ------------------------------------------------------------------

def test_streaming_search_index_matches_batch(spark, tmp_path,
                                              monkeypatch):
    """The incrementally-maintained index equals the batch
    ``text_inverted_index`` row-for-row and its BM25 reader equals
    ``text_bm25_search`` row-for-row — and the QUERY reads are
    layout-pruned: postings open only the query terms' buckets,
    doc lengths only the candidate docs' buckets (spied at the
    parquet read), never full state."""
    import time as _time

    import pyspark.sql.readwriter as rw

    from galaxy_spark.queries.indexing import _BM25_TERMS
    from galaxy_spark.registry import all_queries
    from galaxy_spark.streaming.state_store import (
        start_streaming_search_index, streaming_bm25, streaming_inverted_index)

    docs = load_table(spark, SF, "documents")
    src = str(tmp_path / "six_src")
    for k in range(3):
        (docs.filter(F.col("doc_id") % 3 == k)
         .coalesce(1).write.mode("append").parquet(src))
        _time.sleep(1.1)

    postings = KeyedParquetStore(spark, str(tmp_path / "six_post"),
                                 POSTINGS_SPEC)
    # 32 dl buckets: the template corpus's rarest term still hits
    # 25 docs, which covers all 8 default buckets — strict-subset
    # pruning needs the layout finer than the candidate set
    doclen = KeyedParquetStore(spark, str(tmp_path / "six_dl"), DOC_LEN_SPEC,
                               n_buckets=32)
    stats = KeyedParquetStore(spark, str(tmp_path / "six_st"),
                              CORPUS_STATS_SPEC)
    stream = spark.readStream.schema(docs.schema) \
        .option("maxFilesPerTrigger", 1).parquet(src)
    q = start_streaming_search_index(stream, postings, doclen,
                                     stats, str(tmp_path / "six_ck"))
    q.processAllAvailable()
    q.stop()

    got_ix = sorted((r.term, r.df, tuple(r.postings))
                    for r in streaming_inverted_index(postings)
                    .collect())
    want_ix = sorted((r.term, r.df, tuple(r.postings))
                     for r in all_queries()["text_inverted_index"](
                         spark, SF).collect())
    assert got_ix == want_ix and len(want_ix) > 20

    probe = spark.createDataFrame([(t,) for t in _BM25_TERMS],
                                  "term string")
    exp_post = set(postings._buckets_for_keys(probe))
    all_post = set(postings._bucket_ids())
    assert exp_post < all_post, \
        "pruning vacuous: query terms hash to every bucket"

    seen: list[str] = []
    orig = rw.DataFrameReader.parquet

    def spy(self, *paths, **kw):
        seen.extend(paths)
        return orig(self, *paths, **kw)

    monkeypatch.setattr(rw.DataFrameReader, "parquet", spy)
    got_bm = [(r.doc_id, r.bm25, r.n_terms)
              for r in streaming_bm25(postings, doclen, stats,
                                      _BM25_TERMS).collect()]
    monkeypatch.setattr(rw.DataFrameReader, "parquet", orig)
    want_bm = [(r.doc_id, r.bm25, r.n_terms)
               for r in all_queries()["text_bm25_search"](
                   spark, SF).collect()]
    assert got_bm == want_bm and len(want_bm) == 20

    post_opened = {int(p.split("bucket-")[1].split(os.sep)[0])
                   for p in seen if p.startswith(postings.path)}
    assert post_opened and post_opened <= exp_post
    # every INDEXED term here matches ~80% of this template corpus
    # (candidates cover all dl buckets — pruning correct but
    # vacuous), so demonstrate STRICT dl pruning with a genuinely
    # rare term from the raw postings (the store keeps all terms;
    # df >= 5 is a read-time filter)
    rare_row = (postings.state().groupBy("term")
                .agg(F.count("*").alias("df"))
                .orderBy("df", "term").limit(1).collect())[0]
    assert rare_row.df < doclen.n_buckets, \
        "corpus changed: rarest term no longer rarer than buckets"
    seen.clear()
    monkeypatch.setattr(rw.DataFrameReader, "parquet", spy)
    rare_hits = streaming_bm25(postings, doclen, stats,
                               (rare_row.term,)).collect()
    monkeypatch.setattr(rw.DataFrameReader, "parquet", orig)
    assert 1 <= len(rare_hits) <= 20
    dl_opened = {int(p.split("bucket-")[1].split(os.sep)[0])
                 for p in seen if p.startswith(doclen.path)}
    assert dl_opened and dl_opened < set(doclen._bucket_ids()), \
        "doc-length read was not candidate-pruned"
    rare_post = {int(p.split("bucket-")[1].split(os.sep)[0])
                 for p in seen if p.startswith(postings.path)}
    assert len(rare_post) == 1          # one term -> one bucket


# ------------------------------------------------------------------
# Streaming funnel twin (r11): event-time index under set-union
# ------------------------------------------------------------------

def test_streaming_funnel_matches_batch(spark, tmp_path):
    """The stage-gated funnel off the accumulated event-time index
    equals ``events_funnel_conversion`` field-for-field — with
    events interleaved across micro-batches, so late-arriving
    earlier views re-gate which clicks qualify (the case bounded
    per-user scalars get wrong). Set-union fold => also
    replay-insensitive beyond the epoch claim: a fresh-epoch
    re-merge of a full slice cannot move the index."""
    import time as _time

    from galaxy_spark.registry import all_queries
    from galaxy_spark.streaming.state_store import (
        partial_event_index, start_streaming_attribution_hub, streaming_funnel)

    ev = load_table(spark, SF, "events")
    src = str(tmp_path / "fun_src")
    for k in range(3):
        (ev.filter(F.col("event_id") % 3 == k)
         .coalesce(1).write.mode("append").parquet(src))
        _time.sleep(1.1)

    store = KeyedParquetStore(spark, str(tmp_path / "fun_store"),
                              event_index_spec())
    store.delta_threshold = 2
    stream = spark.readStream.schema(ev.schema) \
        .option("maxFilesPerTrigger", 1).parquet(src)
    q = start_streaming_attribution_hub(
        stream, KeyedParquetStore(spark, str(tmp_path / "fun_pur"),
                                  PURCHASE_SPEC),
        store, str(tmp_path / "fun_ck"))
    q.processAllAvailable()
    q.stop()

    def rows(df):
        return sorted((r.user_id, r.t_view, r.t_click, r.t_purchase)
                      for r in df.collect())

    got = rows(streaming_funnel(store))
    want = rows(all_queries()["events_funnel_conversion"](spark, SF))
    assert got == want and len(want) >= 10
    # non-vacuous gating: some user must have a click at-or-before
    # their first view, so t_click is NOT simply min(click ts) —
    # the case bounded per-user scalars get wrong (r11 review wave
    # 3: the earlier any-click assertion was satisfied by ordinary
    # view-then-click users and would not notice a regenerated
    # dataset losing the gated case)
    minc = {r.user_id: r.mc for r in
            ev.filter(F.col("event_type") == "click")
            .groupBy("user_id").agg(F.min("ts").alias("mc"))
            .collect()}
    gated = [(u, tv, tc) for u, tv, tc, _ in want
             if u in minc and minc[u] <= tv]
    assert gated, "dataset lost the gated-click case"
    assert all(tc is None or tc > minc[u] for u, tv, tc in gated)

    # the same index serves RETENTION (one store, many readers)
    from galaxy_spark.streaming.state_store import streaming_retention
    got_r = sorted((r.cohort_week, r.week_offset, r.n_users)
                   for r in streaming_retention(store).collect())
    want_r = sorted((r.cohort_week, r.week_offset, r.n_users)
                    for r in all_queries()["events_retention_cohorts"](
                        spark, SF).collect())
    assert got_r == want_r and len(want_r) >= 3

    # the same index serves the WINDOWED funnel too (r13 verdict
    # #5): 24 h stage bounds as extra array-filter residuals
    from galaxy_spark.streaming.state_store import \
        streaming_funnel_windowed
    got_w = rows(streaming_funnel_windowed(store))
    want_w = rows(all_queries()["events_funnel_windowed"](spark, SF))
    assert got_w == want_w and len(want_w) >= 10
    # the bound must bite somewhere, or the windowed reader is
    # indistinguishable from the unbounded one on this dataset
    assert got_w != got

    # idempotence WITHOUT the claim: full-slice re-merge, new epoch
    lin = sorted(store.lineages())[0]
    store.merge(partial_event_index(
        ev.filter(F.col("event_id") % 3 == 0)),
        f"zz{lin}.000000000099")
    assert rows(streaming_funnel(store)) == got
    assert sorted((r.cohort_week, r.week_offset, r.n_users)
                  for r in streaming_retention(store).collect()) == got_r
    assert rows(streaming_funnel_windowed(store)) == got_w


def test_streaming_attribution_matches_batch(spark, tmp_path):
    """Daily last-touch attribution off the purchase-fact store +
    the click index (r13 verdict #5): one hub write path, two
    idempotent set-union stores, kill/restart mid-stream, a
    whole-slice re-merge under a fresh epoch — and the reader
    equals ``events_attribution_last_touch`` field-for-field over
    the replayed corpus."""
    import time as _time

    from galaxy_spark.registry import all_queries
    from galaxy_spark.streaming.state_store import (
        partial_purchases, start_streaming_attribution_hub,
        streaming_attribution_last_touch)

    ev = load_table(spark, SF, "events")
    src = str(tmp_path / "att_src")
    for k in range(3):
        (ev.filter(F.col("event_id") % 3 == k)
         .coalesce(1).write.mode("append").parquet(src))
        _time.sleep(1.1)

    pur = KeyedParquetStore(spark, str(tmp_path / "att_p"), PURCHASE_SPEC)
    pur.delta_threshold = 2
    idx = KeyedParquetStore(spark, str(tmp_path / "att_i"), event_index_spec())
    ck = str(tmp_path / "att_ck")

    def start():
        stream = spark.readStream.schema(ev.schema) \
            .option("maxFilesPerTrigger", 1).parquet(src)
        return start_streaming_attribution_hub(stream, pur, idx, ck)

    q = start()
    while not os.path.exists(os.path.join(ck, "commits", "0")):
        _time.sleep(0.1)
    q.stop()                           # the "kill"
    q = start()
    q.processAllAvailable()
    q.stop()

    def rows(df):
        return sorted((r.day, r.n_purchases, r.n_attributed,
                       r.attributed_revenue, r.organic_revenue)
                      for r in df.collect())

    got = rows(streaming_attribution_last_touch(pur, idx))
    want = rows(all_queries()["events_attribution_last_touch"](
        spark, SF))
    assert got == want and len(want) >= 10
    # both outcome classes present, or the band logic is untested
    assert any(n_att > 0 for _, _, n_att, _, _ in want)
    assert any(n_att < n for _, n, n_att, _, _ in want)

    # the same two stores serve time-to-convert (r14): the forward
    # as-of as a scan-local array_min over the purchase array
    from galaxy_spark.streaming.state_store import \
        streaming_time_to_convert
    got_t = sorted((r.bucket, r.n_conversions, r.n_users)
                   for r in streaming_time_to_convert(
                       pur, idx).collect())
    want_t = sorted((r.bucket, r.n_conversions, r.n_users)
                    for r in all_queries()["events_time_to_convert"](
                        spark, SF).collect())
    assert got_t == want_t and len(want_t) >= 3

    # idempotence WITHOUT the claim: full-slice re-merge, new epoch
    lin = sorted(pur.lineages())[0]
    pur.merge(partial_purchases(
        ev.filter(F.col("event_id") % 3 == 0)),
        f"zz{lin}.000000000099")
    assert rows(streaming_attribution_last_touch(pur, idx)) == got


def test_streaming_path_trigrams_matches_batch(spark, tmp_path):
    """Path trigrams off the per-user typed-timeline store (r14):
    events stream sliced by event_id % 3, so most users' timelines
    arrive INTERLEAVED across batches — late events land
    mid-sequence and rewrite trigrams on both sides, the case that
    forces the full-timeline state — with kill/restart and a
    whole-slice re-merge under a fresh epoch (set-union
    idempotence). The reader equals ``events_path_trigrams``
    field-for-field, from a plan with NO Window operator (the
    sorted struct arrays already ARE the (ts, event_id) walk; the
    three-step windows are scan-local)."""
    import time as _time

    from galaxy_spark.registry import all_queries
    from galaxy_spark.streaming.state_store import (
        partial_user_seq, start_streaming_user_seq, streaming_path_trigrams)

    ev = load_table(spark, SF, "events")
    src = str(tmp_path / "seq_src")
    for k in range(3):
        (ev.filter(F.col("event_id") % 3 == k)
         .coalesce(1).write.mode("append").parquet(src))
        _time.sleep(1.1)

    store = KeyedParquetStore(spark, str(tmp_path / "seq_store"),
                              user_seq_spec())
    store.delta_threshold = 2
    ck = str(tmp_path / "seq_ck")

    def start():
        stream = spark.readStream.schema(ev.schema) \
            .option("maxFilesPerTrigger", 1).parquet(src)
        return start_streaming_user_seq(stream, store, ck)

    q = start()
    while not os.path.exists(os.path.join(ck, "commits", "0")):
        _time.sleep(0.1)
    q.stop()                           # the "kill"
    q = start()
    q.processAllAvailable()
    q.stop()

    reader = streaming_path_trigrams(store)
    assert "Window" not in \
        reader._jdf.queryExecution().optimizedPlan().toString()
    got = sorted(map(tuple, reader.collect()))
    want = sorted(map(tuple, all_queries()["events_path_trigrams"](
        spark, SF).collect()))
    assert got == want and len(want) > 50

    # second reader (r14): the first-order transition matrix off
    # the same timelines (bigram walks, same scan-local extraction)
    from galaxy_spark.streaming.state_store import \
        streaming_markov_transitions
    got_m = sorted(map(tuple,
                       streaming_markov_transitions(store).collect()))
    want_m = sorted(map(tuple,
                        all_queries()["events_markov_transitions"](
                            spark, SF).collect()))
    assert got_m == want_m and len(want_m) > 10

    # third reader (r14): per-type burstiness — exact integer
    # moments off the exploded timelines
    from galaxy_spark.streaming.state_store import \
        streaming_interarrival_burstiness
    got_b = sorted(map(tuple, streaming_interarrival_burstiness(
        store).collect()))
    want_b = sorted(map(tuple,
                        all_queries()["events_interarrival_burstiness"](
                            spark, SF).collect()))
    assert got_b == want_b and len(want_b) >= 3

    # idempotence WITHOUT the claim: full-slice re-merge, new epoch
    lin = sorted(store.lineages())[0]
    store.merge(partial_user_seq(
        ev.filter(F.col("event_id") % 3 == 1)),
        f"zz{lin}.000000000099")
    assert sorted(map(tuple,
                      streaming_path_trigrams(store).collect())) \
        == got


def test_user_seq_retention_bounds_state(spark, tmp_path):
    """retention_days=H on the typed-timeline store: merge-time
    eviction drops facts older than H days behind the folded
    watermark, and the trigram reader answers exactly the batch
    query RESTRICTED to the retained window (a trigram straddling
    the horizon dies with its evicted step — window semantics).
    Composes with the delta tier."""
    import time as _time

    from galaxy_spark.queries.events import path_trigrams_from_events
    from galaxy_spark.streaming.state_store import (
        start_streaming_user_seq, streaming_path_trigrams)

    ev = load_table(spark, SF, "events")
    src = str(tmp_path / "usr_src")
    for k in range(3):
        (ev.filter(F.col("event_id") % 3 == k)
         .coalesce(1).write.mode("append").parquet(src))
        _time.sleep(1.1)

    H = 14
    store = KeyedParquetStore(spark, str(tmp_path / "usr_store"),
                              user_seq_spec(retention_days=H))
    store.delta_threshold = 2
    stream = spark.readStream.schema(ev.schema) \
        .option("maxFilesPerTrigger", 1).parquet(src)
    q = start_streaming_user_seq(stream, store,
                                 str(tmp_path / "usr_ck"))
    q.processAllAvailable()
    q.stop()

    max_t = ev.agg(F.max(F.unix_micros("ts"))).collect()[0][0]
    cutoff = max_t - H * 86_400_000_000
    ev_r = ev.filter(F.unix_micros("ts") >= cutoff)
    n_all, n_ret = ev.count(), ev_r.count()
    assert 0 < n_ret < n_all, "horizon must split the dataset"

    got = sorted(map(tuple,
                     streaming_path_trigrams(store).collect()))
    want = sorted(map(tuple,
                      path_trigrams_from_events(ev_r).collect()))
    assert got == want and len(want) > 20

    # bounded state: merge-time eviction, not just read filtering
    stored = store.state().agg(
        F.sum(F.size("es"))).collect()[0][0]
    assert stored < n_all, \
        f"no merge-time eviction: {stored} stored vs {n_all} full"

    # default behavior unchanged: no retention -> no wm column
    plain = KeyedParquetStore(spark, str(tmp_path / "usr_plain"),
                              user_seq_spec())
    assert "wm" not in (plain.state_schema or "")
    with pytest.raises(ValueError, match="retention_days"):
        user_seq_spec(retention_days=0)


def test_state_for_keys_prunes_and_folds_under_deltas(spark, tmp_path,
                                                      monkeypatch):
    """Layout pruning and the delta tier compose: a probe on a
    delta-mode store with layout_cols ⊂ key_cols opens only the
    touched buckets' files (base AND pending deltas) and the rows
    come back FOLDED — never a raw delta fragment."""
    import pyspark.sql.readwriter as rw

    store = KeyedParquetStore(spark, str(tmp_path / "lshd"), LSH_SPEC,
                              n_buckets=8)
    store.delta_threshold = 4            # stays un-compacted here

    def rows_df(vals):
        return spark.createDataFrame(
            vals, "band int, bucket int, id long, seen int")

    # same (band, bucket, id) key inserted across TWO epochs: the
    # probe must fold the two delta fragments into one row
    store.merge(rows_df([(1, 7, 10, 1), (2, 9, 11, 1)]),
                "lin.000000000000")
    store.merge(rows_df([(1, 7, 10, 1), (1, 7, 12, 1)]),
                "lin.000000000001")

    probe = spark.createDataFrame([(1, 7)], "band int, bucket int")
    expected = set(store._buckets_for_keys(probe))
    assert expected < set(store._bucket_ids()) or \
        len(store._bucket_ids()) < 8   # key (2,9) may share bucket

    seen: list[str] = []
    orig = rw.DataFrameReader.parquet

    def spy(self, *paths, **kw):
        seen.extend(paths)
        return orig(self, *paths, **kw)

    monkeypatch.setattr(rw.DataFrameReader, "parquet", spy)
    got = sorted((r.band, r.bucket, r.id, r.seen)
                 for r in store.state_for_keys(probe)
                 .filter((F.col("band") == 1) & (F.col("bucket") == 7))
                 .collect())
    monkeypatch.setattr(rw.DataFrameReader, "parquet", orig)
    assert got == [(1, 7, 10, 1), (1, 7, 12, 1)], \
        f"unfolded or missing delta rows: {got}"
    opened = {p for p in seen if p.startswith(store.path)}
    assert opened
    for p in opened:
        b = int(p.split("bucket-")[1].split(os.sep)[0])
        assert b in expected, f"opened untouched bucket {b}"


# ------------------------------------------------------------------
# Commit-protocol seam (r12): object-store-safe manifest commits
# ------------------------------------------------------------------

@pytest.mark.parametrize("fs", ["manifest", "manifest_cas"])
@pytest.mark.parametrize("delta", [None, 2], ids=["cow", "delta2"])
def test_manifest_strategy_state_matches_posix(spark, tmp_path,
                                               delta, fs):
    """The manifest (rename-less) strategy is a commit-protocol
    change, never a semantics change: after every epoch — and
    after an at-least-once replay — its folded state equals the
    posix twin's row for row, in both write modes and under both
    manifest backends (plain local put / fenced conditional put).
    And it must be genuinely rename-less on the commit path: no
    _COMMITTED markers anywhere, a _MANIFEST.json in every
    written bucket."""
    ref = _sum_store(spark, str(tmp_path / "p"), delta)
    man = _sum_store(spark, str(tmp_path / "m"), delta, fs=fs)
    for i, rows in enumerate(_DELTA_BATCHES):
        key = f"lin.{i:012d}"
        ref.merge(_batch_df(spark, rows), key)
        man.merge(_batch_df(spark, rows), key)
        want = sorted(map(tuple, ref.state().collect()))
        got = sorted(map(tuple, man.state().collect()))
        assert got == want, f"divergence at epoch {i}"
    last = f"lin.{len(_DELTA_BATCHES) - 1:012d}"
    man.merge(_batch_df(spark, _DELTA_BATCHES[-1]), last)  # replay
    assert sorted(map(tuple, man.state().collect())) == want
    markers = [os.path.join(r, f) for r, _, fl in os.walk(man.path)
               for f in fl if f == "_COMMITTED"]
    assert markers == [], f"manifest mode wrote markers: {markers}"
    for b in man._bucket_ids():
        assert os.path.exists(os.path.join(
            man._bucket_dir(b), "_MANIFEST.json"))
    assert man.lineages() == {"lin"}


@pytest.mark.parametrize("fs", ["manifest", "manifest_cas"])
def test_manifest_crash_between_put_and_publish(spark, tmp_path,
                                                monkeypatch, fs):
    """THE object-store crash window: files put at their final
    keys, crash before the manifest put. The version must stay
    invisible (no partial state), the epoch's replay must repair
    it, and the orphan objects from the crashed attempt must never
    be read (the manifest names the exact file list) and must be
    swept when the version is eventually dropped. The crash seam
    is each backend's actual publish primitive: the local atomic
    put (manifest) / the conditional object-store put
    (manifest_cas)."""
    from galaxy_spark.streaming import store_fs as sfs

    store = _sum_store(spark, str(tmp_path / "cw"), None, fs=fs)
    store.merge(_batch_df(spark, [(1, 10, "a")]), "lin.000000000000")
    before = sorted(map(tuple, store.state().collect()))

    def boom(self, *a, **kw):
        raise OSError("simulated crash after puts, before publish")

    if fs == "manifest":
        monkeypatch.setattr(sfs.ManifestStoreFs, "_put_manifest",
                            boom)
    else:
        monkeypatch.setattr(sfs.LocalObjectStore, "put_if_match",
                            boom)
    with pytest.raises(OSError, match="simulated crash"):
        store.merge(_batch_df(spark, [(1, 5, "b")]),
                    "lin.000000000001")
    monkeypatch.undo()
    # invisible: the half-published version changed nothing
    assert sorted(map(tuple, store.state().collect())) == before
    b = store._buckets_for_keys(
        _batch_df(spark, [(1, 5, "b")]).select("k"))[0]
    vdir = os.path.join(store._bucket_dir(b), "v-lin.000000000001")
    orphans = set(os.listdir(vdir))
    assert orphans, "crash left no orphan objects to exercise"
    # replay repairs; orphans coexist in the dir but are unread —
    # a double-count of the k=1 row would show in the sum
    store.merge(_batch_df(spark, [(1, 5, "b")]), "lin.000000000001")
    assert {(r.k, r.v) for r in store.state().collect()} == {(1, 15)}
    assert set(os.listdir(vdir)) > orphans
    # next epoch supersedes the version; its drop sweeps orphans too
    store.merge(_batch_df(spark, [(1, 1, "c")]), "lin.000000000002")
    assert not os.path.exists(vdir)
    assert {(r.k, r.v) for r in store.state().collect()} == {(1, 16)}


def test_manifest_drop_updates_visibility_before_bytes(tmp_path):
    """drop_version removes the version from the manifest (one
    atomic put) BEFORE deleting bytes — a reader can never resolve
    a version whose files are already gone."""
    import shutil

    from galaxy_spark.streaming.store_fs import ManifestStoreFs

    fs = ManifestStoreFs()
    bd = str(tmp_path / "bucket-0")
    stage = str(tmp_path / "stage")
    os.makedirs(stage)
    with open(os.path.join(stage, "part-1.parquet"), "wb") as f:
        f.write(b"x")
    fs.publish_version(bd, "v-lin.000000000000", stage)
    assert fs.committed(bd, "v-lin.000000000000")
    assert fs.read_paths(bd, "v-lin.000000000000") == [
        os.path.join(bd, "v-lin.000000000000", "part-1.parquet")]

    real_rmtree = shutil.rmtree
    order = []

    def spy_rmtree(path, **kw):
        # at byte-deletion time the version is already invisible
        order.append(fs.committed(bd, "v-lin.000000000000"))
        real_rmtree(path, **kw)

    import unittest.mock as mock
    with mock.patch.object(shutil, "rmtree", spy_rmtree):
        fs.drop_version(bd, "v-lin.000000000000")
    assert order == [False], "bytes deleted while still visible"
    # a read that resolved the version before the drop must fail
    # LOUDLY (retryable), never silently omit the bucket's rows
    # (r12 review)
    with pytest.raises(FileNotFoundError, match="vacuumed"):
        fs.read_paths(bd, "v-lin.000000000000")


def test_cross_strategy_path_refused(spark, tmp_path):
    """A store path is bound to one commit strategy for life:
    posix markers are invisible to the manifest reader and vice
    versa, so continuing a path under the other strategy would
    silently read committed state as empty. Both directions must
    refuse loudly at the next write."""
    rows = [(1, 10, "a")]
    pos = _sum_store(spark, str(tmp_path / "x"), None)
    pos.merge(_batch_df(spark, rows), "lin.000000000000")
    wrong = _sum_store(spark, str(tmp_path / "x"), None,
                       fs="manifest")
    with pytest.raises(ValueError, match="posix-committed"):
        wrong.merge(_batch_df(spark, rows), "lin.000000000001")

    man = _sum_store(spark, str(tmp_path / "y"), None,
                     fs="manifest")
    man.merge(_batch_df(spark, rows), "lin.000000000000")
    wrong2 = _sum_store(spark, str(tmp_path / "y"), None)
    with pytest.raises(ValueError, match="manifest"):
        wrong2.merge(_batch_df(spark, rows), "lin.000000000001")

    # READ side refuses too (r12 review): a pure reader opened with
    # the wrong strategy previously saw committed state as EMPTY —
    # silent data loss on e.g. a BM25 query over a stopped task
    with pytest.raises(ValueError, match="manifest"):
        _sum_store(spark, str(tmp_path / "y"), None).state()
    with pytest.raises(ValueError, match="posix-committed"):
        _sum_store(spark, str(tmp_path / "x"), None,
                   fs="manifest").state()


def test_rebucket_carries_fs_and_grace(spark, tmp_path):
    """rebucket rebuilds the store from its spec; the commit
    strategy and vacuum grace ride along like delta_threshold —
    and the migrated state re-reads identically under the carried
    strategy."""
    from galaxy_spark.streaming.state_store import rebucket
    from galaxy_spark.streaming.store_fs import ManifestStoreFs

    st = _sum_store(spark, str(tmp_path / "src"), 2, fs="manifest")
    st.vacuum_grace_seconds = 123.0
    for i, rows in enumerate(_DELTA_BATCHES[:3]):
        st.merge(_batch_df(spark, rows), f"lin.{i:012d}")
    with pytest.warns(UserWarning, match="quiesced"):
        new = rebucket(st, str(tmp_path / "dst"), 7)
    assert isinstance(new.fs, ManifestStoreFs)
    assert new.vacuum_grace_seconds == 123.0
    assert sorted(map(tuple, new.state().collect())) == \
        sorted(map(tuple, st.state().collect()))


#: every store spec: each task kind's stores, and the CDC snapshot
_ALL_SPECS = [*((sub, spec) for kind in _KINDS.values()
                for sub, spec, _ in kind.stores),
              ("snapshot", SNAPSHOT_SPEC)]
#: a non-default value of every tunable the spec functions take
_TUNABLES = {"winnow": {"df_cap": 3},
             "basket": {"retention_days": 5, "basket_cap": 4},
             "evindex": {"retention_days": 2},
             "userseq": {"retention_days": 2}}


def _spec(spec, **tunables):
    """A table entry as a StoreSpec: spec functions are called."""
    return spec(**tunables) if callable(spec) else spec


@pytest.mark.parametrize("name, spec", _ALL_SPECS,
                         ids=[name for name, _ in _ALL_SPECS])
def test_rebucket_keeps_parametric_store_tunables(spark, tmp_path,
                                                  name, spec):
    """Every store must come out of rebucket with the same spec,
    the same non-default tunables and the same fold: a rebuild
    through the bare signature once reset a KMV store's k to 256
    and re-truncated its sketches under the wrong k."""
    import re

    from galaxy_spark.streaming.state_store import rebucket

    tunables = _TUNABLES.get(name, {})
    default = KeyedParquetStore(spark, str(tmp_path / "default"),
                                _spec(spec))
    for tunable, value in tunables.items():
        assert getattr(default, tunable) != value, \
            "tunable is the default"
    src = KeyedParquetStore(spark, str(tmp_path / "src"),
                            _spec(spec, **tunables))
    with pytest.warns(UserWarning, match="quiesced"):
        new = rebucket(src, str(tmp_path / "dst"), 5)
    assert type(new) is type(src) and new.spec is src.spec
    assert new.n_buckets == 5
    for tunable, value in tunables.items():
        assert getattr(new, tunable) == value
    assert new.key_cols == src.key_cols
    assert new.layout_cols == src.layout_cols
    assert new.state_schema == src.state_schema
    # lambda variables (x_6, y_7) are numbered per construction
    def fold(store):
        return [re.sub(r"_\d+\b", "", str(c)) for c in store.aggs]
    assert fold(new) == fold(src)
    assert (new.spec.finalize is None) == (src.spec.finalize is None)


def _sample(dt):
    """One value of a Spark type, for a one-row partial."""
    import datetime

    from pyspark.sql import types as T

    if isinstance(dt, T.ArrayType):
        return [_sample(dt.elementType)]
    if isinstance(dt, T.StructType):
        return tuple(_sample(f.dataType) for f in dt.fields)
    return {T.StringType: "a", T.LongType: 1, T.IntegerType: 1,
            T.DoubleType: 1.5, T.DateType: datetime.date(2024, 1, 2),
            T.TimestampType: datetime.datetime(2024, 1, 2, 3)}[type(dt)]


@pytest.mark.parametrize("name, spec", _ALL_SPECS,
                         ids=[name for name, _ in _ALL_SPECS])
def test_spec_schema_matches_folded_state(spark, tmp_path, name, spec):
    """A spec's ``state_schema`` is what its aggs fold to: an empty
    store's state() has the same column names and types as its
    state() after one merge of a one-row partial, with default and
    with non-default tunables (retention adds a column)."""
    for i, tunables in enumerate(({}, _TUNABLES.get(name, {}))):
        store = KeyedParquetStore(spark, str(tmp_path / str(i)),
                                  _spec(spec, **tunables))
        empty = store.state().schema
        store.merge(spark.createDataFrame(
            [tuple(_sample(f.dataType) for f in empty)], empty),
            "lin.000000000000")
        merged = store.state()
        assert merged.count() == 1
        assert [(f.name, f.dataType.simpleString()) for f in merged.schema] \
            == [(f.name, f.dataType.simpleString()) for f in empty]


def test_rebucket_basket_retention_reads_new_store_watermark(spark,
                                                             tmp_path):
    """The basket store's retention hook reads the store's own
    stream watermark, which ``cooc_deltas`` advances on the store the
    stream writes to. After rebucket that is the NEW store, so the
    migrated store's hook must evict against the new store's
    watermark, not the source's."""
    import datetime

    from galaxy_spark.streaming.state_store import rebucket

    src = KeyedParquetStore(spark, str(tmp_path / "src"),
                            basket_spec(retention_days=5))
    with pytest.warns(UserWarning, match="quiesced"):
        new = rebucket(src, str(tmp_path / "dst"), 3)
    new.current_wm = datetime.date(2024, 1, 10)
    rows = spark.createDataFrame(
        [(1, [1, 2], datetime.date(2024, 1, 1)),
         (2, [3, 4], datetime.date(2024, 1, 20))],
        "o long, parts array<bigint>, t date")
    assert [r.o for r in new._finalized(rows).collect()] == [2]


def test_vacuum_grace_defers_drop(spark, tmp_path):
    """vacuum_grace_seconds (r11 ADVICE): superseded versions
    younger than the grace survive the post-merge vacuum — a drain
    window for concurrent readers mid-scan — while reads stay on
    the current version (max-committed rule), and dropping the
    grace sweeps them on the next touch."""
    st = _sum_store(spark, str(tmp_path / "g"), None)
    st.vacuum_grace_seconds = 3600.0
    st.merge(_batch_df(spark, [(1, 10, "a")]), "lin.000000000000")
    st.merge(_batch_df(spark, [(1, 5, "b")]), "lin.000000000001")
    b = st._buckets_for_keys(
        _batch_df(spark, [(1, 0, "x")]).select("k"))[0]
    bd = st._bucket_dir(b)
    assert os.path.isdir(os.path.join(bd, "v-lin.000000000000")), \
        "grace did not defer the vacuum"
    assert {(r.k, r.v) for r in st.state().collect()} == {(1, 15)}
    st.vacuum_grace_seconds = 0.0
    st.merge(_batch_df(spark, [(1, 1, "c")]), "lin.000000000002")
    kept = [v for v in os.listdir(bd) if v.startswith("v-")]
    assert kept == ["v-lin.000000000002"], f"unswept: {kept}"


def test_manifest_cache_survives_mtime_collision(tmp_path):
    """r12 ADVICE: on coarse-mtime filesystems two manifest
    publishes can land in one mtime quantum, leaving a second
    in-process reader instance serving the stale manifest when the
    cache is keyed on mtime alone. The cache key is the full stat
    signature (inode, mtime_ns, size); os.replace installs a fresh
    inode on every publish, so even a FORCED mtime collision (the
    worst case, emulated here with utime) must invalidate."""
    from galaxy_spark.streaming.store_fs import _MANIFEST, \
        ManifestStoreFs

    writer, reader = ManifestStoreFs(), ManifestStoreFs()
    bd = str(tmp_path / "bucket-0")
    for i in (0, 1):
        stage = str(tmp_path / f"stage{i}")
        os.makedirs(stage)
        with open(os.path.join(stage, f"part-{i}.parquet"),
                  "wb") as f:
            f.write(b"x")
        writer.publish_version(bd, f"v-lin.{i:012d}", stage)
        if i == 0:
            # reader caches the one-version manifest
            assert reader.version_names(bd) == ["v-lin.000000000000"]
            mpath = os.path.join(bd, _MANIFEST)
            t0 = os.stat(mpath).st_mtime
    # force the mtime of the SECOND publish back onto the first's
    os.utime(os.path.join(bd, _MANIFEST), (t0, t0))
    assert sorted(reader.version_names(bd)) == [
        "v-lin.000000000000", "v-lin.000000000001"], \
        "reader served a stale cached manifest"
    assert reader.committed(bd, "v-lin.000000000001")


def test_store_fs_resolver():
    from galaxy_spark.streaming.store_fs import (CasManifestStoreFs,
                                                 ManifestStoreFs,
                                                 PosixStoreFs,
                                                 store_fs)

    inst = ManifestStoreFs()
    assert store_fs(inst) is inst
    assert isinstance(store_fs("posix"), PosixStoreFs)
    assert isinstance(store_fs("manifest"), ManifestStoreFs)
    assert isinstance(store_fs("manifest_cas"), CasManifestStoreFs)
    with pytest.raises(ValueError, match="unknown store commit"):
        store_fs("s3")


def _stage_one_file(tmp_path, name: str) -> str:
    import uuid

    stage = str(tmp_path / f"stage-{name}-{uuid.uuid4().hex[:6]}")
    os.makedirs(stage)
    with open(os.path.join(stage, f"part-{name}.parquet"),
              "wb") as f:
        f.write(name.encode())
    return stage


def test_local_object_store_precondition_semantics(tmp_path):
    """The fake object store honors the exact contract a real S3
    client must provide to CasManifestStoreFs: create-only puts
    refuse existing keys, If-Match puts refuse a stale ETag, and a
    winning put changes the ETag."""
    from galaxy_spark.streaming.store_fs import (LocalObjectStore,
                                                 PreconditionFailed)

    s = LocalObjectStore()
    key = str(tmp_path / "obj")
    assert s.get(key) == (None, None)
    e1 = s.put_if_match(key, b"v1", None)
    assert s.get(key) == (b"v1", e1)
    with pytest.raises(PreconditionFailed):
        s.put_if_match(key, b"v2", None)          # exists
    with pytest.raises(PreconditionFailed):
        s.put_if_match(key, b"v2", "stale-etag")  # wrong etag
    e2 = s.put_if_match(key, b"v2", e1)
    assert e2 != e1 and s.get(key) == (b"v2", e2)


def test_manifest_cas_two_writer_race_loses_no_version(tmp_path):
    """r12 verdict #1, the fencing scenario: a ZOMBIE driver still
    mid-publish of epoch N's version while the new LIVE driver
    commits N and N+1. The zombie's manifest put is made from a
    stale read; under the plain last-writer-wins emulation it
    would erase the live writer's versions. Under the fenced
    strategy the put fails its If-Match precondition, the mutation
    re-applies on the fresh manifest (where the version already
    exists), and the race degrades to a no-op: NO version lost,
    replay-skip lineage (the committed set) stays consistent."""
    from galaxy_spark.streaming.store_fs import (CasManifestStoreFs,
                                                 LocalObjectStore)

    objects = LocalObjectStore()
    live = CasManifestStoreFs(objects)
    zombie = CasManifestStoreFs(objects)
    bd = str(tmp_path / "bucket-0")
    vN, vN1 = "v-lin.000000000005", "v-lin.000000000006"

    # interleave: the hook fires inside the zombie's publish,
    # between its stale manifest read and its conditional put —
    # the live writer lands BOTH epochs in that window
    def live_commits():
        live.publish_version(bd, vN, _stage_one_file(tmp_path, "ln"))
        live.publish_version(bd, vN1,
                             _stage_one_file(tmp_path, "l1"))

    objects.before_put = live_commits
    zombie.publish_version(bd, vN, _stage_one_file(tmp_path, "zn"))

    # no lost version, and the committed set is the union
    assert sorted(zombie.version_names(bd)) == [vN, vN1]
    assert live.committed(bd, vN) and live.committed(bd, vN1)
    # the winner's (live) files are the visible ones for vN — the
    # zombie's stale attempt converged to a no-op, and every
    # manifest-listed file actually exists and is readable
    for v in (vN, vN1):
        paths = live.read_paths(bd, v)
        assert paths and all(os.path.exists(p) for p in paths)
    assert [os.path.basename(p)
            for p in live.read_paths(bd, vN)] == ["part-ln.parquet"]


def test_manifest_unfenced_race_demonstrates_lost_version(tmp_path):
    """The CONVERSE of the fenced test — documents WHY the CAS
    strategy exists: under plain ManifestStoreFs (single-key
    last-writer-wins put, the correct local emulation of S3's
    unconditional PUT), the same zombie interleave erases the live
    writer's in-between version. This is the documented contract
    boundary (store_fs.py module docstring), not a bug: deploys
    with any chance of two live writers must use manifest_cas."""
    from galaxy_spark.streaming.store_fs import ManifestStoreFs

    live = ManifestStoreFs()
    zombie = ManifestStoreFs()
    bd = str(tmp_path / "bucket-0")
    vN, vN1 = "v-lin.000000000005", "v-lin.000000000006"

    orig = ManifestStoreFs._put_manifest
    fired = []

    def hooked(self, bucket_dir, manifest):
        if self is zombie and not fired:
            fired.append(True)
            live.publish_version(bd, vN,
                                 _stage_one_file(tmp_path, "ln"))
            live.publish_version(bd, vN1,
                                 _stage_one_file(tmp_path, "l1"))
        orig(self, bucket_dir, manifest)

    import unittest.mock as mock
    with mock.patch.object(ManifestStoreFs, "_put_manifest", hooked):
        zombie.publish_version(bd, vN,
                               _stage_one_file(tmp_path, "zn"))
    # vN1 is GONE from the manifest — the lost-version hazard
    assert zombie.version_names(bd) == [vN]


def test_posix_zombie_replay_cannot_erase_live_versions(tmp_path):
    """The posix path's zombie-vs-live story, made explicit (r12
    verdict #1): version dirs are DISJOINT keys — a zombie replay
    of epoch N can at worst lose the rename race for its own
    version (absorbed by the winner's _COMMITTED marker check) and
    can never touch versions it never wrote, so there is no
    manifest-style lost-version window to fence."""
    from galaxy_spark.streaming.store_fs import PosixStoreFs

    live, zombie = PosixStoreFs(), PosixStoreFs()
    bd = str(tmp_path / "bucket-0")
    vN, vN1 = "v-lin.000000000005", "v-lin.000000000006"
    live.publish_version(bd, vN, _stage_one_file(tmp_path, "ln"))
    live.publish_version(bd, vN1, _stage_one_file(tmp_path, "l1"))
    # zombie replays epoch N with ITS recompute of the same version
    zombie.publish_version(bd, vN, _stage_one_file(tmp_path, "zn"))
    assert sorted(zombie.version_names(bd)) == [vN, vN1]
    assert all(zombie.committed(bd, v) for v in (vN, vN1))
    # the live winner's bytes survived the zombie's replay
    names = os.listdir(os.path.join(bd, vN))
    assert "part-ln.parquet" in names and \
        "part-zn.parquet" not in names


def _cas_counter_worker(key: str, rounds: int, barrier) -> None:
    """One contender: read-modify-write increments through the
    conditional put, retrying on PreconditionFailed — the client
    loop a real S3 CAS user runs. Module-level so child processes
    can import it."""
    from galaxy_spark.streaming.store_fs import (LocalObjectStore,
                                                 PreconditionFailed)

    s = LocalObjectStore()
    barrier.wait()
    for _ in range(rounds):
        while True:
            raw, etag = s.get(key)
            n = int(raw) if raw is not None else 0
            try:
                s.put_if_match(key, str(n + 1).encode(), etag)
                break
            except PreconditionFailed:
                continue


def test_local_object_store_cas_is_cross_process(tmp_path):
    """r13 verdict #1: the fencing guarantee names a zombie driver
    in another PROCESS, so the stand-in's compare-and-swap must be
    OS-level, not a threading.Lock. Three real processes hammer
    one key with CAS increments; flock-serialized windows mean no
    increment is lost — under the old process-wide threading.Lock
    (private per child after fork) interleaved get→replace windows
    lose updates."""
    import multiprocessing as mp

    ctx = mp.get_context("fork")
    key, rounds = str(tmp_path / "counter"), 40
    barrier = ctx.Barrier(3)
    procs = [ctx.Process(target=_cas_counter_worker,
                         args=(key, rounds, barrier))
             for _ in range(3)]
    for p in procs:
        p.start()
    for p in procs:
        p.join(120)
        assert p.exitcode == 0
    with open(key, "rb") as f:
        assert int(f.read()) == 3 * rounds


def _cas_publisher_worker(bd: str, stage_root: str, tag: str,
                          n_versions: int, barrier) -> None:
    """One driver process publishing its own version lineage into
    the shared bucket through the fenced strategy."""
    import os as _os
    import uuid as _uuid

    from galaxy_spark.streaming.store_fs import CasManifestStoreFs

    fs = CasManifestStoreFs()
    barrier.wait()
    for j in range(n_versions):
        stage = _os.path.join(
            stage_root, f"stage-{tag}-{j}-{_uuid.uuid4().hex[:6]}")
        _os.makedirs(stage)
        with open(_os.path.join(stage,
                                f"part-{tag}-{j}.parquet"),
                  "wb") as f:
            f.write(f"{tag}:{j}".encode())
        fs.publish_version(bd, f"v-{tag}.{j:09d}", stage)


def test_manifest_cas_two_process_race_loses_no_version(tmp_path):
    """The r13 verdict #1 'done' criterion: a REAL two-(three-)
    process writer race over one bucket's manifest, every publish
    a get→merge→conditional-put from a possibly-stale read. With
    the flock-backed object store no version is lost; a fresh
    reader process (the parent) sees the union of every writer's
    lineage and every manifest-listed file exists."""
    import multiprocessing as mp

    from galaxy_spark.streaming.store_fs import CasManifestStoreFs

    ctx = mp.get_context("fork")
    bd = str(tmp_path / "bucket-0")
    n_versions = 8
    tags = ["a", "b", "c"]
    barrier = ctx.Barrier(len(tags))
    procs = [ctx.Process(target=_cas_publisher_worker,
                         args=(bd, str(tmp_path), t, n_versions,
                               barrier))
             for t in tags]
    for p in procs:
        p.start()
    for p in procs:
        p.join(120)
        assert p.exitcode == 0

    reader = CasManifestStoreFs()
    expect = sorted(f"v-{t}.{j:09d}"
                    for t in tags for j in range(n_versions))
    assert sorted(reader.version_names(bd)) == expect
    for v in expect:
        paths = reader.read_paths(bd, v)
        assert paths and all(os.path.exists(p) for p in paths)


def test_manifest_publish_failure_sweeps_orphan_version_dir(
        tmp_path, monkeypatch):
    """r13 ADVICE: if the manifest put fails AFTER the data files
    were moved to their final keys (e.g. CAS exhaustion), the
    staged-but-unpublished version dir would be invisible to
    vacuum forever — manifest entries ARE the committed set. The
    publish path now removes exactly the files it put (and the
    dir, if empty) before re-raising, and leaves committed
    versions untouched."""
    from galaxy_spark.streaming import store_fs as sfs

    fs = sfs.CasManifestStoreFs()
    bd = str(tmp_path / "bucket-0")
    v0, v1 = "v-lin.000000000001", "v-lin.000000000002"
    fs.publish_version(bd, v0, _stage_one_file(tmp_path, "ok"))

    def always_fail(self, key, data, etag):
        raise sfs.PreconditionFailed(f"{key}: induced")

    monkeypatch.setattr(sfs.LocalObjectStore, "put_if_match",
                        always_fail)
    with pytest.raises(RuntimeError, match="did not converge"):
        fs.publish_version(bd, v1, _stage_one_file(tmp_path, "nf"))
    # the failed version's dir is swept — no unreferenced orphan
    assert not os.path.exists(os.path.join(bd, v1))
    # the committed version is untouched and still readable
    monkeypatch.undo()
    assert fs.version_names(bd) == [v0]
    assert all(os.path.exists(p) for p in fs.read_paths(bd, v0))


def test_event_index_retention_bounds_state(spark, tmp_path):
    """retention_days=H (r11 verdict #3) bounds the event-index
    store's state: merge-time eviction drops micros older than H
    days behind the folded watermark, and the funnel/retention
    readers answer exactly the batch queries RESTRICTED to the
    retained window. Composes with the delta tier (read-side folds
    run the same watermark-gated agg)."""
    import time as _time

    from galaxy_spark.queries.events import (
        funnel_from_events, retention_cohorts_from_events)
    from galaxy_spark.streaming.state_store import (
        start_streaming_attribution_hub, streaming_funnel, streaming_retention)

    ev = load_table(spark, SF, "events")
    src = str(tmp_path / "ret_src")
    for k in range(3):
        (ev.filter(F.col("event_id") % 3 == k)
         .coalesce(1).write.mode("append").parquet(src))
        _time.sleep(1.1)

    H = 14
    store = KeyedParquetStore(spark, str(tmp_path / "ret_store"),
                              event_index_spec(retention_days=H))
    store.delta_threshold = 2
    stream = spark.readStream.schema(ev.schema) \
        .option("maxFilesPerTrigger", 1).parquet(src)
    q = start_streaming_attribution_hub(
        stream, KeyedParquetStore(spark, str(tmp_path / "ret_pur"),
                                  PURCHASE_SPEC),
        store, str(tmp_path / "ret_ck"))
    q.processAllAvailable()
    q.stop()

    # the retained-window batch twin: events at/after (global max
    # event time - H days) — the same cutoff the folded watermark
    # converges to once the final batch (which contains the max)
    # has merged
    max_t = ev.agg(F.max(F.unix_micros("ts"))).collect()[0][0]
    cutoff = max_t - H * 86_400_000_000
    ev_r = ev.filter(F.unix_micros("ts") >= cutoff)
    n_all, n_ret = ev.count(), ev_r.count()
    assert 0 < n_ret < n_all, "horizon must split the dataset"

    got = sorted((r.user_id, r.t_view, r.t_click, r.t_purchase)
                 for r in streaming_funnel(store).collect())
    want = sorted((r.user_id, r.t_view, r.t_click, r.t_purchase)
                  for r in funnel_from_events(ev_r).collect())
    assert got == want and len(want) >= 5
    got_r = sorted((r.cohort_week, r.week_offset, r.n_users)
                   for r in streaming_retention(store).collect())
    want_r = sorted(
        (r.cohort_week, r.week_offset, r.n_users)
        for r in retention_cohorts_from_events(
            ev_r.select("user_id", "ts")).collect())
    assert got_r == want_r and len(want_r) >= 1

    # bounded state: the stored index holds strictly fewer micros
    # than the full-history twin would (merge-time eviction, not
    # just read-time filtering)
    stored = store.state().agg(
        F.sum(F.size("tss"))).collect()[0][0]
    full = ev.select("user_id", "event_type",
                     F.unix_micros("ts").alias("t")) \
        .distinct().count()
    assert stored < full, \
        f"no merge-time eviction: {stored} stored vs {full} full"
    # and nothing below the global watermark survives in state
    # for keys touched after the horizon settled: the READERS see
    # none regardless (global-wm gate), certified by the equality
    # above

    # default behavior unchanged: no retention -> no wm column
    plain = KeyedParquetStore(spark, str(tmp_path / "plain"),
                              event_index_spec())
    assert "wm" not in (plain.state_schema or "")
    with pytest.raises(ValueError, match="retention_days"):
        event_index_spec(retention_days=0)


def test_streaming_gapfill_matches_batch(spark, tmp_path):
    """The gap-filled hourly series off the continuously maintained
    rollup store equals the batch ``events_timeseries_gapfill``
    field-for-field — including zero rows for hours NO event ever
    touched (the store holds only occupied buckets; the reader's
    grid synthesis must regenerate the gaps) — with events
    interleaved across micro-batches and a replayed epoch."""
    import time as _time

    from galaxy_spark.registry import all_queries
    from galaxy_spark.streaming.state_store import (
        start_incremental_rollup_parquet, streaming_gapfill)

    ev = load_table(spark, SF, "events")
    src = str(tmp_path / "gf_src")
    for k in range(3):
        (ev.filter(F.col("event_id") % 3 == k)
         .coalesce(1).write.mode("append").parquet(src))
        _time.sleep(1.1)

    store = KeyedParquetStore(spark, str(tmp_path / "gf_store"), ROLLUP_SPEC)
    store.delta_threshold = 2
    stream = spark.readStream.schema(ev.schema) \
        .option("maxFilesPerTrigger", 1).parquet(src)
    q = start_incremental_rollup_parquet(stream, store,
                                         str(tmp_path / "gf_ck"))
    q.processAllAvailable()
    q.stop()

    got = sorted((r.event_type, r.hour, r.n_events, r.trailing_24h)
                 for r in streaming_gapfill(store).collect())
    want = sorted((r.event_type, r.hour, r.n_events, r.trailing_24h)
                  for r in all_queries()["events_timeseries_gapfill"](
                      spark, SF).collect())
    assert got == want and len(want) > 100
    assert any(n == 0 for _, _, n, _ in got), \
        "no zero-filled hour: the gap regeneration went untested"


def test_streaming_anomaly_matches_batch(spark, tmp_path):
    """The anomaly flags off the continuously maintained rollup
    store equal the batch ``events_anomaly_daily_counts``
    field-for-field — the rollup store serving its THIRD reader
    (rollup snapshot, gap-filled series, anomaly flags) from one
    write path, with events interleaved across micro-batches."""
    import time as _time

    from galaxy_spark.registry import all_queries
    from galaxy_spark.streaming.state_store import (
        start_incremental_rollup_parquet, streaming_anomaly)

    ev = load_table(spark, SF, "events")
    src = str(tmp_path / "an_src")
    for k in range(2):
        (ev.filter(F.col("event_id") % 2 == k)
         .coalesce(1).write.mode("append").parquet(src))
        _time.sleep(1.1)

    store = KeyedParquetStore(spark, str(tmp_path / "an_store"), ROLLUP_SPEC)
    store.delta_threshold = 2
    stream = spark.readStream.schema(ev.schema) \
        .option("maxFilesPerTrigger", 1).parquet(src)
    q = start_incremental_rollup_parquet(stream, store,
                                         str(tmp_path / "an_ck"))
    q.processAllAvailable()
    q.stop()

    got = sorted((r.event_type, r.day, r.n_events, r.is_anomaly)
                 for r in streaming_anomaly(store).collect())
    want = sorted((r.event_type, r.day, r.n_events, r.is_anomaly)
                  for r in all_queries()["events_anomaly_daily_counts"](
                      spark, SF).collect())
    assert got == want and len(want) >= 100


# ------------------------------------------------------------------
# Streaming winnowing near-dup index (r12 verdict #3)
# ------------------------------------------------------------------

@pytest.mark.parametrize("delta,fs", [(None, "posix"),
                                      (2, "manifest_cas")],
                         ids=["cow", "delta2-cas"])
def test_streaming_winnowing_index_matches_batch(spark, tmp_path,
                                                 delta, fs):
    """r12 verdict #3: the winnowing tier's streaming twin. Docs
    stream in three slices with a kill/restart mid-stream; the
    store reader answers EXACTLY the batch
    ``dedup_winnowing_pairs`` over the replayed corpus (the
    one-write many-readers hub shape — the DF cap and min-shared
    floor are whole-corpus properties, so the reader recomputes
    from accumulated fingerprint state). The post-ingest probe of
    the full corpus equals the same answer (state-union replay
    insensitivity at final df)."""
    import time as _time

    from galaxy_spark.registry import all_queries
    from galaxy_spark.streaming.state_store import (
        start_streaming_winnowing_index, streaming_winnowing_pairs,
        winnow_probe_pairs)
    from galaxy_spark.streaming.store_fs import store_fs

    docs = load_table(spark, SF, "documents")
    src = str(tmp_path / "wn_src")
    for k in (0, 1):                   # first two slices, then kill
        (docs.filter(F.col("doc_id") % 3 == k)
         .coalesce(1).write.mode("append").parquet(src))
        _time.sleep(1.1)

    store = KeyedParquetStore(spark, str(tmp_path / "wn_store"), winnow_spec())
    store.delta_threshold = delta
    store.fs = store_fs(fs)
    ck = str(tmp_path / "wn_ck")

    def start():
        stream = spark.readStream.schema(docs.schema) \
            .option("maxFilesPerTrigger", 1).parquet(src)
        return start_streaming_winnowing_index(stream, store, ck)

    q = start()
    q.processAllAvailable()
    q.stop()                           # the "kill"
    mid = streaming_winnowing_pairs(store).count()

    _time.sleep(1.1)
    (docs.filter(F.col("doc_id") % 3 == 2)
     .coalesce(1).write.mode("append").parquet(src))
    q = start()
    q.processAllAvailable()
    q.stop()

    got = sorted((r.doc_a, r.doc_b, r.n_shared)
                 for r in streaming_winnowing_pairs(store).collect())
    want = sorted((r.doc_a, r.doc_b, r.n_shared)
                  for r in all_queries()["dedup_winnowing_pairs"](
                      spark, SF).collect())
    assert got == want and len(want) > max(mid, 3)
    assert any(a % 3 != b % 3 for a, b, _ in got), \
        "no cross-slice pair: the growing index went untested"

    # post-ingest probe of the full corpus: at final df the
    # candidate superset collapses to the exact answer, and the
    # state-union makes it indifferent to the already-applied
    # inserts (replay shape)
    probed = sorted((r.doc_a, r.doc_b, r.n_shared)
                    for r in winnow_probe_pairs(docs,
                                                store).collect())
    assert probed == want


def test_winnow_store_caps_boilerplate_and_probe_is_superset(
        spark, tmp_path):
    """Merge-time DF-cap enforcement + the documented probe
    semantics. With df_cap=3: (a) a boilerplate fingerprint shared
    by 8 documents keeps at most cap+1 = 4 member ids in state (the
    truncation witness — bounded state no matter how hot the
    fingerprint); (b) a pair the per-trigger probe legitimately
    emitted early (df at trigger <= cap) is RETRACTED by the exact
    reader once later arrivals push the fingerprint over the cap —
    probe union is a superset, the store reader is the truth."""
    from galaxy_spark.streaming.state_store import (
        partial_winnow_index, streaming_winnowing_pairs, winnow_probe_pairs)

    # a 20-word shared run -> several distinct shared fingerprints
    # (>= the min-shared floor of 2)
    run = ("quick brown foxes jump over lazy dogs while striped "
           "cats sleep calmly under warm afternoon sun near old "
           "stone walls")
    mk = lambda i: (i, f"{run} unique{i} filler{i} tail{i} "
                    f"pad{i} extra{i} more{i}")
    batch1 = spark.createDataFrame([mk(i) for i in (1, 2, 3)],
                                   "doc_id long, text string")
    batch2 = spark.createDataFrame([mk(i) for i in (4, 5, 6, 7, 8)],
                                   "doc_id long, text string")

    store = KeyedParquetStore(spark, str(tmp_path / "bp_store"),
                              winnow_spec(df_cap=3))
    store.merge(partial_winnow_index(batch1), "lin.000000000000")
    early = {(r.doc_a, r.doc_b) for r in
             winnow_probe_pairs(batch1, store).collect()}
    assert early, "df<=cap pairs must emit at trigger time"

    store.merge(partial_winnow_index(batch2), "lin.000000000001")
    # (a) bounded state: every fp row holds <= cap+1 member ids
    sizes = [r.n for r in store.state()
             .select(F.size("doc_ids").alias("n")).collect()]
    assert max(sizes) == 4 and len(sizes) > 1
    # (b) retraction: the shared run's fingerprints now exceed the
    # cap everywhere, so the exact reader emits nothing...
    assert streaming_winnowing_pairs(store).count() == 0
    # ...and a fresh probe agrees (superset collapsed to truth)
    assert winnow_probe_pairs(batch2, store).count() == 0
    # the early emission was a strict superset of the final answer
    assert early > set()


# ------------------------------------------------------------------
# Streaming item-CF / frequent-pairs hub (r12 verdict #7 optional)
# ------------------------------------------------------------------

def test_streaming_item_cf_matches_batch(spark, tmp_path):
    """The co-occurrence hub: lineitem stream sliced BY PART so
    most orders' lines arrive across different micro-batches (the
    hard case — a pair's two items in different batches must meet
    through the accumulated basket store), kill/restart
    mid-stream, plus a duplicate re-delivery of a whole slice
    under a fresh epoch key (claim-skip can't absorb it; the
    new-item discipline must). Both readers equal their batch
    queries row-for-row over the replayed corpus."""
    import time as _time

    from galaxy_spark.registry import all_queries
    from galaxy_spark.streaming.state_store import (
        cooc_deltas, start_streaming_item_cf, streaming_frequent_pairs,
        streaming_item_cf_topk)

    li = load_table(spark, SF, "lineitem") \
        .select("l_orderkey", "l_partkey")
    src = str(tmp_path / "cf_src")
    for k in range(3):                 # slices split by PART
        (li.filter(F.col("l_partkey") % 3 == k)
         .coalesce(1).write.mode("append").parquet(src))
        _time.sleep(1.1)

    baskets = KeyedParquetStore(spark, str(tmp_path / "cf_b"), basket_spec())
    cooc = KeyedParquetStore(spark, str(tmp_path / "cf_c"), COOC_SPEC)
    cooc.delta_threshold = 2
    deg = KeyedParquetStore(spark, str(tmp_path / "cf_d"), ITEM_DEG_SPEC)
    ck = str(tmp_path / "cf_ck")

    def start():
        stream = spark.readStream.schema(li.schema) \
            .option("maxFilesPerTrigger", 1).parquet(src)
        return start_streaming_item_cf(stream, baskets, cooc, deg,
                                       ck)

    q = start()
    while not os.path.exists(os.path.join(ck, "commits", "0")):
        _time.sleep(0.1)
    q.stop()                           # the "kill"
    q = start()
    q.processAllAvailable()
    q.stop()

    # whole-slice re-delivery under a FRESH epoch: the basket
    # store's new-item discipline must make it a no-op
    dup = li.filter(F.col("l_partkey") % 3 == 0)
    pair_d, deg_d, bk = cooc_deltas(dup, baskets)
    assert pair_d.count() == 0 and deg_d.count() == 0 \
        and bk.count() == 0
    lin = sorted(cooc.lineages())[0]
    cooc.merge(pair_d, f"{lin}.000000000099")
    deg.merge(deg_d, f"{lin}.000000000099")

    got = sorted(map(tuple,
                     streaming_item_cf_topk(cooc, deg).collect()))
    want = sorted(map(tuple, all_queries()["similarity_item_cf_topk"](
        spark, SF).collect()))
    assert got == want and len(want) > 100

    got_fp = sorted(map(tuple,
                        streaming_frequent_pairs(cooc,
                                                 deg).collect()))
    want_fp = sorted(map(tuple, all_queries()["mining_frequent_pairs"](
        spark, SF).collect()))
    assert got_fp == want_fp and len(want_fp) > 10

    # third reader (r14): association lift — N from the basket
    # store's key count
    from galaxy_spark.streaming.state_store import \
        streaming_pair_lift
    got_l = sorted(map(tuple, streaming_pair_lift(
        cooc, deg, baskets).collect()))
    want_l = sorted(map(tuple, all_queries()["mining_pair_lift"](
        spark, SF).collect()))
    assert got_l == want_l and len(want_l) > 10

    # fourth reader (r14): per-node clustering coefficient — the
    # cooc store's n >= 1 pairs ARE the co-purchase edges, so the
    # batch query's triangle tail runs over state verbatim
    from galaxy_spark.streaming.state_store import \
        streaming_clustering_coefficient
    got_cc = sorted(map(tuple, streaming_clustering_coefficient(
        cooc).collect()))
    want_cc = sorted(map(tuple,
                         all_queries()["graph_clustering_coefficient"](
                             spark, SF).collect()))
    assert got_cc == want_cc and len(want_cc) > 100

    # fifth reader (r14): degree assortativity — same edge
    # derivation, the sufficient-statistics tail
    from galaxy_spark.streaming.state_store import \
        streaming_degree_assortativity
    got_a = sorted(map(tuple, streaming_degree_assortativity(
        cooc).collect()))
    want_a = sorted(map(tuple,
                        all_queries()["graph_degree_assortativity"](
                            spark, SF).collect()))
    assert got_a == want_a and len(want_a) == 1

    # readers six and seven (r14): the per-edge link features —
    # the whole graph family now reads one maintained pair store
    from galaxy_spark.streaming.state_store import (
        streaming_common_neighbors, streaming_resource_allocation)
    got_cn = sorted(map(tuple,
                        streaming_common_neighbors(cooc).collect()))
    want_cn = sorted(map(tuple,
                         all_queries()["graph_common_neighbors"](
                             spark, SF).collect()))
    assert got_cn == want_cn and len(want_cn) == 50
    # the max_degree hot-node lever reaches the reader too (r13
    # verdict #7) — == batch under the SAME cap, and the cap
    # genuinely bites (sampled != exact)
    from galaxy_spark.queries.graphs import graph_common_neighbors
    got_cap = sorted(map(tuple, streaming_common_neighbors(
        cooc, max_degree=3).collect()))
    want_cap = sorted(map(tuple, graph_common_neighbors(
        spark, SF, max_degree=3).collect()))
    assert got_cap == want_cap and got_cap != got_cn
    got_ra = sorted(map(tuple,
                        streaming_resource_allocation(cooc).collect()))
    want_ra = sorted(map(tuple,
                         all_queries()["graph_resource_allocation"](
                             spark, SF).collect()))
    assert got_ra == want_ra and len(want_ra) == 50


def test_basket_retention_recount_contract(spark, tmp_path):
    """r13 verdict #4, the documented inexactness made explicit:
    with ``retention_days=H`` on the basket store, a line arriving
    MORE than H days after its order's last ship activity finds an
    evicted (empty) basket — it re-counts as new (degree +1 again)
    and pairs only against later arrivals; counts can only
    over-count, never lose a pair. Deterministic micro-case."""
    from galaxy_spark.streaming.state_store import cooc_deltas

    baskets = KeyedParquetStore(spark, str(tmp_path / "br_b"),
                                basket_spec(retention_days=10), n_buckets=1)
    cooc = KeyedParquetStore(spark, str(tmp_path / "br_c"), COOC_SPEC)
    deg = KeyedParquetStore(spark, str(tmp_path / "br_d"), ITEM_DEG_SPEC)
    schema = "l_orderkey long, l_partkey long, l_shipdate date"

    def merge(rows, eid):
        b = spark.createDataFrame(rows, schema)
        pd_, dd, bk = cooc_deltas(b, baskets)
        cooc.merge(pd_, f"lin.{eid:012d}")
        deg.merge(dd, f"lin.{eid:012d}")
        baskets.merge(bk, f"lin.{eid:012d}")

    from datetime import date
    d0 = date(2024, 1, 1)
    merge([(1, 101, d0), (1, 102, d0)], 0)     # order 1: p101+p102
    # day 31: another order touches the (single) bucket — the fold
    # evicts order 1's basket (t=d0 < current_wm=d31-10)
    merge([(2, 201, date(2024, 2, 1))], 1)
    assert [r.o for r in baskets.state().collect()] == [2], \
        "order 1's basket should have evicted on bucket fold"
    # day 32: a >H-late line for order 1 re-counts: p101 is 'new'
    # again (degree over-count) and pairs with p103 only
    merge([(1, 101, date(2024, 2, 2)), (1, 103, date(2024, 2, 2))],
          2)
    got_deg = {r.p: r.d for r in deg.state().collect()}
    assert got_deg == {101: 2, 102: 1, 103: 1, 201: 1}
    got_cooc = {(r.part_a, r.part_b): r.n
                for r in cooc.state().collect()}
    assert got_cooc == {(101, 102): 1, (102, 101): 1,
                        (101, 103): 1, (103, 101): 1}
    # a time-less batch under retention fails loudly
    with pytest.raises(ValueError, match="l_shipdate"):
        cooc_deltas(spark.createDataFrame(
            [(3, 301)], "l_orderkey long, l_partkey long"),
            baskets)
    with pytest.raises(ValueError, match="retention_days"):
        basket_spec(retention_days=0)


def test_basket_retention_bounds_state(spark, tmp_path):
    """The horizon's point at 100 TB: basket state is O(orders
    active within H) + tails of untouched buckets, not O(all
    orders ever). Lineitem streamed in SHIP-DATE order (three
    date-tercile slices):

    - with a horizon far smaller than the corpus span the
      retained store ends strictly smaller than the exact-forever
      twin (every surviving basket sits at/above the final
      watermark — the slices touch every bucket, so the sweep is
      complete), while pair/degree counts stay well-formed;
    - with a horizon covering the whole span NOTHING can expire
      and the retention path's counts equal the exact twin
      row-for-row (the code path is exercised — t column, wm
      advance, probe filter — without any eviction)."""
    import time as _time

    from galaxy_spark.streaming.state_store import start_streaming_item_cf

    li = load_table(spark, SF, "lineitem") \
        .select("l_orderkey", "l_partkey",
                F.to_date("l_shipdate").alias("l_shipdate"))
    qs = li.agg(
        F.expr("percentile(unix_date(l_shipdate), 0.33)").alias("a"),
        F.expr("percentile(unix_date(l_shipdate), 0.66)").alias("b")
    ).collect()[0]
    cuts = [int(qs.a), int(qs.b)]
    src = str(tmp_path / "brb_src")
    conds = [F.expr(f"unix_date(l_shipdate) <= {cuts[0]}"),
             F.expr(f"unix_date(l_shipdate) > {cuts[0]} AND "
                    f"unix_date(l_shipdate) <= {cuts[1]}"),
             F.expr(f"unix_date(l_shipdate) > {cuts[1]}")]
    for c in conds:                    # slices in ship-date order
        li.filter(c).coalesce(1).write.mode("append").parquet(src)
        _time.sleep(1.1)

    H = 180
    ret_b = KeyedParquetStore(spark, str(tmp_path / "brb_b"),
                              basket_spec(retention_days=H))
    ret_b.delta_threshold = 2          # exercise every fold site
    cooc = KeyedParquetStore(spark, str(tmp_path / "brb_c"), COOC_SPEC)
    deg = KeyedParquetStore(spark, str(tmp_path / "brb_d"), ITEM_DEG_SPEC)
    wide_b = KeyedParquetStore(spark, str(tmp_path / "brb_wb"),
                               basket_spec(retention_days=9999))
    wcooc = KeyedParquetStore(spark, str(tmp_path / "brb_wc"), COOC_SPEC)
    wdeg = KeyedParquetStore(spark, str(tmp_path / "brb_wd"), ITEM_DEG_SPEC)
    full_b = KeyedParquetStore(spark, str(tmp_path / "brb_fb"), basket_spec())
    fcooc = KeyedParquetStore(spark, str(tmp_path / "brb_fc"), COOC_SPEC)
    fdeg = KeyedParquetStore(spark, str(tmp_path / "brb_fd"), ITEM_DEG_SPEC)
    for bst, cst, dst, ck in ((ret_b, cooc, deg, "brb_ck"),
                              (wide_b, wcooc, wdeg, "brb_wck"),
                              (full_b, fcooc, fdeg, "brb_fck")):
        stream = spark.readStream.schema(li.schema) \
            .option("maxFilesPerTrigger", 1).parquet(src)
        q = start_streaming_item_cf(stream, bst, cst, dst,
                                    str(tmp_path / ck))
        q.processAllAvailable()
        q.stop()

    n_ret, n_full = ret_b.state().count(), full_b.state().count()
    assert 0 < n_ret < n_full, (n_ret, n_full)
    assert ret_b.current_wm is not None
    assert ret_b.state().filter(
        F.col("t") < F.lit(ret_b.current_wm)).count() == 0, \
        "a surviving basket sits below the final watermark"
    assert cooc.state().filter(F.col("n") <= 0).count() == 0
    # H covering the span: the retention code path, zero eviction,
    # exact equality with the unbounded twin
    assert wide_b.state().count() == n_full
    assert sorted(map(tuple, wcooc.state().collect())) == \
        sorted(map(tuple, fcooc.state().collect()))
    assert sorted(map(tuple, wdeg.state().collect())) == \
        sorted(map(tuple, fdeg.state().collect()))


def test_streaming_item_cf_basket_cap_matches_capped_batch(
        spark, tmp_path):
    """r14, the streaming face of ``cap_mega_baskets``: a hub with
    ``basket_cap=K`` must equal the BATCH queries run with the
    same cap — on TPC-H's widest baskets the cap genuinely bites
    (capped != uncapped), lines stream BY PART so samples get
    REVISED mid-stream (items hash-evicting earlier arrivals →
    negative deltas through the SUM monoid and the zero-row fold
    filter), with a kill/restart and a whole-slice re-delivery
    under a fresh epoch proving the truncation monoid keeps
    re-delivery a no-op."""
    import time as _time

    from galaxy_spark.queries.graphs import (
        mining_frequent_pairs as batch_fp,
        mining_pair_lift as batch_lift,
        similarity_item_cf_topk as batch_cf)
    from galaxy_spark.streaming.state_store import (
        cooc_deltas, start_streaming_item_cf, streaming_frequent_pairs,
        streaming_item_cf_topk, streaming_pair_lift)

    K = 3                     # TPC-H baskets reach 7 -> cap bites
    li = load_table(spark, SF, "lineitem") \
        .select("l_orderkey", "l_partkey")
    src = str(tmp_path / "cap_src")
    for k in range(3):                 # slices split by PART
        (li.filter(F.col("l_partkey") % 3 == k)
         .coalesce(1).write.mode("append").parquet(src))
        _time.sleep(1.1)

    baskets = KeyedParquetStore(spark, str(tmp_path / "cap_b"),
                                basket_spec(basket_cap=K))
    cooc = KeyedParquetStore(spark, str(tmp_path / "cap_c"), COOC_SPEC)
    cooc.delta_threshold = 2
    deg = KeyedParquetStore(spark, str(tmp_path / "cap_d"), ITEM_DEG_SPEC)
    ck = str(tmp_path / "cap_ck")

    def start():
        stream = spark.readStream.schema(li.schema) \
            .option("maxFilesPerTrigger", 1).parquet(src)
        return start_streaming_item_cf(stream, baskets, cooc, deg,
                                       ck)

    q = start()
    while not os.path.exists(os.path.join(ck, "commits", "0")):
        _time.sleep(0.1)
    q.stop()                           # the "kill"
    q = start()
    q.processAllAvailable()
    q.stop()

    # the truncation monoid's state bound: every basket <= K items
    widths = baskets.state().select(
        F.max(F.size("parts")).alias("w")).collect()[0].w
    assert widths == K, f"cap should bite and bound: {widths}"
    # counts never negative, zero rows physically filtered
    assert cooc.state().filter(F.col("n") <= 0).count() == 0
    assert deg.state().filter(F.col("d") <= 0).count() == 0

    # whole-slice re-delivery under a FRESH epoch: every item
    # either already in its order's sample or hash-losing to it —
    # S_new == S_old everywhere, zero deltas, zero partials
    dup = li.filter(F.col("l_partkey") % 3 == 0)
    pair_d, deg_d, bk = cooc_deltas(dup, baskets)
    assert pair_d.count() == 0 and deg_d.count() == 0 \
        and bk.count() == 0

    got_cf = sorted(map(tuple,
                        streaming_item_cf_topk(cooc, deg).collect()))
    want_cf = sorted(map(tuple,
                         batch_cf(spark, SF, basket_cap=K).collect()))
    assert got_cf == want_cf and len(want_cf) > 100
    got_fp = sorted(map(tuple,
                        streaming_frequent_pairs(cooc, deg).collect()))
    want_fp = sorted(map(tuple,
                         batch_fp(spark, SF, basket_cap=K).collect()))
    assert got_fp == want_fp and len(want_fp) > 5
    got_l = sorted(map(tuple,
                       streaming_pair_lift(cooc, deg,
                                           baskets).collect()))
    want_l = sorted(map(tuple,
                        batch_lift(spark, SF,
                                   basket_cap=K).collect()))
    assert got_l == want_l and len(want_l) > 5

    # non-vacuous: the cap genuinely changes the answer vs uncapped
    uncapped_fp = sorted(map(tuple, batch_fp(spark, SF).collect()))
    assert got_fp != uncapped_fp

    with pytest.raises(ValueError, match="basket cap"):
        basket_spec(basket_cap=1)


def test_fold_finalize_empty_bucket_slice_still_claims_epoch(
        spark, tmp_path):
    """r13 review: a spec ``finalize`` filter can drop a touched
    bucket's ENTIRE folded slice — the commit must still publish
    (an empty 0-row version) so the epoch is claimed and replays
    skip, instead of re-running the fold for that bucket forever.
    The filter is the cooc store's: rows that fold to 0 drop."""
    import dataclasses

    store = KeyedParquetStore(
        spark, str(tmp_path / "ef_store"), dataclasses.replace(
            _SUM_SPEC,
            finalize=lambda _store, df: df.filter(F.col("v") != 0)))

    # two keys hashing to DIFFERENT buckets
    bmap = {r.k: r.b for r in
            _batch_df(spark, [(k, 0, "") for k in range(8)])
            .select("k", store._bucket_expr().alias("b")).collect()}
    zero_key = 0
    live_key = next(k for k in bmap if bmap[k] != bmap[zero_key])

    # ONE batch: a live row + a key whose values cancel to 0, alone
    # in its bucket — its folded slice is empty
    batch = _batch_df(spark, [(zero_key, 5, "a"), (zero_key, -5, "b"),
                              (live_key, 1, "c")])
    store.merge(batch, "lin.000000000000")

    assert store._applied(bmap[zero_key], "lin.000000000000"), \
        "empty-slice bucket left unclaimed: every replay refolds"
    # the empty version is a legitimate readable slice
    assert [r.k for r in store.state().collect()] == [live_key]
    # and a replay is the claim-skip no-op, not a rewrite
    before = sorted(map(tuple, store.state().collect()))
    store.merge(batch, "lin.000000000000")
    assert sorted(map(tuple, store.state().collect())) == before
