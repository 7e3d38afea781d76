"""HTTP control-plane tests (T1 parity): drive the stdlib server
over a real loopback socket with http.client — the same surface the
reference exposes via gin (internal/scheduler/api.go:13-40).
"""

from __future__ import annotations

import http.client
import json
import os

import pytest

from galaxy_spark.cdc.envelope import EVENT_SOURCE_COLUMNS, envelope_from_events
from galaxy_spark.control.api import ControlPlane
from galaxy_spark.control.metrics import MetricsListener
from galaxy_spark.control.tasks import TaskManager, TaskSpec
from galaxy_spark.tables import load_table

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def events_dir(spark, tmp_path):
    out = str(tmp_path / "events_src")
    load_table(spark, SF, "events").write.mode("overwrite").parquet(out)
    return out


def _source_factory(path):
    def factory(spark, spec):
        static = spark.read.parquet(path)
        return envelope_from_events(
            spark.readStream.schema(static.schema).parquet(path))
    return factory


@pytest.fixture()
def plane(spark, events_dir, tmp_path):
    mgr = TaskManager(spark, str(tmp_path / "state"),
                      _source_factory(events_dir))
    cp = ControlPlane(mgr, metrics=MetricsListener()).start()
    yield cp
    for tid in list(mgr.queries):
        mgr.stop_task(tid)
    cp.stop()


def _call(plane, method, path, body=None):
    host, port = plane.address
    conn = http.client.HTTPConnection(host, port, timeout=30)
    payload = None if body is None else json.dumps(body)
    conn.request(method, path, body=payload,
                 headers={"Content-Type": "application/json"})
    resp = conn.getresponse()
    raw = resp.read().decode()
    conn.close()
    try:
        return resp.status, json.loads(raw)
    except json.JSONDecodeError:
        return resp.status, raw


def test_post_task_then_get_task(plane):
    status, out = _call(plane, "POST", "/v1/post_task", {
        "task_id": "api_t1",
        "database": ["db0"],
        "tables": ["db0.*"],
        "columns": list(EVENT_SOURCE_COLUMNS),
        "sink_kind": "memory",
    })
    assert status == 200 and out["error_code"] == 0

    plane.manager.await_all()
    status, out = _call(plane, "GET", "/v1/task")
    assert status == 200
    assert out["data"]["total"] == 1
    assert out["data"]["task"]["api_t1"]["active"]


def test_post_task_rejects_missing_id(plane):
    status, out = _call(plane, "POST", "/v1/post_task", {"database": ["db0"]})
    assert status == 400 and out["error_code"] == 400
    assert "task is null" in out["message"]  # LegalVerification parity


def test_stop_and_recover_roundtrip(plane, tmp_path):
    _call(plane, "POST", "/v1/post_task", {
        "task_id": "api_lc", "columns": list(EVENT_SOURCE_COLUMNS),
        "sink_kind": "parquet",
        "sink_options": {"path": str(tmp_path / "out_api_lc")},
    })
    plane.manager.await_all()

    status, out = _call(plane, "POST", "/v1/stop_task",
                        {"task_id": "api_lc", "stop_type": "stop"})
    assert status == 200 and "STOP TASK SUCCESS" in out["message"]
    assert not plane.manager.status()["api_lc"]["active"]
    assert plane.manager.tasks["api_lc"].stopped

    status, _ = _call(plane, "POST", "/v1/stop_task",
                      {"task_id": "api_lc", "stop_type": "recovery_v1"})
    assert status == 200
    plane.manager.await_all()
    assert plane.manager.status()["api_lc"]["active"]

    # recovery_v2 bumps the checkpoint epoch (jump-to-latest analog)
    e0 = plane.manager.tasks["api_lc"].checkpoint_epoch
    status, _ = _call(plane, "POST", "/v1/stop_task",
                      {"task_id": "api_lc", "stop_type": "recovery_v2"})
    assert status == 200
    assert plane.manager.tasks["api_lc"].checkpoint_epoch == e0 + 1


def test_stop_task_unknown_id_and_bad_type(plane):
    status, _ = _call(plane, "POST", "/v1/stop_task",
                      {"task_id": "nope", "stop_type": "stop"})
    assert status == 400
    _call(plane, "POST", "/v1/post_task",
          {"task_id": "api_bad", "sink_kind": "memory",
           "columns": list(EVENT_SOURCE_COLUMNS)})
    status, _ = _call(plane, "POST", "/v1/stop_task",
                      {"task_id": "api_bad", "stop_type": "recovery_v9"})
    assert status == 400


def test_update_task_filters(plane, tmp_path):
    # parquet sink: filter update restarts from the checkpoint, which
    # the memory sink doesn't support (matches production Kafka)
    _call(plane, "POST", "/v1/post_task", {
        "task_id": "api_upd", "database": ["db0"],
        "columns": list(EVENT_SOURCE_COLUMNS), "sink_kind": "parquet",
        "sink_options": {"path": str(tmp_path / "out_api_upd")},
    })
    plane.manager.await_all()
    status, out = _call(plane, "POST", "/v1/update_task", {
        "task_id": "api_upd", "database": ["db1"],
        "tables": ["db1.click"], "exclude_table": [],
    })
    assert status == 200 and out["message"] == "Update Success"
    spec = plane.manager.tasks["api_upd"]
    assert spec.databases == ("db1",) and spec.tables == ("db1.click",)


def test_delete_task_removes_state_exactly(plane, tmp_path):
    """Deleting 'api_del' must not touch 'api_del_extra''s
    checkpoints (exact epoch match, not a prefix glob)."""
    for tid in ("api_del", "api_del_extra"):
        _call(plane, "POST", "/v1/post_task", {
            "task_id": tid, "columns": list(EVENT_SOURCE_COLUMNS),
            "sink_kind": "parquet",
            "sink_options": {"path": str(tmp_path / f"out_{tid}")},
        })
    plane.manager.await_all()
    ckpt_root = os.path.join(plane.manager.state_dir, "checkpoints")
    assert sorted(os.listdir(ckpt_root)) == ["api_del-e0", "api_del_extra-e0"]

    status, out = _call(plane, "POST", "/v1/delete_task/api_del")
    assert status == 200 and "DEL TASK SUCCESS" in out["message"]
    assert os.listdir(ckpt_root) == ["api_del_extra-e0"]
    assert "api_del" not in plane.manager.tasks

    status, _ = _call(plane, "POST", "/v1/delete_task/api_del")
    assert status == 400  # already gone -> parameter error, gin parity


def test_restoration_task_relaunches(plane, tmp_path):
    _call(plane, "POST", "/v1/post_task", {
        "task_id": "api_fix", "columns": list(EVENT_SOURCE_COLUMNS),
        "sink_kind": "parquet",
        "sink_options": {"path": str(tmp_path / "out_api_fix")},
    })
    plane.manager.await_all()
    status, out = _call(plane, "POST", "/v1/restoration_task/api_fix")
    assert status == 200 and "RESTORATION TASK SUCCESS" in out["message"]
    plane.manager.await_all()
    assert plane.manager.status()["api_fix"]["active"]


def test_post_task_rejects_duplicate_id_even_when_stopped(plane):
    """Reusing a stopped task's id would inherit its checkpoint
    epoch numbering (and so its saved offsets); the reference
    rejects duplicate ids outright — so do we. delete_task first."""
    _call(plane, "POST", "/v1/post_task",
          {"task_id": "api_dup", "sink_kind": "memory",
           "columns": list(EVENT_SOURCE_COLUMNS)})
    _call(plane, "POST", "/v1/stop_task",
          {"task_id": "api_dup", "stop_type": "stop"})
    status, out = _call(plane, "POST", "/v1/post_task",
                        {"task_id": "api_dup", "sink_kind": "memory",
                         "columns": list(EVENT_SOURCE_COLUMNS)})
    assert status == 400 and "already exists" in out["message"]
    status, _ = _call(plane, "POST", "/v1/delete_task/api_dup")
    assert status == 200
    status, out = _call(plane, "POST", "/v1/post_task",
                        {"task_id": "api_dup", "sink_kind": "memory",
                         "columns": list(EVENT_SOURCE_COLUMNS)})
    assert status == 200 and out["error_code"] == 0


def test_live_task_recovery_and_filter_update_end_to_end(spark, tmp_path):
    """The reference's full lifecycle (update_task.go:19-197) against
    a RUNNING file-stream task with data flowing, driven entirely
    over HTTP: create -> stop -> recovery_v1 resumes WITHOUT
    re-emitting (checkpoint replay-skip) -> update_task filters are
    reflected in sink output after the restart -> delete."""
    from pyspark.sql import functions as F

    ev = load_table(spark, SF, "events")
    src = str(tmp_path / "live_src")
    out = str(tmp_path / "live_out")
    ev.filter(F.col("event_id") % 3 == 0) \
        .write.mode("overwrite").parquet(src)                  # slice 1

    mgr = TaskManager(spark, str(tmp_path / "live_state"),
                      _source_factory(src))
    cp = ControlPlane(mgr, metrics=MetricsListener()).start()
    try:
        status, _ = _call(cp, "POST", "/v1/post_task", {
            "task_id": "api_e2e", "database": ["db0"],
            "columns": list(EVENT_SOURCE_COLUMNS),
            "sink_kind": "parquet", "sink_options": {"path": out},
        })
        assert status == 200
        mgr.await_all()
        sink = spark.read.parquet(out)
        n1 = sink.count()
        assert n1 > 0
        assert sink.filter(~F.col("key").startswith("db0.")).count() == 0

        # stop over HTTP: no longer active
        _call(cp, "POST", "/v1/stop_task",
              {"task_id": "api_e2e", "stop_type": "stop"})
        assert not mgr.status()["api_e2e"]["active"]

        # new data lands while stopped; recovery_v1 must emit ONLY
        # the new slice (offsets resume — nothing re-emitted)
        ev.filter(F.col("event_id") % 3 == 1) \
            .write.mode("append").parquet(src)                 # slice 2
        status, _ = _call(cp, "POST", "/v1/stop_task",
                          {"task_id": "api_e2e", "stop_type": "recovery_v1"})
        assert status == 200
        mgr.await_all()
        sink = spark.read.parquet(out)
        n2 = sink.count()
        assert n2 > n1, "recovery_v1 did not resume consumption"
        log_pos = F.get_json_object("value", "$.event_header.log_pos")
        assert sink.select(log_pos).distinct().count() == n2, \
            "recovery_v1 re-emitted already-committed events"
        assert sink.filter(~F.col("key").startswith("db0.")).count() == 0

        # filter update over HTTP: db0 -> db1; rows emitted
        # after the restart must honor the NEW predicate
        status, _ = _call(cp, "POST", "/v1/update_task",
                          {"task_id": "api_e2e", "database": ["db1"]})
        assert status == 200
        ev.filter(F.col("event_id") % 3 == 2) \
            .write.mode("append").parquet(src)                 # slice 3
        mgr.await_all()
        sink = spark.read.parquet(out)
        n3 = sink.count()
        assert n3 > n2, "no rows after filter update"
        assert sink.filter(F.col("key").startswith("db1.")).count() == n3 - n2
        assert sink.filter(~F.col("key").startswith("db0.")
                           & ~F.col("key").startswith("db1.")).count() == 0

        status, _ = _call(cp, "POST", "/v1/delete_task/api_e2e")
        assert status == 200
        assert "api_e2e" not in mgr.tasks
    finally:
        for tid in list(mgr.queries):
            mgr.stop_task(tid)
        cp.stop()


def test_metrics_endpoint(plane):
    status, text = _call(plane, "GET", "/metrics")
    assert status == 200
    assert "galaxy_stream" in text or "galaxy_up" in text


def test_unknown_route_404(plane):
    status, _ = _call(plane, "GET", "/v2/nope")
    assert status == 404
    status, _ = _call(plane, "POST", "/v1/nope")
    assert status == 404


def test_near_dup_index_task_lifecycle(spark, tmp_path):
    """r10 verdict #8: the growing near-dup index runs as a TASK
    KIND under the reference's T1 lifecycle — create, stop,
    recovery_v1 (resume same checkpoint + same stores), boot
    recovery after a manager restart, delete (drops checkpoints AND
    stores). Across all of that, the accumulated pair emissions and
    cluster assignments equal the batch answers over the replayed
    corpus."""
    import time as _time

    from pyspark.sql import functions as F

    from galaxy_spark.control.tasks import TaskManager, TaskSpec
    from galaxy_spark.registry import all_queries

    docs = load_table(spark, SF, "documents")
    src = str(tmp_path / "nd_docs")

    def doc_factory(spark_, spec):
        return (spark_.readStream.schema(docs.schema)
                .option("maxFilesPerTrigger", 1).parquet(src))

    state = str(tmp_path / "nd_state")
    mgr = TaskManager(spark, state, doc_factory)
    (docs.filter(F.col("doc_id") % 3 == 0)
     .coalesce(1).write.mode("append").parquet(src))
    spec = TaskSpec(task_id="ndx1", task_kind="near_dup_index",
                    index_options={"threshold": 0.5})
    mgr.create_task(spec)
    mgr.await_all()
    mgr.stop_task("ndx1")                       # T1 stop
    assert mgr.status()["ndx1"]["stopped"]

    _time.sleep(1.1)
    (docs.filter(F.col("doc_id") % 3 == 1)
     .coalesce(1).write.mode("append").parquet(src))
    mgr.recover_v1("ndx1")                      # resume saved position
    mgr.await_all()
    mgr.stop_task("ndx1")

    # boot recovery: a FRESH manager must re-launch the non-stopped
    # task from persisted metadata — flip stopped back first (the
    # reference only relaunches non-stopped tasks)
    mgr.tasks["ndx1"].stopped = False
    mgr._persist()
    _time.sleep(1.1)
    (docs.filter(F.col("doc_id") % 3 == 2)
     .coalesce(1).write.mode("append").parquet(src))
    mgr2 = TaskManager(spark, state, doc_factory)
    assert mgr2.recover_all() == ["ndx1"]
    mgr2.await_all()

    got_pairs = sorted((r.id_a, r.id_b, r.jaccard)
                       for r in mgr2.near_dup_pairs("ndx1").collect())
    want_pairs = sorted((r.id_a, r.id_b, r.jaccard)
                        for r in all_queries()["dedup_minhash_lsh"](
                            spark, SF).collect())
    assert got_pairs == want_pairs and len(want_pairs) >= 3
    got_cl = sorted(tuple(r) for r in
                    mgr2.near_dup_assignments("ndx1").collect())
    want_cl = sorted(tuple(r) for r in all_queries()
                     ["dedup_cluster_canonical"](spark, SF).collect())
    assert got_cl == want_cl

    root = mgr2.store_root(mgr2.tasks["ndx1"])
    assert os.path.isdir(os.path.join(root, "pair"))
    mgr2.delete_task("ndx1")
    assert not os.path.isdir(root), "delete must drop the stores"
    assert not os.path.isdir(mgr2.checkpoint_dir(spec))


def test_task_kind_and_live_validation(spark, tmp_path):
    """r11 review: a typo'd task_kind must fail at creation (not
    silently run the CDC pipeline over a document stream), and
    db/table filters are rejected for non-cdc kinds, at creation and
    on update."""
    import pytest as _pytest

    from galaxy_spark.control.tasks import TaskManager, TaskSpec

    mgr = TaskManager(spark, str(tmp_path / "vk_state"),
                      lambda s, spec: None)
    with _pytest.raises(ValueError, match="task_kind"):
        mgr.create_task(TaskSpec(task_id="t1",
                                 task_kind="near-dup-index"))
    with _pytest.raises(ValueError, match="cdc tasks only"):
        mgr.create_task(TaskSpec(task_id="t2",
                                 task_kind="near_dup_index",
                                 databases=("shop",)))
    assert mgr.tasks == {}
    mgr.tasks["t3"] = TaskSpec(task_id="t3",
                               task_kind="near_dup_index")
    with _pytest.raises(ValueError, match="cdc tasks only"):
        mgr.update_filters("t3", databases=["shop"])
    # r13 ADVICE: index_options on a CDC task were validated-for
    # and applied-to stateful kinds only — a cdc task carrying
    # fs='manifest_cas' got no error and no effect. Same
    # fail-at-creation discipline as the typo'd-kind guard.
    with _pytest.raises(ValueError, match="stateful task kinds"):
        mgr.create_task(TaskSpec(
            task_id="t4", task_kind="cdc",
            index_options={"fs": "manifest_cas"}))
    assert mgr.tasks == {"t3": mgr.tasks["t3"]}


def test_failed_start_leaves_no_task(tmp_path):
    """A source that fails to start must not leave the task
    registered: a retry would be refused as "already exists" and the
    next persist would write the dead id to tasks.json as running."""
    import json

    import pytest as _pytest

    from galaxy_spark.control.tasks import TaskManager, TaskSpec

    def boom(spark_, spec):
        raise OSError("source unavailable")

    mgr = TaskManager(None, str(tmp_path / "ft_state"), boom)
    spec = TaskSpec(task_id="t1")
    with _pytest.raises(OSError, match="source unavailable"):
        mgr.create_task(spec)
    assert mgr.tasks == {} and mgr.queries == {}
    mgr._persist()
    with open(tmp_path / "ft_state" / "tasks.json") as f:
        assert "t1" not in json.load(f)
    with _pytest.raises(OSError, match="source unavailable"):
        mgr.create_task(TaskSpec(task_id="t1"))


def test_failed_filter_restart_leaves_task_stopped(spark, events_dir,
                                                 tmp_path):
    """A filter update restarts a running task. If the restart
    fails, the old query is already gone, so the task must be
    stopped and persisted as stopped, as boot recovery leaves a task
    it cannot start; a later persist must not write it as running.
    recovery_v1 then resumes it under the new filter."""
    factory = _source_factory(events_dir)
    calls = []

    def flaky(spark_, spec):
        calls.append(spec.task_id)
        if len(calls) == 2:
            raise OSError("source unavailable")
        return factory(spark_, spec)

    state = tmp_path / "fr_state"
    mgr = TaskManager(spark, str(state), flaky)
    mgr.create_task(TaskSpec(
        task_id="t_fr", databases=("db0",),
        columns=EVENT_SOURCE_COLUMNS, sink_kind="parquet",
        sink_options={"path": str(tmp_path / "fr_out")}))
    mgr.await_all()
    with pytest.raises(OSError, match="source unavailable"):
        mgr.update_filters("t_fr", databases=("db1",))
    spec = mgr.tasks["t_fr"]
    assert "t_fr" not in mgr.queries
    assert spec.stopped and spec.databases == ("db1",)
    assert not mgr.status()["t_fr"]["active"]
    with open(state / "tasks.json") as f:
        saved = json.load(f)["t_fr"]
    assert saved["stopped"] and saved["databases"] == ["db1"]
    assert TaskManager(spark, str(state), flaky).recover_all() == []

    mgr.recover_v1("t_fr")
    mgr.await_all()
    assert mgr.status()["t_fr"]["active"] and not spec.stopped
    mgr.stop_task("t_fr")


def test_update_filters_refuses_running_memory_sink_task(spark,
                                                         events_dir,
                                                         tmp_path):
    """The memory sink cannot restart from its checkpoint, so a filter
    update, which restarts the query, would stop the task for good.
    It is refused before the query stops: the task keeps running
    under its old filter, in memory and in tasks.json."""
    state = tmp_path / "mr_state"
    mgr = TaskManager(spark, str(state), _source_factory(events_dir))
    mgr.create_task(TaskSpec(task_id="t_mr", databases=("db0",),
                             columns=EVENT_SOURCE_COLUMNS))
    mgr.await_all()
    q = mgr.queries["t_mr"]
    with pytest.raises(ValueError, match="memory sink"):
        mgr.update_filters("t_mr", databases=("db1",))
    assert mgr.queries["t_mr"] is q and q.isActive
    assert mgr.tasks["t_mr"].databases == ("db0",)
    assert mgr.status()["t_mr"] == {
        "stopped": False, "active": True,
        "checkpoint": mgr.checkpoint_dir(mgr.tasks["t_mr"])}
    with open(state / "tasks.json") as f:
        assert json.load(f)["t_mr"]["databases"] == ["db0"]
    mgr.stop_task("t_mr")


def test_legacy_live_task_specs_resume_only_on_kafka(spark, tmp_path):
    """Task specs once carried a ``live`` flag that ran a foreachBatch
    pipeline writing each batch with a plain append. Resuming its
    parquet output through the streaming file sink would start a
    _spark_metadata log there and hide every row published before,
    and a memory sink cannot restart from a checkpoint; so boot
    recovery leaves such tasks stopped, durably, with an error
    saying what to do, and the published rows stay readable. A
    legacy kafka task resumes as before."""
    from pyspark.sql import functions as F

    from galaxy_spark.cdc.filters import TaskFilter
    from galaxy_spark.streaming.pipeline import (task_messages,
                                                 transform_envelope)

    ev = load_table(spark, SF, "events")
    src = str(tmp_path / "lg_src")
    out = str(tmp_path / "lg_out")
    ev.filter(F.col("event_id") < 100).write.parquet(src)
    state = tmp_path / "lg_state"
    factory = _source_factory(src)

    # the state the live pipeline left: batch appends to the parquet
    # output under a foreachBatch checkpoint
    def handle(batch_df, epoch_id):
        projected = transform_envelope(batch_df, TaskFilter(("db0",)),
                                       EVENT_SOURCE_COLUMNS)
        task_messages(projected, "t_lp").write.mode("append") \
            .parquet(out)

    q = factory(spark, None).writeStream \
        .option("checkpointLocation",
                str(state / "checkpoints" / "t_lp-e0")) \
        .foreachBatch(handle).start()
    q.processAllAvailable()
    q.stop()
    published = sorted(spark.read.parquet(out).collect())
    assert published

    base = {"databases": ["db0"], "columns": list(EVENT_SOURCE_COLUMNS),
            "live": True, "stopped": False}
    with open(state / "tasks.json", "w") as f:
        json.dump({
            "t_lp": {**base, "task_id": "t_lp", "sink_kind": "parquet",
                     "sink_options": {"path": out}},
            "t_lm": {**base, "task_id": "t_lm", "sink_kind": "memory"},
            "t_lk": {**base, "task_id": "t_lk", "sink_kind": "kafka",
                     "sink_options": {"topic": "t_lk"}},
        }, f)
    started = []

    def no_broker(spark_, spec):
        started.append(spec.task_id)
        raise OSError("no kafka broker")

    mgr = TaskManager(spark, str(state), no_broker)
    assert mgr.recover_all() == []
    assert started == ["t_lk"]             # only kafka is resumed
    errors = mgr.recovery_errors
    assert str(errors["t_lk"]) == "no kafka broker"
    assert "new output path" in str(errors["t_lp"])
    assert "recovery_v2" in str(errors["t_lm"])
    with open(state / "tasks.json") as f:
        saved = json.load(f)
    assert all(saved[t]["stopped"] and "live" not in saved[t]
               for t in ("t_lp", "t_lm", "t_lk"))
    assert not os.path.exists(os.path.join(out, "_spark_metadata"))
    assert sorted(spark.read.parquet(out).collect()) == published

    # the memory task restarts as its error says, on a fresh checkpoint
    mgr.source_factory = factory
    mgr.recover_v2("t_lm")
    mgr.await_all()
    assert mgr.status()["t_lm"]["active"]
    mgr.stop_task("t_lm")


def test_create_refuses_index_option_the_kind_does_not_read(spark,
                                                            tmp_path):
    """A rollup keeps no retention horizon, so retention_days on it
    would silently do nothing: creation refuses it, naming the key.
    The check is creation-only — a spec persisted before it still
    recovers."""
    import pytest as _pytest

    from galaxy_spark.control.tasks import TaskManager, TaskSpec

    ev_src = str(tmp_path / "ik_events")
    load_table(spark, SF, "events").write.parquet(ev_src)
    ev_schema = spark.read.parquet(ev_src).schema

    def factory(spark_, spec):
        return spark_.readStream.schema(ev_schema).parquet(ev_src)

    state = str(tmp_path / "ik_state")
    mgr = TaskManager(spark, state, factory)
    with _pytest.raises(ValueError, match="retention_days"):
        mgr.create_task(TaskSpec(task_id="ru", task_kind="rollup",
                                 index_options={"retention_days": 30}))
    assert mgr.tasks == {}

    mgr.tasks["ru"] = TaskSpec(task_id="ru", task_kind="rollup",
                               index_options={"retention_days": 30})
    mgr._persist()
    mgr2 = TaskManager(spark, state, factory)
    assert mgr2.recover_all() == ["ru"]
    mgr2.await_all()
    assert mgr2.rollup_snapshot("ru").count() > 0
    mgr2.stop_task("ru")


def test_search_index_task_lifecycle(spark, tmp_path):
    """r11 verdict #4: the incrementally-maintained search index
    runs as a TASK KIND under the reference's T1 lifecycle —
    create, stop, recovery_v1 (same checkpoint + same stores), boot
    recovery after a manager restart, recovery_v2 (fresh epoch =
    fresh checkpoint AND fresh stores), delete (drops every epoch's
    checkpoints and stores). Across all of it the task's BM25
    answers equal the batch ``text_bm25_search`` and its index
    equals ``text_inverted_index``."""
    import time as _time

    from pyspark.sql import functions as F

    from galaxy_spark.control.tasks import TaskManager, TaskSpec
    from galaxy_spark.queries.indexing import _BM25_TERMS
    from galaxy_spark.registry import all_queries

    docs = load_table(spark, SF, "documents")
    src = str(tmp_path / "six_docs")

    def doc_factory(spark_, spec):
        return (spark_.readStream.schema(docs.schema)
                .option("maxFilesPerTrigger", 1).parquet(src))

    state = str(tmp_path / "six_state")
    mgr = TaskManager(spark, state, doc_factory)
    (docs.filter(F.col("doc_id") % 3 == 0)
     .coalesce(1).write.mode("append").parquet(src))
    spec = TaskSpec(task_id="six1", task_kind="search_index")
    mgr.create_task(spec)
    mgr.await_all()
    mgr.stop_task("six1")                       # T1 stop
    assert mgr.status()["six1"]["stopped"]

    _time.sleep(1.1)
    (docs.filter(F.col("doc_id") % 3 == 1)
     .coalesce(1).write.mode("append").parquet(src))
    mgr.recover_v1("six1")                      # resume saved position
    mgr.await_all()
    mgr.stop_task("six1")

    # boot recovery from persisted metadata (non-stopped only)
    mgr.tasks["six1"].stopped = False
    mgr._persist()
    _time.sleep(1.1)
    (docs.filter(F.col("doc_id") % 3 == 2)
     .coalesce(1).write.mode("append").parquet(src))
    mgr2 = TaskManager(spark, state, doc_factory)
    assert mgr2.recover_all() == ["six1"]
    mgr2.await_all()
    mgr2.stop_task("six1")

    def bm(df):
        return [(r.doc_id, r.bm25, r.n_terms) for r in df.collect()]

    want_bm = bm(all_queries()["text_bm25_search"](spark, SF))
    assert bm(mgr2.search_bm25("six1", _BM25_TERMS)) == want_bm \
        and len(want_bm) == 20
    got_ix = sorted((r.term, r.df, tuple(r.postings))
                    for r in mgr2.search_inverted_index("six1")
                    .collect())
    want_ix = sorted((r.term, r.df, tuple(r.postings))
                     for r in all_queries()["text_inverted_index"](
                         spark, SF).collect())
    assert got_ix == want_ix and len(want_ix) > 20

    # recovery_v2: fresh checkpoint epoch => fresh store root; the
    # file source replays everything, rebuilding the index from
    # scratch in the NEW stores
    root_e0 = mgr2.store_root(mgr2.tasks["six1"])
    mgr2.recover_v2("six1")
    mgr2.await_all()
    mgr2.stop_task("six1")
    root_e1 = mgr2.store_root(mgr2.tasks["six1"])
    assert root_e1 != root_e0
    assert os.path.isdir(os.path.join(root_e1, "postings"))
    assert bm(mgr2.search_bm25("six1", _BM25_TERMS)) == want_bm

    mgr2.delete_task("six1")
    assert not os.path.isdir(root_e0) and not os.path.isdir(root_e1)
    assert not os.path.isdir(mgr2.checkpoint_dir(mgr2.tasks.get(
        "six1", spec)))


def test_stateful_task_store_write_strategies(spark, tmp_path):
    """r11 ADVICE: per-store delta defaults — the corpus-sized
    stores (lsh/doc/pair, postings/doclen) run the delta tier, the
    small hot ones (cluster/redirect, corpus stats) stay CoW; an
    explicit option overrides uniformly; a non-integral or junk
    delta_threshold is rejected AT CREATION with an error naming
    the option."""
    import pytest as _pytest

    from galaxy_spark.control.tasks import TaskManager, TaskSpec

    mgr = TaskManager(spark, str(tmp_path / "ws_state"),
                      lambda s, spec: None)

    nd = TaskSpec(task_id="nd", task_kind="near_dup_index")
    assert [s.delta_threshold for s in mgr.stores(nd)] == \
        [8, 8, 8, None, None]
    si = TaskSpec(task_id="si", task_kind="search_index")
    assert [s.delta_threshold for s in mgr.stores(si)] == \
        [8, 8, None]
    # explicit null -> CoW everywhere; explicit int -> uniform
    cow = TaskSpec(task_id="c", task_kind="search_index",
                   index_options={"delta_threshold": None})
    assert [s.delta_threshold for s in mgr.stores(cow)] == \
        [None, None, None]
    four = TaskSpec(task_id="f", task_kind="near_dup_index",
                    index_options={"delta_threshold": 4})
    assert [s.delta_threshold for s in mgr.stores(four)] == \
        [4, 4, 4, 4, 4]
    # float with integral value is accepted (JSON round-trip), but
    # 8.9 must NOT silently truncate to 8, and junk must name the
    # option
    ok = TaskSpec(task_id="k", task_kind="search_index",
                  index_options={"delta_threshold": 4.0})
    assert mgr.stores(ok)[0].delta_threshold == 4
    for bad in (8.9, "8", True, 0, -2, "many"):
        with _pytest.raises(ValueError,
                            match=r"delta_threshold"):
            mgr.create_task(TaskSpec(
                task_id="bad", task_kind="search_index",
                index_options={"delta_threshold": bad}))
    assert mgr.tasks == {}

    # fs option: per-task commit strategy for ALL its stores (r12
    # verdict #6); junk rejected at creation naming the option
    from galaxy_spark.streaming.store_fs import (ManifestStoreFs,
                                                 PosixStoreFs)

    man = TaskSpec(task_id="m", task_kind="near_dup_index",
                   index_options={"fs": "manifest"})
    assert all(type(s.fs) is ManifestStoreFs
               for s in mgr.stores(man))
    cas = TaskSpec(task_id="cs", task_kind="rollup",
                   index_options={"fs": "manifest_cas"})
    assert type(mgr.stores(cas)[0].fs) is ManifestStoreFs
    assert all(type(s.fs) is PosixStoreFs
               for s in mgr.stores(si))    # default
    with _pytest.raises(ValueError, match=r"\['fs'\]"):
        mgr.create_task(TaskSpec(
            task_id="bad", task_kind="rollup",
            index_options={"fs": "s3"}))
    assert mgr.tasks == {}


def test_manifest_cas_task_spec_recovers_on_fenced_manifest(spark,
                                                            tmp_path):
    """A task persisted with ``fs='manifest_cas'`` (the name the
    fenced manifest protocol had when it was a separate option)
    still recovers: a new TaskManager over the same state_dir
    reopens its stores as ``ManifestStoreFs`` — the on-disk format
    never differed — reads back the state the first manager wrote,
    and resumes the task on top of it."""
    from pyspark.sql import functions as F

    from galaxy_spark.control.tasks import TaskManager, TaskSpec
    from galaxy_spark.registry import all_queries
    from galaxy_spark.streaming.store_fs import ManifestStoreFs

    ev = load_table(spark, SF, "events")
    src = str(tmp_path / "mc_events")

    def factory(spark_, spec):
        return (spark_.readStream.schema(ev.schema)
                .option("maxFilesPerTrigger", 1).parquet(src))

    state = str(tmp_path / "mc_state")
    mgr = TaskManager(spark, state, factory)
    (ev.filter(F.col("event_id") % 2 == 0)
     .coalesce(1).write.mode("append").parquet(src))
    mgr.create_task(TaskSpec(task_id="mc", task_kind="rollup",
                             index_options={"fs": "manifest_cas"}))
    mgr.await_all()
    mgr.stop_task("mc")
    before = sorted(map(tuple, mgr.rollup_snapshot("mc").collect()))
    assert before

    mgr2 = TaskManager(spark, state, factory)
    assert mgr2.recover_all() == []          # stopped: loaded only
    assert mgr2.tasks["mc"].index_options == {"fs": "manifest_cas"}
    stores = mgr2.stores("mc")
    assert stores and all(type(s.fs) is ManifestStoreFs
                          for s in stores)
    assert sorted(map(tuple, mgr2.rollup_snapshot("mc").collect())) \
        == before
    root = mgr2.store_root(mgr2.tasks["mc"])
    assert any(f == "_MANIFEST.json"
               for _, _, fl in os.walk(root) for f in fl)

    (ev.filter(F.col("event_id") % 2 == 1)
     .coalesce(1).write.mode("append").parquet(src))
    mgr2.recover_v1("mc")
    mgr2.await_all()
    mgr2.stop_task("mc")
    got = sorted((r.event_type, r.hour, r.n_events, r.trailing_24h)
                 for r in mgr2.rollup_gapfill("mc").collect())
    want = sorted((r.event_type, r.hour, r.n_events, r.trailing_24h)
                  for r in all_queries()["events_timeseries_gapfill"](
                      spark, SF).collect())
    assert got == want and len(want) > 100


@pytest.mark.parametrize("fs", ["posix", "manifest"])
def test_multi_kind_tasks_run_concurrently_isolated(spark, tmp_path,
                                                    fs):
    """One TaskManager running FOUR task kinds AT ONCE — cdc
    replication, the near-dup index, the search index, the
    time-series rollup (winnow_index and item_cf get their own
    lifecycle tests below; four concurrent kinds already exercise
    the isolation seams) — with
    per-task checkpoint dirs and store roots that never collide:
    stopping/deleting one task leaves the others' queries running
    and their state untouched, and each task's answers equal its
    single-task twin's (store isolation, not just liveness).
    Parametrized over the commit strategy (r12 verdict #6): the
    object-store manifest path must hold under the full T1
    lifecycle, not only the store-level battery — verified by the
    rename-less layout markers in every task's store root."""
    from pyspark.sql import functions as F

    from galaxy_spark.control.tasks import TaskManager, TaskSpec
    from galaxy_spark.queries.indexing import _BM25_TERMS
    from galaxy_spark.registry import all_queries

    docs = load_table(spark, SF, "documents")
    ev_src = str(tmp_path / "mk_events")
    load_table(spark, SF, "events").write.parquet(ev_src)
    doc_src = str(tmp_path / "mk_docs")
    docs.coalesce(1).write.parquet(doc_src)

    ev_schema = load_table(spark, SF, "events").schema

    def factory(spark_, spec):
        if spec.task_kind == "cdc":
            return envelope_from_events(
                spark_.readStream.schema(ev_schema)
                .parquet(ev_src))
        if spec.task_kind == "rollup":
            return (spark_.readStream.schema(ev_schema)
                    .parquet(ev_src))
        return (spark_.readStream.schema(docs.schema)
                .parquet(doc_src))

    mgr = TaskManager(spark, str(tmp_path / "mk_state"), factory)
    opts = {"fs": fs}
    mgr.create_task(TaskSpec(task_id="repl",
                             columns=list(EVENT_SOURCE_COLUMNS),
                             sink_kind="memory"))
    mgr.create_task(TaskSpec(task_id="ndx",
                             task_kind="near_dup_index",
                             index_options=dict(opts)))
    mgr.create_task(TaskSpec(task_id="six",
                             task_kind="search_index",
                             index_options=dict(opts)))
    mgr.create_task(TaskSpec(task_id="ru", task_kind="rollup",
                             index_options=dict(opts)))
    assert sorted(mgr.queries) == ["ndx", "repl", "ru", "six"]
    mgr.await_all()

    # isolation of the on-disk layout: four disjoint checkpoint
    # dirs, three disjoint store roots (cdc keeps no store root)
    cks = {tid: mgr.checkpoint_dir(mgr.tasks[tid])
           for tid in mgr.tasks}
    assert len(set(cks.values())) == 4
    roots = {tid: mgr.store_root(mgr.tasks[tid])
             for tid in ("ndx", "six", "ru")}
    assert len(set(roots.values())) == 3
    assert os.path.isdir(os.path.join(roots["ru"], "rollup"))
    assert os.path.isdir(os.path.join(roots["ndx"], "doc"))
    assert os.path.isdir(os.path.join(roots["six"], "postings"))

    # the chosen commit protocol is what actually ran: manifest
    # mode is rename-less (no _COMMITTED markers anywhere, a
    # _MANIFEST.json in every written bucket), posix the converse
    walked = [(r, fl) for root in roots.values()
              for r, _, fl in os.walk(root)]
    markers = [f for _, fl in walked for f in fl
               if f == "_COMMITTED"]
    manifests = [f for _, fl in walked for f in fl
                 if f == "_MANIFEST.json"]
    if fs == "manifest":
        assert markers == [] and manifests, \
            "manifest tasks wrote posix markers"
    else:
        assert manifests == [] and markers, \
            "posix tasks wrote manifests"

    # each task's answers == its batch twin while the OTHERS run
    want_pairs = sorted((r.id_a, r.id_b, r.jaccard)
                        for r in all_queries()["dedup_minhash_lsh"](
                            spark, SF).collect())
    got_pairs = sorted((r.id_a, r.id_b, r.jaccard)
                       for r in mgr.near_dup_pairs("ndx").collect())
    assert got_pairs == want_pairs and len(want_pairs) >= 3
    want_bm = [(r.doc_id, r.bm25, r.n_terms) for r in
               all_queries()["text_bm25_search"](spark, SF).collect()]
    got_bm = [(r.doc_id, r.bm25, r.n_terms) for r in
              mgr.search_bm25("six", _BM25_TERMS).collect()]
    assert got_bm == want_bm and len(want_bm) == 20
    n_changes = spark.sql("SELECT count(*) c FROM repl") \
        .collect()[0].c
    assert n_changes > 0

    # the rollup hub answers == its batch twin while siblings run
    got_an = sorted(
        (r.event_type, r.day, r.n_events, r.is_anomaly)
        for r in mgr.rollup_anomaly("ru").collect())
    want_an = sorted(
        (r.event_type, r.day, r.n_events, r.is_anomaly)
        for r in all_queries()["events_anomaly_daily_counts"](
            spark, SF).collect())
    assert got_an == want_an

    # stopping one kind leaves the others live; deleting it drops
    # ONLY its state
    mgr.stop_task("ndx")
    assert mgr.queries["repl"].isActive and mgr.queries["six"].isActive
    assert mgr.queries["ru"].isActive
    mgr.delete_task("ndx")
    assert not os.path.isdir(roots["ndx"])
    assert os.path.isdir(roots["six"])
    assert os.path.isdir(cks["six"]) and os.path.isdir(cks["repl"])
    # the survivors still answer after the sibling's deletion
    assert [(r.doc_id, r.bm25, r.n_terms) for r in
            mgr.search_bm25("six", _BM25_TERMS).collect()] == want_bm
    mgr.stop_task("repl")
    mgr.stop_task("six")
    mgr.stop_task("ru")


def test_boot_recovery_isolates_bad_task_spec(spark, tmp_path):
    """r12 review: one unstartable persisted spec (e.g. a legacy
    delta_threshold value the stricter validation now rejects) must
    not abort boot recovery for every task behind it — the good
    tasks start, the bad one lands in recovery_errors flagged
    stopped, recoverable after a config fix."""
    from galaxy_spark.control.tasks import TaskManager, TaskSpec

    ev_src = str(tmp_path / "br_events")
    load_table(spark, SF, "events").write.parquet(ev_src)

    def factory(spark_, spec):
        static = spark_.read.parquet(ev_src)
        return envelope_from_events(
            spark_.readStream.schema(static.schema).parquet(ev_src))

    state = str(tmp_path / "br_state")
    mgr = TaskManager(spark, state, factory)
    # persist directly: the bad spec predates the validation (a
    # create_task today would refuse it)
    mgr.tasks["legacy_bad"] = TaskSpec(
        task_id="legacy_bad", task_kind="search_index",
        index_options={"delta_threshold": "many"})
    mgr.tasks["good"] = TaskSpec(
        task_id="good", columns=list(EVENT_SOURCE_COLUMNS),
        sink_kind="memory")
    mgr._persist()

    mgr2 = TaskManager(spark, state, factory)
    started = mgr2.recover_all()
    assert started == ["good"]
    assert set(mgr2.recovery_errors) == {"legacy_bad"}
    assert "delta_threshold" in str(mgr2.recovery_errors["legacy_bad"])
    assert mgr2.tasks["legacy_bad"].stopped
    assert mgr2.queries["good"].isActive
    mgr2.stop_task("good")

    # r12 ADVICE: the stopped flag must be DURABLE at recover_all
    # time (not only in memory, waiting for an unrelated later
    # _persist to commit it as a side effect) — a third boot must
    # NOT retry the bad spec
    mgr3 = TaskManager(spark, state, factory)
    assert mgr3.recovery_errors == {}   # exists before recover_all
    started3 = mgr3.recover_all()
    assert started3 == []               # good was stopped cleanly
    assert mgr3.tasks["legacy_bad"].stopped
    assert mgr3.recovery_errors == {}   # no retry, no new error


def test_rollup_task_lifecycle(spark, tmp_path):
    """r12: the continuous multi-grain rollup runs as the FOURTH
    task kind under T1 — create/stop/recovery_v1/boot recovery/
    delete — and its one write path serves three readers across the
    lifecycle: rollup snapshot, gap-filled hourly series
    (== events_timeseries_gapfill) and daily anomaly flags
    (== events_anomaly_daily_counts)."""
    import time as _time

    from pyspark.sql import functions as F

    from galaxy_spark.control.tasks import TaskManager, TaskSpec
    from galaxy_spark.registry import all_queries

    ev = load_table(spark, SF, "events")
    src = str(tmp_path / "ru_events")

    def ev_factory(spark_, spec):
        return (spark_.readStream.schema(ev.schema)
                .option("maxFilesPerTrigger", 1).parquet(src))

    state = str(tmp_path / "ru_state")
    mgr = TaskManager(spark, state, ev_factory)
    (ev.filter(F.col("event_id") % 2 == 0)
     .coalesce(1).write.mode("append").parquet(src))
    mgr.create_task(TaskSpec(task_id="ru1", task_kind="rollup"))
    mgr.await_all()
    mgr.stop_task("ru1")

    _time.sleep(1.1)
    (ev.filter(F.col("event_id") % 2 == 1)
     .coalesce(1).write.mode("append").parquet(src))
    mgr.recover_v1("ru1")
    mgr.await_all()
    mgr.stop_task("ru1")

    # boot recovery with a fresh manager
    mgr.tasks["ru1"].stopped = False
    mgr._persist()
    mgr2 = TaskManager(spark, state, ev_factory)
    assert mgr2.recover_all() == ["ru1"]
    mgr2.await_all()
    mgr2.stop_task("ru1")

    got_gf = sorted(
        (r.event_type, r.hour, r.n_events, r.trailing_24h)
        for r in mgr2.rollup_gapfill("ru1").collect())
    want_gf = sorted(
        (r.event_type, r.hour, r.n_events, r.trailing_24h)
        for r in all_queries()["events_timeseries_gapfill"](
            spark, SF).collect())
    assert got_gf == want_gf and len(want_gf) > 100
    got_an = sorted(
        (r.event_type, r.day, r.n_events, r.is_anomaly)
        for r in mgr2.rollup_anomaly("ru1").collect())
    want_an = sorted(
        (r.event_type, r.day, r.n_events, r.is_anomaly)
        for r in all_queries()["events_anomaly_daily_counts"](
            spark, SF).collect())
    assert got_an == want_an and len(want_an) >= 100
    assert mgr2.rollup_snapshot("ru1").count() > 0

    root = mgr2.store_root(mgr2.tasks["ru1"])
    assert os.path.isdir(os.path.join(root, "rollup"))
    mgr2.delete_task("ru1")
    assert not os.path.isdir(root)


def test_winnow_index_task_lifecycle(spark, tmp_path):
    """r13: the winnowing near-dup index as a task kind under T1 —
    create/stop/recovery_v1/boot recovery/delete — with the exact
    pair reader == batch ``dedup_winnowing_pairs`` across the
    lifecycle."""
    import time as _time

    from pyspark.sql import functions as F

    from galaxy_spark.control.tasks import TaskManager, TaskSpec
    from galaxy_spark.registry import all_queries

    docs = load_table(spark, SF, "documents")
    src = str(tmp_path / "wn_docs")

    def factory(spark_, spec):
        return (spark_.readStream.schema(docs.schema)
                .option("maxFilesPerTrigger", 1).parquet(src))

    state = str(tmp_path / "wn_state")
    mgr = TaskManager(spark, state, factory)
    (docs.filter(F.col("doc_id") % 2 == 0)
     .coalesce(1).write.mode("append").parquet(src))
    mgr.create_task(TaskSpec(task_id="wn1",
                             task_kind="winnow_index"))
    mgr.await_all()
    mgr.stop_task("wn1")
    mid = mgr.winnow_pairs("wn1").count()

    _time.sleep(1.1)
    (docs.filter(F.col("doc_id") % 2 == 1)
     .coalesce(1).write.mode("append").parquet(src))
    mgr.recover_v1("wn1")
    mgr.await_all()
    mgr.stop_task("wn1")

    # boot recovery with a fresh manager
    mgr.tasks["wn1"].stopped = False
    mgr._persist()
    mgr2 = TaskManager(spark, state, factory)
    assert mgr2.recover_all() == ["wn1"]
    mgr2.await_all()
    mgr2.stop_task("wn1")

    got = sorted((r.doc_a, r.doc_b, r.n_shared)
                 for r in mgr2.winnow_pairs("wn1").collect())
    want = sorted((r.doc_a, r.doc_b, r.n_shared)
                  for r in all_queries()["dedup_winnowing_pairs"](
                      spark, SF).collect())
    assert got == want and len(want) > max(mid, 3)

    root = mgr2.store_root(mgr2.tasks["wn1"])
    assert os.path.isdir(os.path.join(root, "winnow"))
    mgr2.delete_task("wn1")
    assert not os.path.isdir(root)


def test_item_cf_task_lifecycle(spark, tmp_path):
    """r13: the co-occurrence hub as a task kind under T1, its two
    readers == their batch queries across stop/resume/boot
    recovery — with lineitem slices split BY PART so orders span
    micro-batches and restarts (the basket store's exactness
    anchor is what the lifecycle must preserve)."""
    import time as _time

    from pyspark.sql import functions as F

    from galaxy_spark.control.tasks import TaskManager, TaskSpec
    from galaxy_spark.registry import all_queries

    li = load_table(spark, SF, "lineitem") \
        .select("l_orderkey", "l_partkey",
                F.to_date("l_shipdate").alias("l_shipdate"))
    src = str(tmp_path / "cf_li")

    def factory(spark_, spec):
        return (spark_.readStream.schema(li.schema)
                .option("maxFilesPerTrigger", 1).parquet(src))

    state = str(tmp_path / "cf_state")
    mgr = TaskManager(spark, state, factory)
    (li.filter(F.col("l_partkey") % 2 == 0)
     .coalesce(1).write.mode("append").parquet(src))
    mgr.create_task(TaskSpec(task_id="cf1", task_kind="item_cf"))
    mgr.await_all()
    mgr.stop_task("cf1")

    _time.sleep(1.1)
    (li.filter(F.col("l_partkey") % 2 == 1)
     .coalesce(1).write.mode("append").parquet(src))
    mgr.recover_v1("cf1")
    mgr.await_all()
    mgr.stop_task("cf1")

    mgr.tasks["cf1"].stopped = False
    mgr._persist()
    mgr2 = TaskManager(spark, state, factory)
    assert mgr2.recover_all() == ["cf1"]
    mgr2.await_all()
    mgr2.stop_task("cf1")

    got = sorted(map(tuple, mgr2.item_cf_topk("cf1").collect()))
    want = sorted(map(tuple, all_queries()["similarity_item_cf_topk"](
        spark, SF).collect()))
    assert got == want and len(want) > 100
    got_fp = sorted(map(tuple, mgr2.frequent_pairs("cf1").collect()))
    want_fp = sorted(map(tuple, all_queries()["mining_frequent_pairs"](
        spark, SF).collect()))
    assert got_fp == want_fp and len(want_fp) > 10
    # the hub's other five readers; each takes its stores from the
    # (basket, cooc, deg) tuple by position
    from galaxy_spark.queries.graphs import graph_common_neighbors
    readers = {"mining_pair_lift": mgr2.pair_lift,
               "graph_clustering_coefficient":
                   mgr2.clustering_coefficient,
               "graph_degree_assortativity": mgr2.degree_assortativity,
               "graph_common_neighbors": mgr2.common_neighbors,
               "graph_resource_allocation": mgr2.resource_allocation}
    got_r = {}
    for batch_name, reader in readers.items():
        got_r[batch_name] = sorted(map(tuple, reader("cf1").collect()))
        want_r = sorted(map(tuple, all_queries()[batch_name](
            spark, SF).collect()))
        assert got_r[batch_name] == want_r and want_r, batch_name
    # the per-read hot-node cap == batch under the same cap, and
    # the cap bites
    got_cap = sorted(map(tuple, mgr2.common_neighbors(
        "cf1", max_degree=3).collect()))
    want_cap = sorted(map(tuple, graph_common_neighbors(
        spark, SF, max_degree=3).collect()))
    assert got_cap == want_cap \
        and got_cap != got_r["graph_common_neighbors"]

    root = mgr2.store_root(mgr2.tasks["cf1"])
    assert os.path.isdir(os.path.join(root, "cooc"))
    mgr2.delete_task("cf1")
    assert not os.path.isdir(root)

    # r14: the basket horizon is a task option — validated at
    # creation, applied to the basket store only
    import pytest as _pytest
    with _pytest.raises(ValueError, match="retention_days"):
        mgr2.create_task(TaskSpec(
            task_id="cf_bad", task_kind="item_cf",
            index_options={"retention_days": 0}))
    spec = TaskSpec(task_id="cf_ret", task_kind="item_cf",
                    index_options={"retention_days": 90})
    mgr2.create_task(spec)
    mgr2.await_all()
    mgr2.stop_task("cf_ret")
    b, c, d = mgr2.stores("cf_ret")
    assert b.retention_days == 90
    assert "t date" in (b.state_schema or "")
    mgr2.delete_task("cf_ret")

    # r14: the hash-sample width is a task option too — validated
    # at creation (>= 2: a 1-item sample can never emit a pair),
    # bound to the basket store only
    with _pytest.raises(ValueError, match="basket_cap"):
        mgr2.create_task(TaskSpec(
            task_id="cf_bad2", task_kind="item_cf",
            index_options={"basket_cap": 1}))
    spec = TaskSpec(task_id="cf_cap", task_kind="item_cf",
                    index_options={"basket_cap": 50})
    mgr2.create_task(spec)
    mgr2.await_all()
    mgr2.stop_task("cf_cap")
    b, c, d = mgr2.stores("cf_cap")
    assert b.basket_cap == 50
    mgr2.delete_task("cf_cap")


def test_event_index_task_lifecycle(spark, tmp_path):
    """r14: the events-analytics hub as a task kind under T1 —
    one write path (purchase facts + event-time index), FOUR
    readers, each equal to its batch query across stop/resume and
    boot recovery; retention_days validated at creation and bound
    to the INDEX store only."""
    import time as _time

    from pyspark.sql import functions as F

    from galaxy_spark.control.tasks import TaskManager, TaskSpec
    from galaxy_spark.registry import all_queries

    ev = load_table(spark, SF, "events")
    src = str(tmp_path / "ei_src")

    def factory(spark_, spec):
        return (spark_.readStream.schema(ev.schema)
                .option("maxFilesPerTrigger", 1).parquet(src))

    state = str(tmp_path / "ei_state")
    mgr = TaskManager(spark, state, factory)
    (ev.filter(F.col("event_id") % 2 == 0)
     .coalesce(1).write.mode("append").parquet(src))
    mgr.create_task(TaskSpec(task_id="ei1",
                             task_kind="event_index"))
    mgr.await_all()
    mgr.stop_task("ei1")

    _time.sleep(1.1)
    (ev.filter(F.col("event_id") % 2 == 1)
     .coalesce(1).write.mode("append").parquet(src))
    mgr.recover_v1("ei1")
    mgr.await_all()
    mgr.stop_task("ei1")

    mgr.tasks["ei1"].stopped = False
    mgr._persist()
    mgr2 = TaskManager(spark, state, factory)
    assert mgr2.recover_all() == ["ei1"]
    mgr2.await_all()
    mgr2.stop_task("ei1")

    checks = [
        (mgr2.funnel("ei1"), "events_funnel_conversion", 10,
         lambda r: (r.user_id, r.t_view, r.t_click, r.t_purchase)),
        (mgr2.funnel_windowed("ei1"), "events_funnel_windowed", 10,
         lambda r: (r.user_id, r.t_view, r.t_click, r.t_purchase)),
        (mgr2.retention_cohorts("ei1"), "events_retention_cohorts",
         3, lambda r: (r.cohort_week, r.week_offset, r.n_users)),
        (mgr2.attribution_last_touch("ei1"),
         "events_attribution_last_touch", 10,
         lambda r: (r.day, r.n_purchases, r.n_attributed,
                    r.attributed_revenue, r.organic_revenue)),
        (mgr2.time_to_convert("ei1"), "events_time_to_convert", 3,
         lambda r: (r.bucket, r.n_conversions, r.n_users)),
    ]
    for df, batch_name, n_min, key in checks:
        got = sorted(map(key, df.collect()))
        want = sorted(map(key, all_queries()[batch_name](
            spark, SF).collect()))
        assert got == want and len(want) >= n_min, batch_name

    root = mgr2.store_root(mgr2.tasks["ei1"])
    assert os.path.isdir(os.path.join(root, "purchase"))
    mgr2.delete_task("ei1")
    assert not os.path.isdir(root)

    # retention is creation-validated and binds to the index only
    import pytest as _pytest
    with _pytest.raises(ValueError, match="retention_days"):
        mgr2.create_task(TaskSpec(
            task_id="ei_bad", task_kind="event_index",
            index_options={"retention_days": "14"}))
    spec = TaskSpec(task_id="ei_ret", task_kind="event_index",
                    index_options={"retention_days": 30})
    mgr2.create_task(spec)
    mgr2.await_all()
    mgr2.stop_task("ei_ret")
    pur, idx = mgr2.stores("ei_ret")
    assert idx.retention_days == 30 and "wm" in idx.state_schema
    assert "retention" not in repr(pur.state_schema)
    mgr2.delete_task("ei_ret")


def test_user_seq_task_lifecycle(spark, tmp_path):
    """r14: the per-user typed-timeline store as the EIGHTH task
    kind under T1 — path-trigrams reader equal to its batch query
    across stop/resume and boot recovery; retention_days
    creation-validated and shaping the store schema."""
    import time as _time

    import pytest as _pytest
    from pyspark.sql import functions as F

    from galaxy_spark.control.tasks import TaskManager, TaskSpec
    from galaxy_spark.registry import all_queries

    ev = load_table(spark, SF, "events")
    src = str(tmp_path / "us_src")

    def factory(spark_, spec):
        return (spark_.readStream.schema(ev.schema)
                .option("maxFilesPerTrigger", 1).parquet(src))

    state = str(tmp_path / "us_state")
    mgr = TaskManager(spark, state, factory)
    (ev.filter(F.col("event_id") % 2 == 0)
     .coalesce(1).write.mode("append").parquet(src))
    mgr.create_task(TaskSpec(task_id="us1", task_kind="user_seq"))
    mgr.await_all()
    mgr.stop_task("us1")

    _time.sleep(1.1)
    (ev.filter(F.col("event_id") % 2 == 1)
     .coalesce(1).write.mode("append").parquet(src))
    mgr.recover_v1("us1")
    mgr.await_all()
    mgr.stop_task("us1")

    mgr.tasks["us1"].stopped = False
    mgr._persist()
    mgr2 = TaskManager(spark, state, factory)
    assert mgr2.recover_all() == ["us1"]
    mgr2.await_all()
    mgr2.stop_task("us1")

    got = sorted(map(tuple, mgr2.path_trigrams("us1").collect()))
    want = sorted(map(tuple, all_queries()["events_path_trigrams"](
        spark, SF).collect()))
    assert got == want and len(want) > 50
    got_m = sorted(map(tuple,
                       mgr2.markov_transitions("us1").collect()))
    want_m = sorted(map(tuple,
                        all_queries()["events_markov_transitions"](
                            spark, SF).collect()))
    assert got_m == want_m and len(want_m) > 10
    got_b = sorted(map(tuple,
                       mgr2.interarrival_burstiness("us1").collect()))
    want_b = sorted(map(tuple,
                        all_queries()["events_interarrival_burstiness"](
                            spark, SF).collect()))
    assert got_b == want_b and len(want_b) >= 3

    root = mgr2.store_root(mgr2.tasks["us1"])
    assert os.path.isdir(os.path.join(root, "userseq"))
    mgr2.delete_task("us1")
    assert not os.path.isdir(root)

    # retention is creation-validated and shapes the schema
    with _pytest.raises(ValueError, match="retention_days"):
        mgr2.create_task(TaskSpec(
            task_id="us_bad", task_kind="user_seq",
            index_options={"retention_days": 0}))
    spec = TaskSpec(task_id="us_ret", task_kind="user_seq",
                    index_options={"retention_days": 30})
    mgr2.create_task(spec)
    mgr2.await_all()
    mgr2.stop_task("us_ret")
    store = mgr2.stores("us_ret")[0]
    assert store.retention_days == 30 \
        and "wm" in store.state_schema
    mgr2.delete_task("us_ret")
