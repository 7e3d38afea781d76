"""Per-table schema attach (P1 fused into P2-P4): the reference
resolves every event's OWN table schema before projecting
(``tableSchema(db, table)``, ``internal/sync_server/baseinfo.go:
39-58``); ``project_changes_by_schema`` re-expresses that as a
broadcast join with the registry frame. Pins: per-table zips,
unknown-table + arity quarantine, broadcast (no stream-side
shuffle), and a mixed-table binlog byte stream where BOTH tables
project correctly in one query."""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from galaxy_spark.cdc.projections import project_changes_by_schema
from galaxy_spark.cdc.schema_registry import (ColumnDef, SchemaRegistry,
                                              registry_frame)

FIXDIR = os.path.join(os.path.dirname(__file__), "fixtures")


def _registry() -> SchemaRegistry:
    reg = SchemaRegistry()
    reg.put("shop", "orders",
            [ColumnDef("id", "bigint", False),
             ColumnDef("qty", "int", False),
             ColumnDef("amount", "double", False),
             ColumnDef("note", "varchar(40)", True)])
    reg.put("shop", "coupons",
            [ColumnDef("code", "varchar(16)", False),
             ColumnDef("pct", "int", False)])
    return reg


def test_per_table_projection_and_quarantine(spark):
    rows = [
        ("shop", "orders", "insert", [["1", "2", "9.5", "a"]]),
        ("shop", "coupons", "insert", [["SAVE10", "10"]]),
        ("shop", "coupons", "update",
         [["SAVE10", "10"], ["SAVE10", "15"]]),
        ("shop", "orders", "insert", [["1", "2"]]),        # arity
        ("shop", "ghosts", "insert", [["9"]]),             # no schema
    ]
    env = spark.createDataFrame(
        rows, "database string, `table` string, action string, "
              "org_row array<array<string>>")
    out = project_changes_by_schema(
        env, registry_frame(spark, _registry())).collect()
    by = {}
    for r in out:
        by.setdefault((r["table"], r.action), []).append(r)

    (o,) = [r for r in by[("orders", "insert")] if not r.quarantined]
    assert dict(o.after) == {"id": "1", "qty": "2", "amount": "9.5",
                             "note": "a"}
    (c,) = by[("coupons", "insert")]
    assert dict(c.after) == {"code": "SAVE10", "pct": "10"}
    (u,) = by[("coupons", "update")]
    assert dict(u.before) == {"code": "SAVE10", "pct": "10"}
    assert dict(u.after) == {"code": "SAVE10", "pct": "15"}
    (bad_arity,) = [r for r in by[("orders", "insert")] if r.quarantined]
    assert bad_arity.before is None and bad_arity.after is None
    (ghost,) = by[("ghosts", "insert")]
    assert ghost.quarantined


def test_schema_attach_join_is_broadcast(spark):
    """The registry frame must ride a broadcast hash join — the
    100 TB stream side never shuffles for schema attach."""
    env = spark.createDataFrame(
        [("shop", "orders", "insert", [["1", "2", "9.5", "a"]])],
        "database string, `table` string, action string, "
        "org_row array<array<string>>")
    out = project_changes_by_schema(
        env, registry_frame(spark, _registry()))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_mixed_table_binlog_stream_projects_per_table(spark, tmp_path):
    """Two binlog segments carrying DIFFERENT tables (shop.orders,
    4 columns; shop.payments, 13 columns) through ONE streaming
    query with per-table schemas: every row projects with its own
    column list, nothing quarantines, and the decimal exactness
    survives into the payments after-image."""
    from galaxy_spark.sources.binlog_source import BinlogDataSource

    d = str(tmp_path / "binlogs")
    os.makedirs(d)
    shutil.copy(os.path.join(FIXDIR, "binlog_v4_sample.bin"),
                os.path.join(d, "binlog.000001.bin"))
    shutil.copy(os.path.join(FIXDIR, "binlog_v4_rich.bin"),
                os.path.join(d, "binlog.000002.bin"))
    try:
        spark.dataSource.register(BinlogDataSource)
    except Exception:
        pass

    reg = _registry()
    reg.put("shop", "payments", [
        ColumnDef(n, "varchar(255)", True)
        for n in ("id", "amount", "big_int_dec", "paid_on", "created",
                  "ts", "dur", "note", "yr", "cnt", "label", "qty",
                  "ratio", "props")])
    raw = (spark.readStream.format("galaxy_binlog")
           .option("path", d).load())
    proj = project_changes_by_schema(raw, registry_frame(spark, reg))
    q = (proj.select("table", "action", "quarantined", "before",
                     "after")
         .writeStream.format("memory").queryName("per_table")
         .option("checkpointLocation", str(tmp_path / "ck")).start())
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("SELECT * FROM per_table").collect()
    assert rows and not any(r.quarantined for r in rows)
    pay = [r for r in rows if r["table"] == "payments"
           and r.action == "update"]
    (u,) = pay
    assert u.after["amount"] == "-987654.3210"
    assert u.after["big_int_dec"] == "0"
    ords = [r for r in rows if r["table"] == "orders"]
    assert {r.action for r in ords} == {"insert", "update", "delete"}
    (ou,) = [r for r in ords if r.action == "update"]
    assert ou.before["qty"] == "1" and ou.after["qty"] == "4"


def test_ddl_evolution_refreshes_per_table_projection(spark, tmp_path):
    """The registry_frame docstring's refresh contract, proven
    live: a foreachBatch pipeline rebuilds the broadcast registry
    frame at each batch-plan time, so a DDL ADD COLUMN applied
    between micro-batches re-projects the NEXT batch with the new
    column list — the reference's P5-feeds-P1 loop
    (``process.go:216-242`` persists the evolution; the next event
    projects with the evolved schema) re-expressed without any
    query restart."""
    src = str(tmp_path / "env_src")
    schema = ("database string, `table` string, action string, "
              "org_row array<array<string>>")
    spark.createDataFrame(
        [("shop", "coupons", "insert", [["SAVE10", "10"]])],
        schema).write.parquet(src)

    reg = _registry()
    seen: list = []

    def handle(batch_df, epoch_id):
        out = project_changes_by_schema(
            batch_df, registry_frame(spark, reg))
        seen.extend(out.select("action", "quarantined", "after")
                    .collect())

    static = spark.read.parquet(src)
    q = (spark.readStream.schema(static.schema).parquet(src)
         .writeStream
         .option("checkpointLocation", str(tmp_path / "ck"))
         .foreachBatch(handle).start())
    q.processAllAvailable()

    # P5 between batches: the table gains a column
    assert reg.apply_ddl(
        "shop", "ALTER TABLE coupons ADD COLUMN expires varchar(10)")
    spark.createDataFrame(
        [("shop", "coupons", "insert",
          [["SAVE20", "20", "2026-12-31"]])],
        schema).write.mode("append").parquet(src)
    q.processAllAvailable()
    q.stop()

    good = [r for r in seen if not r.quarantined]
    assert len(good) == 2
    by_code = {r.after["code"]: dict(r.after) for r in good}
    assert by_code["SAVE10"] == {"code": "SAVE10", "pct": "10"}
    assert by_code["SAVE20"] == {"code": "SAVE20", "pct": "20",
                                 "expires": "2026-12-31"}
