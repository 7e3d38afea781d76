"""Real Debezium MySQL envelope -> MQEvent bridge.

The reference consumes the MySQL binlog directly
(``internal/sync_server/sync.go:44-118``) and re-emits its own
MQEvent wire tuple; the Spark-native replacement reads a Kafka topic
produced by a public CDC connector. Debezium's MySQL connector is
the de-facto format, so this module parses GENUINE Debezium change
events (the ``{"schema": ..., "payload": {before, after, source,
op, ts_ms}}`` envelope, JSON converter, Debezium 2.x) into the
repo's MQEvent shape — after which the whole existing chain
(filters F1-F3, schema attach P1, projections P2-P4, DDL P5,
sink routing K1) applies unchanged.

Transport semantics match the reference's ``UseDecimal`` guarantee
(``internal/sync_server/sync.go:52``): every column value keeps its
exact wire rendering as a string (Spark's ``from_json`` to
``map<string,string>`` preserves JSON scalar literals — numbers,
booleans, unicode — verbatim; SQL NULL stays NULL). Semantic typing
(epoch-days dates, decimal strings) stays in the schema registry,
exactly as Debezium keeps it in the ``schema`` block.

Everything is JVM-side column algebra (``get_json_object`` +
``from_json``) — no Python in the per-event path; the parse runs
inside the scan stage on batch AND structured-streaming frames
alike (no aggregation, watermark-free).

Contract pins: ``tests/test_debezium_contract.py`` runs recorded
real-format envelopes (insert/snapshot-read/update/delete/truncate,
tombstones, a schema-change event) through parse -> filter ->
project and would break on any drift from Debezium's envelope
schema.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from galaxy_spark.cdc.projections import attach_schema
from galaxy_spark.cdc.schema_registry import registry_frame

#: Debezium ``op`` -> reference action. Snapshot reads ("r") are
#: inserts for a downstream that materializes state (the reference
#: has no snapshot phase; Debezium's bootstrap IS one). Unmapped ops
#: (truncate "t", message "m") pass through as their raw op code so
#: a task can route or drop them explicitly.
_OP_ACTION = {"c": "insert", "r": "insert", "u": "update", "d": "delete"}

_MAP_SS = T.MapType(T.StringType(), T.StringType())


def _payload(js: Column, path: str) -> Column:
    return F.get_json_object(js, f"$.payload.{path}")


def action_from_op(op: Column) -> Column:
    out = None
    for code, action in _OP_ACTION.items():
        branch = F.when(op == code, F.lit(action))
        out = branch if out is None else out.when(op == code, F.lit(action))
    return out.otherwise(op)


def debezium_to_envelope(df: DataFrame) -> DataFrame:
    """Kafka-record frame (``value`` = Debezium JSON bytes/string)
    -> MQEvent-shaped frame (``cdc.envelope.MQ_EVENT_SCHEMA`` columns
    minus ``org_row``, which positional-zips back in via
    ``positional_org_row`` once the schema registry knows the
    column order).

    Tombstones (null value — Debezium's delete companion for topic
    compaction) and non-data rows (schema-change events carry no
    ``op``) yield a NULL ``action``; callers drop or dead-letter
    them with ``action IS NULL``. ``ts_ms`` is kept at millisecond
    precision in ``event_header.timestamp_ms`` alongside the
    reference-shaped seconds field.
    """
    js = F.col("value").cast("string")
    op = _payload(js, "op")
    return df.select(
        _payload(js, "source.db").alias("database"),
        _payload(js, "source.table").alias("table"),
        action_from_op(op).alias("action"),
        F.from_json(_payload(js, "before"), _MAP_SS).alias("before"),
        F.from_json(_payload(js, "after"), _MAP_SS).alias("after"),
        F.struct(
            (_payload(js, "ts_ms").cast("long")
             / F.lit(1000)).cast("long").alias("timestamp"),
            _payload(js, "source.pos").cast("long").alias("log_pos"),
            _payload(js, "ts_ms").cast("long").alias("timestamp_ms"),
        ).alias("event_header"),
    )


def positional_org_row(env: DataFrame, registry) -> DataFrame:
    """Rebuild the reference's positional ``org_row`` from the named
    Debezium documents, using the schema registry's column ORDER for
    each ``(db, table)`` (P1 — the stand-in for the reference's
    SHOW FULL COLUMNS cache, ``internal/sync_server/baseinfo.go``).

    insert -> [after], delete -> [before], update ->
    [before, after] (canonical Debezium orientation; the reference
    pairs them inverted — divergence documented in
    ``cdc/envelope.py``). Rows for tables the registry doesn't know
    get a NULL org_row (quarantine path). Each row finds its
    column names through ``projections.attach_schema``'s broadcast
    join of ``registry_frame`` — no shuffle, no Python, and a plan
    that does not grow with the registry.
    """
    def image(doc: str) -> Column:
        return F.transform("__cols", lambda n: F.col(doc)[n])

    action = F.col("action")
    org = (F.when(action == "insert", F.array(image("after")))
           .when(action == "delete", F.array(image("before")))
           .when(action == "update",
                 F.array(image("before"), image("after"))))
    return (attach_schema(env, registry_frame(env.sparkSession, registry))
            .withColumn("org_row",
                        F.when(F.col("__cols").isNotNull(), org))
            .drop("__cols"))


def schema_change_events(df: DataFrame) -> DataFrame:
    """Debezium schema-change topic records -> ``(database, ddl,
    ts_ms)`` rows (payload carries ``databaseName`` + raw ``ddl``
    text). Feed each row to ``SchemaRegistry.apply_ddl`` — the same
    P5 path the synthesized DDL stream uses. Non-DDL records (data
    events, tombstones) are filtered out by ``ddl IS NOT NULL``."""
    js = F.col("value").cast("string")
    return (df.select(
        _payload(js, "databaseName").alias("database"),
        _payload(js, "ddl").alias("ddl"),
        _payload(js, "ts_ms").cast("long").alias("ts_ms"))
        .filter(F.col("ddl").isNotNull()))
