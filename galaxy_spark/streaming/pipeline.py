"""The CDC streaming pipeline (S1/S3 + F1-F3 + P2-P4 + K1/K2 + C1).

Reference data plane (``internal/sync_server/sync.go:120-188``):
binlog event -> action classify -> filters -> schema lookup ->
projection -> keyed Kafka publish, with offset checkpointing.

Spark-native re-expression:

- source: any streaming DataFrame carrying the MQEvent envelope
  (production: ``readStream.format("kafka")`` fed by a
  Debezium/Canal connector; tests: file/rate sources mapped through
  ``galaxy_spark.cdc.envelope``). ``startingOffsets`` plays the role
  of the reference's saved ``(file, pos)``.
- transforms: TaskFilter predicate + project_changes — identical
  column algebra to the batch path (tested against the oracle).
- sink: Kafka topic-per-row via the ``topic`` column
  (``<task>.<db>.<table>``), key ``<db>.<table>`` — exactly the
  reference's routing (``internal/mq_manager/kafka/kafka.go:117-118``)
  but handled by the stock Kafka sink, no custom fan-out pool.
- checkpointing: ``checkpointLocation`` per task replaces the
  reference's ≤2-slot in-flight window + replay-skip
  (``concurrently_task_manager.go:33-120``) with the streaming
  offset/commit log — same at-least-once guarantee to Kafka,
  exactly-once to idempotent sinks.
"""

from __future__ import annotations

from collections.abc import Sequence
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from galaxy_spark.cdc.filters import TaskFilter
from galaxy_spark.cdc.projections import (project_changes,
                                           project_changes_by_schema)
from galaxy_spark.cdc.schema_registry import (SchemaRegistry,
                                              local_registry_frame)


@dataclass
class SinkConfig:
    """K2 sink mux: pluggable sink selection per task.

    The reference registers kafka > nsq > mongodb > es by first
    non-nil config (``internal/mq_manager/manager.go:28-63``; only
    Kafka is implemented there — the rest are
    ``panic("implement me")`` stubs). Here: kafka and memory are
    implemented; others raise NotImplementedError just like the
    reference's stubs, but without killing the process.
    """

    kind: str = "memory"          # kafka | memory | parquet | topic_files
    options: dict[str, str] = field(default_factory=dict)

    def apply(self, writer, query_name: str):
        if self.kind == "kafka":
            return (writer.format("kafka")
                    .options(**self.options))
        if self.kind == "memory":
            return writer.format("memory").queryName(query_name)
        if self.kind == "parquet":
            return writer.format("parquet").options(**self.options)
        if self.kind == "topic_files":
            # broker-less Kafka twin (Python DataSource writer,
            # sinks_topic.py); caller registers TopicFilesDataSource
            return (writer.format("galaxy_topic_files")
                    .options(**self.options))
        raise NotImplementedError(
            f"sink {self.kind!r} not implemented (reference parity: "
            "nsq/es/mongodb are stubs there too)")


def transform_envelope(env: DataFrame, task_filter: TaskFilter,
                       columns: Sequence[str] | DataFrame) -> DataFrame:
    """filters (F1-F3) -> projections (P2-P4); identical plan for
    batch and streaming inputs. ``columns`` is either ONE literal
    column-name list (single-table stream) or a schema-registry
    DataFrame (database, table, columns) — the per-table P1 path
    (``schema_registry.registry_frame``), broadcast-joined so each
    event projects with its OWN table's column list."""
    filtered = task_filter.apply(env)
    if isinstance(columns, DataFrame):
        return project_changes_by_schema(filtered, columns)
    return project_changes(filtered, columns)


#: message bodies: a routed change carries its projected images, a
#: dead letter the raw event it failed to project from
_ROUTED_BODY = ("database", "table", "action", "before", "after",
                "org_row", "event_header")
_DEAD_LETTER_BODY = ("database", "table", "action", "org_row",
                     "event_header")


def _topic(task_id: str, *route: str) -> Column:
    return F.concat_ws(".", F.lit(task_id), *map(F.lit, route),
                       "database", "table")


def _key() -> Column:
    return F.concat_ws(".", "database", "table")


def _value(events: DataFrame, body: Sequence[str]) -> Column:
    return F.to_json(F.struct(*[c for c in body if c in events.columns]))


def routed_messages(events: DataFrame, task_id: str) -> DataFrame:
    """K1: one JSON message per change, with topic/key routing
    columns understood natively by the Kafka sink."""
    return events.select(_topic(task_id).alias("topic"),
                         _key().alias("key"),
                         _value(events, _ROUTED_BODY).alias("value"))


def dead_letter_messages(projected: DataFrame, task_id: str) -> DataFrame:
    """Quarantined rows as DLQ-topic messages:
    ``<task>.deadletter.<db>.<table>`` carrying the FULL raw event
    (org_row, header, action) so nothing is lost and the malformed
    payload is replayable after a fix — the standard Kafka
    dead-letter-queue pattern, one stream and one sink (the DLQ is
    just more topic routing, not a second query or scan)."""
    bad = projected.filter(F.col("quarantined"))
    return bad.select(_topic(task_id, "deadletter").alias("topic"),
                      _key().alias("key"),
                      _value(bad, _DEAD_LETTER_BODY).alias("value"))


def task_messages(projected: DataFrame, task_id: str) -> DataFrame:
    """A task's whole output in ONE projection of ``projected``:
    ``routed_messages`` of the good rows and ``dead_letter_messages``
    of the quarantined ones, as the same rows a union of the two
    would give. A union plans the source twice, so every micro-batch
    would decode its input twice and count each row-change twice in
    ``numInputRows``."""
    dead = F.col("quarantined")
    return projected.select(
        F.when(dead, _topic(task_id, "deadletter"))
        .otherwise(_topic(task_id)).alias("topic"),
        _key().alias("key"),
        F.when(dead, _value(projected, _DEAD_LETTER_BODY))
        .otherwise(_value(projected, _ROUTED_BODY)).alias("value"))


def start_pipeline(env_stream: DataFrame, task_id: str,
                   task_filter: TaskFilter,
                   columns: Sequence[str] | DataFrame,
                   sink: SinkConfig, checkpoint_dir: str) -> StreamingQuery:
    """Assemble + start one CDC task as a streaming query.
    ``columns`` accepts a single literal name list or a per-table
    schema-registry frame (see ``transform_envelope``). A registry
    frame is read ONCE, here: the task projects with the registry as
    of its start, held as a driver-local relation so each
    micro-batch's broadcast of it runs no Python. DDL evolution
    reaches a running task by a restart (or use a foreachBatch
    pipeline, which rebuilds ``registry_frame`` per batch).

    Rows the projection quarantines (arity mismatch, malformed
    image — projections.py) are NOT silently dropped; they route to
    the task's ``<task>.deadletter.<db>.<table>`` topic through the
    SAME sink and the same scan (``task_messages``). At 100 TB a
    poison row must neither abort hours of progress (the quarantine
    flag's job) nor vanish without trace (this routing's job — the
    reference errors the whole event instead, process.go:120-122;
    divergence documented in README)."""
    if isinstance(columns, DataFrame):
        columns = local_registry_frame(
            columns.sparkSession,
            columns.select("database", "table", "columns").collect())
    projected = transform_envelope(env_stream, task_filter, columns)
    msgs = task_messages(projected, task_id)
    writer = msgs.writeStream.outputMode("append") \
        .option("checkpointLocation", checkpoint_dir)
    return sink.apply(writer, query_name=task_id).start()


class LiveFilterRef:
    """Mutable filter cell read at each micro-batch — the Spark
    analog of the reference's RWMutex-guarded include/exclude map
    swap (``update_task.go:150-197``).

    A literal predicate is compiled into a streaming plan at start,
    so swapping it needs a restart; ``foreachBatch`` instead builds
    a fresh BATCH plan per micro-batch, and a predicate read from
    this cell at batch-plan time takes effect on the NEXT
    micro-batch — no restart, offsets and state untouched, the query
    object (id/runId) stays the same. Granularity is the micro-batch
    (the reference's is the event), which is the natural consistency
    unit in Spark: a batch is never half-filtered.

    Chosen over the stream-static config-join variant (config table
    re-read per batch): the join needs empty-include = pass-all and
    exclude-beats-include encoded as outer-join null-handling, while
    this reuses TaskFilter.predicate() verbatim — same tested
    semantics on both the static and live paths.
    """

    def __init__(self, task_filter: TaskFilter) -> None:
        import threading

        self._lock = threading.Lock()
        self._tf = task_filter

    def get(self) -> TaskFilter:
        with self._lock:
            return self._tf

    def set(self, task_filter: TaskFilter) -> None:
        with self._lock:
            self._tf = task_filter


#: driver-side buffers for the live pipeline's memory sink
#: (test/debug surface, like the stock memory sink it replaces)
_LIVE_MEMORY: dict[str, list] = {}


def live_memory_rows(task_id: str) -> list:
    return list(_LIVE_MEMORY.get(task_id, []))


#: the sinks the live handler writes
LIVE_SINK_KINDS = ("kafka", "memory", "parquet")


def start_pipeline_live(env_stream: DataFrame, task_id: str,
                        live_filter: LiveFilterRef,
                        columns: Sequence[str], sink: SinkConfig,
                        checkpoint_dir: str) -> StreamingQuery:
    """``start_pipeline`` with LIVE filter updates: the task filter
    is re-read from ``live_filter`` at every micro-batch, so
    ``TaskManager.update_filters`` swaps take effect without a query
    restart. Filter/projection/routing are the identical column
    algebra — only the evaluation point moves from stream-plan time
    to batch-plan time.

    Sink semantics: ``kafka``/``parquet`` write DISTRIBUTED per
    batch (the production paths — no rows ever reach the driver);
    ``memory`` is the TEST/DEBUG surface only, like the stock
    memory sink it replaces: it collects each batch to a driver
    buffer and therefore HARD-CAPS total buffered rows
    (``sink.options["maxRows"]``, default 10_000) — exceeding the
    cap kills the query with a clear error instead of silently
    eating driver memory at real volume. Any other sink kind is
    refused here, before the query starts.
    """
    if sink.kind not in LIVE_SINK_KINDS:
        raise NotImplementedError(
            f"live sink {sink.kind!r} not implemented: use one of "
            f"{', '.join(map(repr, LIVE_SINK_KINDS))}")
    _LIVE_MEMORY[task_id] = []

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        projected = transform_envelope(batch_df, live_filter.get(),
                                       columns)
        # same DLQ contract as start_pipeline: quarantined rows
        # route to <task>.deadletter.<db>.<table> through the SAME
        # sink — the live variant used to drop them on the floor,
        # losing malformed payloads exactly on the pipeline meant
        # for production filter updates
        msgs = task_messages(projected, task_id)
        if sink.kind != "memory":
            sink.apply(msgs.write.mode("append"), task_id).save()
            return
        cap = int(sink.options.get("maxRows", 10_000))
        buf = _LIVE_MEMORY[task_id]
        batch = msgs.limit(cap + 1 - len(buf)).collect()
        if len(buf) + len(batch) > cap:
            raise RuntimeError(
                f"live memory sink exceeded maxRows={cap}; this "
                "sink is a test/debug surface — use the kafka or "
                "parquet sink for real volume")
        buf.extend(batch)

    return env_stream.writeStream \
        .option("checkpointLocation", checkpoint_dir) \
        .foreachBatch(handle).start()


def ddl_apply_batch(registry: SchemaRegistry, default_db: str,
                    save_path: str | None = None):
    """foreachBatch handler for the QueryEvent/DDL branch (P5).

    The reference processes DDL inline in its single-threaded loop
    (``process.go:216-242``); in Spark the DDL stream is a separate
    low-volume branch whose batches mutate the registry on the
    driver, then persist. The data plane sees the change where it
    next builds ``registry_frame``: at the next micro-batch of a
    foreachBatch pipeline, at the next start of a ``start_pipeline``
    task (which snapshots the registry when it starts).

    ``save_path`` is the persistence half of that contract: the
    registry is saved (atomic tmp+rename) after each batch BEFORE
    the handler returns, so Spark's commit log never advances past
    DDL the durable registry hasn't absorbed. Without it, a restart
    resumes after the DDL batch while the reloaded registry lacks
    the ALTER — every later row of that table quarantines on arity
    with no error anywhere (the reference's Badger save-on-change
    signal, ``scheduler.go:45-67``, exists for exactly this).
    Passing None keeps the in-memory-only behavior for tests /
    bootstrapped-per-run registries, now an explicit choice.
    """
    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        # tiny control stream: collect is bounded by DDL rate, not data
        for row in batch_df.select("database", "query").collect():
            registry.apply_ddl(row["database"] or default_db, row["query"])
        if save_path is not None:
            registry.save(save_path)
    return handle
