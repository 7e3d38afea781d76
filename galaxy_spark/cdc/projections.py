"""Schema attach P1, row projections P2-P4 and action routing S3.

The reference looks up each event's own table schema
(``tableSchema(db, table)``, ``internal/sync_server/baseinfo.go:39-58``)
and zips the positional binlog row with that column list into named
before/after documents (``internal/sync_server/process.go:114-214``):

- insert (P2): ``after``  = zip(columns, row)        (:184-214)
- delete (P3): ``before`` = zip(columns, row)        (:151-182)
- update (P4): rows arrive in pairs; both maps built  (:114-149).
  The reference assigns after<-Rows[i], before<-Rows[i+1] —
  inverted vs MySQL's canonical (before, after) order (:138-141).
  We follow canonical Debezium orientation: org_row = [before, after].

Arity handling: the reference errors out when
``len(row) != len(columns)`` (:120-122,169-171,190-192). Aborting a
100 TB stream on one malformed row is wrong at scale, so we instead
emit a ``quarantined`` flag and null maps for mismatched rows; the
caller can route them to a dead-letter sink.

``project_changes`` is the one zip, arity and quarantine algebra. Its
column names are a literal list or a per-row ``array<string>``
column; ``attach_schema`` supplies the latter by broadcast-joining
the schema registry, and ``project_changes_by_schema`` is the two
composed. ``debezium.positional_org_row`` uses the same attach.

Everything here is pure column algebra (``map_from_arrays``,
``element_at``, ``when``) — JVM-side, whole-stage-codegen'd, no
Python in the hot path.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def attach_schema(df: DataFrame, schemas: DataFrame) -> DataFrame:
    """P1: give each row ``__cols``, its OWN table's ordered column
    names — the reference resolves ``tableSchema(db, table)`` per
    event (``baseinfo.go:39-58``). ``schemas`` is a tiny
    (database, table, columns array<string>) frame (see
    ``schema_registry.registry_frame``) riding a BROADCAST left join
    (SURVEY §2.1 P1's named Spark mapping): one scan, no shuffle,
    and a plan that does not grow with the registry. Rows whose
    table has no entry get a NULL ``__cols``."""
    return df.join(
        F.broadcast(schemas.select(
            "database", "table", F.col("columns").alias("__cols"))),
        ["database", "table"], "left")


def project_changes(df: DataFrame,
                    columns: Sequence[str] | Column) -> DataFrame:
    """Attach ``before``/``after`` maps + ``quarantined`` flag.

    ``df`` must carry ``action`` and ``org_row`` (array of positional
    rows: insert=[after], delete=[before], update=[before, after]).
    ``columns`` is the row's ordered column names: a literal list
    (single-table stream) or an ``array<string>`` column, e.g. the
    ``__cols`` of ``attach_schema``. A NULL name array (no registry
    entry) quarantines the row.
    """
    names = (columns if isinstance(columns, Column)
             else F.array(*[F.lit(n) for n in columns]))
    action = F.col("action")
    rows = F.col("org_row")
    # F.get, not getItem: a malformed update with ONE row must take
    # the quarantine path, and the arity check evaluates the after
    # image even on bad rows -- getItem(1) would raise
    # INVALID_ARRAY_INDEX there instead of yielding NULL
    first, second = F.get(rows, 0), F.get(rows, 1)

    before_row = (
        F.when(action == "delete", first)
        .when(action == "update", first)
    )  # insert -> NULL
    after_row = (
        F.when(action == "insert", first)
        .when(action == "update", second)
    )  # delete -> NULL

    def arity_ok(row: Column) -> Column:
        # a null image passes vacuously
        return F.coalesce(F.size(row) == F.size(names), row.isNull())

    expected_rows = F.when(action == "update", F.lit(2)).otherwise(F.lit(1))
    # BOTH images must pass arity — validating only the coalesced
    # (first non-null) image let an update with a short AFTER image
    # reach map_from_arrays and abort the job instead of
    # quarantining. A literal list folds ``size``/``isnull`` of its
    # names to constants.
    bad = (
        names.isNull()
        | (F.size(rows) != expected_rows)
        | ~(arity_ok(before_row) & arity_ok(after_row)
            & F.coalesce(before_row, after_row).isNotNull())
    )

    def zipped(row: Column) -> Column:
        return F.when(~bad & row.isNotNull(), F.map_from_arrays(names, row))

    return (
        df.withColumn("quarantined", bad)
        .withColumn("before", zipped(before_row))
        .withColumn("after", zipped(after_row))
    )


def project_changes_by_schema(df: DataFrame, schemas: DataFrame) -> DataFrame:
    """P1 fused with P2-P4: ``attach_schema`` then
    ``project_changes`` over each row's own ``__cols``.

    Rows whose table has no registry entry quarantine (the
    reference lazily runs SHOW FULL COLUMNS on a miss — a live
    catalog round-trip from inside a 100 TB stream is the wrong
    shape at scale; bootstrap the registry up front and route
    unknown tables to the DLQ). A running ``start_pipeline`` task
    sees the registry as of its start; DDL evolution reaches it by a
    restart, or per micro-batch on a foreachBatch path that rebuilds
    ``registry_frame`` at each batch's plan build)."""
    return project_changes(attach_schema(df, schemas),
                           F.col("__cols")).drop("__cols")


def typed_table_view(df: DataFrame, registry, db: str, table: str,
                     image: str = "after") -> DataFrame:
    """SURVEY §1.3's analytics mapping: one table's change rows as
    a TYPED DataFrame — each registry column cast from the string
    transport map to its Spark type (``mysql_type_to_spark``:
    DECIMAL(p,s) stays DecimalType, so the byte tier's digit-exact
    strings land as exact decimals, never doubles; datetime/date
    parse from the decoder's canonical text). The transport layer
    stays schema-fluid maps (the reference's JSON degrade); typing
    is a per-table VIEW applied where analytics wants columns."""
    from galaxy_spark.cdc.schema_registry import mysql_type_to_spark

    ts = registry.get(db, table)
    if ts is None:
        raise KeyError(f"no schema for {db}.{table}")
    img = F.col(image)
    keep = [c for c in ("action", "log_pos") if c in df.columns]
    if "event_header" in df.columns and "log_pos" not in keep:
        keep.append("event_header.log_pos")
    fields = [
        F.element_at(img, c.name).cast(mysql_type_to_spark(c.col_type))
        .alias(c.name)
        for c in ts.columns
    ]
    return (df.filter((F.col("database") == db)
                      & (F.col("table") == table)
                      & img.isNotNull())
            .select(*keep, *fields))


def route_actions(df: DataFrame) -> dict[str, DataFrame]:
    """S3 event-type dispatch: three filtered branches of one plan.

    Mirrors the reference's switch on WRITE/UPDATE/DELETE_ROWS
    (``internal/sync_server/sync.go:134-144``). Each branch shares
    the upstream scan; Catalyst pushes each action predicate down.
    """
    return {
        a: df.filter(F.col("action") == a)
        for a in ("insert", "update", "delete")
    }
