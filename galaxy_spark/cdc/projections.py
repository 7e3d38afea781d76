"""Row projections P2-P4 and action routing S3.

The reference zips positional binlog rows with the cached column
list into named before/after documents
(``internal/sync_server/process.go:114-214``):

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

Everything here is pure column algebra (``map_from_arrays``,
``element_at``, ``when``) — JVM-side, whole-stage-codegen'd, no
Python in the hot path.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _zip_map(names: Sequence[str], row: Column) -> Column:
    return F.map_from_arrays(F.array(*[F.lit(n) for n in names]), row)


def _arity_ok(names: Sequence[str], row: Column) -> Column:
    return F.size(row) == len(names)


def project_changes(df: DataFrame, columns: Sequence[str],
                    org_row_col: str = "org_row",
                    action_col: str = "action") -> DataFrame:
    """Attach ``before``/``after`` maps + ``quarantined`` flag.

    ``df`` must carry ``action`` and ``org_row`` (array of positional
    rows: insert=[after], delete=[before], update=[before, after]).
    ``columns`` is the ordered column-name list for this table (the
    schema-registry lookup result, P1).
    """
    action = F.col(action_col)
    rows = F.col(org_row_col)
    # F.get, not getItem: a malformed update with ONE row must take
    # the quarantine path, and the arity check now evaluates the
    # after image even on bad rows -- getItem(1) would raise
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

    expected_rows = F.when(action == "update", F.lit(2)).otherwise(F.lit(1))
    # BOTH images must pass arity — validating only the coalesced
    # (first non-null) image let an update with a short AFTER image
    # reach map_from_arrays and abort the job instead of
    # quarantining; a null image passes vacuously
    bad = (F.size(rows) != expected_rows) | ~(
        F.coalesce(_arity_ok(columns, before_row),
                   before_row.isNull())
        & F.coalesce(_arity_ok(columns, after_row),
                     after_row.isNull())
        & F.coalesce(before_row, after_row).isNotNull()
    )

    return (
        df.withColumn("quarantined", bad)
        .withColumn(
            "before",
            F.when(~bad & before_row.isNotNull(), _zip_map(columns, before_row)),
        )
        .withColumn(
            "after",
            F.when(~bad & after_row.isNotNull(), _zip_map(columns, after_row)),
        )
    )


def project_changes_by_schema(df: DataFrame, schemas: DataFrame,
                              org_row_col: str = "org_row",
                              action_col: str = "action") -> DataFrame:
    """P1 fused with P2-P4: per-TABLE schema attach.

    ``project_changes`` takes ONE literal column list — right for a
    single-table stream, wrong for the reference's actual shape,
    where every event resolves its OWN table's cached column list
    (``tableSchema(db, table)``, ``baseinfo.go:39-58``) before
    projection. Here the registry rides a BROADCAST join (SURVEY
    §2.1 P1's named Spark mapping): ``schemas`` is a tiny
    (database, table, columns array<string>) frame — see
    ``schema_registry.registry_frame`` — joined onto the stream,
    and the zip uses the name ARRAY COLUMN instead of literals.
    Still pure JVM column algebra, still one scan.

    Rows whose table has no registry entry quarantine (the
    reference lazily runs SHOW FULL COLUMNS on a miss — a live
    catalog round-trip from inside a 100 TB stream is the wrong
    shape at scale; bootstrap the registry up front and route
    unknown tables to the DLQ). A running ``start_pipeline`` task
    sees the registry as of its start; DDL evolution reaches it by a
    restart, or per micro-batch on a foreachBatch path that rebuilds
    ``registry_frame`` at each batch's plan build)."""
    action = F.col(action_col)
    rows = F.col(org_row_col)
    # F.get, not getItem: a malformed update with ONE row must take
    # the quarantine path, and the arity check now evaluates the
    # after image even on bad rows -- getItem(1) would raise
    # INVALID_ARRAY_INDEX there instead of yielding NULL
    first, second = F.get(rows, 0), F.get(rows, 1)

    before_row = (
        F.when(action == "delete", first)
        .when(action == "update", first)
    )
    after_row = (
        F.when(action == "insert", first)
        .when(action == "update", second)
    )
    expected_rows = F.when(action == "update", F.lit(2)).otherwise(F.lit(1))
    # same both-images arity rule as project_changes above
    bad = (
        F.col("__cols").isNull()
        | (F.size(rows) != expected_rows)
        | ~(
            F.coalesce(F.size(before_row) == F.size("__cols"),
                       before_row.isNull())
            & F.coalesce(F.size(after_row) == F.size("__cols"),
                         after_row.isNull())
            & F.coalesce(before_row, after_row).isNotNull()
        )
    )

    def zip_map(row: Column) -> Column:
        return F.map_from_arrays(F.col("__cols"), row)

    joined = df.join(
        F.broadcast(schemas.select(
            "database", "table", F.col("columns").alias("__cols"))),
        ["database", "table"], "left")
    return (
        joined.withColumn("quarantined", bad)
        .withColumn(
            "before",
            F.when(~bad & before_row.isNotNull(), zip_map(before_row)))
        .withColumn(
            "after",
            F.when(~bad & after_row.isNotNull(), zip_map(after_row)))
        .drop("__cols")
    )


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


def route_actions(df: DataFrame, action_col: str = "action"
                  ) -> dict[str, DataFrame]:
    """S3 event-type dispatch: three filtered branches of one plan.

    Mirrors the reference's switch on WRITE/UPDATE/DELETE_ROWS
    (``internal/sync_server/sync.go:134-144``). Each branch shares
    the upstream scan; Catalyst pushes each action predicate down.
    """
    return {
        a: df.filter(F.col(action_col) == a)
        for a in ("insert", "update", "delete")
    }
