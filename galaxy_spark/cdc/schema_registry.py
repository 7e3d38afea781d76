"""Schema registry: per-``db.table`` ordered column lists with
old/new delta history, evolved by DDL (P1 + P5).

The reference caches ``SHOW FULL COLUMNS`` results per table in
BadgerDB under ``scheam.<db>.<table>`` (sic) and stores an
``{Old, Def}`` delta pair on every evolution
(``pkg/models.go:25-47``, ``internal/storage/storage.go:96-137``).
Here the registry is a plain dict + JSON persistence (driver-side
metadata, tiny) — the data plane consumes it as a *broadcast* column
list / StructType per table, never a per-row lookup, so at 100 TB
the registry never touches the shuffle.

MySQL type strings (``varchar(100)``, ``int(64) unsigned``,
``decimal(10,2)``) map to Spark types via :func:`mysql_type_to_spark`
— DECIMAL stays DecimalType (the reference's ``UseDecimal``
exactness guarantee, ``internal/sync_server/sync.go:52``), never
double.
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass, field

from pyspark.sql import types as T

from galaxy_spark.cdc.ddl import (
    AddColumn,
    AlterStatement,
    DropColumn,
    ModifyColumn,
    RenameColumn,
    parse_alter,
)


@dataclass(frozen=True)
class ColumnDef:
    name: str
    col_type: str | None = None      # MySQL type string, lowercased
    not_null: bool = False

    def to_json(self) -> dict:
        return {"name": self.name, "type": self.col_type, "not_null": self.not_null}

    @classmethod
    def from_json(cls, d: dict) -> "ColumnDef":
        return cls(d["name"], d.get("type"), d.get("not_null", False))


_DECIMAL_RE = re.compile(r"decimal\((\d+)\s*,\s*(\d+)\)")


def mysql_type_to_spark(col_type: str | None) -> T.DataType:
    """MySQL type string -> Spark type (public mapping, mirrors JDBC
    dialect conventions)."""
    if not col_type:
        return T.StringType()
    t = col_type.lower()
    m = _DECIMAL_RE.match(t)
    if m:
        return T.DecimalType(int(m.group(1)), int(m.group(2)))
    if t.startswith("decimal") or t.startswith("numeric"):
        return T.DecimalType(10, 0)
    if t.startswith("bigint"):
        return T.LongType()
    if t.startswith(("tinyint(1)", "bool")):
        return T.BooleanType()
    if t.startswith(("tinyint", "smallint")):
        return T.IntegerType()
    if t.startswith(("int", "mediumint", "integer")):
        # int(64)-style display widths in the reference corpus can
        # exceed 32-bit meaning; MySQL INT is still 4 bytes -> Integer,
        # unless unsigned (max 2^32-1 needs Long)
        return T.LongType() if "unsigned" in t else T.IntegerType()
    if t.startswith(("double", "real")):
        return T.DoubleType()
    if t.startswith("float"):
        return T.FloatType()
    if t.startswith(("datetime", "timestamp")):
        return T.TimestampType()
    if t.startswith("date"):
        return T.DateType()
    if t.startswith("time"):
        return T.StringType()
    if t.startswith(("binary", "varbinary", "blob", "longblob", "mediumblob", "tinyblob")):
        return T.BinaryType()
    if t.startswith("json"):
        return T.StringType()
    return T.StringType()


@dataclass
class TableSchema:
    columns: list[ColumnDef] = field(default_factory=list)
    #: evolution log: list of (old columns, new columns) snapshots,
    #: mirroring the reference's {Old, Def} delta pair
    history: list[tuple[list[ColumnDef], list[ColumnDef]]] = field(default_factory=list)

    def names(self) -> list[str]:
        return [c.name for c in self.columns]

    def struct_type(self) -> T.StructType:
        return T.StructType([
            T.StructField(c.name, mysql_type_to_spark(c.col_type), not c.not_null)
            for c in self.columns
        ])


class SchemaRegistry:
    """Keyed ``(db, table) -> TableSchema`` with DDL evolution."""

    def __init__(self) -> None:
        self._tables: dict[tuple[str, str], TableSchema] = {}

    # -- bootstrap ---------------------------------------------------
    def put(self, db: str, table: str, columns: list[ColumnDef]) -> None:
        self._tables[(db, table)] = TableSchema(list(columns))

    # -- lookup ------------------------------------------------------
    def get(self, db: str, table: str) -> TableSchema | None:
        return self._tables.get((db, table))

    def column_names(self, db: str, table: str) -> list[str]:
        ts = self.get(db, table)
        if ts is None:
            raise KeyError(f"no schema for {db}.{table}")
        return ts.names()

    def tables(self) -> list[tuple[str, str]]:
        return sorted(self._tables)

    # -- evolution ---------------------------------------------------
    def apply_ddl(self, default_db: str, query: str) -> bool:
        """Parse + apply one DDL statement. Returns True if a schema
        changed. Unknown tables / non-ALTER statements are no-ops
        (matching the reference's silent-skip,
        ``baseinfo.go:133-137``)."""
        stmt = parse_alter(query)
        if stmt is None:
            return False
        return self.apply(stmt, default_db)

    def apply(self, stmt: AlterStatement, default_db: str) -> bool:
        db = stmt.database or default_db
        ts = self.get(db, stmt.table)
        if ts is None:
            return False
        old = list(ts.columns)
        cols = list(ts.columns)
        for op in stmt.ops:
            cols = _apply_op(cols, op)
        if cols == old:
            return False
        ts.columns = cols
        ts.history.append((old, list(cols)))
        return True

    # -- persistence -------------------------------------------------
    def save(self, path: str) -> None:
        data = {
            f"{db}.{table}": {
                "columns": [c.to_json() for c in ts.columns],
                "history": [
                    {"old": [c.to_json() for c in o],
                     "new": [c.to_json() for c in n]}
                    for o, n in ts.history
                ],
            }
            for (db, table), ts in self._tables.items()
        }
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(data, f, indent=1)
        os.replace(tmp, path)

    @classmethod
    def load(cls, path: str) -> "SchemaRegistry":
        reg = cls()
        with open(path) as f:
            data = json.load(f)
        for key, entry in data.items():
            db, table = key.split(".", 1)
            ts = TableSchema([ColumnDef.from_json(c) for c in entry["columns"]])
            ts.history = [
                ([ColumnDef.from_json(c) for c in h["old"]],
                 [ColumnDef.from_json(c) for c in h["new"]])
                for h in entry.get("history", [])
            ]
            reg._tables[(db, table)] = ts
        return reg


def _apply_op(cols: list[ColumnDef], op) -> list[ColumnDef]:
    if isinstance(op, DropColumn):
        return [c for c in cols if c.name != op.name]
    if isinstance(op, AddColumn):
        if any(c.name == op.name for c in cols):   # idempotent re-add,
            return cols                            # like baseinfo.go:187-191
        new = ColumnDef(op.name, op.col_type)
        return _insert(cols, new, op.position)
    if isinstance(op, RenameColumn):
        return [
            ColumnDef(op.new_name, op.col_type or c.col_type, c.not_null)
            if c.name == op.old_name else c
            for c in cols
        ]
    if isinstance(op, ModifyColumn):
        # divergence: the reference ignores MODIFY (baseinfo.go:129-131)
        out = [
            ColumnDef(c.name, op.col_type or c.col_type, c.not_null)
            if c.name == op.name else c
            for c in cols
        ]
        if op.position:
            target = next((c for c in out if c.name == op.name), None)
            if target is not None:
                rest = [c for c in out if c.name != op.name]
                out = _insert(rest, target, op.position)
        return out
    return cols


def _insert(cols: list[ColumnDef], new: ColumnDef,
            position: str | None) -> list[ColumnDef]:
    if position == "FIRST":
        return [new] + cols
    if position and position.startswith("AFTER:"):
        anchor = position.split(":", 1)[1]
        out: list[ColumnDef] = []
        placed = False
        for c in cols:
            out.append(c)
            if c.name == anchor:
                out.append(new)
                placed = True
        # anchor missing -> column silently not added (reference
        # behavior, baseinfo.go:203-210); we append at the end instead
        # so the column is never lost
        if not placed:
            out.append(new)
        return out
    return cols + [new]


def registry_frame(spark, registry: "SchemaRegistry"):
    """The registry as the tiny broadcastable DataFrame
    ``(database, table, columns array<string>)`` that
    ``projections.attach_schema`` joins onto the stream (P1's
    SURVEY-named Spark mapping: "broadcast-join event stream with
    schema-registry table") for ``project_changes_by_schema`` and
    ``debezium.positional_org_row``. The frame is the registry
    as of this call: after DDL evolution, build it again. A
    running ``start_pipeline`` task keeps the registry it started
    with, so DDL reaches it by a restart (applying DDL in stream
    order is ROADMAP direction 2)."""
    return local_registry_frame(
        spark, [(db, tbl, registry.column_names(db, tbl))
                for db, tbl in registry.tables()])


def local_registry_frame(spark, rows):
    """``(database, table, columns)`` rows as a driver-local relation
    (``LocalRelation``). Broadcasting it is a JVM-only job; a frame
    made from Python rows with ``createDataFrame`` plans a Python RDD
    scan instead, which runs as its own job at every broadcast, i.e.
    at every micro-batch of a stream joined to it."""
    import pyarrow as pa

    dbs, tables, cols = zip(*rows) if rows else ((), (), ())
    return spark.createDataFrame(pa.table(
        [pa.array(dbs, pa.string()), pa.array(tables, pa.string()),
         pa.array(cols, pa.list_(pa.string()))],
        names=["database", "table", "columns"]))
