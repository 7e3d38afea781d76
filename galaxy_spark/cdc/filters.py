"""Task-level db/table include/exclude filters (F1-F3).

Semantics copied behaviorally from the reference's hot path
(``internal/sync_server/process.go:40-75``; sets built in
``pkg/req_resp.go:27-42``):

- F1  database include: if the db list is non-empty and the event's
      database is not a member -> drop.
- F2  table include: if the table list is non-empty, keep only when
      ``db.*`` or ``db.table`` is a member.
- F3  table exclude: drop when ``db.*`` or ``db.table`` is a member.
      Exclude wins over include.

All three collapse to ``isin`` predicates over literal sets, which
Catalyst compiles to ``In``/``InSet`` and pushes down to the scan —
the distributed analog of the reference's O(1) hash-set membership.
At 100 TB the filter runs inside the parquet/Kafka scan, not as a
post-shuffle step.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class TaskFilter:
    """Include/exclude lists of one replication task.

    ``tables``/``exclude_tables`` entries are ``"db.table"`` or the
    ``"db.*"`` wildcard, matching the reference's task config
    (``pkg/req_resp.go:11-17``).
    """

    databases: tuple[str, ...] = field(default=())
    tables: tuple[str, ...] = field(default=())
    exclude_tables: tuple[str, ...] = field(default=())

    def predicate(self) -> Column:
        db = F.col("database")
        qualified = F.concat(db, F.lit("."), F.col("table"))
        wildcard = F.concat(db, F.lit("."), F.lit("*"))
        pred = F.lit(True)
        if self.databases:
            pred = pred & db.isin(*self.databases)
        if self.tables:
            pred = pred & (qualified.isin(*self.tables) | wildcard.isin(*self.tables))
        if self.exclude_tables:
            pred = pred & ~(
                qualified.isin(*self.exclude_tables)
                | wildcard.isin(*self.exclude_tables)
            )
        return pred

    def apply(self, df: DataFrame) -> DataFrame:
        return df.filter(self.predicate())
