"""Custom stateful streaming operators (applyInPandasWithState).

The reference's only per-key state is the task's binlog position
window (``internal/scheduler/concurrently_manager/
concurrently_task_manager.go:33-120``: record in-flight positions,
mark complete, survive restarts). Structured Streaming subsumes that
with checkpointed offsets; what it does NOT give for free is
*user-defined* per-key running state — this module provides that
surface, the Spark-4 way: Arrow-batched pandas state handlers.

``running_change_totals`` keeps one tiny state row per
(database, table): cumulative change count + last seen log_pos —
i.e., the same bookkeeping the reference's position manager does,
but keyed per table and scaling horizontally (state lives in the
executors' state store, checkpoint-backed, not on one driver
goroutine).
"""

from __future__ import annotations

from collections.abc import Iterable

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = (
    "database string, table string, n_changes bigint, last_pos bigint"
)
STATE_SCHEMA = "n bigint, last_pos bigint"


def _update_totals(key: tuple, pdfs: Iterable[pd.DataFrame],
                   state: GroupState):
    n, last_pos = state.get if state.exists else (0, -1)
    for pdf in pdfs:
        if pdf.empty:
            continue
        n += len(pdf)
        last_pos = max(last_pos, int(pdf["log_pos"].max()))
    state.update((n, last_pos))
    yield pd.DataFrame({
        "database": [key[0]], "table": [key[1]],
        "n_changes": [n], "last_pos": [last_pos],
    })


def running_change_totals(envelope: DataFrame) -> DataFrame:
    """Streaming per-(db, table) cumulative change counts + position
    high-water mark, via applyInPandasWithState.

    Output mode: update (one refreshed row per key per batch).
    State is O(#tables) — constant per key — so the state store
    stays tiny at any event volume; the shuffle is the groupBy key
    only.
    """
    keyed = envelope.select(
        "database", "table",
        F.col("event_header.log_pos").alias("log_pos"),
    ).groupBy("database", "table")
    return keyed.applyInPandasWithState(
        _update_totals,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
