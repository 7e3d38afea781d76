"""Structured Streaming assembly: the CDC pipeline (source ->
envelope transforms -> keyed sink) and the keyed parquet store
behind every stateful task kind's foreachBatch fold — one store
class, configured per store by a ``StoreSpec`` row of
``state_store``'s store table. The batch twins of these transforms
are oracle-checked in galaxy_spark.queries; here the same column
expressions run against ``readStream`` sources.
"""

from galaxy_spark.streaming.state_store import (  # noqa: E402
    ROLLUP_SPEC,
    SNAPSHOT_SPEC,
    KeyedParquetStore,
    StoreSpec,
    rebucket,
    start_incremental_rollup_parquet,
    start_incremental_snapshot_parquet,
)

__all__ = [
    "KeyedParquetStore",
    "ROLLUP_SPEC",
    "SNAPSHOT_SPEC",
    "StoreSpec",
    "rebucket",
    "start_incremental_rollup_parquet",
    "start_incremental_snapshot_parquet",
]
