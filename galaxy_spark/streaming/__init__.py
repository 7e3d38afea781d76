"""Structured Streaming assembly: CDC pipeline (source -> envelope
transforms -> keyed sink), windowing/watermark helpers, streaming
dedup. The batch twins of these transforms are oracle-checked in
galaxy_spark.queries; here the same column expressions run against
``readStream`` sources.
"""

from galaxy_spark.streaming.state_store import (  # noqa: E402
    KeyedParquetStore,
    ParquetRollupStore,
    ParquetScd2Store,
    ParquetSnapshotStore,
    ParquetViewStore,
    rebucket,
    start_incremental_rollup_parquet,
    start_incremental_scd2_parquet,
    start_incremental_snapshot_parquet,
    start_incremental_view_parquet,
)

__all__ = [
    "KeyedParquetStore",
    "ParquetRollupStore",
    "ParquetScd2Store",
    "ParquetSnapshotStore",
    "ParquetViewStore",
    "rebucket",
    "start_incremental_rollup_parquet",
    "start_incremental_scd2_parquet",
    "start_incremental_snapshot_parquet",
    "start_incremental_view_parquet",
]
