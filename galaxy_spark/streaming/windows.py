"""Streaming windowing / watermark / dedup helpers (SURVEY.md §2.2:
tumbling/sliding/session windows, late data, stateful dedup).

Thin, typed wrappers over the stock primitives so tasks declare
intent (``tumbling(...)``) and the engine owns the scale-relevant
details: watermarks bound state-store size (without one, a windowed
agg on 100 TB/day of events grows state forever), and dedup uses
``dropDuplicatesWithinWatermark`` so the key set is purged as event
time advances.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def tumbling(df: DataFrame, ts_col: str, size: str,
             *keys: str, watermark: str | None = None) -> DataFrame:
    """Tumbling-window count+sum aggregation."""
    src = df.withWatermark(ts_col, watermark) if watermark else df
    return (src.groupBy(F.window(ts_col, size).alias("window"), *keys)
            .agg(F.count("*").alias("n_events"),
                 F.sum("value").alias("total_value")))


def sliding(df: DataFrame, ts_col: str, size: str, slide: str,
            *keys: str, watermark: str | None = None) -> DataFrame:
    src = df.withWatermark(ts_col, watermark) if watermark else df
    return (src.groupBy(F.window(ts_col, size, slide).alias("window"), *keys)
            .agg(F.count("*").alias("n_events"),
                 F.sum("value").alias("total_value")))


def session(df: DataFrame, ts_col: str, gap: str,
            *keys: str, watermark: str | None = None) -> DataFrame:
    """Session windows with an inactivity gap (streaming twin of the
    batch gaps-and-islands query ``events_sessionization``)."""
    src = df.withWatermark(ts_col, watermark) if watermark else df
    return (src.groupBy(F.session_window(ts_col, gap).alias("session"), *keys)
            .agg(F.count("*").alias("n_events"),
                 F.sum("value").alias("total_value")))


def dedup_within_watermark(df: DataFrame, keys: list[str],
                           ts_col: str = "ts",
                           delay: str = "10 minutes") -> DataFrame:
    """Stateful streaming dedup with bounded state."""
    return df.withWatermark(ts_col, delay).dropDuplicatesWithinWatermark(keys)


def incremental_exact_dedup(df: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id") -> DataFrame:
    """First-seen-wins exact dedup against ALL streamed history —
    the streaming twin of the batch ``dedup_exact_documents`` tier:
    a new document is emitted iff its content digest has never
    appeared in ANY earlier micro-batch.

    State is one 32-byte digest per distinct document, unbounded BY
    DESIGN (the historical index IS the state); at cluster scale
    back it with the RocksDB state store so it spills past executor
    memory, and compact via the digest's natural uniformity — no
    skew, HashPartitioning on the digest spreads state evenly. For
    bounded-state dedup within a lateness horizon use
    ``dedup_within_watermark`` instead.
    """
    digest = F.sha2(F.col(text_col).cast("string"), 256).alias("digest")
    return df.select(F.col(id_col), digest).dropDuplicates(["digest"])
