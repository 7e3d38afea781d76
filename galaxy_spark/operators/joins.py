"""Custom join operators Spark lacks as built-ins: as-of join.

As-of join (point-in-time lookup): for each left row, attach the
most recent right row with the same key whose time is <= the left
row's time. Spark has no native ASOF JOIN (DuckDB/Pandas do), so
the engine composes it from a union + ordered window pass:

    tag right rows side=0, left rows side=1
    union on (key, time, side)
    one shuffle: Window.partitionBy(key).orderBy(time, side)
    last_value(right payload, ignorenulls=True) carries the latest
    right row forward; keep only side=1 rows.

Why this shape at 100 TB: the naive alternative (inequality join +
row_number) explodes each left row by its full right-side history
before pruning to rank 1; the union-scan shape is ONE shuffle on
the key, linear in |left| + |right|, no row explosion, and the sort
within each key partition is exactly what the window needs (AQE
handles key skew by splitting oversized partitions for the sort).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    left_on: str,
    right_on: str,
    left_time: str,
    right_time: str,
    right_payload: list[str],
) -> DataFrame:
    """Left as-of join: latest right row per key with
    ``right_time <= left_time`` (inclusive). Left rows with no prior
    right row keep NULL payload (left-outer semantics).

    Tie policy: if several right rows share (key, time), the caller
    must pre-aggregate to one row per (key, time) — this function
    asserts nothing and would carry forward whichever sorts last, so
    determinism is the caller's responsibility (mirrors DuckDB ASOF
    which is likewise tie-unspecified).
    """
    lcols = left.columns
    # the payload travels as ONE struct: a right row's struct is
    # non-null even when its FIELDS are null, so last(ignorenulls)
    # carries the latest right ROW atomically — carrying columns
    # independently skipped genuine NULL values and could stitch a
    # torn row from different right rows
    r = right.select(
        F.col(right_on).alias("__key"),
        F.col(right_time).alias("__t"),
        F.lit(0).alias("__side"),
        F.struct(*[F.col(c) for c in right_payload]).alias("__pay"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in lcols],
    )
    l = left.select(
        F.col(left_on).alias("__key"),
        F.col(left_time).alias("__t"),
        F.lit(1).alias("__side"),
        F.lit(None).cast(
            "struct<" + ",".join(
                f"`{c}`:{right.schema[c].dataType.simpleString()}"
                for c in right_payload) + ">").alias("__pay"),
        *[F.col(c) for c in lcols],
    )
    # right row sorts BEFORE a left row at the same instant -> the
    # inclusive (<=) bound
    w = (Window.partitionBy("__key").orderBy("__t", "__side")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    carried = r.unionByName(l).select(
        "__side", *lcols,
        F.last("__pay", ignorenulls=True).over(w).alias("__r"),
    )
    return (carried.filter(F.col("__side") == 1)
            .select(*lcols,
                    *[F.col(f"__r.{c}").alias(c) for c in right_payload]))


def range_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_time: str,
    right_time: str,
    lower_bound_s: int,
    upper_bound_s: int,
) -> DataFrame:
    """Banded range join: pairs with the same ``key`` whose times
    satisfy ``lower_bound_s <= right_time - left_time <=
    upper_bound_s`` (seconds).

    Spark turns a naive time-inequality join into a cross product
    per key (quadratic in rows-per-key — fatal on a hot key at
    100 TB). This operator BANDS the time axis instead: each side
    is bucketed to ``ceil(span)``-second cells, the join runs as an
    equi-join on (key, cell) — left rows are replicated into just
    the cells a match could live in — and the exact predicate
    filters inside each cell. Cost: linear replication factor
    (span/cell + 1, here 2x), shuffle only on (key, cell), perfect
    partition pruning of non-adjacent times.

    Expects both inputs to carry distinct column names apart from
    ``key``.
    """
    span = upper_bound_s - lower_bound_s
    if span <= 0:
        raise ValueError("upper_bound_s must exceed lower_bound_s")
    # microsecond precision end-to-end (unix_timestamp would truncate
    # sub-second gaps and silently change the predicate)
    lower_us = lower_bound_s * 1_000_000
    upper_us = upper_bound_s * 1_000_000
    cell = span * 1_000_000  # band width -> at most 2 candidate cells

    l_cell = F.floor((F.unix_micros(F.col(left_time)) + lower_us) / cell)
    r_cell = F.floor(F.unix_micros(F.col(right_time)) / cell)
    # a right row matching this left row lies in [t+lower, t+upper],
    # which spans at most two cells: l_cell and l_cell + 1
    lx = left.withColumn(
        "__cell", F.explode(F.array(l_cell, l_cell + 1)))
    rx = right.withColumn("__cell", r_cell)
    dt = (F.unix_micros(F.col(right_time))
          - F.unix_micros(F.col(left_time)))
    return (
        lx.join(rx, on=[key, "__cell"])
        .filter((dt >= lower_us) & (dt <= upper_us))
        .drop("__cell")
    )
