"""as-of join operator: semantics checked against a tiny hand-built
fixture (inclusive bound, left-outer nulls, latest-wins)."""

from __future__ import annotations

import datetime as dt

from galaxy_spark.operators.joins import asof_join


def _ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


def test_asof_join_semantics(spark):
    left = spark.createDataFrame(
        [(1, 100, _ts("2024-01-05")),   # after two right rows -> latest
         (2, 100, _ts("2024-01-02")),   # exactly at a right ts -> inclusive
         (3, 100, _ts("2024-01-01")),   # before any right row -> null
         (4, 200, _ts("2024-01-09")),   # other key
         (5, 300, _ts("2024-01-09"))],  # key with no right rows
        "event_id long, k long, ts timestamp")
    right = spark.createDataFrame(
        [(100, _ts("2024-01-02"), 11),
         (100, _ts("2024-01-04"), 12),
         (200, _ts("2024-01-08"), 21)],
        "k long, rts timestamp, payload long")

    out = asof_join(left, right, left_on="k", right_on="k",
                    left_time="ts", right_time="rts",
                    right_payload=["payload"])
    got = {r.event_id: r.payload for r in out.collect()}
    assert got == {1: 12, 2: 11, 3: None, 4: 21, 5: None}
    assert out.count() == left.count()  # never duplicates left rows


def test_asof_join_carries_whole_rows_not_columns(spark):
    """A right row with a genuinely-NULL payload field must win the
    as-of lookup ATOMICALLY: per-column ignorenulls carry-forward
    used to skip the NULL and stitch a (x, y) combination that never
    existed in the right table."""
    from galaxy_spark.operators.joins import asof_join

    right = spark.createDataFrame(
        [("k", 1, 1, 10), ("k", 2, None, 20)],
        "key string, t long, x int, y int")
    left = spark.createDataFrame([("k", 3), ("k", 0)],
                                 "key string, lt long")
    out = {r.lt: r for r in asof_join(
        left, right, "key", "key", "lt", "t", ["x", "y"]).collect()}
    assert out[3].x is None and out[3].y == 20   # the t=2 ROW
    assert out[0].x is None and out[0].y is None  # nothing prior
