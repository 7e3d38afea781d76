"""Cross-operator CDC invariants: independent materializations of
the same changelog must agree. These catch semantic drift that
per-query oracles can't (both queries could change together and
still match their own SQL)."""

from __future__ import annotations

from pyspark.sql import functions as F

from galaxy_spark.registry import all_queries
from tests.conftest import SF_ORACLE


def test_scd2_current_rows_equal_snapshot(spark):
    """The is_current slice of the SCD2 history IS the latest-wins
    snapshot: same keys, same values. (SCD2 additionally proves the
    interval chain; the snapshot additionally proves n_changes —
    the overlap is the live-record set.)"""
    q = all_queries()
    scd2 = q["cdc_scd2_history"](spark, SF_ORACLE)
    snap = q["cdc_apply_snapshot"](spark, SF_ORACLE)
    cur = {(r.database, r["table"], r.pk, r.value)
           for r in scd2.filter("is_current").collect()}
    latest = {(r.database, r["table"], r.pk, r.last_value)
              for r in snap.collect()}
    assert cur == latest


def test_scd2_intervals_chain_without_gaps(spark):
    """Within a key, version k's valid_to must equal the next
    change's position and versions must be dense 1..n — i.e. the
    history is a contiguous chain ordered by binlog position."""
    q = all_queries()
    scd2 = q["cdc_scd2_history"](spark, SF_ORACLE)
    rows = scd2.orderBy("database", "table", "pk", "version").collect()
    by_key: dict = {}
    for r in rows:
        by_key.setdefault((r.database, r["table"], r.pk), []).append(r)
    assert by_key, "no history rows"
    for key, versions in by_key.items():
        assert [r.version for r in versions] == list(
            range(1, len(versions) + 1)), f"versions not dense for {key}"
        for a, b in zip(versions, versions[1:]):
            assert a.valid_to is not None and a.valid_to <= b.valid_from, \
                f"interval chain broken for {key}"
        # at most one open version, and only at the chain's end
        opens = [r for r in versions if r.valid_to is None]
        assert len(opens) <= 1
        if opens:
            assert opens[0] is versions[-1]


def test_snapshot_fold_correct_under_100x_hot_key(spark, tmp_path):
    """The realistic CDC skew: one primary key updated 100x more
    than every other. The fold must stay correct (latest-wins by
    position regardless of arrival order) through BOTH the batch
    aggregation and the streaming partial -> durable parquet MERGE
    path; the structural defense (partial aggregation before the
    exchange) is pinned in test_plans, and the join-shaped paths
    keep AQE skew-join on via the session defaults asserted here."""
    import random

    from galaxy_spark.streaming.state_store import (
        SNAPSHOT_SPEC, KeyedParquetStore, partial_snapshot)

    rng = random.Random(42)
    rows = []
    # 50 cold keys x 4 changes, 1 hot key x 20_000 changes (100x)
    pos = 0
    for pk in range(1, 51):
        for _ in range(4):
            pos += 1
            rows.append(("d", "t", "update", pk, float(pos), pos))
    hot_positions = []
    for _ in range(20_000):
        pos += 1
        hot_positions.append(pos)
        rows.append(("d", "t", "update", 999, float(pos), pos))
    rng.shuffle(rows)  # arrival order != position order
    changes = spark.createDataFrame(
        rows, "database string, `table` string, action string, "
              "pk long, v double, pos long").repartition(16)

    folded = (changes.groupBy("database", "table", "pk")
              .agg(F.max_by("action", "pos").alias("last_action"),
                   F.max_by("v", "pos").alias("last_value"),
                   F.max("pos").alias("last_pos"),
                   F.count("*").alias("n_changes")))
    got = {r.pk: (r.last_value, r.last_pos, r.n_changes)
           for r in folded.collect()}
    assert got[999] == (float(max(hot_positions)),
                        max(hot_positions), 20_000)
    assert got[1] == (4.0, 4, 4) and len(got) == 51

    # streaming twin: two skewed "micro-batches" merged into the
    # durable store end at the identical state
    store = KeyedParquetStore(spark, str(tmp_path / "hot_store"),
                              SNAPSHOT_SPEC, n_buckets=4)
    half = len(rows) // 2
    for i, chunk in enumerate((rows[:half], rows[half:])):
        b = spark.createDataFrame(
            chunk, "database string, `table` string, action string, "
                   "pk long, v double, pos long")
        store.merge(partial_snapshot(b), f"lin.{i:012d}")
    want = sorted(("d", "t", pk, v, p, n)
                  for pk, (v, p, n) in got.items())
    assert store.snapshot() == want

    assert spark.conf.get(
        "spark.sql.adaptive.skewJoin.enabled") == "true"


def test_update_with_short_after_image_quarantines(spark):
    """An update whose AFTER image is short (e.g. a mid-DDL race)
    must quarantine, not crash: validating only the coalesced
    (first non-null) image let the bad after row reach
    map_from_arrays and abort the job. Both images are checked now,
    in both projection variants."""
    from pyspark.sql import functions as F

    from galaxy_spark.cdc.projections import (project_changes,
                                              project_changes_by_schema)

    rows = [
        ("d", "t", "update", [["1", "a"], ["2", "b"]]),   # ok
        ("d", "t", "update", [["1", "a"], ["2"]]),        # short AFTER
        ("d", "t", "update", [["1"], ["2", "b"]]),        # short BEFORE
        ("d", "t", "insert", [["1", "a"]]),               # ok
    ]
    df = spark.createDataFrame(
        rows, "database string, table string, action string, "
              "org_row array<array<string>>")

    out = project_changes(df, ["id", "v"]).collect()
    assert [r.quarantined for r in out] == [False, True, True, False]
    assert out[0].after["v"] == "b" and out[3].after["id"] == "1"

    schemas = spark.createDataFrame(
        [("d", "t", ["id", "v"])],
        "database string, table string, columns array<string>")
    out2 = project_changes_by_schema(df, schemas).collect()
    assert [r.quarantined for r in out2] == [False, True, True, False]
