"""Partitioned sink layout + partition pruning on read-back."""

from __future__ import annotations

from pyspark.sql import functions as F

from galaxy_spark.cdc.envelope import envelope_from_events
from galaxy_spark.plans import partition_filters
from galaxy_spark.sinks import write_partitioned
from galaxy_spark.tables import load_table
from tests.conftest import SF_SMOKE


def test_partitioned_write_and_pruning(spark, tmp_path):
    env = envelope_from_events(load_table(spark, SF_SMOKE, "events"))
    out = str(tmp_path / "routed")
    write_partitioned(env, out, ("database", "table"))

    back = spark.read.parquet(out)
    assert back.count() == env.count()

    pruned = back.filter((F.col("database") == "db0")
                         & (F.col("table") == "click"))
    pf = partition_filters(pruned)
    assert any("database" in f for f in pf), \
        "partition predicate must prune directories, not filter rows"
    exp = env.filter((F.col("database") == "db0")
                     & (F.col("table") == "click")).count()
    assert pruned.count() == exp > 0


def test_compact_preserves_data(spark, tmp_path):
    from galaxy_spark.sinks import compact

    out = str(tmp_path / "many_small")
    ev = load_table(spark, SF_SMOKE, "events")
    ev.repartition(40).write.mode("overwrite").parquet(out)  # 40 small files
    import glob
    assert len(glob.glob(out + "/*.parquet")) == 40

    before = sorted(map(tuple, spark.read.parquet(out).collect()))
    n = compact(spark, out, target_file_mb=256)
    files = glob.glob(out + "/*.parquet")
    assert len(files) == n == 1   # tiny data -> one file
    assert sorted(map(tuple, spark.read.parquet(out).collect())) == before


def test_sorted_write_produces_disjoint_row_group_ranges(spark, tmp_path):
    """write_sorted's contract is the LAYOUT: parquet row-group
    min/max stats on the sort column must be (near-)disjoint so a
    point/range predicate can skip row groups. Pinned directly on
    the footers via pyarrow: sorted layout -> non-overlapping
    [min, max] ranges across row groups; the unsorted control
    overlaps almost everywhere."""
    import glob

    import pyarrow.parquet as pq

    from galaxy_spark import sinks
    from galaxy_spark.tables import load_table

    docs = load_table(spark, SF_SMOKE, "documents")

    def ranges(path):
        out = []
        for f in glob.glob(f"{path}/*.parquet"):
            meta = pq.ParquetFile(f).metadata
            for rg in range(meta.num_row_groups):
                col = next(meta.row_group(rg).column(i)
                           for i in range(meta.num_columns)
                           if meta.row_group(rg).column(i).path_in_schema
                           == "doc_id")
                out.append((col.statistics.min, col.statistics.max))
        return sorted(out)

    sorted_path = str(tmp_path / "sorted")
    sinks.write_sorted(docs, sorted_path, ["doc_id"], target_partitions=4)
    rs = ranges(sorted_path)
    assert len(rs) >= 4
    for (lo1, hi1), (lo2, hi2) in zip(rs, rs[1:]):
        assert hi1 < lo2, f"overlapping sorted row groups: {rs}"

    unsorted_path = str(tmp_path / "unsorted")
    docs.repartition(4).write.mode("overwrite").parquet(unsorted_path)
    ru = ranges(unsorted_path)
    overlaps = sum(1 for (l1, h1), (l2, h2) in zip(ru, ru[1:]) if h1 >= l2)
    assert overlaps >= len(ru) - 2, "control layout unexpectedly sorted"


def test_zorder_layout_bounds_rectangles_on_both_columns(spark, tmp_path):
    """Z-order contract: each row group covers a bounded span of
    BOTH columns, so a predicate on EITHER column alone skips row
    groups. (Mean rectangle AREA is the wrong instrument — a plain
    sort matches it by making one side infinitesimal and the other
    full-range.) Pinned on the parquet footers: under z-order the
    mean normalized per-column spans are both well below 1; under
    the single-column control the trailing column spans ~the full
    range in every row group."""
    import glob

    import pyarrow.parquet as pq

    from galaxy_spark import sinks
    from galaxy_spark.tables import load_table

    ev = load_table(spark, SF_SMOKE, "events") \
        .select("event_id", "user_id", "value")

    def mean_spans(path):
        rows, mins, maxs = [], {"event_id": [], "user_id": []}, \
            {"event_id": [], "user_id": []}
        for f in glob.glob(f"{path}/*.parquet"):
            meta = pq.ParquetFile(f).metadata
            for rg in range(meta.num_row_groups):
                row = {}
                for i in range(meta.num_columns):
                    c = meta.row_group(rg).column(i)
                    if c.path_in_schema in mins:
                        row[c.path_in_schema] = (c.statistics.min,
                                                 c.statistics.max)
                rows.append(row)
                for k, (lo, hi) in row.items():
                    mins[k].append(lo)
                    maxs[k].append(hi)
        full = {k: max(max(maxs[k]) - min(mins[k]), 1) for k in mins}
        return {k: sum((r[k][1] - r[k][0]) / full[k] for r in rows)
                / len(rows) for k in mins}

    zpath = str(tmp_path / "zorder")
    sinks.write_zorder(ev, zpath, "event_id", "user_id",
                       target_partitions=16)
    zs = mean_spans(zpath)

    spath = str(tmp_path / "single")
    sinks.write_sorted(ev, spath, ["event_id"], target_partitions=16)
    ss = mean_spans(spath)

    # single-col sort: leading column tight, trailing ~full range
    assert ss["event_id"] < 0.2 and ss["user_id"] > 0.8, ss
    # z-order: BOTH columns bounded well below full range
    assert zs["event_id"] < 0.6 and zs["user_id"] < 0.6, zs


def test_zorder_handles_string_and_timestamp_columns(spark, tmp_path):
    """The non-numeric rank paths: a STRING column rides the exact
    global-row-index ranks (no single reducer), a TIMESTAMP column
    the epoch cast + quantile sketch — both interleave into a
    layout where row groups stay bounded on each column. An
    unorderable (array) column raises a clear TypeError instead of
    failing inside approxQuantile."""
    import glob

    import pyarrow.parquet as pq
    import pytest

    from pyspark.sql import functions as F

    from galaxy_spark import sinks
    from galaxy_spark.tables import load_table

    ev = load_table(spark, SF_SMOKE, "events") \
        .select("event_type", "ts", "value")
    zpath = str(tmp_path / "z_str_ts")
    sinks.write_zorder(ev, zpath, "event_type", "ts",
                       target_partitions=16)

    types = sorted(r[0] for r in
                   ev.select("event_type").distinct().collect())
    rank = {t: i for i, t in enumerate(types)}
    n_rows, spans = 0, []
    for f in glob.glob(f"{zpath}/*.parquet"):
        meta = pq.ParquetFile(f).metadata
        n_rows += meta.num_rows
        for rg in range(meta.num_row_groups):
            for i in range(meta.num_columns):
                c = meta.row_group(rg).column(i)
                if c.path_in_schema == "event_type":
                    spans.append(rank[c.statistics.max]
                                 - rank[c.statistics.min])
    assert n_rows == ev.count()
    # 5 distinct types: a z-rectangle covers a BOUNDED slice of the
    # type axis (adjacent types), never the full range a plain
    # ts-sort would give each row group
    assert len(spans) >= 8
    assert sum(spans) / len(spans) <= 2.0, spans
    assert max(spans) < len(types) - 1 or spans.count(
        len(types) - 1) / len(spans) < 0.25, spans

    with pytest.raises(TypeError, match="write_zorder"):
        sinks.write_zorder(
            ev.withColumn("arr", F.array(F.lit(1))),
            str(tmp_path / "z_bad"), "arr", "value")


def test_compact_repairs_crash_leftovers_and_keeps_partitions(spark,
                                                              tmp_path):
    """compact() crash-safety + layout: (a) a leftover .compact.bak
    from a crash between the renames is restored (and one from a
    crash mid-cleanup is swept) instead of bricking every future
    compact with ENOTEMPTY; (b) partition_by preserves the hive
    layout so read-side pruning survives compaction."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from galaxy_spark.sinks import compact, write_partitioned

    path = str(tmp_path / "cds")
    df = spark.range(200).select(
        (F.col("id") % 3).cast("string").alias("database"),
        (F.col("id") % 5).cast("string").alias("table"),
        F.col("id").alias("v"))
    write_partitioned(df, path)

    # crash between the renames: path gone, .bak holds the data
    bak = path + ".compact.bak"
    os.rename(path, bak)
    n = compact(spark, path, partition_by=("database", "table"))
    assert n >= 1
    assert spark.read.parquet(path).count() == 200
    assert not os.path.exists(bak)
    # hive layout survived -> partition dirs still exist
    assert any(d.startswith("database=") for d in os.listdir(path))

    # crash mid-cleanup: .bak AND path both present -> bak swept
    shutil.copytree(path, bak)
    compact(spark, path, partition_by=("database", "table"))
    assert not os.path.exists(bak)
    assert spark.read.parquet(path).count() == 200


def test_zorder_all_null_column_degrades_cleanly(spark, tmp_path):
    """An entirely-NULL numeric column must not crash Bucketizer
    (approxQuantile returns no edges); the curve degrades to a sort
    on the other column and every row round-trips."""
    from pyspark.sql import functions as F

    from galaxy_spark.sinks import write_zorder

    path = str(tmp_path / "znull")
    df = spark.range(100).select(
        F.lit(None).cast("double").alias("a"),
        F.col("id").cast("double").alias("b"))
    write_zorder(df, path, "a", "b", bits=4, target_partitions=2)
    assert spark.read.parquet(path).count() == 100


def test_read_json_corrupt_record_with_explicit_schema(spark, tmp_path):
    """The quarantine contract must hold for the NORMAL call shape
    (explicit data-only schema): a malformed line must surface in
    _corrupt_record, not silently become an all-null row."""
    import os

    from galaxy_spark.sources.readers import read_json_table

    p = str(tmp_path / "j")
    os.makedirs(p)
    with open(os.path.join(p, "part.json"), "w") as f:
        f.write('{"id": 1, "name": "ok"}\n')
        f.write('{"id": 2, "name": BROKEN\n')
    out = read_json_table(spark, p, schema="id long, name string")
    rows = out.collect()
    assert len(rows) == 2
    bad = [r for r in rows if r._corrupt_record is not None]
    assert len(bad) == 1 and "BROKEN" in bad[0]._corrupt_record
    good = [r for r in rows if r._corrupt_record is None]
    assert good[0].id == 1 and good[0].name == "ok"
