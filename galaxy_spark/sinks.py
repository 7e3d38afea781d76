"""Batch sinks: partitioned/keyed data layout at rest.

The reference's sink is topic-per-table Kafka routing
(``internal/mq_manager/kafka/kafka.go:117-118``). The at-rest
analog — and the layout a 100 TB lakehouse actually queries — is
hive-style partitioning by the routing key: one directory per
``(database, table)`` so downstream readers prune to exactly the
tables they ask for, no file listing of the rest.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession


def write_partitioned(df: DataFrame, path: str,
                      partition_cols: Sequence[str] = ("database", "table"),
                      mode: str = "overwrite",
                      max_records_per_file: int = 5_000_000) -> None:
    """Write hive-partitioned parquet keyed like the Kafka sink.

    ``maxRecordsPerFile`` bounds single-file size under hot keys
    (one giant ``db.table`` partition otherwise writes one giant
    file); partition discovery on read gives free pruning for any
    predicate on the partition columns.
    """
    (df.write.mode(mode)
       .option("maxRecordsPerFile", str(max_records_per_file))
       .partitionBy(*partition_cols)
       .parquet(path))


def compact(spark: SparkSession, path: str,
            target_file_mb: int = 256,
            partition_by: Sequence[str] | None = None) -> int:
    """Compact a small-files parquet directory in place.

    Streaming sinks and fine-grained partitioned writes accumulate
    many small files; at 100 TB the file-listing and per-file open
    overhead dominates scan time long before the bytes do. This
    rewrites the dataset into ~``target_file_mb`` files (coalesce —
    no shuffle; file count derived from actual byte size) through a
    temp directory. Returns the new file count.

    ``partition_by`` preserves a hive-partitioned layout (pass the
    same columns the dataset was written with — e.g.
    write_partitioned's keys): partition discovery turns the
    directories into data columns on read, so WITHOUT it the
    rewrite flattens the layout and read-side partition pruning
    silently degrades to full scans. A non-partitioned dir omits it.

    Crash-safety: the swap is rename(path -> .bak), rename(tmp ->
    path), rmtree(.bak). A prior crash is REPAIRED on entry — .bak
    present with path present means the crash was mid-cleanup
    (finish the rmtree); .bak present WITHOUT path means the crash
    was between the renames (restore .bak). Leaving the .bak would
    otherwise brick every future compact (rename onto a non-empty
    dir raises ENOTEMPTY); readers can still race the two renames —
    run compaction in the dataset's write-ownership window, same
    rule as any in-place OPTIMIZE.
    """
    import glob
    import os
    import shutil

    tmp = path.rstrip("/") + ".compact.tmp"
    bak = path.rstrip("/") + ".compact.bak"
    if os.path.isdir(bak):
        if os.path.isdir(path):
            shutil.rmtree(bak)             # crashed mid-cleanup
        else:
            os.rename(bak, path)           # crashed between renames
    if os.path.isdir(tmp):
        shutil.rmtree(tmp)                 # stale staging

    data_files = [f for f in glob.glob(os.path.join(path, "**", "*.parquet"),
                                       recursive=True)]
    total_mb = sum(os.path.getsize(f) for f in data_files) / 1e6
    n_files = max(int(total_mb // target_file_mb) + 1, 1)

    writer = spark.read.parquet(path).coalesce(n_files) \
        .write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(tmp)
    os.rename(path, bak)
    os.rename(tmp, path)
    shutil.rmtree(bak)
    return n_files


def write_sorted(df: DataFrame, path: str, sort_cols: Sequence[str],
                 mode: str = "overwrite",
                 target_partitions: int | None = None) -> None:
    """Range-partition + sort-within-partitions before writing, so
    each parquet row group covers a NARROW, non-overlapping range
    of ``sort_cols`` — the poor man's zone map. Parquet stores
    per-row-group min/max statistics; a reader's pushed predicate
    then skips whole row groups (and with one file per range,
    whole files) instead of scanning everything. This is the
    single-column analog of Z-ordering and the difference between
    "read 100 TB to find one key range" and "read the 3 row groups
    that can contain it".

    ``repartitionByRange`` samples the sort key, so partition
    bounds adapt to skew; the per-partition sort is the map-side
    spillable sort, no global single-reducer sort anywhere.
    """
    ranged = (df.repartitionByRange(target_partitions, *sort_cols)
              if target_partitions else df.repartitionByRange(*sort_cols))
    (ranged.sortWithinPartitions(*sort_cols)
     .write.mode(mode).parquet(path))


def write_zorder(df: DataFrame, path: str, col_a: str, col_b: str,
                 mode: str = "overwrite", bits: int = 12,
                 target_partitions: int = 8) -> None:
    """Two-column Z-ORDER layout: sort by the bit-interleaving of
    the columns' rank-space positions, so every parquet row group
    covers a small RECTANGLE in (a, b) space — predicates on
    EITHER column (or both) skip row groups, where a plain sort
    serves only its leading column (the multi-column generalization
    of ``write_sorted``; same idea as Delta/Iceberg Z-ordering).

    Rank-space first: each column maps to its ``bits``-bit quantile
    position (value-distribution-free, so skewed columns still
    spread across the curve), then the two positions interleave
    bit-by-bit into the z-value — a plain integer column Spark
    range-partitions and sorts like any other.

    The rank-space map is typed (any orderable column works):

    - **numeric** (and **date/timestamp**, via an epoch cast): ONE
      distributed ``approxQuantile`` sketch pass (Greenwald-Khanna:
      partial sketches merge on the driver — no global window, no
      single-reducer sort anywhere); the 2^bits bucket edges come
      back as a driver-side list that ``Bucketizer`` broadcasts and
      binary-searches scan-local. Same curve and layout contract
      (bounded rectangles per row group, pinned in
      tests/test_sinks.py) as an exact percent_rank, at any scale.
    - **string** (no numeric sketch exists): exact rank positions
      via ``with_global_row_index`` — range-partition by the
      column, count per partition (one long per partition to the
      driver), broadcast cumulative offsets back. Two extra
      passes over the data and ties fall where the range
      partitioner splits them, but still no single reducer.
    """
    from pyspark.ml.feature import Bucketizer
    from pyspark.sql import functions as F

    n_buckets = 1 << bits
    src, pos_cols = df, []
    numeric = {"tinyint", "smallint", "int", "bigint", "float",
               "double"}

    for k, c in enumerate((col_a, col_b)):
        dt = dict(src.dtypes)[c]
        pcol = f"__pos{k}"
        if dt in numeric or dt.startswith("decimal"):
            num = F.col(c).cast("double")
        elif dt in ("date", "timestamp", "timestamp_ntz"):
            num = F.col(c).cast("timestamp").cast("double")
        elif dt == "string":
            num = None
        else:
            raise TypeError(
                f"write_zorder: column {c!r} has unorderable-for-"
                f"layout type {dt}; use a numeric, date/timestamp, "
                "or string column")
        if num is None:
            # exact rank path for strings: global index without a
            # single-reducer window (operators/util.py)
            from galaxy_spark.operators.util import with_global_row_index

            # total comes back from the index build's own partition
            # counts — a separate count() was one full wasted scan
            # per string column
            src, total = with_global_row_index(src, [c], index_col=pcol,
                                               return_total=True)
            total = max(total, 1)
            src = src.withColumn(
                pcol, F.least(F.floor((F.col(pcol) - 1)
                                      * F.lit(n_buckets)
                                      / F.lit(total)),
                              F.lit(n_buckets - 1)).cast("long"))
            pos_cols.append(pcol)
            continue
        qcol = f"__q{k}"
        src = src.withColumn(qcol, num)
        probs = [i / n_buckets for i in range(1, n_buckets)]
        edges = src.stat.approxQuantile(qcol, probs,
                                        1.0 / (2 * n_buckets))
        # approxQuantile repeats edges on skewed/low-cardinality
        # columns; Bucketizer needs strictly increasing splits.
        # Fewer distinct edges just means fewer occupied positions.
        if not edges:
            # all-NULL column: no quantiles exist, and a 2-point
            # splits array would crash Bucketizer deep in pyspark.ml
            # — every row shares one position (no layout signal on
            # this axis; the curve degrades to a sort on the other)
            src = src.withColumn(pcol, F.lit(0).cast("long")) \
                     .drop(qcol)
            pos_cols.append(pcol)
            continue
        sp = [float("-inf")] + sorted(set(edges)) + [float("inf")]
        src = Bucketizer(splits=sp, inputCol=qcol, outputCol=pcol,
                         handleInvalid="keep").transform(src)
        # A low-cardinality column occupies only the first
        # (len(sp) - 1) bucket indices; rescale to the full 2^bits
        # range so its HIGH interleave bits still vary (otherwise
        # the curve degenerates into a plain sort on the other
        # column). "keep" routes nulls one past the end; the clamp
        # keeps every position inside `bits` bits.
        scaled = F.floor(F.col(pcol).cast("long")
                         * F.lit(n_buckets) / F.lit(len(sp) - 1))
        src = src.withColumn(
            pcol, F.least(scaled, F.lit(n_buckets - 1)).cast("long"))
        src = src.drop(qcol)
        pos_cols.append(pcol)

    z = F.lit(0).cast("long")
    a_pos, b_pos = F.col(pos_cols[0]), F.col(pos_cols[1])
    for i in range(bits - 1, -1, -1):
        z = z * 4 + F.shiftright(a_pos, i).bitwiseAND(1) * 2 \
            + F.shiftright(b_pos, i).bitwiseAND(1)
    (src.withColumn("__z", z)
        .repartitionByRange(target_partitions, "__z")
        .sortWithinPartitions("__z")
        .drop("__z", *pos_cols)
        .write.mode(mode).parquet(path))
