"""Shared operator utilities."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Row/element budget below which the graph family's |V|-state and
#: adjacency frames take an explicit broadcast hint. Sizing: a
#: broadcast hash relation costs ~40-60 bytes per narrow (long,
#: long) entry, so 16M rows is a few hundred MB to 1 GB resident on
#: the driver and every executor — inside the optimization guide's
#: "a few hundred MB is usually fine" band (§3.1) and far under the
#: 8 GB / 512M-row hard cap. For adjacency-array frames the budget
#: is compared against the ELEMENT count (Σ successor-array
#: lengths = the oriented half-edge count), which is the broadcast
#: payload, not the row count. Override per deployment with
#: $GALAXY_SPARK_BCAST_MAX_ROWS (0 disables every gated hint — the
#: plans degrade to shuffle joins, one more exchange each, never a
#: forced over-budget broadcast).
_BCAST_MAX_ROWS_ENV = "GALAXY_SPARK_BCAST_MAX_ROWS"
_BCAST_MAX_ROWS_DEFAULT = 16_000_000


def bcast_max_rows() -> int:
    """The configured broadcast-hint budget (rows/elements)."""
    return int(os.environ.get(_BCAST_MAX_ROWS_ENV,
                              _BCAST_MAX_ROWS_DEFAULT))


def within_broadcast_budget(bound_frame: DataFrame) -> bool:
    """True when ``bound_frame``'s row count fits the hint budget.

    One cheap count: call it on a frame the caller has (or is about
    to) localCheckpoint so the count reads materialized blocks the
    query needs anyway — the count is then the size oracle the
    checkpointed LogicalRDD otherwise lacks (Catalyst sees no
    estimate and would either plan sort-merge everywhere, the r14
    problem, or obey a hard-coded hint it cannot undo at scale, the
    r14 verdict's scale-safety hole)."""
    return bound_frame.count() <= bcast_max_rows()


def state_broadcast(df: DataFrame, small: bool) -> DataFrame:
    """Broadcast-hint a state/adjacency frame only when the caller's
    measured bound says it fits (``within_broadcast_budget``).
    Past the budget the frame is returned unhinted and the join
    degrades to the documented shuffle plan instead of a forced
    broadcast that would OOM the driver at 100 TB."""
    return F.broadcast(df) if small else df


def spread(df: DataFrame, *cols: str) -> DataFrame:
    """Fan a narrow input out to the session's parallelism BEFORE
    expensive per-row compute (shingling, hashing, Pandas-UDF
    stages).

    Small test corpora arrive as one parquet file -> a 1-partition
    scan, which would otherwise run the whole downstream expression
    tree single-threaded. At real scale the scan already yields >=
    parallelism splits and this is a no-op (checked via the physical
    partition count, so no shuffle is added when none is needed).
    Passing key columns makes the exchange a hash partitioning that
    a following groupBy on the same keys can reuse (no second
    shuffle).
    """
    n = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= n:
        return df
    return df.repartition(n, *cols) if cols else df.repartition(n)


def with_global_row_index(df, order_cols, index_col: str = "row_idx",
                          return_total: bool = False):
    """Globally-ordered 1-based row index WITHOUT the single-reducer
    trap.

    ``row_number() OVER (ORDER BY ...)`` with no PARTITION BY pulls
    the entire dataset through ONE task — the canonical way to stall
    a 100 TB job. This operator instead:

    1. range-partitions by the order columns (sorted partitions,
       parallel),
    2. counts rows per partition (tiny driver-side collect:
       one long per partition),
    3. broadcasts cumulative offsets back and adds
       ``offset + local row_number`` per partition.

    Ties across partition boundaries are broken by the range
    partitioner's split, so pass a total ordering (include a unique
    key in ``order_cols``) for deterministic output.

    ``return_total=True`` returns ``(df, total_rows)`` — the total
    is the sum of the per-partition counts already collected, so
    callers that need it (write_zorder's rank normalization) avoid
    a whole extra count() pass over the data.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    # localCheckpoint PINS the range exchange: the counts collect
    # and the caller's later action are separate jobs, and an
    # un-persisted repartitionByRange re-samples its partition
    # bounds per execution (seeded off the RDD id) — boundary rows
    # could land in a different partition than the one whose count
    # was collected, silently duplicating/skipping indices
    ranged = (df.repartitionByRange(*order_cols)
              .sortWithinPartitions(*order_cols)
              .withColumn("__pid", F.spark_partition_id())
              .localCheckpoint(eager=False))
    counts = {r["__pid"]: r["n"] for r in
              ranged.groupBy("__pid").agg(F.count("*").alias("n")).collect()}
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    off_df = ranged.sparkSession.createDataFrame(
        [(pid, off) for pid, off in offsets.items()],
        "__pid int, __offset long")
    w = Window.partitionBy("__pid").orderBy(*order_cols)
    out = (ranged.join(F.broadcast(off_df), "__pid")
           .withColumn(index_col,
                       (F.col("__offset") + F.row_number().over(w))
                       .cast("long"))
           .drop("__pid", "__offset"))
    return (out, acc) if return_total else out


def stratified_hash_sample(df: DataFrame, strata_col: str, key_col: str,
                           fractions: dict, seed: int = 42) -> DataFrame:
    """Layout-independent stratified Bernoulli sample: keep a row iff
    the first 8 hex chars of ``md5(seed:key)`` fall below its
    stratum's threshold (``fraction * 16^8``).

    Unlike ``sampleBy`` (deterministic only per partition layout),
    the sample is a pure function of (seed, key) — reproducible
    across repartitioning, engines, and reruns, which is what a
    100 TB corpus refresh needs (re-run = same sample, and the
    sample can be audited in any engine with md5). One scan, no
    shuffle: the threshold is a CASE over the stratum column and
    the hash is scan-local.
    """
    from pyspark.sql import functions as F

    thr = F.lit("00000000")  # unlisted strata -> drop
    for stratum, frac in fractions.items():
        if not 0.0 <= frac <= 1.0:
            raise ValueError(f"fraction out of [0,1]: {stratum}={frac}")
        # "g" sorts above every hex digit -> keep-all; strict < below
        hex_thr = "g" if frac == 1.0 else format(int(frac * 16**8), "08x")
        thr = F.when(F.col(strata_col) == stratum, F.lit(hex_thr)).otherwise(thr)
    h = F.substring(
        F.md5(F.concat_ws(":", F.lit(str(seed)),
                          F.col(key_col).cast("string"))), 1, 8)
    return df.filter(h < thr)


def hash_split(df: DataFrame, key_col: str, splits, seed: int = 13):
    """Deterministic disjoint-split assignment (train/valid/test):
    label each row by which cumulative md5-hash band its key falls
    into. ``splits`` is an ordered sequence of (name, fraction)
    whose fractions sum to 1.0.

    Same layout-independence argument as ``stratified_hash_sample``
    — the assignment is a pure function of (seed, key), so a corpus
    refresh, a repartition, or a different engine reproduces the
    identical split (and a row can never land in two splits or in
    none: the bands partition the hash space by construction, which
    a trio of independent Bernoulli samples cannot guarantee). One
    scan-local CASE, no shuffle, no state.

    Returns df with a ``split`` column appended.
    """
    from pyspark.sql import functions as F

    fracs = [f for _, f in splits]
    if abs(sum(fracs) - 1.0) > 1e-9 or any(f < 0 for f in fracs):
        raise ValueError(f"split fractions must be >=0 and sum to 1: {splits}")
    h = F.substring(
        F.md5(F.concat_ws(":", F.lit(str(seed)),
                          F.col(key_col).cast("string"))), 1, 8)
    # walk bands from the top: ELSE = last split, then stack
    # strict-< upper bounds for the preceding ones
    expr = F.lit(splits[-1][0])
    cum = 0.0
    bounds = []
    for name, frac in splits[:-1]:
        cum += frac
        # a cumulative bound at (or float-accumulated past) 1.0
        # would format as 9 hex chars and break the lexicographic
        # band compare ('100000000' < any hash starting f..1) —
        # clamp to the keep-all sentinel exactly like
        # stratified_hash_sample ('g' sorts above every hex digit)
        hex_thr = ("g" if cum >= 1.0 - 1e-12
                   else format(min(int(cum * 16**8), 16**8 - 1),
                               "08x"))
        bounds.append((name, hex_thr))
    for name, hex_thr in reversed(bounds):
        expr = F.when(h < F.lit(hex_thr), F.lit(name)).otherwise(expr)
    return df.withColumn("split", expr)
