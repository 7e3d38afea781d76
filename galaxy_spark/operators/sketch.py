"""Mergeable-sketch primitives shared across query modules.

HyperLogLog register arithmetic lives HERE (operator layer), not in
a query module: queries/indexing.py's global-cardinality query and
queries/graphs.py's per-node HyperBall both build on the same
(bucket, rho) hash algebra, and the cross-import of another query
module's underscore-privates was the wrong layering. Everything is
engine-portable integer arithmetic — md5-slice BIGINT hash, top-P
bucket bits, leading-zero rank via string search on the lpad'ed
binary expansion (no float log2) — so a DuckDB oracle can restate
it verbatim; see agg_hll_cardinality_bound for the certification.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

HLL_P = 8                     # 2^8 = 256 buckets
HLL_M = 1 << HLL_P
HLL_WBITS = 48 - HLL_P        # rank bits after the bucket prefix
HLL_2P50 = 1 << 50            # integer harmonic scale: 2^50


def hll_bucket_rho(key, p: int = HLL_P) -> tuple:
    """The (bucket, rho) pair for one key — the engine-portable HLL
    hash arithmetic. Shared by the global-cardinality registers
    (queries/indexing.py:agg_hll_cardinality_bound), the per-node
    HyperBall registers (queries/graphs.py:graph_hyperball_ball2),
    and the sliding-window registers (``p`` trades memory for
    error: m = 2^p cells, se = 1.04/sqrt(m); small windows want a
    small m so the raw-regime floor 2.5*m stays below the window's
    true cardinality)."""
    wbits = 48 - p
    hv = F.conv(F.substring(F.md5(key.cast("string")),
                            1, 12), 16, 10).cast("long")
    w = hv.bitwiseAND(F.lit((1 << wbits) - 1))
    binstr = F.lpad(F.bin(w), wbits, "0")
    rho = F.when(F.instr(binstr, "1") == 0,
                 F.lit(wbits + 1)).otherwise(F.instr(binstr, "1"))
    return (F.shiftright(hv, wbits).alias("bucket"),
            rho.alias("rho"))


def hll_registers(df: DataFrame, key) -> DataFrame:
    """The HLL register build as a reusable frame: one row per
    occupied bucket with the max leading-zero rank. Registers are a
    bucket-wise MAX monoid — computing them per stratum / day /
    partition and cell-wise max-merging equals computing them
    globally (pinned in tests/test_graph.py::
    test_hll_registers_merge_across_strata) — which is what makes
    the sketch a 100 TB primitive: fixed 256-cell state, mergeable
    across any partitioning."""
    bucket, rho = hll_bucket_rho(key)
    return (df.select(bucket, rho)
            .groupBy("bucket").agg(F.max("rho").alias("register")))


def sliding_hll_estimates(regs: DataFrame, days: DataFrame,
                          window_days: int, p: int,
                          alpha: float) -> DataFrame:
    """Trailing-``window_days`` HLL estimates from per-day registers:
    explode each (day, bucket, register) row onto the target days it
    serves (the frame is O(calendar * m) — corpus-size-independent,
    so the fan-out is free), restrict to the day universe, cell-wise
    MAX merge, then occupied/harmonic/estimate per target day in the
    repo's engine-exact arithmetic (integer harmonic numerator; one
    identically-ordered IEEE op for the estimate).

    The arithmetic of the batch certification query
    (``queries/events.py:agg_hll_sliding_distinct_users``).

    ``regs``: (day date, bucket long, register int-ish);
    ``days``: one column ``tday`` — the target-day universe.
    Returns (day, occupied, harmonic_num, est).
    """
    m = 1 << p
    offs = F.explode(
        F.sequence(F.lit(0), F.lit(window_days - 1))).alias("off")
    merged = (regs.select("day", "bucket", "register", offs)
              .select(F.date_add("day", F.col("off")).alias("tday"),
                      "bucket", "register")
              .join(F.broadcast(days), "tday")
              .groupBy("tday", "bucket")
              .agg(F.max("register").alias("register")))
    agg = merged.groupBy("tday").agg(
        F.count("*").cast("long").alias("occupied"),
        F.sum(F.pow(F.lit(2.0), F.lit(50) - F.col("register"))
              .cast("long")).cast("long").alias("t_occ"))
    t = agg.select(
        F.col("tday").alias("day"), "occupied",
        (F.col("t_occ") + (F.lit(m) - F.col("occupied"))
         * F.lit(HLL_2P50)).cast("long").alias("harmonic_num"))
    est = F.round(F.lit(alpha) * F.lit(float(m * m))
                  * F.lit(float(HLL_2P50)) / F.col("harmonic_num"), 6)
    return t.select("day", "occupied", "harmonic_num",
                    est.alias("est"))


def global_hll_estimate(harmonic_col):
    """The global-cardinality estimate expression at the default
    p=8 precision: alpha_256 * m^2 * 2^50 / T in ONE fixed IEEE
    operation order — shared by the batch certification query
    (``queries/indexing.py:agg_hll_cardinality_bound``) and the
    HyperBall ball-size estimate (``queries/graphs.py``), so the two
    estimates cannot drift."""
    return F.round((F.lit(0.7213) / (F.lit(1.0)
                                     + F.lit(1.079) / F.lit(256.0)))
                   * F.lit(65536.0) * F.lit(1125899906842624.0)
                   / harmonic_col, 6)
