"""Distributed ML via sufficient statistics.

The scalable form of classical model fitting: fold the data to a
tiny exact-integer statistic vector with ONE partial-aggregated
exchange (the same discipline as embeddings_second_moments), then
solve the model from the statistics — never iterate over rows, and
never let float partial-sum order into the result. At 100 TB this
is the only OLS plan that works: the data pass is a map-side-
combined agg whose output is O(groups), and the solve is O(1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from galaxy_spark.registry import register
from galaxy_spark.tables import load_table

_OLS_NUM = ("(CAST(n AS DOUBLE)*sxy - CAST(sx AS DOUBLE)*sy)")
_OLS_DEN = ("(CAST(n AS DOUBLE)*sxx - CAST(sx AS DOUBLE)*sx)")


def _ols_stats(li: DataFrame, key, key_name: str) -> DataFrame:
    """The six-statistic fold shared by EVERY OLS query in this
    module (the Spark twin of the `_OLS_NUM`/`_OLS_DEN` SQL
    sharing): cents-quantized x/y, exact int64 n/Σx/Σy,
    DECIMAL(38,0)-folded product sums cast to double. ONE
    implementation so a determinism fix (like the r7 DECIMAL
    overflow fix) can never apply to one fit and miss another.
    Every statistic is an exact integer under a SUM monoid, so any
    split of the input sums to the same integers, and the double
    cast — the one lossy step — happens once, on identical
    values."""
    q = li.select(
        key.alias(key_name),
        F.round(F.col("l_quantity") * 100, 0).cast("long").alias("xi"),
        F.round(F.col("l_extendedprice") * 100, 0).cast("long")
        .alias("yi"))
    s = q.groupBy(key_name).agg(
        F.count("*").cast("long").alias("n"),
        F.sum("xi").alias("sx"),
        F.sum("yi").alias("sy"),
        F.sum((F.col("xi") * F.col("xi")).cast("decimal(38,0)"))
        .alias("sxx"),
        F.sum((F.col("xi") * F.col("yi")).cast("decimal(38,0)"))
        .alias("sxy"),
        F.sum((F.col("yi") * F.col("yi")).cast("decimal(38,0)"))
        .alias("syy"))
    return s.select(
        key_name, "n", "sx", "sy",
        F.col("sxx").cast("double").alias("sxx"),
        F.col("sxy").cast("double").alias("sxy"),
        F.col("syy").cast("double").alias("syy"))


def _ols_solve():
    """The normal-equation expression tree over the six statistics
    — identical IEEE op order in every user. Returns
    (num, den, ydev, intercept_expr)."""
    nd = F.col("n").cast("double")
    sxd, syd = F.col("sx").cast("double"), F.col("sy").cast("double")
    num = nd * F.col("sxy") - sxd * F.col("sy")
    den = nd * F.col("sxx") - sxd * F.col("sx")
    ydev = nd * F.col("syy") - syd * F.col("sy")
    intercept = (syd * F.col("sxx") - sxd * F.col("sxy")) / den
    return num, den, ydev, intercept


@register(
    "ml_ols_price_on_quantity",
    oracle=f"""
    WITH q AS (
        SELECT l_returnflag AS returnflag,
               CAST(ROUND(l_quantity * 100, 0) AS BIGINT) AS xi,
               CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS yi
        FROM lineitem
    ), s AS (
        SELECT returnflag,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(xi) AS BIGINT) AS sx,
               CAST(SUM(yi) AS BIGINT) AS sy,
               CAST(SUM(xi * xi) AS DOUBLE) AS sxx,
               CAST(SUM(xi * yi) AS DOUBLE) AS sxy,
               CAST(SUM(yi * yi) AS DOUBLE) AS syy
        FROM q GROUP BY 1
    )
    SELECT returnflag, n, sx, sy,
           ROUND({_OLS_NUM} / {_OLS_DEN}, 6) AS slope,
           ROUND((CAST(sy AS DOUBLE)*sxx - CAST(sx AS DOUBLE)*sxy)
                 / {_OLS_DEN}, 6) AS intercept_cents,
           ROUND(({_OLS_NUM} * {_OLS_NUM})
                 / ({_OLS_DEN}
                    * (CAST(n AS DOUBLE)*syy - CAST(sy AS DOUBLE)*sy)),
                 6) AS r2
    FROM s
    """,
)
def ml_ols_price_on_quantity(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Per-returnflag least-squares fit of extendedprice ~ quantity
    from SUFFICIENT STATISTICS: one grouped aggregation accumulates
    (n, Σx, Σy, Σx², Σxy, Σy²) over int64-cents-quantized columns,
    and slope / intercept / R² come from the closed-form normal
    equations on those six numbers — the one-pass, one-exchange
    regression every feature-quality dashboard runs at warehouse
    scale (vs. iterating gradient steps over rows).

    Determinism: the model is DEFINED on the cents-quantized data
    (ROUND(v*100) of measured doubles is exact — SCALE.md rule).
    n/Σx/Σy are exact int64 sums, order-free under partial
    aggregation; the three PRODUCT statistics (Σx², Σxy, Σy² — the
    per-row products reach ~1.2e14, so their sums cross int64
    around 1e5-1e9 rows depending on the axis) fold as
    DECIMAL(38,0) in Spark and HUGEINT in DuckDB — both exact —
    and both cast the exact integer to double (correctly rounded,
    identical). The solve is a fixed tree of IEEE ops over those
    identical doubles, rounded at 1e-6. A driver-side numpy.polyfit
    cross-check pins the algebra (tests/test_ml.py).
    """
    li = load_table(spark, sf_dir, "lineitem")
    s = _ols_stats(li, F.col("l_returnflag"), "returnflag")
    num, den, ydev, intercept = _ols_solve()
    return s.select(
        "returnflag", "n", "sx", "sy",
        F.round(num / den, 6).alias("slope"),
        F.round(intercept, 6).alias("intercept_cents"),
        F.round((num * num) / (den * ydev), 6).alias("r2"))


@register(
    "ml_ols_per_part",
    oracle=f"""
    WITH q AS (
        SELECT l_partkey AS partkey,
               CAST(ROUND(l_quantity * 100, 0) AS BIGINT) AS xi,
               CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS yi
        FROM lineitem
    ), s AS (
        SELECT partkey,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(xi) AS BIGINT) AS sx,
               CAST(SUM(yi) AS BIGINT) AS sy,
               CAST(SUM(xi * xi) AS DOUBLE) AS sxx,
               CAST(SUM(xi * yi) AS DOUBLE) AS sxy,
               CAST(SUM(yi * yi) AS DOUBLE) AS syy
        FROM q GROUP BY 1
    )
    SELECT partkey, n,
           CASE WHEN {_OLS_DEN} = 0 THEN NULL
                ELSE ROUND({_OLS_NUM} / {_OLS_DEN}, 6) END AS slope,
           CASE WHEN {_OLS_DEN} = 0 THEN NULL
                ELSE ROUND((CAST(sy AS DOUBLE)*sxx
                            - CAST(sx AS DOUBLE)*sxy)
                           / {_OLS_DEN}, 6) END AS intercept_cents,
           CASE WHEN {_OLS_DEN} * (CAST(n AS DOUBLE)*syy
                                   - CAST(sy AS DOUBLE)*sy) = 0
                THEN NULL
                ELSE ROUND(({_OLS_NUM} * {_OLS_NUM})
                           / ({_OLS_DEN}
                              * (CAST(n AS DOUBLE)*syy
                                 - CAST(sy AS DOUBLE)*sy)), 6)
           END AS r2
    FROM s
    """,
)
def ml_ols_per_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-KEY regression at GROUP-SCALE — one fit per part
    (thousands of keys here; the same plan at millions): the
    grouped-map-UDF use case ("fit a model per key") expressed as
    pure sufficient statistics instead, because a grouped-map
    Pandas UDF must SHUFFLE EVERY ROW to its group and hold each
    whole group in one worker's memory, while this plan
    partial-aggregates the six statistics map-side — the exchange
    carries O(groups) rows, never O(rows) — and no group ever
    materializes anywhere.

    Degenerate groups are the point of a per-key fit: a part with
    one lineitem (or all-equal quantities) has zero x-variance, so
    slope/intercept are NULL (guarded identically in both engines:
    the den==0 test is one IEEE expression over exact-integer-cast
    doubles — bit-identical inputs, bit-identical zero). R² is
    additionally NULL when y-variance is zero. Same determinism
    contract as ``ml_ols_price_on_quantity`` (exact int64 /
    DECIMAL(38,0)-HUGEINT statistics; fixed IEEE solve tree;
    ROUND 1e-6).
    """
    li = load_table(spark, sf_dir, "lineitem")
    s = _ols_stats(li, F.col("l_partkey"), "partkey")
    num, den, ydev, intercept = _ols_solve()
    return s.select(
        "partkey", "n",
        F.when(den != 0, F.round(num / den, 6)).alias("slope"),
        F.when(den != 0, F.round(intercept, 6))
        .alias("intercept_cents"),
        F.when(den * ydev != 0,
               F.round((num * num) / (den * ydev), 6)).alias("r2"))
