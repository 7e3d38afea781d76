"""Event-stream analytics (batch-checkable equivalents of the
streaming surface: JSON extraction, windowed aggregation,
sessionization). The live streaming variants are assembled in
galaxy_spark.streaming and tested with the memory sink; these batch
twins give the DuckDB oracle something to verify.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from galaxy_spark.registry import register
from galaxy_spark.tables import load_table


@register(
    "events_json_extract",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
             AS k_total,
           COUNT(*) AS n_events
    FROM events GROUP BY event_type
    """,
)
def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON prop extraction (``get_json_object``) + aggregation."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.sum(F.get_json_object("props", "$.k").cast("long")).alias("k_total"),
        F.count("*").alias("n_events"),
    )


@register(
    "events_tumbling_window",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 2) AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def events_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1h window aggregation (``F.window``)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"),
             F.round(F.sum("value"), 2).alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "event_type",
                "n_events", "total_value")
    )


@register(
    "events_sessionization",
    oracle="""
    WITH gaps AS (
        SELECT user_id, ts, event_id, value,
               CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER
                         (PARTITION BY user_id ORDER BY ts, event_id)
                         > 1800000000
                    OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS is_new
        FROM events
    ), sess AS (
        SELECT user_id, ts, value,
               SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS session_id
        FROM gaps
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           COUNT(*) AS n_events, ROUND(SUM(value), 2) AS session_value,
           MIN(ts) AS session_start
    FROM sess GROUP BY user_id, session_id
    """,
)
def events_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands sessionization (30 min inactivity gap).

    Batch twin of streaming ``session_window``; one shuffle on
    user_id, two window passes over the same sort order (Spark
    reuses the sort).
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # exact microsecond gap (truncating to seconds would disagree
    # with the oracle at window boundaries)
    gap = F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)
    with_flag = ev.withColumn(
        "is_new",
        F.when(gap.isNull() | (gap > 30 * 60 * 1_000_000), F.lit(1)).otherwise(F.lit(0)),
    )
    w2 = (Window.partitionBy("user_id").orderBy("ts", "event_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    with_sess = with_flag.withColumn("session_id", F.sum("is_new").over(w2))
    return with_sess.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("session_value"),
        F.min("ts").alias("session_start"),
    )


@register(
    "events_sliding_window",
    oracle="""
    WITH slid AS (
        -- an event at t belongs to window starts trunc30(t) and
        -- trunc30(t) - 30min (1h width, 30min slide)
        SELECT e.event_type, e.value,
               time_bucket(INTERVAL 30 MINUTE, e.ts)
                 - k * INTERVAL 30 MINUTE AS window_start
        FROM events e CROSS JOIN (SELECT unnest([0, 1]) AS k)
    )
    SELECT window_start, event_type,
           COUNT(*) AS n_events, ROUND(SUM(value), 2) AS total_value
    FROM slid GROUP BY 1, 2
    """,
)
def events_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1h window, 30min slide: every event lands in exactly
    two windows (F.window duplicates rows JVM-side; the oracle
    mirrors with an explicit 2-way unnest). Batch twin of the
    streaming sliding aggregation."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"),
                   "event_type")
        .agg(F.count("*").alias("n_events"),
             F.round(F.sum("value"), 2).alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "event_type",
                "n_events", "total_value")
    )


@register(
    "join_range_followup_events",
    oracle="""
    SELECT a.event_id AS first_id, b.event_id AS next_id,
           a.user_id,
           CAST(epoch_us(b.ts) - epoch_us(a.ts) AS BIGINT) AS gap_us
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND epoch_us(b.ts) - epoch_us(a.ts) BETWEEN 0 AND 300000000
     AND a.event_id != b.event_id
    """,
)
def join_range_followup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: same-user event pairs <= 5 minutes apart.

    Spark-native banded implementation (operators.joins.range_join):
    equi-join on (user, time-cell) with 2x left replication instead
    of the quadratic per-key cross product a naive time-inequality
    join plans. The oracle runs the naive inequality join — small at
    oracle scale, and exactly the semantics the banding must
    reproduce.
    """
    from galaxy_spark.operators.joins import range_join

    ev = load_table(spark, sf_dir, "events")
    a = ev.select("user_id", F.col("event_id").alias("first_id"),
                  F.col("ts").alias("ts_a"))
    b = ev.select("user_id", F.col("event_id").alias("next_id"),
                  F.col("ts").alias("ts_b"))
    out = range_join(a, b, key="user_id", left_time="ts_a",
                     right_time="ts_b", lower_bound_s=0, upper_bound_s=300)
    return (
        out.filter(F.col("first_id") != F.col("next_id"))
        .select("first_id", "next_id", "user_id",
                (F.unix_micros("ts_b") - F.unix_micros("ts_a"))
                .alias("gap_us"))
    )


@register(
    "events_multi_rollup",
    oracle="""
    SELECT grain, bucket_start, event_type,
           COUNT(*) AS n_events, ROUND(SUM(value), 2) AS total_value
    FROM (
        SELECT 'hour' AS grain, date_trunc('hour', ts) AS bucket_start,
               event_type, value FROM events
        UNION ALL
        SELECT 'day', date_trunc('day', ts), event_type, value FROM events
    ) GROUP BY 1, 2, 3
    """,
)
def events_multi_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style multi-resolution rollup: hour AND day
    aggregates of the same stream in one pass (continuous-aggregate
    pattern from the time-series world).

    Shape: explode each event into its (grain, bucket) memberships,
    one grouped aggregation — a single shuffle produces every
    resolution, vs one job per grain. In production the same plan
    runs incrementally under foreachBatch, upserting both grains'
    partial aggregates."""
    ev = load_table(spark, sf_dir, "events")
    grains = ev.select(
        F.explode(F.array(
            F.struct(F.lit("hour").alias("grain"),
                     F.date_trunc("hour", "ts").alias("bucket_start")),
            F.struct(F.lit("day").alias("grain"),
                     F.date_trunc("day", "ts").alias("bucket_start")),
        )).alias("g"),
        "event_type", "value",
    ).select("g.grain", "g.bucket_start", "event_type", "value")
    return grains.groupBy("grain", "bucket_start", "event_type").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"))


@register(
    "events_funnel_conversion",
    oracle="""
    WITH v AS (
        SELECT user_id, MIN(ts) AS t_view FROM events
        WHERE event_type = 'view' GROUP BY user_id
    ), c AS (
        SELECT e.user_id, MIN(e.ts) AS t_click
        FROM events e JOIN v ON e.user_id = v.user_id
        WHERE e.event_type = 'click' AND e.ts > v.t_view
        GROUP BY e.user_id
    ), p AS (
        SELECT e.user_id, MIN(e.ts) AS t_purchase
        FROM events e JOIN c ON e.user_id = c.user_id
        WHERE e.event_type = 'purchase' AND e.ts > c.t_click
        GROUP BY e.user_id
    )
    SELECT v.user_id, v.t_view, c.t_click, p.t_purchase
    FROM v LEFT JOIN c ON v.user_id = c.user_id
           LEFT JOIN p ON v.user_id = p.user_id
    """,
)
def events_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (view -> click -> purchase): per user, the
    first view, the first click AFTER that view, the first purchase
    AFTER that click — the stage-gated sequence semantics a bare
    per-type MIN gets wrong (a click preceding every view must not
    count).

    Shape at scale: three user-keyed conditional MIN aggs, each
    joined to the previous stage's (user, ts) output. Every agg and
    join hashes on user_id, so the exchange introduced by stage 1 is
    reused down the chain (co-partitioned joins, no re-shuffle), and
    stage outputs only shrink — the funnel narrows monotonically.
    """
    ev = load_table(spark, sf_dir, "events")
    return funnel_from_events(ev)


def funnel_from_events(ev: DataFrame) -> DataFrame:
    """The stage-gated funnel over any (user_id, event_type, ts)
    frame — shared with the bounded-state certification of the
    streaming event-index twin (the retained-window comparison),
    imported not copied, so the gating arithmetic cannot drift."""
    v = (ev.filter(F.col("event_type") == "view")
         .groupBy("user_id").agg(F.min("ts").alias("t_view")))
    c = (ev.filter(F.col("event_type") == "click")
         .join(v, "user_id")
         .filter(F.col("ts") > F.col("t_view"))
         .groupBy("user_id").agg(F.min("ts").alias("t_click")))
    p = (ev.filter(F.col("event_type") == "purchase")
         .join(c, "user_id")
         .filter(F.col("ts") > F.col("t_click"))
         .groupBy("user_id").agg(F.min("ts").alias("t_purchase")))
    return (v.join(c, "user_id", "left")
            .join(p, "user_id", "left")
            .select("user_id", "t_view", "t_click", "t_purchase"))


@register(
    "events_retention_cohorts",
    oracle="""
    WITH f AS (
        -- CAST: DuckDB's date_trunc('week', TIMESTAMP) yields DATE;
        -- Spark's yields TIMESTAMP (type-exact harness catches it)
        SELECT user_id,
               CAST(date_trunc('week', MIN(ts)) AS TIMESTAMP)
                   AS cohort_week
        FROM events GROUP BY user_id
    ), a AS (
        SELECT DISTINCT user_id,
               CAST(date_trunc('week', ts) AS TIMESTAMP) AS active_week
        FROM events
    )
    SELECT f.cohort_week,
           CAST(floor(date_diff('day', f.cohort_week, a.active_week)
                      / 7.0) AS INTEGER) AS week_offset,
           COUNT(*) AS n_users
    FROM a JOIN f ON a.user_id = f.user_id
    GROUP BY 1, 2
    """,
)
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohorts: users bucketed by first-seen week,
    counted in every later week they were active — the (cohort x
    offset) retention triangle. Both engines truncate weeks to
    Monday, and the day difference between two week-truncations is
    an exact multiple of 7, so the floor-div offset is engine-safe.

    Shape at scale: one user-keyed MIN agg (first-seen), one
    DISTINCT over (user, week) — partial-aggregated, so a user's
    thousandth event in a week dies map-side — then a user-keyed
    join and a tiny (cohort, offset) count agg. COUNT(*) over the
    already-distinct pairs, never COUNT(DISTINCT) over raw events.
    """
    ev = load_table(spark, sf_dir, "events")
    return retention_cohorts_from_events(ev.select("user_id", "ts"))


def retention_cohorts_from_events(ev: DataFrame) -> DataFrame:
    """The retention shape over any (user_id, ts) frame — shared
    with the streaming event-index reader (``streaming_retention``),
    imported not copied, so the cohort/offset arithmetic cannot
    drift between tiers."""
    f = (ev.groupBy("user_id")
         .agg(F.date_trunc("week", F.min("ts")).alias("cohort_week")))
    a = (ev.select("user_id",
                   F.date_trunc("week", "ts").alias("active_week"))
         .distinct())
    return (a.join(f, "user_id")
            .groupBy("cohort_week",
                     F.floor(F.datediff("active_week", "cohort_week")
                             / F.lit(7.0)).cast("int").alias("week_offset"))
            .agg(F.count("*").alias("n_users")))


@register(
    "events_markov_transitions",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type AS src,
               LEAD(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS dst
        FROM events
    ), trans AS (
        SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS n
        FROM seq WHERE dst IS NOT NULL GROUP BY 1, 2
    ), tot AS (
        SELECT src, CAST(SUM(n) AS BIGINT) AS out_n
        FROM trans GROUP BY 1
    )
    SELECT t.src, t.dst, t.n,
           ROUND(t.n * 1.0 / tot.out_n, 6) AS p
    FROM trans t JOIN tot ON t.src = tot.src
    """,
)
def events_markov_transitions(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: for each consecutive (event, next event) pair in a
    user's timeline, the transition count and row-normalized
    probability — the path-analysis primitive behind "what do users
    do after X" funnels, next-action models, and behavioral-cohort
    features.

    Shape at scale: ONE window (LEAD over the per-user sort the
    sessionization query already defines — partitioned by user, so
    parallelism is user cardinality and no reducer sees more than
    one user's timeline), then the pair counts partial-aggregate on
    the tiny (src, dst) key and the row totals broadcast back for
    normalization. Determinism: ties in ts break on event_id (the
    repo's sessionization convention); counts are integers and the
    probability is a single ROUND(n * 1.0 / out_n, 6) — identical
    IEEE division on identical integers in both engines.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(F.col("event_type").alias("src"),
                    F.lead("event_type").over(w).alias("dst"))
    return markov_from_pairs(seq)


def markov_from_pairs(seq: DataFrame) -> DataFrame:
    """The transition-matrix tail over (src, dst) consecutive-pair
    rows (null dst = timeline end, dropped): counts on the tiny
    type² key, row-normalized off broadcast totals. Shared by
    ``events_markov_transitions`` and the user-sequence store's
    reader (``streaming_markov_transitions``). The tiny rollup is
    checkpoint-barriered — it feeds both the output and the row
    totals, and without the barrier the upstream walk (a full
    event scan + Window pass in the batch query) evaluates twice
    (the r14 trigram plan-pin catch, applied here too)."""
    trans = (seq.filter(F.col("dst").isNotNull())
             .groupBy("src", "dst").agg(F.count("*").alias("n"))
             .localCheckpoint(eager=False))
    tot = trans.groupBy("src").agg(F.sum("n").alias("out_n"))
    return (trans.join(F.broadcast(tot), "src")
            .select("src", "dst", "n",
                    F.round(F.col("n") * F.lit(1.0) / F.col("out_n"), 6)
                    .alias("p")))


# -- sliding-window distinct users via mergeable HLL registers --------

_WAU_P = 5                    # 2^5 = 32 registers per day
_WAU_M = 1 << _WAU_P
_WAU_WBITS = 48 - _WAU_P
_WAU_ALPHA = 0.697            # Flajolet alpha_32
_WAU_RAW_FLOOR = int(2.5 * _WAU_M)   # raw-regime validity floor
_WAU_3SE = 0.5516             # 3 * 1.04 / sqrt(32)
_WAU_DAYS = 7
_WAU_2P50 = 1 << 50           # integer harmonic scale: 2^50


@register(
    "agg_hll_sliding_distinct_users",
    oracle=f"""
    WITH base AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day, user_id
        FROM events
    ), dd AS (
        SELECT DISTINCT day FROM base
    ), h AS (
        SELECT day,
               CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)),
                                    1, 12)) AS BIGINT) AS hv
        FROM base
    ), r AS (
        SELECT day, hv // {1 << _WAU_WBITS} AS bucket,
               MAX(CASE WHEN strpos(lpad(bin(hv % {1 << _WAU_WBITS}),
                                         {_WAU_WBITS}, '0'), '1') = 0
                        THEN {_WAU_WBITS + 1}
                        ELSE strpos(lpad(bin(hv % {1 << _WAU_WBITS}),
                                         {_WAU_WBITS}, '0'), '1')
                   END) AS register
        FROM h GROUP BY 1, 2
    ), merged AS (
        SELECT r.day + off.off AS tday, bucket,
               MAX(register) AS register
        FROM r
        CROSS JOIN (SELECT unnest([0,1,2,3,4,5,6]) AS off) off
        JOIN dd ON r.day + off.off = dd.day
        GROUP BY 1, 2
    ), agg AS (
        SELECT tday, CAST(COUNT(*) AS BIGINT) AS occupied,
               CAST(SUM(CAST(POW(2, 50 - register) AS BIGINT))
                    AS BIGINT) AS t_occ
        FROM merged GROUP BY 1
    ), ex AS (
        SELECT p.day + off.off AS tday,
               CAST(COUNT(DISTINCT user_id) AS BIGINT)
                 AS exact_users_7d
        FROM (SELECT DISTINCT day, user_id FROM base) p
        CROSS JOIN (SELECT unnest([0,1,2,3,4,5,6]) AS off) off
        JOIN dd ON p.day + off.off = dd.day
        GROUP BY 1
    ), est AS (
        SELECT agg.tday AS day, occupied,
               CAST(t_occ + ({_WAU_M} - occupied)
                    * {_WAU_2P50} AS BIGINT) AS harmonic_num,
               exact_users_7d
        FROM agg JOIN ex ON agg.tday = ex.tday
    )
    SELECT day, occupied, harmonic_num,
           ROUND(CAST({_WAU_ALPHA} AS DOUBLE) * {float(_WAU_M * _WAU_M)}
                 * {_WAU_2P50}.0 / harmonic_num, 6) AS est,
           exact_users_7d,
           CASE WHEN exact_users_7d >= {_WAU_RAW_FLOOR} THEN 'raw'
                ELSE 'small-range' END AS regime,
           (exact_users_7d < {_WAU_RAW_FLOOR}
            OR ABS(ROUND(CAST({_WAU_ALPHA} AS DOUBLE) * {float(_WAU_M * _WAU_M)}
                         * {_WAU_2P50}.0 / harmonic_num, 6)
                   - exact_users_7d)
               <= {_WAU_3SE} * exact_users_7d) AS hll_ok
    FROM est
    """,
)
def agg_hll_sliding_distinct_users(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct active users per day (the WAU curve)
    from MERGEABLE HyperLogLog registers — the sliding-distinct
    pattern that makes time-window cardinality tractable at 100 TB:
    the raw stream collapses ONCE into per-(day, bucket) max-rank
    registers (a fixed m=32-cell state per day, partial-aggregated
    map-side), and every window estimate is a cell-wise MAX merge
    of 7 tiny register rows — re-scanning raw events per window,
    the naive COUNT(DISTINCT) OVER shape, re-shuffles the key
    universe once PER WINDOW and cannot share partials across
    overlapping windows.

    The window merge is an explode of each day's registers onto the
    <= 7 target days it serves (the register frame is |days| * m
    rows — O(calendar), independent of corpus size — so the 7x
    fan-out costs nothing), then groupBy(target day, bucket) MAX;
    target days are restricted to days that exist in the data.

    Certification follows the repo's sketch contract (regime column
    + ok-bound column + exact instrument IN the query): m=32 keeps
    the raw-regime floor 2.5m = 80 below sf0.01's true per-window
    cardinality (134-150), so the 3se = 55.16% Flajolet bound is
    EXERCISED there, while sf0.001 (15 users) honestly reports
    'small-range' (the linear-counting branch needs ln(), not
    cross-engine-stable — same documented limit as the global HLL
    row). All register arithmetic is the shared engine-portable
    integer algebra (``operators/sketch.py:hll_bucket_rho`` at
    p=5); the only float op is the final alpha*m^2*2^50/T in one
    identical IEEE operation order.

    Reference parity: galaxy has no sketch surface at all; this
    extends the repo's own ``agg_hll_cardinality_bound`` global
    primitive (SURVEY.md section 2.2) along the time axis.
    """
    from galaxy_spark.operators.sketch import (hll_bucket_rho,
                                               sliding_hll_estimates)

    ev = load_table(spark, sf_dir, "events")
    day = F.to_date(F.date_trunc("day", "ts")).alias("day")
    bucket, rho = hll_bucket_rho(F.col("user_id"), p=_WAU_P)

    regs = (ev.select(day, bucket, rho)
            .groupBy("day", "bucket").agg(F.max("rho").alias("register")))
    days = ev.select(day).distinct().withColumnRenamed("day", "tday")
    sketch = sliding_hll_estimates(regs, days, _WAU_DAYS, _WAU_P,
                                   _WAU_ALPHA)

    offs = F.explode(F.sequence(F.lit(0), F.lit(_WAU_DAYS - 1))).alias("off")
    pairs = ev.select(day, "user_id").distinct()
    exact = (pairs.select("day", "user_id", offs)
             .select(F.date_add("day", F.col("off")).alias("tday"), "user_id")
             .join(F.broadcast(days), "tday")
             .groupBy("tday")
             .agg(F.countDistinct("user_id").cast("long")
                  .alias("exact_users_7d")))

    t = sketch.join(exact.withColumnRenamed("tday", "day"), "day")
    est = F.col("est")
    return t.select(
        "day", "occupied", "harmonic_num", "est",
        "exact_users_7d",
        F.when(F.col("exact_users_7d") >= _WAU_RAW_FLOOR, "raw")
        .otherwise("small-range").alias("regime"),
        ((F.col("exact_users_7d") < _WAU_RAW_FLOOR)
         | (F.abs(est - F.col("exact_users_7d"))
            <= F.lit(_WAU_3SE) * F.col("exact_users_7d"))).alias("hll_ok"))


@register(
    "events_anomaly_daily_counts",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM events GROUP BY 1, 2
    ), stats AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
               CAST(SUM(n_events) AS BIGINT) AS s,
               CAST(SUM(n_events * n_events) AS BIGINT) AS q
        FROM daily GROUP BY 1
    )
    SELECT daily.event_type, day, n_events,
           (n_days >= 2
            AND (n_events * n_days - s) * (n_events * n_days - s)
                > 4 * (n_days * q - s * s)) AS is_anomaly
    FROM daily JOIN stats ON daily.event_type = stats.event_type
    """,
)
def events_anomaly_daily_counts(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Volume-anomaly detection on the daily event curve — flag any
    (event_type, day) whose count sits more than 2 population
    standard deviations from that type's own mean — computed ENTIRELY
    in integers via sufficient statistics: with n days, S = sum of
    counts, Q = sum of squared counts, the |z| > 2 test
    ((x - S/n)^2 > 4 * (nQ - S^2)/n^2) cross-multiplies to
    (x*n - S)^2 > 4*(nQ - S^2) — no float mean, no float stddev, no
    sqrt, so the flag cannot drift on libm rounding anywhere (the
    same discipline as the OLS sufficient-statistics rows).

    int64 headroom (r9 ADVICE corrected the math): the binding terms
    are Q = Σx² and (x·n - S)², both bounded by n_days · x_max², so
    the wrap point is x_max ≈ sqrt(2^63 / n_days) per day per type —
    ~1.6e8 rows/day/type over a 365-day calendar (the naive ~3e9
    figure holds only at n_days = 1). Past that, promote the
    products to DECIMAL(38,0) exactly as ml_ols_price_on_quantity
    documents; Spark's non-ANSI long sum wraps SILENTLY, flipping
    is_anomaly with no error, so the promotion threshold is
    |n_days| × per-day-count², not the per-day count alone.

    Shape at scale: the daily rollup partial-aggregates onto the
    tiny (type, day) key; the per-type moments partial-aggregate
    again onto |types| rows and broadcast back. Two bounded
    exchanges over O(calendar x types) rows — the raw scan is
    touched once. Degenerate guard: a type with a single observed
    day has zero variance and both sides collapse to 0 > 0; the
    explicit n_days >= 2 makes the intent visible rather than
    incidental.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = (ev.groupBy(
        "event_type",
        F.to_date(F.date_trunc("day", "ts")).alias("day"))
        .agg(F.count("*").alias("n_events")))
    return anomaly_from_daily(daily)


def anomaly_from_daily(daily: DataFrame) -> DataFrame:
    """The cross-multiplied |z| > 2 test over any (event_type, day,
    n_events) frame — shared with the streaming rollup-store reader
    (``streaming_anomaly``), imported not copied, so the integer
    sufficient-statistics arithmetic cannot drift between tiers."""
    # the tiny O(calendar × types) frame feeds the moments agg AND
    # the flag join — un-barriered, the batch caller's raw event
    # scan ran once per subtree (measured 4 scans in the plan, no
    # ReusedExchange; the r14 barrier audit), belying the one-scan
    # docstring claim; the checkpoint makes the claim true
    daily = daily.localCheckpoint(eager=False)
    stats = daily.groupBy("event_type").agg(
        F.count("*").alias("n_days"),
        F.sum("n_events").alias("s"),
        F.sum(F.col("n_events") * F.col("n_events")).alias("q"))
    j = daily.join(F.broadcast(stats), "event_type")
    dev = F.col("n_events") * F.col("n_days") - F.col("s")
    var_num = (F.col("n_days") * F.col("q")
               - F.col("s") * F.col("s"))
    return j.select(
        "event_type", "day", "n_events",
        ((F.col("n_days") >= 2)
         & (dev * dev > 4 * var_num)).alias("is_anomaly"))


# -- sliding-window quantiles from mergeable fixed-bin histograms ----

_SWQ_B = 512                   # bins (shared rationale with
                               # agg_histogram_quantile_value_bound)
_SWQ_DAYS = 7


@register(
    "agg_histogram_sliding_quantiles",
    oracle=f"""
    WITH cents AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
               CAST(ROUND(value * 100, 0) AS BIGINT) AS vc
        FROM events WHERE value IS NOT NULL
    ), dd AS (
        SELECT DISTINCT day FROM cents
    ), mm AS (
        SELECT CAST(MIN(vc) AS BIGINT) AS mn,
               CAST(MAX(vc) - MIN(vc) AS BIGINT) AS span
        FROM cents
    ), daily AS (
        SELECT day,
               LEAST(CAST(FLOOR(CAST((vc - mn) * {_SWQ_B} AS DOUBLE)
                                / span) AS INTEGER),
                     {_SWQ_B - 1}) AS bin,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM cents, mm GROUP BY 1, 2
    ), merged AS (
        SELECT daily.day + off.off AS tday, bin,
               CAST(SUM(cnt) AS BIGINT) AS cnt
        FROM daily
        CROSS JOIN (SELECT unnest([0,1,2,3,4,5,6]) AS off) off
        JOIN dd ON daily.day + off.off = dd.day
        GROUP BY 1, 2
    ), cum AS (
        SELECT tday, bin, cnt,
               CAST(SUM(cnt) OVER (PARTITION BY tday ORDER BY bin)
                    AS BIGINT) AS cum,
               CAST(SUM(cnt) OVER (PARTITION BY tday)
                    AS BIGINT) AS n_w
        FROM merged
    ), cross_bins AS (
        SELECT tday, n_w,
               CAST(MIN(CASE WHEN cum >= (n_w + 1) // 2
                             THEN bin END) AS INTEGER) AS k50,
               CAST(MIN(CASE WHEN cum >= (19 * n_w + 19) // 20
                             THEN bin END) AS INTEGER) AS k95
        FROM cum GROUP BY 1, 2
    ), vals AS (
        SELECT cents.day + off.off AS tday, vc,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM cents
        CROSS JOIN (SELECT unnest([0,1,2,3,4,5,6]) AS off) off
        JOIN dd ON cents.day + off.off = dd.day
        GROUP BY 1, 2
    ), vcum AS (
        SELECT tday, vc,
               CAST(SUM(c) OVER (PARTITION BY tday ORDER BY vc)
                    AS BIGINT) AS vcum,
               CAST(SUM(c) OVER (PARTITION BY tday)
                    AS BIGINT) AS n_w
        FROM vals
    ), exacts AS (
        SELECT tday,
               CAST(MIN(CASE WHEN vcum >= (n_w + 1) // 2
                             THEN vc END) AS BIGINT) AS exact_p50,
               CAST(MIN(CASE WHEN vcum >= (19 * n_w + 19) // 20
                             THEN vc END) AS BIGINT) AS exact_p95
        FROM vcum GROUP BY 1
    )
    SELECT c.tday AS day, n_w,
           mn + CAST(FLOOR(CAST((k50 + 1) * span AS DOUBLE)
                           / {_SWQ_B}) AS BIGINT) AS est_p50_cents,
           exact_p50,
           mn + CAST(FLOOR(CAST((k95 + 1) * span AS DOUBLE)
                           / {_SWQ_B}) AS BIGINT) AS est_p95_cents,
           exact_p95,
           ((mn + CAST(FLOOR(CAST((k50 + 1) * span AS DOUBLE)
                             / {_SWQ_B}) AS BIGINT) - exact_p50
             BETWEEN -1 AND span // {_SWQ_B} + 2)
            AND (mn + CAST(FLOOR(CAST((k95 + 1) * span AS DOUBLE)
                                 / {_SWQ_B}) AS BIGINT) - exact_p95
                 BETWEEN -1 AND span // {_SWQ_B} + 2)) AS within_bin
    FROM cross_bins c JOIN exacts x ON c.tday = x.tday, mm
    """,
)
def agg_histogram_sliding_quantiles(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """Trailing-7-day p50/p95 of event values per day from MERGEABLE
    fixed-bin histograms — the quantile twin of the sliding-WAU row,
    closing the sliding-sketch pair: per-day (bin -> count) maps
    (<= 512 rows per day regardless of event volume) SUM-merge
    across the 7 target days exactly as the WAU registers MAX-merge,
    so window quantiles never re-scan raw events and the per-day
    state can fold incrementally on the keyed parquet store
    (cell-wise SUM;
    ``test_streaming_histogram_quantile_on_durable_store`` pins the
    single-window build).

    Certification is the VALUE-error contract of
    ``agg_histogram_quantile_value_bound`` applied per window: the
    true order statistic lies inside the crossing bin, so
    |est - exact| <= one bin width (± rounding slack), checked for
    BOTH quantiles on EVERY window against the exact per-window
    crossing instrument. Arithmetic discipline: integer cents
    (ROUND-then-cast — bare CAST truncates doubles in Spark but
    rounds in DuckDB), integer ceil targets via floor-division,
    bin index/edge as the one identically-ordered double expression
    the batch histogram row already pinned cross-engine.

    Shape at scale: raw events are scanned ONCE (r10 fused the
    former separate min/max pass) into the checkpointed
    (day, distinct-cent) frame; bin edges, daily histograms, the day
    universe and the exact instrument all derive from that compact
    frame. Daily histograms partial-aggregate onto the
    O(calendar x B) key; the fan-out explodes the HISTOGRAM frame
    (never raw events); the per-window cum runs over <= B rows per
    window. The exact instrument is the only
    distinct-value-cardinality consumer and samples at scale — same
    contract as every sketch certification row.
    """
    ev = load_table(spark, sf_dir, "events")
    cents = (ev.filter(F.col("value").isNotNull())
             .select(F.to_date(F.date_trunc("day", "ts")).alias("day"),
                     F.round(F.col("value") * 100, 0).cast("long")
                     .alias("vc")))
    # ONE raw-event scan (r9 verdict #6 fused the separate min/max
    # pass): collapse to the compacted (day, distinct-cent) frame the
    # exact instrument needs anyway — partial-aggregated map-side —
    # and derive the bin edges, the daily histograms, the day
    # universe AND the exact crossing instrument all from it.
    # localCheckpointed because it is expensive (the only corpus
    # scan) and consumed four times; O(calendar × distinct cents)
    # rows. At 100 TB the streaming twin's per-day store supplies
    # edges instead and the exact instrument samples (the sketch
    # certification contract).
    dv = (cents.groupBy("day", "vc").agg(F.count("*").alias("c"))
          .localCheckpoint())
    mm = dv.agg(F.min("vc").alias("mn"),
                (F.max("vc") - F.min("vc")).alias("span")).collect()[0]
    mn, span = mm["mn"], mm["span"]

    daily = (dv.select(
        "day",
        F.least(F.floor(((F.col("vc") - F.lit(mn)) * _SWQ_B)
                        .cast("double") / F.lit(span)).cast("int"),
                F.lit(_SWQ_B - 1)).alias("bin"),
        "c")
        .groupBy("day", "bin").agg(F.sum("c").alias("cnt")))
    days = dv.select("day").distinct().withColumnRenamed("day", "tday")
    offs = F.explode(F.sequence(F.lit(0), F.lit(_SWQ_DAYS - 1))).alias("off")

    merged = (daily.select("day", "bin", "cnt", offs)
              .select(F.date_add("day", F.col("off")).alias("tday"),
                      "bin", "cnt")
              .join(F.broadcast(days), "tday")
              .groupBy("tday", "bin").agg(F.sum("cnt").alias("cnt")))
    wb = (Window.partitionBy("tday").orderBy("bin")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    wt = Window.partitionBy("tday")
    cum = (merged.withColumn("cum", F.sum("cnt").over(wb))
           .withColumn("n_w", F.sum("cnt").over(wt)))

    def crossing(num: int, den: int, src, out: str):
        # ceil(num*n_w/den) via Spark's `div` (true integer division
        # on longs) — F.floor over `/` routes through a DOUBLE and
        # diverges from the oracle's // past 2^53 (r9 ADVICE)
        k = F.expr(f"({num} * n_w + {den - 1}) div {den}")
        return F.min(F.when(F.col("cum" if src == "bin" else "vcum") >= k,
                            F.col(src))).alias(out)

    ks = (cum.groupBy("tday", "n_w")
          .agg(crossing(1, 2, "bin", "k50"),
               crossing(19, 20, "bin", "k95")))

    vals = (dv.select("day", "vc", "c", offs)
            .select(F.date_add("day", F.col("off")).alias("tday"),
                    "vc", "c")
            .join(F.broadcast(days), "tday")
            .groupBy("tday", "vc").agg(F.sum("c").alias("c")))
    wv = (Window.partitionBy("tday").orderBy("vc")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    vcum = (vals.withColumn("vcum", F.sum("c").over(wv))
            .withColumn("n_w", F.sum("c").over(wt)))
    exacts = (vcum.groupBy("tday")
              .agg(crossing(1, 2, "vc", "exact_p50").cast("long")
                   .alias("exact_p50"),
                   crossing(19, 20, "vc", "exact_p95").cast("long")
                   .alias("exact_p95")))

    def edge(k):
        return (F.lit(mn) + F.floor(((k + 1) * F.lit(span))
                                    .cast("double") / F.lit(_SWQ_B))
                .cast("long"))

    bw = span // _SWQ_B
    j = ks.join(exacts, "tday")
    e50, e95 = edge(F.col("k50")), edge(F.col("k95"))
    return j.select(
        F.col("tday").alias("day"), "n_w",
        e50.alias("est_p50_cents"), "exact_p50",
        e95.alias("est_p95_cents"), "exact_p95",
        ((e50 - F.col("exact_p50")).between(-1, bw + 2)
         & (e95 - F.col("exact_p95")).between(-1, bw + 2))
        .alias("within_bin"))



@register(
    "events_decay_score",
    oracle="""
    WITH anchor AS (SELECT MAX(CAST(ts AS DATE)) AS d0 FROM events),
    ages AS (
        SELECT user_id, event_type,
               date_diff('day', CAST(ts AS DATE), d0) AS age
        FROM events, anchor
    )
    SELECT user_id,
           CAST(SUM(CASE WHEN age <= 40
                         THEN (CAST(1 AS BIGINT) << (40 - age))
                         ELSE 0 END) AS BIGINT) AS decay_score,
           CAST(SUM(CASE WHEN age <= 40 AND event_type = 'purchase'
                         THEN (CAST(1 AS BIGINT) << (40 - age))
                         ELSE 0 END) AS BIGINT) AS purchase_score,
           CAST(SUM(CASE WHEN age <= 40 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_recent
    FROM ages GROUP BY user_id
    """,
)
def events_decay_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially time-decayed engagement score per user (the
    recency feature every ranking/training pipeline derives from an
    event log): each event weighs 2^-(days old), i.e. a one-day
    half-life, summed per user over a 40-day horizon — plus the
    same score restricted to purchases and the raw recent count.

    Exactness trick: floats make decayed sums engine-unstable
    (pow + order-dependent fp addition), so the weight is scaled by
    2^40 and kept INTEGER — ``1 << (40 - age)`` — making every
    score an exact BIGINT both engines agree on bit-for-bit
    (headroom: 2^40 x recent events per user << 2^63). The anchor
    (newest event day) is computed IN-PLAN as a 1-row broadcast —
    no collect, no wall-clock dependence, deterministic on any
    snapshot of the table.

    Scale shape: scan-local arithmetic (date_trunc, datediff,
    shiftleft inside whole-stage codegen) + ONE partial-aggregated
    groupBy(user_id); the anchor join is a broadcast of one row.
    """
    ev = load_table(spark, sf_dir, "events")
    anchor = ev.agg(F.max(F.to_date("ts")).alias("d0"))
    aged = (ev.crossJoin(F.broadcast(anchor))
            .select("user_id",
                    F.datediff(F.col("d0"), F.to_date("ts"))
                    .alias("age"),
                    F.lit(1).cast("long").alias("n"),
                    F.when(F.col("event_type") == "purchase",
                           F.lit(1)).otherwise(F.lit(0))
                    .cast("long").alias("np")))
    # every weight is INTEGER (shiftleft by 40 - age; the bit count
    # must be a COLUMN, so F.expr — pyspark's function form takes a
    # literal only), and n/np are exact counts
    w = F.expr("shiftleft(CAST(1 AS BIGINT), 40 - age)")
    recent = F.col("age") <= 40
    return (aged.groupBy("user_id")
            .agg(F.sum(F.when(recent, w * F.col("n"))
                       .otherwise(F.lit(0)))
                 .cast("long").alias("decay_score"),
                 F.sum(F.when(recent, w * F.col("np"))
                       .otherwise(F.lit(0)))
                 .cast("long").alias("purchase_score"),
                 F.sum(F.when(recent, F.col("n"))
                       .otherwise(F.lit(0)))
                 .cast("long").alias("n_recent")))


@register(
    "events_timeseries_gapfill",
    oracle="""
    WITH bounds AS (
        SELECT date_trunc('hour', min(ts)) AS t0,
               date_trunc('hour', max(ts)) AS t1
        FROM events
    ), grid AS (
        SELECT t.event_type, h.hour
        FROM (SELECT DISTINCT event_type FROM events) t
        CROSS JOIN (SELECT unnest(generate_series(t0, t1,
                                  INTERVAL 1 HOUR)) AS hour
                    FROM bounds) h
    ), hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS hour,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM events GROUP BY 1, 2
    )
    SELECT g.event_type, g.hour,
           CAST(COALESCE(hourly.n_events, 0) AS BIGINT) AS n_events,
           CAST(SUM(COALESCE(hourly.n_events, 0)) OVER (
                PARTITION BY g.event_type ORDER BY g.hour
                ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)
                AS BIGINT) AS trailing_24h
    FROM grid g LEFT JOIN hourly
      ON g.event_type = hourly.event_type AND g.hour = hourly.hour
    """,
)
def events_timeseries_gapfill(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Regularized time series with gap-fill: the (event_type x
    hour) grid over the stream's full span, empty hours ZERO-FILLED,
    plus a trailing-24h moving sum per type — the downsample-and-
    window shape every monitoring/feature pipeline needs, and the
    one a bare groupBy gets silently wrong (missing hours simply
    vanish, so windows span gaps as if they were adjacent; at
    sf0.01 each type leaves ~40-50 of the ~720 hours empty).

    Shape at scale: the calendar grid is SYNTHESIZED, not scanned —
    a 1-row bounds agg feeds one sequence() explode (O(calendar
    hours), thousands of rows for years of data) cross-joined with
    the broadcast distinct type set; the raw scan is touched once by
    a partial-aggregated (type, hour) rollup whose key space is also
    calendar-bounded. The moving sum windows over O(calendar) rows
    per type, NEVER raw events — window cost is independent of
    event volume. All-integer counts/sums, so the hash cannot drift
    on float summation order."""
    ev = load_table(spark, sf_dir, "events")
    hourly = (ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour"))
        .agg(F.count("*").cast("long").alias("n_events")))
    return gapfill_from_hourly(hourly)


def gapfill_from_hourly(hourly: DataFrame) -> DataFrame:
    """Grid synthesis + zero-fill + trailing-24h window over any
    (event_type, hour, n_events) frame — shared with the streaming
    rollup-store reader (``streaming_gapfill``), imported not
    copied, so the calendar/window arithmetic cannot drift between
    tiers. Bounds come from the hourly frame's own min/max hour,
    which equal the raw stream's truncated min/max ts by
    construction (truncation is monotone)."""
    hourly = hourly.localCheckpoint(eager=False)   # used three ways
    bounds = hourly.agg(F.min("hour").alias("t0"),
                        F.max("hour").alias("t1"))
    hours = bounds.select(F.explode(
        F.expr("sequence(t0, t1, interval 1 hour)")).alias("hour"))
    types = hourly.select("event_type").distinct()
    grid = hours.crossJoin(F.broadcast(types))
    filled = (grid.join(hourly, ["event_type", "hour"], "left")
              .select("event_type", "hour",
                      F.coalesce("n_events", F.lit(0))
                      .cast("long").alias("n_events")))
    w = (Window.partitionBy("event_type").orderBy("hour")
         .rowsBetween(-23, 0))
    return filled.select(
        "event_type", "hour", "n_events",
        F.sum("n_events").over(w).cast("long").alias("trailing_24h"))


@register(
    "events_attribution_last_touch",
    oracle="""
    WITH p AS (
        SELECT event_id, user_id, ts, CAST(ts AS DATE) AS day,
               CAST(ROUND(value * 100) AS BIGINT) AS cents
        FROM events WHERE event_type = 'purchase'
    ), c AS (
        SELECT user_id, ts FROM events WHERE event_type = 'click'
    ), att AS (
        SELECT p.event_id, p.day, p.cents, MAX(c.ts) AS t_click
        FROM p LEFT JOIN c
          ON p.user_id = c.user_id AND c.ts < p.ts
         AND c.ts >= p.ts - INTERVAL 7 DAY
        GROUP BY 1, 2, 3
    )
    SELECT day,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           CAST(SUM(CASE WHEN t_click IS NOT NULL THEN 1 ELSE 0
                    END) AS BIGINT) AS n_attributed,
           ROUND(SUM(CASE WHEN t_click IS NOT NULL THEN cents
                     ELSE 0 END) / 100.0, 2) AS attributed_revenue,
           ROUND(SUM(CASE WHEN t_click IS NULL THEN cents
                     ELSE 0 END) / 100.0, 2) AS organic_revenue
    FROM att GROUP BY day
    """,
)
def events_attribution_last_touch(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """LAST-TOUCH marketing attribution: each purchase credits the
    same user's latest click within the 7 preceding days; daily
    totals split purchase revenue into attributed vs organic — the
    standard attribution report every growth team derives from an
    event log, and the windowed as-of join underneath it is the
    temporal-join family's fourth member (as-of, range-band,
    interval-overlap, and now bounded-lookback as-of).

    Cross-engine determinism: revenue folds as integer CENTS
    (events.value is 2-decimal by contract) and divides/rounds
    once at the end — float partial-sum order cannot move a
    boundary. The attribution itself is MAX over timestamps, a
    total order.

    Shape at scale: purchases x clicks equi-join on user_id with
    the 7-day band as a residual predicate — bounded by per-user
    activity like every temporal join here, never a cross product
    — then one (event_id)-keyed MAX fold and one partial-agged
    daily rollup. No window over the full event log."""
    ev = load_table(spark, sf_dir, "events")
    p = (ev.filter(F.col("event_type") == "purchase")
         .select("event_id", "user_id", F.col("ts").alias("p_ts"),
                 F.to_date("ts").alias("day"),
                 F.round(F.col("value") * 100, 0).cast("long")
                 .alias("cents")))
    c = (ev.filter(F.col("event_type") == "click")
         .select(F.col("user_id").alias("c_user"),
                 F.col("ts").alias("c_ts")))
    att = (p.join(c, (F.col("user_id") == F.col("c_user"))
                  & (F.col("c_ts") < F.col("p_ts"))
                  & (F.col("c_ts") >= F.col("p_ts")
                     - F.expr("INTERVAL 7 DAYS")), "left")
           .groupBy("event_id", "day", "cents")
           .agg(F.max("c_ts").alias("t_click")))
    hit = F.col("t_click").isNotNull()
    return (att.groupBy("day")
            .agg(F.count("*").cast("long").alias("n_purchases"),
                 F.sum(F.when(hit, 1).otherwise(0)).cast("long")
                 .alias("n_attributed"),
                 F.round(F.sum(F.when(hit, F.col("cents"))
                               .otherwise(0)) / 100.0, 2)
                 .alias("attributed_revenue"),
                 F.round(F.sum(F.when(hit, 0)
                               .otherwise(F.col("cents"))) / 100.0,
                         2).alias("organic_revenue")))


@register(
    "events_funnel_windowed",
    oracle="""
    WITH v AS (
        SELECT user_id, MIN(ts) AS t_view FROM events
        WHERE event_type = 'view' GROUP BY user_id
    ), c AS (
        SELECT e.user_id, MIN(e.ts) AS t_click
        FROM events e JOIN v ON e.user_id = v.user_id
        WHERE e.event_type = 'click' AND e.ts > v.t_view
          AND e.ts <= v.t_view + INTERVAL 24 HOUR
        GROUP BY e.user_id
    ), p AS (
        SELECT e.user_id, MIN(e.ts) AS t_purchase
        FROM events e JOIN c ON e.user_id = c.user_id
        WHERE e.event_type = 'purchase' AND e.ts > c.t_click
          AND e.ts <= c.t_click + INTERVAL 24 HOUR
        GROUP BY e.user_id
    )
    SELECT v.user_id, v.t_view, c.t_click, p.t_purchase
    FROM v LEFT JOIN c ON v.user_id = c.user_id
           LEFT JOIN p ON v.user_id = p.user_id
    """,
)
def events_funnel_windowed(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """Conversion-window funnel: first view, first click within 24
    HOURS of it, first purchase within 24 hours of that click —
    the product-analytics funnel definition (unbounded stage gaps
    overstate conversion; ``events_funnel_conversion`` keeps the
    unbounded semantics, this adds the time-boxed one). Same
    stage-gated plan: three user-keyed conditional MIN aggs
    chained by equi-joins, one exchange class (user_id) end to
    end; the window bound is a scan-local residual predicate, so
    the plan shape and cost match the unbounded funnel exactly."""
    ev = load_table(spark, sf_dir, "events")
    day = F.expr("INTERVAL 24 HOURS")
    v = (ev.filter(F.col("event_type") == "view")
         .groupBy("user_id").agg(F.min("ts").alias("t_view")))
    c = (ev.filter(F.col("event_type") == "click")
         .join(v, "user_id")
         .filter((F.col("ts") > F.col("t_view"))
                 & (F.col("ts") <= F.col("t_view") + day))
         .groupBy("user_id").agg(F.min("ts").alias("t_click")))
    p = (ev.filter(F.col("event_type") == "purchase")
         .join(c, "user_id")
         .filter((F.col("ts") > F.col("t_click"))
                 & (F.col("ts") <= F.col("t_click") + day))
         .groupBy("user_id").agg(F.min("ts").alias("t_purchase")))
    return (v.join(c, "user_id", "left")
            .join(p, "user_id", "left")
            .select("user_id", "t_view", "t_click", "t_purchase"))


@register(
    "events_stickiness_dau_wau",
    oracle="""
    WITH d AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
        FROM events
    ), days AS (
        SELECT DISTINCT day FROM d
    ), dau AS (
        SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM d GROUP BY 1
    ), wau AS (
        SELECT g.day, CAST(COUNT(DISTINCT d.user_id) AS BIGINT) AS wau
        FROM days g JOIN d
          ON d.day <= g.day AND d.day >= g.day - INTERVAL 6 DAY
        GROUP BY 1
    )
    SELECT dau.day, dau.dau, wau.wau,
           CAST(dau.dau * 10000 // wau.wau AS BIGINT)
               AS stickiness_bp
    FROM dau JOIN wau ON dau.day = wau.day
    """,
)
def events_stickiness_dau_wau(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """DAU/WAU stickiness — the engagement ratio every product
    dashboard leads with: per active day, the distinct users that
    day (DAU), the distinct users over the trailing 7 days (WAU),
    and their ratio. Exact trailing distincts — the EXACT twin of
    ``agg_hll_sliding_distinct_users`` (which answers the same
    window sketched); keeping both documents the accuracy/cost
    trade both ways.

    Cross-engine determinism: counts are exact BIGINTs; the ratio
    is integer basis points (DIV), never a float division.

    Shape at scale: the event log collapses FIRST to distinct
    (user, day) — one shuffle, |users|·|active days| rows, far
    smaller than raw events — then the 7-day window is a range
    join of that frame against the |days| grid (each (user, day)
    row lands in ≤ 7 grid rows; bounded fan-out, the range-join
    family), partial-aggregated per day. The exact trailing
    distinct is NOT expressible as a window monoid (distinct does
    not decompose); the range join IS the honest exact plan, and
    the HLL query is the 100 TB approximation."""
    ev = load_table(spark, sf_dir, "events")
    d = (ev.select("user_id", F.to_date("ts").alias("day")).distinct()
         .localCheckpoint(eager=False))     # dau + wau + grid
    days = d.select("day").distinct()
    dau = d.groupBy("day").agg(F.count("*").cast("long")
                               .alias("dau"))
    g = days.select(F.col("day").alias("gday"))
    wau = (d.join(g, (F.col("day") <= F.col("gday"))
                  & (F.col("day") >= F.date_sub(F.col("gday"), 6)))
           .groupBy("gday")
           .agg(F.countDistinct("user_id").cast("long")
                .alias("wau")))
    return (dau.join(wau, dau.day == wau.gday)
            .select("day", "dau", "wau",
                    F.expr("CAST(dau * 10000 DIV wau AS BIGINT)")
                    .alias("stickiness_bp")))


@register(
    "events_time_to_convert",
    oracle="""
    WITH c AS (
        SELECT user_id, ts AS c_ts FROM events
        WHERE event_type = 'click'
    ), p AS (
        SELECT user_id, ts AS p_ts FROM events
        WHERE event_type = 'purchase'
    ), conv AS (
        SELECT c.user_id, c.c_ts, MIN(p.p_ts) AS p_ts
        FROM c JOIN p ON p.user_id = c.user_id AND p.p_ts > c.c_ts
        GROUP BY 1, 2
    ), bucketed AS (
        SELECT user_id,
               CASE
                 WHEN (epoch_us(p_ts) - epoch_us(c_ts))
                      // 3600000000 < 1 THEN '0_under_1h'
                 WHEN (epoch_us(p_ts) - epoch_us(c_ts))
                      // 3600000000 < 24 THEN '1_under_24h'
                 WHEN (epoch_us(p_ts) - epoch_us(c_ts))
                      // 3600000000 < 168 THEN '2_under_7d'
                 ELSE '3_over_7d'
               END AS bucket
        FROM conv
    )
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS n_conversions,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM bucketed GROUP BY 1
    """,
)
def events_time_to_convert(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """Time-to-convert distribution: each click's NEXT same-user
    purchase (the FORWARD as-of join — temporal-join family member
    #5 next to backward as-of, range-band, interval-overlap and
    bounded-lookback), bucketed into the funnel-latency bands
    every conversion report uses (<1h, <24h, <7d, longer).

    Cross-engine determinism: latency is integer MICROSECOND
    arithmetic floor-divided to hours (epoch_us/unix_micros in
    both engines — never timestamp subtraction's interval
    semantics), bucket labels carry an ordering prefix, counts
    are exact BIGINTs.

    Shape at scale: clicks x purchases equi-join on user_id with
    the forward predicate as a residual — bounded by per-user
    activity, never a cross product — then one (user, click)-keyed
    MIN fold and a 4-row rollup. Same plan class as the
    attribution query, mirrored in time."""
    ev = load_table(spark, sf_dir, "events")
    c = (ev.filter(F.col("event_type") == "click")
         .select("user_id", F.col("ts").alias("c_ts")))
    p = (ev.filter(F.col("event_type") == "purchase")
         .select(F.col("user_id").alias("p_user"),
                 F.col("ts").alias("p_ts")))
    conv = (c.join(p, (F.col("user_id") == F.col("p_user"))
                   & (F.col("p_ts") > F.col("c_ts")))
            .groupBy("user_id", "c_ts")
            .agg(F.min("p_ts").alias("p_ts")))
    # integer floor of the (strictly positive) latency quotient —
    # DIV, never timestamp subtraction's interval semantics
    hours = F.expr("(unix_micros(p_ts) - unix_micros(c_ts)) "
                   "DIV 3600000000")
    bucket = (F.when(hours < 1, "0_under_1h")
              .when(hours < 24, "1_under_24h")
              .when(hours < 168, "2_under_7d")
              .otherwise("3_over_7d"))
    return (conv.select("user_id", bucket.alias("bucket"))
            .groupBy("bucket")
            .agg(F.count("*").cast("long").alias("n_conversions"),
                 F.countDistinct("user_id").cast("long")
                 .alias("n_users")))


@register(
    "events_path_trigrams",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type AS s1,
               LEAD(event_type, 1) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) AS s2,
               LEAD(event_type, 2) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) AS s3
        FROM events
    ), paths AS (
        SELECT s1, s2, s3,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        FROM seq WHERE s3 IS NOT NULL
        GROUP BY 1, 2, 3
    ), tot AS (
        SELECT CAST(SUM(n) AS BIGINT) AS total FROM paths
    )
    SELECT s1, s2, s3, n, n_users,
           ROUND(n * 1.0 / tot.total, 6) AS share
    FROM paths CROSS JOIN tot
    """,
)
def events_path_trigrams(spark: SparkSession,
                         sf_dir: str) -> DataFrame:
    """Second-order path mining over per-user event sequences:
    every 3-step path (s1 → s2 → s3) of consecutive event types in
    a user's timeline, with its occurrence count, the number of
    DISTINCT users who walked it, and its share of all trigram
    walks — the funnel-DISCOVERY primitive (which multi-step
    journeys actually happen, and whether a hot path is one power
    user looping or genuinely broad) that sits one order above the
    Markov transition matrix (``events_markov_transitions``) and
    feeds candidate stages into the funnel queries.

    Cross-engine determinism: the per-user order is (ts, event_id)
    — the repo's sessionization convention, a total order — so
    both engines walk identical sequences; counts are integers and
    the share is a single ROUND(n · 1.0 / total, 6) on identical
    integers. Output cardinality is |event_types|³ at most — a
    handful of rows however large the log.

    Shape at scale: ONE window pass (two LEADs over the same
    per-user sort — Catalyst evaluates them in a single Window
    node, so the log is sorted once, partitioned by user: no
    reducer sees more than one user's timeline), then the path
    counts partial-aggregate on the tiny (s1,s2,s3) key; the
    1-row grand total broadcasts back for the share projection.
    The distinct-user count rides the same aggregation as a
    two-level fold (exact distinct on a key that is already
    user-partitioned upstream)."""
    return path_trigrams_from_events(
        load_table(spark, sf_dir, "events"))


def path_trigrams_from_events(ev: DataFrame) -> DataFrame:
    """The full trigram pipeline over an events frame (user_id,
    ts, event_id, event_type): one Window pass for both LEADs,
    then the shared rollup tail — exposed so retention tests can
    run the batch query over a restricted window."""
    return trigrams_from_walks(_path_walks(ev))


def _path_walks(ev: DataFrame) -> DataFrame:
    """The walk extraction alone (both LEADs over the same
    per-user (ts, event_id) sort — Catalyst evaluates them in ONE
    Window node), exposed so the plan pin can certify the
    single-pass property the rollup's checkpoint barrier hides
    from the final plan."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (ev.select("user_id",
                      F.col("event_type").alias("s1"),
                      F.lead("event_type", 1).over(w).alias("s2"),
                      F.lead("event_type", 2).over(w).alias("s3"))
            .filter(F.col("s3").isNotNull()))


def trigrams_from_walks(walks: DataFrame) -> DataFrame:
    """The trigram rollup tail over (user_id, s1, s2, s3) walk
    rows: path counts + distinct walkers on the tiny type³ key,
    then the 6-dp share off a broadcast 1-row total. Shared by
    ``events_path_trigrams`` and the streaming user-sequence
    store's reader (``streaming_path_trigrams``), so the twin
    equality is structural."""
    paths = (walks.groupBy("s1", "s2", "s3")
             .agg(F.count("*").cast("long").alias("n"),
                  F.countDistinct("user_id").cast("long")
                  .alias("n_users"))
             # the tiny type³ rollup feeds BOTH the output rows
             # and the grand total — without the barrier the whole
             # upstream walk (a full event scan + Window pass in
             # the batch query) evaluates twice (r14 plan-pin
             # catch)
             .localCheckpoint(eager=False))
    tot = paths.agg(F.sum("n").alias("total"))
    return (paths.crossJoin(F.broadcast(tot))
            .select("s1", "s2", "s3", "n", "n_users",
                    F.round(F.col("n") * F.lit(1.0) / F.col("total"), 6)
                    .alias("share")))


@register(
    "events_interarrival_burstiness",
    oracle="""
    WITH rows_t AS (
        SELECT user_id, event_type,
               epoch_us(ts) AS t, event_id AS id
        FROM events
    ), gaps AS (
        SELECT event_type,
               t - LAG(t) OVER (PARTITION BY user_id, event_type
                                ORDER BY t, id) AS g
        FROM rows_t
    ), s AS (
        SELECT event_type,
               CAST(COUNT(*) AS HUGEINT) AS n,
               CAST(SUM(g) AS HUGEINT) AS sg,
               SUM(CAST(g AS HUGEINT) * g) AS sgg
        FROM gaps WHERE g IS NOT NULL
        GROUP BY 1
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n_gaps,
           CAST(sg // n AS BIGINT) AS mean_gap_us,
           ROUND((sqrt(CAST(n * sgg - sg * sg AS DOUBLE))
                  - CAST(sg AS DOUBLE))
                 / (sqrt(CAST(n * sgg - sg * sg AS DOUBLE))
                    + CAST(sg AS DOUBLE)), 6) AS burstiness
    FROM s
    """,
)
def events_interarrival_burstiness(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """Traffic-shape monitor per event type: the burstiness
    parameter B = (σ−μ)/(σ+μ) of per-user same-type interarrival
    gaps (Goh & Barabási 2008) — −1 for a metronome, 0 for a
    Poisson process, → 1 for heavy-tailed bursts. The
    capacity-planning and bot-detection companion to the anomaly
    query: a type whose daily totals look calm can still be
    burst-dominated (retry storms, scripted clients), and B is the
    scale-free number that says so.

    Cross-engine determinism: gaps are exact integer micros off
    the (ts, event_id) per-(user, type) total order; the three
    sufficient statistics fold as DECIMAL(38,0)/HUGEINT (a 90-day
    gap squared is ~6·10²⁵ — past int64, the documented
    sum-of-squares promotion rule); the algebra cancels every
    division by n — B = (sqrt(n·Σg²−(Σg)²) − Σg) /
    (sqrt(n·Σg²−(Σg)²) + Σg) — so the score is one sqrt and one
    division of IEEE doubles converted from identical exact
    integers, rounded at 1e-6. mean_gap_us is BIGINT floor
    division.

    Shape at scale: one Window pass (per-(user, type) LAG — no
    reducer sees more than one user's one type), then a
    partial-aggregated fold onto |types| rows. The same tail runs
    as the user-sequence store's third streaming reader
    (``streaming_interarrival_burstiness``)."""
    ev = load_table(spark, sf_dir, "events")
    rows = ev.select("user_id", "event_type",
                     F.unix_micros("ts").alias("t"),
                     F.col("event_id").alias("id"))
    return burstiness_from_typed_rows(rows)


def burstiness_from_typed_rows(rows: DataFrame) -> DataFrame:
    """The burstiness tail over (user_id, event_type, t, id) rows
    — shared by ``events_interarrival_burstiness`` and the
    user-sequence store's reader, so the twin equality is
    structural."""
    w = Window.partitionBy("user_id", "event_type") \
        .orderBy("t", "id")
    gaps = (rows.select("event_type",
                        (F.col("t") - F.lag("t").over(w)).alias("g"))
            .filter(F.col("g").isNotNull()))
    dec = "decimal(38,0)"
    s = gaps.groupBy("event_type").agg(
        F.count("*").cast(dec).alias("n"),
        F.sum("g").cast(dec).alias("sg"),
        F.sum(F.col("g").cast(dec) * F.col("g")).alias("sgg"))
    num = (F.col("n") * F.col("sgg")
           - F.col("sg") * F.col("sg")).cast("double")
    sgd = F.col("sg").cast("double")
    return s.select(
        "event_type",
        F.col("n").cast("long").alias("n_gaps"),
        F.expr("CAST(sg DIV n AS BIGINT)").alias("mean_gap_us"),
        F.round((F.sqrt(num) - sgd) / (F.sqrt(num) + sgd), 6)
        .alias("burstiness"))
