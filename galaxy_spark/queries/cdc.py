"""Oracle-checked queries for the CDC operators (SURVEY.md §2.1).

Each query synthesizes the MQEvent envelope from the driver's
``events`` table (galaxy_spark.cdc.envelope — deterministic column
arithmetic) and exercises one reference operator; the oracle SQL
mirrors the envelope arithmetic directly so DuckDB computes the same
rows without needing map types.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from galaxy_spark.cdc.envelope import EVENT_SOURCE_COLUMNS, envelope_from_events
from galaxy_spark.cdc.filters import TaskFilter
from galaxy_spark.cdc.projections import project_changes, route_actions
from galaxy_spark.registry import register
from galaxy_spark.tables import load_table

# DuckDB mirror of envelope_from_events (keep in lockstep!)
_ENV_CTE = """
WITH env AS (
    SELECT 'db' || CAST(user_id % 3 AS VARCHAR) AS db,
           event_type AS tbl,
           CASE WHEN event_id % 10 <= 5 THEN 'insert'
                WHEN event_id % 10 <= 8 THEN 'update'
                ELSE 'delete' END AS action,
           event_id, user_id, value
    FROM events
)
"""


@register(
    "cdc_change_summary",
    oracle=_ENV_CTE + """
    SELECT db AS database, tbl AS "table", action,
           COUNT(*) AS n_changes,
           CAST(MIN(event_id) AS BIGINT) AS first_pos,
           CAST(MAX(event_id) AS BIGINT) AS last_pos
    FROM env
    GROUP BY 1, 2, 3
    """,
)
def cdc_change_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: per-(db, table, action) change counts + pos range.

    Exercises S1 (scan), S3 (action classify) and the groupBy the
    reference's consumers would run downstream. Partial aggregation
    (map-side combine) keeps the shuffle tiny at any scale.
    """
    env = envelope_from_events(load_table(spark, sf_dir, "events"))
    return env.groupBy("database", "table", "action").agg(
        F.count("*").alias("n_changes"),
        F.min("event_header.log_pos").alias("first_pos"),
        F.max("event_header.log_pos").alias("last_pos"),
    )


@register(
    "cdc_filter_include_exclude",
    oracle=_ENV_CTE + """
    SELECT db AS database, tbl AS "table", action,
           CAST(event_id AS BIGINT) AS log_pos
    FROM env
    WHERE db IN ('db0', 'db1')
      AND (db || '.' || tbl IN ('db0.click', 'db0.view') OR db || '.*' IN ('db1.*'))
      AND NOT (db || '.' || tbl IN ('db1.purchase'))
    """,
)
def cdc_filter_include_exclude(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1+F2+F3: db include, table include w/ ``db.*`` wildcard, exclude wins.

    Semantics of ``internal/sync_server/process.go:40-75``. The
    whole predicate collapses into the scan (pushdown) — verify with
    ``.explain``: no separate Filter stage after AQE.
    """
    env = envelope_from_events(load_table(spark, sf_dir, "events"))
    flt = TaskFilter(
        databases=("db0", "db1"),
        tables=("db0.click", "db0.view", "db1.*"),
        exclude_tables=("db1.purchase",),
    )
    return flt.apply(env).select(
        "database", "table", "action",
        F.col("event_header.log_pos").alias("log_pos"),
    )


@register(
    "cdc_projection_insert",
    oracle=_ENV_CTE + """
    SELECT db AS database, tbl AS "table",
           CAST(event_id AS BIGINT) AS after_event_id,
           CAST(user_id AS BIGINT) AS after_user_id,
           value AS after_value
    FROM env WHERE action = 'insert'
    """,
)
def cdc_projection_insert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2 insert projection: positional row -> named ``after`` map.

    Builds the map with ``map_from_arrays`` (JVM-side), then
    flattens scalars back out for oracle comparability. String->
    double round-trips are exact (shortest-repr rendering).
    """
    env = envelope_from_events(load_table(spark, sf_dir, "events"))
    projected = project_changes(env, EVENT_SOURCE_COLUMNS)
    inserts = route_actions(projected)["insert"]
    return inserts.select(
        "database", "table",
        F.element_at("after", "event_id").cast("long").alias("after_event_id"),
        F.element_at("after", "user_id").cast("long").alias("after_user_id"),
        F.element_at("after", "value").cast("double").alias("after_value"),
    )


@register(
    "cdc_projection_delete",
    oracle=_ENV_CTE + """
    SELECT db AS database, tbl AS "table",
           CAST(event_id AS BIGINT) AS before_event_id,
           value - 1.0 AS before_value
    FROM env WHERE action = 'delete'
    """,
)
def cdc_projection_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3 delete projection: positional row -> named ``before`` map."""
    env = envelope_from_events(load_table(spark, sf_dir, "events"))
    projected = project_changes(env, EVENT_SOURCE_COLUMNS)
    deletes = route_actions(projected)["delete"]
    return deletes.select(
        "database", "table",
        F.element_at("before", "event_id").cast("long").alias("before_event_id"),
        F.element_at("before", "value").cast("double").alias("before_value"),
    )


@register(
    "cdc_projection_update",
    oracle=_ENV_CTE + """
    SELECT db AS database, tbl AS "table",
           CAST(event_id AS BIGINT) AS log_pos,
           value - 1.0 AS before_value,
           value AS after_value
    FROM env WHERE action = 'update'
    """,
)
def cdc_projection_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4 update pair-fold, canonical (before, after) orientation.

    The reference inverts the pair (``process.go:138-141``); we emit
    Debezium-canonical order — divergence documented in
    galaxy_spark.cdc.envelope.
    """
    env = envelope_from_events(load_table(spark, sf_dir, "events"))
    projected = project_changes(env, EVENT_SOURCE_COLUMNS)
    updates = route_actions(projected)["update"]
    return updates.select(
        "database", "table",
        F.col("event_header.log_pos").alias("log_pos"),
        F.element_at("before", "value").cast("double").alias("before_value"),
        F.element_at("after", "value").cast("double").alias("after_value"),
    )


@register(
    "cdc_sink_routing",
    oracle=_ENV_CTE + """
    SELECT 'task1.' || db || '.' || tbl AS topic,
           db || '.' || tbl AS key,
           COUNT(*) AS n_messages
    FROM env
    GROUP BY 1, 2
    """,
)
def cdc_sink_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K1 keyed-sink routing: topic ``<task>.<db>.<table>``, key ``<db>.<table>``.

    Mirrors ``internal/mq_manager/kafka/kafka.go:117-118``. In
    production these columns feed ``writeStream.format("kafka")``
    (topic-per-row is built in); here we aggregate message counts
    per route for the oracle check.
    """
    env = envelope_from_events(load_table(spark, sf_dir, "events"))
    routed = env.select(
        F.concat_ws(".", F.lit("task1"), "database", "table").alias("topic"),
        F.concat_ws(".", "database", "table").alias("key"),
    )
    return routed.groupBy("topic", "key").agg(F.count("*").alias("n_messages"))


@register(
    "cdc_schema_attach",
    oracle=_ENV_CTE + """
    SELECT db AS database, tbl AS "table",
           CASE tbl WHEN 'click' THEN 'event_id,user_id,value'
                    WHEN 'view' THEN 'event_id,user_id'
                    ELSE 'event_id,value' END AS after_schema,
           COUNT(*) AS n_inserts
    FROM env
    WHERE action = 'insert' AND tbl IN ('click', 'view', 'purchase')
    GROUP BY 1, 2, 3
    """,
)
def cdc_schema_attach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1 schema lookup/attach: each table's events are projected
    with THAT table's registry schema (different column lists per
    table), mirroring the reference's per-event ``tableSchema``
    cache resolve (``internal/sync_server/baseinfo.go:39-58``).

    Spark shape: the registry is driver-side metadata compiled into
    per-table plan branches (a filter + projection each, sharing one
    scan) — a broadcast of column NAMES into the plan, never a
    per-row join, so the registry adds zero shuffle at any scale.
    """
    from galaxy_spark.cdc.schema_registry import ColumnDef, SchemaRegistry

    reg = SchemaRegistry()
    reg.put("*", "click", [ColumnDef("event_id", "bigint"),
                           ColumnDef("user_id", "bigint"),
                           ColumnDef("value", "double")])
    reg.put("*", "view", [ColumnDef("event_id", "bigint"),
                          ColumnDef("user_id", "bigint")])
    reg.put("*", "purchase", [ColumnDef("event_id", "bigint"),
                              ColumnDef("value", "double")])

    env = envelope_from_events(load_table(spark, sf_dir, "events"))
    # the fixture's org_row is always (event_id, user_id, value); a
    # narrower registry schema projects a PREFIX/SUBSET of positions
    # the way a narrower real table would
    pos = {"event_id": 0, "user_id": 1, "value": 2}
    branches = []
    for (_db, tbl) in reg.tables():
        names = reg.column_names("*", tbl)
        rows = F.col("org_row").getItem(0)
        projected = F.map_from_arrays(
            F.array(*[F.lit(n) for n in names]),
            F.array(*[rows.getItem(pos[n]) for n in names]))
        branches.append(
            env.filter((F.col("table") == tbl) & (F.col("action") == "insert"))
               .select("database", "table",
                       F.concat_ws(",", F.map_keys(projected))
                        .alias("after_schema")))
    out = branches[0]
    for b in branches[1:]:
        out = out.unionByName(b)
    return out.groupBy("database", "table", "after_schema").agg(
        F.count("*").alias("n_inserts"))


@register(
    "cdc_ddl_evolution",
    oracle="""
    SELECT * FROM (VALUES
        (1, 'test.casbin_rule',
         'id:bigint,ptype:varchar(100),v0:varchar(100),age:int(4),v1:varchar(100)'),
        (2, 'test.casbin_rule',
         'first_col:int(5),id:bigint,ptype:varchar(100),v0:varchar(100),age:int(4),v1:varchar(100)'),
        (3, 'test.casbin_rule',
         'first_col:int(5),id:bigint,ptype:varchar(100),v0:varchar(100),age:int(4)'),
        (4, 'test.casbin_rule',
         'first_col:int(5),id:bigint,ptype:varchar(100),v0:varchar(100),age2:int(64)'),
        (5, 'test.casbin_rule',
         'id:bigint,ptype:varchar(100),v0:varchar(100),age2:int(64),score:decimal(10,2)'),
        (6, 'test.users', 'id:bigint,name:varchar(300)')
    ) AS t(step, tbl, cols)
    """,
)
def cdc_ddl_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5 schema evolution, driver-checkable: replay an ALTER corpus
    (statement shapes mirroring the reference's real-world test
    corpus, ``internal/sync_server/sync_test.go:127-156`` — dbeaver
    comment prefixes, FIRST/AFTER placement, ``int (5)`` with a
    space, backticks, CHANGE rename, multi-spec, MODIFY) through
    ``SchemaRegistry.apply_ddl`` and emit each evolved column list.

    The oracle is the hand-derived literal expected schema after
    every statement, so the driver certifies the parser + registry
    semantics end-to-end. The registry is driver-side control-plane
    metadata (bounded: one ALTER at a time off the binlog), so a
    local replay is the honest scale shape — the data path never
    sees this work.
    """
    from galaxy_spark.cdc.schema_registry import ColumnDef, SchemaRegistry

    reg = SchemaRegistry()
    reg.put("test", "casbin_rule", [
        ColumnDef("id", "bigint"), ColumnDef("ptype", "varchar(100)"),
        ColumnDef("v0", "varchar(100)"), ColumnDef("v1", "varchar(100)")])
    reg.put("test", "users", [
        ColumnDef("id", "bigint"), ColumnDef("name", "varchar(50)")])
    corpus = [
        ("/* ApplicationName=DBeaver 21.1.0 - SQLEditor <Script-1.sql> */ "
         "alter table test.casbin_rule add age int(4) default 20 after v0"),
        "alter table test.casbin_rule add first_col int (5) default 4  first",
        "ALTER TABLE test.casbin_rule DROP COLUMN v1",
        "alter table test.casbin_rule change age age2 int(64) default 20 null",
        ("ALTER TABLE `test`.`casbin_rule` ADD COLUMN `score` decimal(10,2) "
         "NOT NULL, DROP COLUMN `first_col`"),
        ("ALTER TABLE test.users MODIFY COLUMN name varchar(300) "
         "CHARACTER SET utf8mb4 COLLATE utf8mb4_general_ci NULL"),
        "BEGIN",   # binlog noise statements must be silent no-ops
    ]
    rows = []
    for stmt in corpus:
        from galaxy_spark.cdc.ddl import parse_alter
        parsed = parse_alter(stmt)
        if parsed is None:
            continue
        changed = reg.apply_ddl("test", stmt)
        assert changed, f"corpus statement was a no-op: {stmt}"
        tbl = parsed.table
        cols = ",".join(f"{c.name}:{c.col_type}"
                        for c in reg.get("test", tbl).columns)
        rows.append((len(rows) + 1, f"test.{tbl}", cols))
    return spark.createDataFrame(rows, "step int, tbl string, cols string")


def scd2_history_frame(env: DataFrame) -> DataFrame:
    """Open/closed validity intervals per key: the SCD2 core shared
    by cdc_scd2_history (adds versions) and cdc_asof_state (interval
    lookup) — one key-window over binlog position, LEAD closes
    intervals (including via delete tombstones), tombstones then
    drop. Columns: database, table, pk, value, pos, valid_to."""
    proj = project_changes(env, EVENT_SOURCE_COLUMNS)
    img = F.coalesce(F.col("after"), F.col("before"))
    # value = the AFTER image only: null for delete tombstones, which
    # close intervals but never open one
    ch = proj.select(
        "database", "table", "action",
        F.element_at(img, "user_id").cast("long").alias("pk"),
        F.element_at(F.col("after"), "value").cast("double").alias("value"),
        F.col("event_header.log_pos").alias("pos"))
    w = Window.partitionBy("database", "table", "pk").orderBy("pos")
    return (ch.withColumn("valid_to", F.lead("pos").over(w))
            .filter(F.col("action") != "delete")
            .drop("action"))


def snapshot_change_frame(env: DataFrame) -> DataFrame:
    """Projected change frame for snapshot folds: (database, table,
    action, pk, v, pos) out of the FULL §2.1 chain (classify S3,
    project P2-P4). Shared by the batch cdc_apply_snapshot query
    and the incremental streaming fold
    (``state_store.start_incremental_snapshot_parquet``), so their
    semantics can't drift apart."""
    proj = project_changes(env, EVENT_SOURCE_COLUMNS)
    img = F.coalesce(F.col("after"), F.col("before"))
    return proj.select(
        "database", "table", "action",
        F.element_at(img, "user_id").cast("long").alias("pk"),
        F.element_at(img, "value").cast("double").alias("v"),
        F.col("event_header.log_pos").alias("pos"))


@register(
    "cdc_apply_snapshot",
    oracle=_ENV_CTE + """
    , latest AS (
        SELECT db, tbl, user_id AS pk,
               arg_max(action, event_id) AS last_action,
               arg_max(CASE WHEN action = 'delete' THEN value - 1.0
                            ELSE value END, event_id) AS last_value,
               MAX(event_id) AS last_pos,
               CAST(COUNT(*) AS INTEGER) AS n_changes
        FROM env GROUP BY 1, 2, 3
    )
    SELECT db AS database, tbl AS "table", pk,
           last_value, last_pos, n_changes
    FROM latest WHERE last_action <> 'delete'
    """,
)
def cdc_apply_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changelog -> snapshot fold: the materialized table state a
    consumer of the reference's Kafka topic maintains downstream
    (the reference stops at the sink, ``internal/mq_manager``; this
    is the canonical first thing every subscriber does with it).

    Latest-wins per (database, table, primary key) by binlog
    position, delete tombstones removed. The key and value come out
    of the PROJECTED envelope (``coalesce(after, before)``), so the
    whole §2.1 chain — synthesize S1, classify S3, project P2-P4 —
    runs under the fold.

    Shape at scale: one key-grouped aggregation via ``max_by``
    (log_pos is totally ordered within a key), partial-aggregated
    map-side — no window sort, no per-key shuffle of full history,
    and hot keys collapse to one row per map task before the
    exchange. The oracle mirrors with DuckDB ``arg_max``; the
    delete-branch CASE reproduces the projection's before-image
    (value - 1.0) even though tombstone values never survive the
    final filter.
    """
    env = envelope_from_events(load_table(spark, sf_dir, "events"))
    return (snapshot_change_frame(env)
            .groupBy("database", "table", "pk")
            .agg(F.max_by("action", "pos").alias("last_action"),
                 F.max_by("v", "pos").alias("last_value"),
                 F.max("pos").alias("last_pos"),
                 F.count("*").cast("int").alias("n_changes"))
            .filter(F.col("last_action") != "delete")
            .drop("last_action"))


@register(
    "cdc_scd2_history",
    oracle=_ENV_CTE + """
    , ch AS (
        SELECT db, tbl, user_id AS pk, event_id AS pos, action, value,
               LEAD(event_id) OVER (PARTITION BY db, tbl, user_id
                                    ORDER BY event_id) AS valid_to
        FROM env
    )
    SELECT db AS database, tbl AS "table", pk, value,
           pos AS valid_from, valid_to,
           CAST(ROW_NUMBER() OVER (PARTITION BY db, tbl, pk
                                   ORDER BY pos) AS INTEGER) AS version,
           (valid_to IS NULL) AS is_current
    FROM ch WHERE action <> 'delete'
    """,
)
def cdc_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type-2 build from the changelog:
    every non-delete change opens a version row with
    ``[valid_from, valid_to)`` binlog-position validity; the next
    change on the key (INCLUDING a delete tombstone) closes it;
    the last un-superseded version is ``is_current``. The standard
    warehouse materialization one step past ``cdc_apply_snapshot``
    (which keeps only the latest image; this keeps point-in-time
    history an AS-OF join can hit).

    Shape at scale: one window over (db, table, pk) ordered by the
    totally-ordered binlog position — partitioned by the key, so
    parallelism is the key cardinality and no reducer sees more
    than one key's history; versions come from the same sort, so
    both window functions share a single exchange+sort. The delete
    rows participate in LEAD (they close intervals) and are then
    dropped — exactly the tombstone semantics of the reference's
    downstream consumers.
    """
    env = envelope_from_events(load_table(spark, sf_dir, "events"))
    hist = scd2_history_frame(env)
    w = Window.partitionBy("database", "table", "pk").orderBy("pos")
    return (
        hist.withColumn("version", F.row_number().over(w).cast("int"))
        .select("database", "table", "pk", "value",
                F.col("pos").alias("valid_from"), "valid_to", "version",
                F.col("valid_to").isNull().alias("is_current"))
    )


@register(
    "cdc_asof_state",
    oracle=_ENV_CTE + """
    , ch AS (
        SELECT db, tbl, user_id AS pk, event_id AS pos, action, value,
               LEAD(event_id) OVER (PARTITION BY db, tbl, user_id
                                    ORDER BY event_id) AS valid_to
        FROM env
    ), p AS (
        SELECT MAX(event_id) // 2 AS asof FROM env
    )
    SELECT db AS database, tbl AS "table", pk, value,
           pos AS valid_from
    FROM ch, p
    WHERE action <> 'delete'
      AND pos <= p.asof
      AND (valid_to IS NULL OR valid_to > p.asof)
    """,
)
def cdc_asof_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time table state AS OF the changelog's midpoint
    position (max_pos >> 1 — data-dependent so the lookup is
    mid-history at every scale): the query SCD2 histories exist to
    answer. A key's live version at P is the interval containing P
    (``valid_from <= P < valid_to``, open tail for the current
    version); keys deleted before P or born after P are absent.

    Composes the SCD2 build (same single key-window) with a scalar
    broadcast position and a scan-local interval predicate — the
    same plan an as-of feature-store lookup runs, with the interval
    table read in place of recomputed. The midpoint halves use
    ``shiftright(_, 1)`` / ``// 2`` so both engines floor
    identically (a double cast would round-half differently).
    """
    env = envelope_from_events(load_table(spark, sf_dir, "events"))
    hist = scd2_history_frame(env)
    p = env.agg(
        F.shiftright(F.max("event_header.log_pos"), 1).alias("asof"))
    return (
        hist.crossJoin(F.broadcast(p))
        .filter((F.col("pos") <= F.col("asof"))
                & (F.col("valid_to").isNull()
                   | (F.col("valid_to") > F.col("asof"))))
        .select("database", "table", "pk", "value",
                F.col("pos").alias("valid_from"))
    )


@register(
    "cdc_reconcile_checksum",
    oracle=_ENV_CTE + """
    SELECT db AS database, tbl AS "table",
           CAST(SUM((((user_id % 1000000007) * 1000003
                      + event_id % 1000000007) % 1000000007
                     * 1000033
                     + CAST(ROUND((CASE WHEN action = 'delete'
                                        THEN value - 1.0 ELSE value END)
                                  * 100, 0) AS BIGINT) % 1000000007)
                    % 1000000007) AS BIGINT) AS checksum,
           COUNT(*) AS n_rows
    FROM env
    GROUP BY db, tbl
    """,
)
def cdc_reconcile_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive per-(database, table) changelog checksum —
    the reconciliation primitive a CDC operator runs on both sides
    of the pipe (source binlog vs sink topic/table) to prove no
    event was lost or mutated, without moving either dataset.

    The row hash is pure integer polynomial arithmetic over the
    PROJECTED key, position, and cent-quantized image value (via
    snapshot_change_frame, so the full S3/P2-P4 chain is under the
    checksum; doubles never render to strings — engine float
    formatting differs; ROUND(x*100) of a MEASURED double is safe —
    its expansion never terminates exactly at the half boundary,
    the SCALE.md rule), reduced mod 1e9+7 BETWEEN polynomial steps
    (not only at the end): each operand is cut below 1e9 before a
    multiply, so every intermediate stays under ~1.1e15 << int64
    max for ANY pk/pos/value cardinality — the naive
    ``(pk*1000003+pos)*1000033`` form overflows int64 (Spark wraps
    silently, DuckDB raises) once pk exceeds ~9.2e6, i.e. well
    below warehouse scale. The per-row hash stays < 1e9, so the
    SUM fits BIGINT at any row count. Addition commutes, so the
    checksum is partition- and order-independent: one
    partial-aggregated exchange per side, constant output.
    """
    env = envelope_from_events(load_table(spark, sf_dir, "events"))
    ch = snapshot_change_frame(env)  # database, table, action, pk, v, pos
    P = F.lit(1000000007)
    cents = F.round(F.col("v") * 100, 0).cast("long")
    rh = ((F.col("pk") % P) * 1000003 + F.col("pos") % P) % P \
        * 1000033 + cents % P
    rh = rh % P
    return (ch.groupBy("database", "table")
            .agg(F.sum(rh).alias("checksum"),
                 F.count("*").alias("n_rows")))


@register(
    "cdc_incremental_view_sum",
    oracle=_ENV_CTE + """
    , ch AS (
        SELECT db, tbl, user_id AS pk, event_id AS pos,
               CASE WHEN action = 'delete' THEN 0
                    ELSE CAST(ROUND(value * 100, 0) AS BIGINT) END AS cur,
               CASE WHEN action = 'delete' THEN 0 ELSE 1 END AS curn
        FROM env
    ), d AS (
        SELECT db, tbl,
               cur - LAG(cur, 1, 0) OVER (PARTITION BY db, tbl, pk
                                          ORDER BY pos) AS dv,
               curn - LAG(curn, 1, 0) OVER (PARTITION BY db, tbl, pk
                                            ORDER BY pos) AS dn
        FROM ch
    ), incr AS (
        SELECT db, tbl,
               CAST(SUM(dv) AS BIGINT) AS incr_sum_cents,
               CAST(SUM(dn) AS BIGINT) AS incr_rows
        FROM d GROUP BY 1, 2
    ), snap AS (
        SELECT db, tbl, user_id AS pk,
               arg_max(action, event_id) AS last_action,
               arg_max(CASE WHEN action = 'delete' THEN 0
                            ELSE CAST(ROUND(value * 100, 0) AS BIGINT) END,
                       event_id) AS last_cents
        FROM env GROUP BY 1, 2, 3
    ), direct AS (
        SELECT db, tbl,
               CAST(SUM(last_cents) AS BIGINT) AS direct_sum_cents,
               CAST(COUNT(*) AS BIGINT) AS direct_rows
        FROM snap WHERE last_action <> 'delete' GROUP BY 1, 2
    )
    SELECT i.db AS database, i.tbl AS "table",
           incr_sum_cents, incr_rows,
           COALESCE(direct_sum_cents, 0) AS direct_sum_cents,
           COALESCE(direct_rows, 0) AS direct_rows,
           (incr_sum_cents = COALESCE(direct_sum_cents, 0)
            AND incr_rows = COALESCE(direct_rows, 0)) AS consistent
    FROM incr i LEFT JOIN direct d ON i.db = d.db AND i.tbl = d.tbl
    """,
)
def cdc_incremental_view_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance from the changelog
    — the delta rule for SUM/COUNT views (Z-set / retract-stream
    semantics, the core of DBSP and Flink's retract mode): each
    change on a key emits a signed delta against the key's PREVIOUS
    state (insert -> +v/+1, update -> +(v_new - v_old)/0, delete ->
    -v_old/-1), and the view ``SELECT db, tbl, SUM(value), COUNT(*)
    GROUP BY db, tbl`` is maintained by merely ADDING the deltas —
    no recompute, no per-key state at the aggregator. The query
    runs BOTH paths — the delta fold and the full snapshot
    recompute (cdc_apply_snapshot's max_by fold + re-aggregate) —
    and certifies them equal per group (``consistent``), which is
    the telescoping-sum identity incremental view maintenance
    rests on.

    Values fold in int64 cents (ROUND(v*100) of a measured double —
    exact per the SCALE.md quantization rule), so the delta sum is
    order- and partition-independent with no decimal machinery.

    Shape at scale: delta emission is ONE window over (db, table,
    pk) ordered by binlog pos — the same exchange+sort SCD2 uses;
    the fold after it partial-aggregates to |groups| rows map-side,
    so the second exchange moves O(partitions x groups). In the
    streaming deployment the LAG state is the per-key last image
    the snapshot store already holds
    (``state_store.SNAPSHOT_SPEC``), and
    each micro-batch ships only its partial delta sums — the view
    update cost is independent of both history length and key
    cardinality, which is the entire point of the delta rule.
    Reference parity: consumers of the reference's Kafka topics
    (``internal/mq_manager``) maintain exactly such running
    aggregates downstream of the update/delete envelope
    (``process.go`` emits before+after images precisely so
    subscribers can form these retractions).
    """
    env = envelope_from_events(load_table(spark, sf_dir, "events"))
    ch = snapshot_change_frame(env)  # database, table, action, pk, v, pos
    cents = F.round(F.col("v") * 100, 0).cast("long")
    cur = F.when(F.col("action") == "delete", F.lit(0)).otherwise(cents)
    curn = F.when(F.col("action") == "delete", F.lit(0)).otherwise(F.lit(1))
    w = Window.partitionBy("database", "table", "pk").orderBy("pos")
    deltas = (ch.select("database", "table", "pk", "pos",
                        cur.alias("cur"), curn.alias("curn"))
              .select("database", "table",
                      (F.col("cur") - F.lag("cur", 1, 0).over(w)).alias("dv"),
                      (F.col("curn") - F.lag("curn", 1, 0).over(w))
                      .alias("dn")))
    incr = (deltas.groupBy("database", "table")
            .agg(F.sum("dv").alias("incr_sum_cents"),
                 F.sum("dn").alias("incr_rows")))
    snap = (ch.groupBy("database", "table", "pk")
            .agg(F.max_by("action", "pos").alias("last_action"),
                 F.max_by(cur, F.col("pos")).alias("last_cents")))
    direct = (snap.filter(F.col("last_action") != "delete")
              .groupBy("database", "table")
              .agg(F.sum("last_cents").alias("direct_sum_cents"),
                   F.count("*").alias("direct_rows")))
    return (incr.join(F.broadcast(direct), ["database", "table"], "left")
            .select("database", "table", "incr_sum_cents", "incr_rows",
                    F.coalesce("direct_sum_cents", F.lit(0))
                    .alias("direct_sum_cents"),
                    F.coalesce("direct_rows", F.lit(0)).alias("direct_rows"),
                    ((F.col("incr_sum_cents")
                      == F.coalesce("direct_sum_cents", F.lit(0)))
                     & (F.col("incr_rows")
                        == F.coalesce("direct_rows", F.lit(0))))
                    .alias("consistent")))
