"""Batch readers: parquet tables + JDBC metadata bootstrap.

The JDBC reader replaces the reference's schema bootstrap — galaxy
runs ``SHOW FULL COLUMNS FROM `db`.`table``` over a single pooled
MySQL connection (``internal/sync_server/baseinfo.go:15-36``,
``sync.go:206-222`` with ``SetMaxOpenConns(1)``). The Spark-native
equivalent queries ``information_schema.columns`` through the stock
JDBC source; no live MySQL exists in this harness, so the builder
returns the configured ``DataFrameReader`` (tested for option
wiring) and executes only when a URL is reachable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from galaxy_spark.tables import load_table

#: columns fetched for schema bootstrap, mirroring what the
#: reference consumes from SHOW FULL COLUMNS (type/name/nullability
#: — pkg/models.go:43-47)
INFORMATION_SCHEMA_QUERY = """
    SELECT table_schema, table_name, column_name, ordinal_position,
           column_type, is_nullable
    FROM information_schema.columns
    WHERE table_schema = '{db}'
"""


def read_parquet_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Batch parquet scan with pushdown/pruning (delegates to
    galaxy_spark.tables, which also handles the events table's
    TIMESTAMP(NANOS) quirk)."""
    return load_table(spark, sf_dir, name)


def jdbc_table_reader(spark: SparkSession, url: str, db: str,
                      user: str, password: str,
                      num_partitions: int = 1):
    """Configured JDBC reader for the schema-bootstrap query.

    ``numPartitions=1`` mirrors the reference's single metadata
    connection (``sync.go:213``); the result is tiny (one row per
    column) so there is nothing to parallelize.
    """
    # SQL-literal escape for the schema name: a quote in a legal
    # MySQL schema name would otherwise break (or redirect) the query
    return (
        spark.read.format("jdbc")
        .option("url", url)
        .option("query", INFORMATION_SCHEMA_QUERY.format(
            db=db.replace("'", "''")))
        .option("user", user)
        .option("password", password)
        .option("numPartitions", str(num_partitions))
    )


def bootstrap_registry_from_rows(registry, rows) -> list[tuple[str, str]]:
    """Populate a ``SchemaRegistry`` from ``information_schema``
    rows — the glue between the JDBC bootstrap read and P1 schema
    lookup (the reference's SHOW FULL COLUMNS cache build,
    ``internal/sync_server/baseinfo.go:15-36``).

    ``rows``: any iterable of mappings/Rows with ``table_schema``,
    ``table_name``, ``column_name``, ``ordinal_position``,
    ``column_type``, ``is_nullable`` (the INFORMATION_SCHEMA_QUERY
    projection; engines without MySQL's ``column_type`` alias their
    ``data_type``). Columns register in ordinal order regardless of
    row arrival order — JDBC partition merges do not guarantee it.
    Returns the (db, table) keys registered.

    Contract-tested against a LIVE information_schema catalog
    (DuckDB's) in tests/test_sources.py, so the chain query ->
    rows -> registry is exercised end-to-end without a MySQL.
    """
    from galaxy_spark.cdc.schema_registry import ColumnDef

    grouped: dict[tuple[str, str], list] = {}
    for r in rows:                   # dicts and pyspark Rows both index by name
        grouped.setdefault(
            (r["table_schema"], r["table_name"]), []).append(r)
    for (db, table), cols in grouped.items():
        cols.sort(key=lambda r: int(r["ordinal_position"]))
        registry.put(db, table, [
            ColumnDef(
                name=c["column_name"],
                col_type=str(c["column_type"]).lower(),
                not_null=str(c["is_nullable"]).upper() == "NO",
            ) for c in cols
        ])
    return sorted(grouped)


def read_csv_table(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """CSV scan with explicit schema (inference is a second full
    pass over the data — never acceptable at 100 TB; callers pass
    the schema or sample a fraction themselves)."""
    reader = spark.read.option("header", "true")
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "false")  # strings, one pass
    return reader.csv(path)


def read_json_table(spark: SparkSession, path: str, schema=None,
                    corrupt_column: bool = True) -> DataFrame:
    """JSON-lines scan; same explicit-schema policy as CSV.
    Corrupt records land in ``_corrupt_record`` (PERMISSIVE mode)
    instead of failing the scan — the batch twin of the CDC
    quarantine policy. Spark only populates the corrupt-record
    column if it EXISTS in the schema, so an explicit data-only
    schema (the normal call) gets the field appended here —
    otherwise malformed lines silently became all-null rows,
    indistinguishable from legitimately-null data.

    CONTRACT: with ``corrupt_column=True`` (default) the output
    schema is the caller's schema PLUS ``_corrupt_record string``
    — callers that persist the frame, union it against existing
    datasets, or compare schemas strictly should either select the
    data columns or pass ``corrupt_column=False`` to keep the
    schema exactly as given (malformed lines then surface as
    all-null rows, Spark's bare PERMISSIVE behavior)."""
    from pyspark.sql import types as T

    reader = spark.read.option("mode", "PERMISSIVE") \
        .option("columnNameOfCorruptRecord", "_corrupt_record")
    if schema is not None:
        if isinstance(schema, str):
            schema = T._parse_datatype_string(schema)
        if corrupt_column \
                and "_corrupt_record" not in schema.fieldNames():
            # new StructType — .add would mutate the caller's object
            schema = T.StructType(
                list(schema.fields)
                + [T.StructField("_corrupt_record", T.StringType())])
        reader = reader.schema(schema)
    return reader.json(path)

