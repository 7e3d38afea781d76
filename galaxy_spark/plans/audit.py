"""Physical-plan audit helpers.

The engine's scale claims (pushdown reaches the scan, dimension
joins broadcast, aggregation combines map-side, expressions stay in
whole-stage codegen) are assertions about the PHYSICAL plan — these
helpers turn ``.explain("formatted")`` into checkable facts so
tests/test_plans.py can lock the plan shape in, not just the
results. A plan regression (lost pushdown, a surprise shuffle) then
fails CI the same way a wrong answer would.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery


def physical_plan(df: DataFrame) -> str:
    """The formatted physical plan as a string."""
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted")


def streaming_plan(query: StreamingQuery) -> str:
    """The executed physical plan of ``query``'s last micro-batch
    (empty before its first batch has run)."""
    return query._jsq.explainInternal(False)  # type: ignore[attr-defined]


def pushed_filters(df: DataFrame) -> list[str]:
    """All PushedFilters entries across the plan's scans."""
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", physical_plan(df)):
        out.extend(s.strip() for s in m.group(1).split(",") if s.strip())
    return out


def partition_filters(df: DataFrame) -> list[str]:
    """All PartitionFilters entries across the plan's scans
    (partition pruning check for hive-partitioned layouts)."""
    out: list[str] = []
    for m in re.finditer(r"PartitionFilters: \[([^\]]*)\]", physical_plan(df)):
        out.extend(s.strip() for s in m.group(1).split(",") if s.strip())
    return out


def read_schema_columns(df: DataFrame) -> list[set[str]]:
    """Column sets actually read by each parquet scan (pruning
    check: a scan reading columns the query never uses is a bug)."""
    cols: list[set[str]] = []
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", physical_plan(df)):
        fields = m.group(1)
        cols.append({f.split(":")[0].strip()
                     for f in fields.split(",") if ":" in f})
    return cols


def broadcast_join_count(df: DataFrame) -> int:
    return len(re.findall(r"BroadcastHashJoin|BroadcastNestedLoopJoin",
                          physical_plan(df)))


def exchange_count(df: DataFrame) -> int:
    """Number of shuffle exchanges (excludes broadcast exchanges).

    THE scale metric: every unit here is a full network repartition
    of its input at 100 TB.
    """
    # formatted plans list shuffle nodes as "(n) Exchange"; broadcast
    # exchanges are the distinct node name "BroadcastExchange"
    return len(re.findall(r"\(\d+\) Exchange\b", physical_plan(df)))


def codegen_span_count(df: DataFrame) -> int:
    """Number of WholeStageCodegen spans (fewer, wider spans = more
    of the query runs as a single generated loop)."""
    return len(set(re.findall(r"\[codegen id : (\d+)\]",
                              physical_plan(df))))


def plan_report(df: DataFrame) -> dict:
    """One-stop plan summary for logging/debugging."""
    return {
        "pushed_filters": pushed_filters(df),
        "read_schema": [sorted(c) for c in read_schema_columns(df)],
        "broadcast_joins": broadcast_join_count(df),
        "exchanges": exchange_count(df),
        "codegen_spans": codegen_span_count(df),
    }
