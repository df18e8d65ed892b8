"""Source scan rendering: config → declarative DataFrame plan.

Semantics of the reference's renderDataSourceQuery
(spark/GroupBy.scala:610-689) + QueryUtils.build
(api/.../QueryUtils.scala:20-57), re-expressed as DataFrame ops so
Catalyst gets predicate pushdown / column pruning / partition pruning
for free: ``scan → filter(wheres + ds range) → selectExpr(aliases)``.

Also performs window-aware scan-range narrowing
(spark/GroupBy.scala:567-608): an events source for queries over
``[start, end]`` with max window W only needs partitions
``[start − ceil(W days), end]``.
"""

from __future__ import annotations

import datetime as _dt
import threading
from contextlib import contextmanager
from contextvars import ContextVar

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from chronon_spark.api.types import (
    MS_PER_DAY,
    EntitySource,
    EventSource,
    GroupBy,
    Query,
    Source,
)

TS_COL = "ts"  # engine-internal epoch-millis long (spark/GroupBy.scala:492-499)


def shift_ds(ds: str, days: int) -> str:
    d = _dt.date.fromisoformat(ds) + _dt.timedelta(days=days)
    return d.isoformat()


def ds_to_millis(ds: str) -> int:
    d = _dt.date.fromisoformat(ds)
    return int(_dt.datetime(d.year, d.month, d.day, tzinfo=_dt.timezone.utc).timestamp() * 1000)


def millis_to_ds(ms: int) -> str:
    return _dt.datetime.fromtimestamp(ms / 1000, tz=_dt.timezone.utc).date().isoformat()


# table -> frame inside a shared_scans() block; None outside one
_SCANS: ContextVar[dict[str, DataFrame] | None] = ContextVar("chronon_scans", default=None)
_SCANS_LOCK = threading.Lock()


@contextmanager
def shared_scans():
    """Within the block, scan_table reads each table once and hands every
    later caller the same frame (a parquet read runs a schema-inference job
    per call). The memo lives only as long as the block, so a table
    rewritten after the block is read fresh; nested blocks share the outer
    memo.
    Threads see it when they run in a copy of the caller's context."""
    if _SCANS.get() is not None:
        yield
        return
    token = _SCANS.set({})
    try:
        yield
    finally:
        _SCANS.reset(token)


def scan_table(spark: SparkSession, table: str) -> DataFrame:
    """Load a table by catalog name or parquet path (spark/LocalDataLoader.scala
    idea). Paths containing '/' or ending in .parquet read as parquet."""
    memo = _SCANS.get()
    if memo is None:
        return _read_table(spark, table)
    with _SCANS_LOCK:
        if table not in memo:
            memo[table] = _read_table(spark, table)
        return memo[table]


def _read_table(spark: SparkSession, table: str) -> DataFrame:
    if "/" in table or table.endswith(".parquet"):
        return spark.read.parquet(table)
    return spark.table(table)


def render_query(df: DataFrame, query: Query, needs_time: bool, extra_wheres: tuple[str, ...] = ()) -> DataFrame:
    """selects/wheres/timeColumn rendering (QueryUtils.scala:28-51).

    Filters are applied BEFORE projection (where-clauses may reference
    non-selected columns, matching the rendered-SQL semantics), so pushdown
    reaches the scan.
    """
    for w in tuple(query.wheres) + tuple(extra_wheres):
        df = df.filter(w)
    select_exprs: list[str] = []
    if query.selects is None:
        # expand * explicitly so the appended engine ts column can't collide
        tcol = query.time_column or TS_COL
        skip = {TS_COL} if needs_time else set()
        select_exprs.extend(c for c in df.columns if c not in skip)
    else:
        for alias, expr in query.selects.items():
            select_exprs.append(alias if expr is None else f"{expr} AS {alias}")
        if query.partition_column in df.columns and query.partition_column not in query.selects:
            select_exprs.append(query.partition_column)
    if needs_time and (query.selects is None or TS_COL not in query.selects):
        # skip when the selects already produce a ts column — appending the
        # engine cast too would duplicate the name and break resolution
        tcol = query.time_column or TS_COL
        select_exprs.append(f"CAST({tcol} AS LONG) AS {TS_COL}")
    return df.selectExpr(*select_exprs)


def render_source(
    spark: SparkSession,
    source: Source,
    group_by: GroupBy | None = None,
    query_start: str | None = None,
    query_end: str | None = None,
    extra_wheres: tuple[str, ...] = (),
) -> DataFrame:
    """Scan one source with window-aware partition narrowing.

    For an EventSource feeding a GroupBy whose max window is W, the scan
    range is ``[query_start − ceil(W), query_end]`` intersected with the
    source's own start/end partitions (spark/GroupBy.scala:567-608).
    Unbounded windows scan from the source start.
    """
    query = source.query
    table = source.table if isinstance(source, EventSource) else source.snapshot_table
    df = scan_table(spark, table)
    pcol = query.partition_column

    scan_start = query.start_partition
    scan_end = query.end_partition
    if isinstance(source, EventSource) and group_by is not None and query_start is not None:
        max_w = group_by.max_window_millis
        if max_w is not None:
            lookback_days = -(-max_w // MS_PER_DAY)  # ceil
            lookback = shift_ds(query_start, -lookback_days)
            scan_start = max(filter(None, [scan_start, lookback])) if scan_start else lookback
    if query_end is not None:
        scan_end = min(filter(None, [scan_end, query_end])) if scan_end else query_end

    if isinstance(source, EventSource) and source.is_cumulative:
        # cumulative tables: only the latest partition holds full history
        # (spark/GroupBy.scala:578-583)
        last = df.agg(F.max(pcol)).collect()[0][0]
        df = df.filter(F.col(pcol) == last)
    else:
        if scan_start and pcol in df.columns:
            df = df.filter(F.col(pcol) >= scan_start)
        if scan_end and pcol in df.columns:
            df = df.filter(F.col(pcol) <= scan_end)

    needs_time = isinstance(source, EventSource)
    for setup in query.setups:
        spark.sql(setup)
    out = render_query(df, query, needs_time=needs_time, extra_wheres=extra_wheres)
    if needs_time and pcol not in out.columns:
        out = out.withColumn(pcol, F.date_format(F.timestamp_millis(F.col(TS_COL)), "yyyy-MM-dd"))
    return out


def union_sources(dfs: list[DataFrame]) -> DataFrame:
    """Multi-source GroupBys union column-aligned (spark/GroupBy.scala:469-490)."""
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d, allowMissingColumns=False)
    return out


def null_key_filter(df: DataFrame, keys: tuple[str, ...]) -> DataFrame:
    """Keep rows with at least one non-null key (spark/GroupBy.scala:512-514)."""
    cond = None
    for k in keys:
        c = F.col(k).isNotNull()
        cond = c if cond is None else (cond | c)
    return df.filter(cond) if cond is not None else df


def skew_filter(df: DataFrame, skew_keys: dict[str, tuple[str, ...]] | None) -> DataFrame:
    """Exclude configured hot key values (api.thrift:339-343,
    spark/JoinUtils.scala:63-69)."""
    if not skew_keys:
        return df
    for col, values in skew_keys.items():
        if col in df.columns:
            df = df.filter(~F.col(col).isin(list(values)) | F.col(col).isNull())
    return df
