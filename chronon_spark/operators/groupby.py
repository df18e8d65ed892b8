"""GroupBy backfill — snapshot accuracy.

Semantics (spark/GroupBy.scala:144-169 snapshotEvents + the zero-leakage
day-boundary rule at spark/GroupBy.scala:107-114): for each requested
partition day ``ds`` and key, a window of W days covers exactly the events
with ``ts`` in days ``[ds − W + 1, ds]`` — i.e. everything strictly before
``ds+1 00:00`` UTC ("yesterday's end-of-day aggregate"). Snapshot windows
use the daily resolution (windowing/Resolution.scala:49-62), so whole-day
range frames are exact — no sawtooth correction needed.

Plan shape (one scan of the events, 2 shuffles, all inside Catalyst):

  events ── groupBy(keys, day) → daily partial IRs      [SHUFFLE: keys+day]
  daily ── lead(day) over Window.partitionBy(keys).orderBy(day) [SHUFFLE: keys]
        └─ explode each daily row into its own day (the row that carries
           the IRs) plus the output days up to the key's next daily row,
           capped by the max window and end_ds (hop emission,
           HopsAggregator.scala:99-143 leftBoundaries analogue)
  same keys partitioning → .rangeBetween(-(W-1), 0) merges IRs → finalize

At 100 TB this scales because the window merge operates on the
*daily-compressed* IRs (≤ |keys| × |days| rows, unique per (keys, day)),
not raw events, and the spine comes out of the same pass, so the merge
windows reuse the lead window's exchange. UNIQUE_COUNT parts add a scan
for their (keys, day, value) occurrences and full-outer join ±1
difference rows onto the frame (_unique_deltas).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from chronon_spark.api.types import (
    Accuracy,
    AggregationPart,
    EventSource,
    GroupBy,
    Operation,
)
from chronon_spark.functions.aggregations import DIRECT_NEEDS_FINALIZE, spec_for
from chronon_spark.sources.scan import (
    null_key_filter,
    render_source,
    union_sources,
)

DAY_IDX = "__day_idx"
EPOCH = "DATE'1970-01-01'"


def _with_day_idx(df: DataFrame, from_col: str = "ds") -> DataFrame:
    return df.withColumn(DAY_IDX, F.expr(f"datediff(to_date({from_col}), {EPOCH})"))


def _ds_from_idx(col: str = DAY_IDX):
    return F.expr(f"date_format(date_add({EPOCH}, {col}), 'yyyy-MM-dd')")


def _ir_col(part: AggregationPart) -> str:
    return f"__ir_{part.output_column}"


def snapshot_events(
    spark: SparkSession,
    gb: GroupBy,
    events: DataFrame,
    start_ds: str,
    end_ds: str,
) -> DataFrame:
    """Daily feature table over an events frame already carrying ``ts``
    (epoch millis) and ``ds``. Returns (keys..., ds, feature columns)."""
    keys = list(gb.key_columns)
    parts = gb.unpacked()
    ew_parts = [p for p in parts if p.element_wise]
    plain = [p for p in parts if p.bucket is None and not p.element_wise]
    bucket_cols = sorted({p.bucket for p in parts if p.bucket is not None})

    events = null_key_filter(events, tuple(keys))
    out = _snapshot_plain(spark, gb, plain, events, start_ds, end_ds) if plain else None

    # Bucketed aggregations (aggregator/row/BucketedColumnAggregator.scala):
    # realized as a nested GroupBy on (keys + bucket) rolled back up into a
    # Map[bucket → value] column per feature — works uniformly for every op.
    for bcol in bucket_cols:
        bparts = [p for p in parts if p.bucket == bcol]
        sub_gb = GroupBy(
            name=f"{gb.name}__by_{bcol}",
            sources=gb.sources,
            key_columns=tuple(keys) + (bcol,),
            aggregations=(),
            accuracy=Accuracy.SNAPSHOT,
        )
        stripped = [
            AggregationPart(p.input_column, p.operation, p.arg_map, p.window, None)
            for p in bparts
        ]
        sub = _snapshot_plain(
            spark, sub_gb, stripped, events.filter(F.col(bcol).isNotNull()), start_ds, end_ds
        )
        rolls = [
            F.expr(
                f"map_from_entries(collect_list(CASE WHEN {sp.output_column} IS NOT NULL "
                f"THEN named_struct('key', {bcol}, 'value', {sp.output_column}) END))"
            ).alias(bp.output_column)
            for sp, bp in zip(stripped, bparts)
        ]
        rolled = sub.groupBy(*keys, "ds").agg(*rolls)
        rolled = rolled.select(
            *keys,
            "ds",
            *[
                F.expr(
                    f"CASE WHEN size({bp.output_column}) > 0 THEN {bp.output_column} END"
                ).alias(bp.output_column)
                for bp in bparts
            ],
        )
        out = rolled if out is None else out.join(rolled, keys + ["ds"], "full_outer")

    # element_wise parts (api.thrift:229-234): posexplode the array input,
    # run the standard snapshot machinery keyed by (keys, position), roll
    # positions back up into a dense array (Map[pos → value] → array) —
    # any op × window uniformly (ElementWiseAggregator.scala semantics)
    for ecol in sorted({p.input_column for p in ew_parts}):
        from chronon_spark.operators.collections import pos_map_to_array_sized

        eparts = [p for p in ew_parts if p.input_column == ecol]
        exploded = events.filter(F.col(ecol).isNotNull()).select(
            *keys,
            *(["ts"] if "ts" in events.columns else []),
            "ds",
            F.posexplode(F.col(ecol)).alias("__posn", "__ewv"),
        ).withColumn("__pos", F.col("__posn").cast("string")).withColumn(
            "__tsz", F.col("__posn") + 1
        ).drop("__posn")
        sub_gb = GroupBy(
            name=f"{gb.name}__ew_{ecol}",
            sources=gb.sources,
            key_columns=tuple(keys) + ("__pos",),
            aggregations=(),
            accuracy=Accuracy.SNAPSHOT,
        )
        stripped = [
            AggregationPart("__ewv", p.operation, p.arg_map, p.window, None)
            for p in eparts
        ]
        # one observed-tensor-size (MAX of position+1) part per distinct
        # window: trailing all-null positions null-pad per the reference's
        # null-initialized result list (ElementWiseAggregator)
        win_list = list({p.window for p in eparts})
        tsz_parts = {w: AggregationPart("__tsz", Operation.MAX, {}, w, None) for w in win_list}
        sub = _snapshot_plain(
            spark, sub_gb, stripped + list(tsz_parts.values()), exploded, start_ds, end_ds
        )
        rolls = [
            F.expr(
                f"map_from_entries(collect_list(CASE WHEN {sp.output_column} IS NOT NULL "
                f"THEN named_struct('key', __pos, 'value', {sp.output_column}) END))"
            ).alias(ep.output_column)
            for sp, ep in zip(stripped, eparts)
        ] + [
            F.max(tp.output_column).alias(tp.output_column)
            for tp in tsz_parts.values()
        ]
        rolled = sub.groupBy(*keys, "ds").agg(*rolls)
        rolled = rolled.select(
            *keys,
            "ds",
            *[
                F.expr(
                    pos_map_to_array_sized(
                        ep.output_column, tsz_parts[ep.window].output_column
                    )
                ).alias(ep.output_column)
                for ep in eparts
            ],
        )
        out = rolled if out is None else out.join(rolled, keys + ["ds"], "full_outer")

    if gb.derivations:
        exprs = ["*"] if "*" in gb.derivations else keys + ["ds"]
        exprs += [f"{e} AS {a}" for a, e in gb.derivations.items() if a != "*"]
        out = out.selectExpr(*exprs)
    return out


_DELTA_UNIQUE_OPS = {Operation.UNIQUE_COUNT, Operation.BOUNDED_UNIQUE_COUNT}


def _occurrences(ev: DataFrame, keys: list[str], inp: str) -> DataFrame:
    """Distinct (keys, day, value) occurrence rows — the compact input of
    the sliding-distinct delta encoding. Day-partitionable, so the
    incremental runner materializes it once per day."""
    return ev.filter(F.col(inp).isNotNull()).select(*keys, DAY_IDX, inp).distinct()


def _unique_deltas(
    occ: DataFrame, keys: list[str], part: AggregationPart, out_name: str
) -> DataFrame:
    """Exact sliding-window distinct counts WITHOUT materializing value
    sets: a value's occurrence on day d contributes +1 to output day D iff
    its previous occurrence is outside D's window — an interval of output
    days, encoded as ±1 difference rows and integrated by a running sum.
    Total work is O(distinct (key, value, day) occurrences); the r1 path
    re-materialized every day's collect_set once per output day.

    ``occ``: the `_occurrences` frame (already distinct)."""
    inp = part.input_column
    occ = occ.withColumn(
        "__prev",
        F.lag(DAY_IDX).over(Window.partitionBy(*keys, inp).orderBy(F.col(DAY_IDX))),
    )
    if part.window is None:
        deltas = (
            occ.filter(F.col("__prev").isNull())
            .groupBy(*keys, DAY_IDX)
            .agg(F.count("*").alias(out_name))
        )
    else:
        wd = part.window.days_ceil
        plus = occ.select(
            *keys,
            F.greatest(
                F.col(DAY_IDX), F.coalesce(F.col("__prev") + wd, F.col(DAY_IDX))
            ).alias(DAY_IDX),
            F.lit(1).alias("__d"),
        )
        minus = occ.select(*keys, (F.col(DAY_IDX) + wd).alias(DAY_IDX), F.lit(-1).alias("__d"))
        deltas = plus.unionByName(minus).groupBy(*keys, DAY_IDX).agg(F.sum("__d").alias(out_name))
    return deltas


def _daily_irs(
    keys: list[str], spec_parts: list[AggregationPart], ev: DataFrame
) -> DataFrame:
    """Stage 1: per-(keys, day) partial IRs (map-side combine is free:
    Catalyst HashAggregate partial/final — SURVEY §4). The only stage that
    touches raw events for registry ops — day-partitionable, so the
    incremental runner materializes it once per day."""
    ir_exprs = [
        spec_for(p.operation).ir(p.input_column, p).alias(_ir_col(p)) for p in spec_parts
    ]
    if not ir_exprs:
        ir_exprs = [F.count("*").alias("__rows")]
    return ev.groupBy(*keys, DAY_IDX).agg(*ir_exprs)


def _snapshot_plain(
    spark: SparkSession,
    gb: GroupBy,
    parts: list[AggregationPart],
    events: DataFrame,
    start_ds: str,
    end_ds: str,
    daily: DataFrame | None = None,
    occs: dict[str, DataFrame] | None = None,
) -> DataFrame:
    """``daily`` / ``occs`` override stage 1 with pre-materialized frames
    (the incremental IR cache); when absent they derive from ``events``."""
    keys = list(gb.key_columns)
    uniq_parts = [p for p in parts if p.operation in _DELTA_UNIQUE_OPS]
    spec_parts = [p for p in parts if p.operation not in _DELTA_UNIQUE_OPS]

    ev = None
    if daily is None or any((occs or {}).get(p.input_column) is None for p in uniq_parts):
        ev = _with_day_idx(events)
    if daily is None:
        daily = _daily_irs(keys, spec_parts, ev)

    # ---- stage 2, in the same pass over ``daily``: each daily row keeps its
    # own day (the only row that carries its IRs) and fans out to the output
    # days up to the key's next daily row, capped by the widest window's
    # reach (unbounded windows reach through end_ds) and by end_ds. Rows stay
    # unique per (keys, day); lookback rows before start_ds stay in the frame
    # for the window merge without being output days.
    start_idx = F.expr(f"datediff(to_date('{start_ds}'), {EPOCH})")
    end_idx = F.expr(f"datediff(to_date('{end_ds}'), {EPOCH})")
    by_key = Window.partitionBy(*keys).orderBy(F.col(DAY_IDX))
    day = F.col(DAY_IDX)
    last = F.least(end_idx, F.coalesce(F.col("__next") - 1, end_idx))
    if gb.max_window_millis is not None and all(p.window is not None for p in parts):
        max_days = max(p.window.days_ceil for p in parts if p.window is not None)
        last = F.least(last, day + F.lit(max_days - 1))
    first = F.greatest(day + 1, start_idx)
    days = F.when(first <= last, F.concat(F.array(day), F.sequence(first, last))).otherwise(
        F.array(day)
    )
    own = F.col("__out_day") == day
    merged = (
        daily.withColumn("__next", F.lead(DAY_IDX).over(by_key))
        .withColumn("__out_day", F.explode(days))
    ).select(
        *keys,
        F.col("__out_day").alias(DAY_IDX),
        *[F.when(own, F.col(c)).alias(c) for c in daily.columns if c not in keys + [DAY_IDX]],
        F.col("__out_day").between(start_idx, end_idx).alias("__is_out"),
    )

    # sliding-distinct difference rows join the same frame; their running
    # sum is the exact windowed distinct count at every output day
    for p in uniq_parts:
        dcol = f"__d_{p.output_column}"
        occ = (occs or {}).get(p.input_column)
        if occ is None:
            occ = _occurrences(ev, keys, p.input_column)
        merged = merged.join(_unique_deltas(occ, keys, p, dcol), keys + [DAY_IDX], "full_outer")

    # ---- stage 3: window merges + finalize
    feature_cols = []
    run_w = by_key.rangeBetween(Window.unboundedPreceding, 0)
    for p in spec_parts:
        w = run_w if p.window is None else by_key.rangeBetween(-(p.window.days_ceil - 1), 0)
        spec = spec_for(p.operation)
        merged = merged.withColumn(f"__m_{p.output_column}", spec.merge(_ir_col(p), p).over(w))
    for p in uniq_parts:
        merged = merged.withColumn(
            f"__m_{p.output_column}", F.sum(f"__d_{p.output_column}").over(run_w)
        )
    for p in spec_parts:
        feature_cols.append(
            spec_for(p.operation).finalize(f"__m_{p.output_column}", p).alias(p.output_column)
        )
    for p in uniq_parts:
        m = f"__m_{p.output_column}"
        if p.operation is Operation.BOUNDED_UNIQUE_COUNT:
            k = int(p.arg_map.get("k", 1))
            expr = f"CASE WHEN {m} > 0 THEN least({m}, {k}) END"
        else:
            expr = f"CASE WHEN {m} > 0 THEN {m} END"
        feature_cols.append(F.expr(expr).alias(p.output_column))

    return merged.filter(F.col("__is_out")).select(
        *keys, _ds_from_idx().alias("ds"), *feature_cols
    )


def snapshot_entities(
    spark: SparkSession,
    gb: GroupBy,
    snapshots: DataFrame,
) -> DataFrame:
    """Entity snapshots: aggregate each day's snapshot partition per key
    (spark/GroupBy.scala:100-142 snapshotEntities). Windows don't apply —
    each ds is a full snapshot."""
    keys = list(gb.key_columns)
    parts = [p for p in gb.unpacked() if p.bucket is None and not p.element_wise]
    ew_parts = [p for p in gb.unpacked() if p.element_wise]
    if "ts" not in snapshots.columns:
        # entity snapshots carry no event time; day-midnight millis stands in
        # so time-ordered ops (FIRST/LAST) stay well-typed
        snapshots = snapshots.withColumn("ts", F.unix_timestamp(F.to_date("ds")) * 1000)
    snapshots = null_key_filter(snapshots, tuple(keys))
    aggs = []
    post = []
    for p in parts:
        c = spec_for(p.operation).direct(p.input_column, p).alias(p.output_column)
        aggs.append(c)
        fin = DIRECT_NEEDS_FINALIZE.get(p.operation)
        post.append((p, fin))
    out = snapshots.groupBy(*keys, "ds").agg(*aggs) if parts else None
    for p, fin in post:
        if fin is not None:
            out = out.withColumn(p.output_column, fin(p.output_column, p))
    # element_wise over entity snapshots: position-keyed direct aggregate
    # rolled back into a dense array (same shape as snapshot_events)
    for ecol in sorted({p.input_column for p in ew_parts}):
        from chronon_spark.operators.collections import pos_map_to_array_sized

        eparts = [p for p in ew_parts if p.input_column == ecol]
        exploded = snapshots.filter(F.col(ecol).isNotNull()).select(
            *keys, "ds", "ts", F.posexplode(F.col(ecol)).alias("__posn", "__ewv")
        ).withColumn("__pos", F.col("__posn").cast("string")).withColumn(
            "__tsz", F.col("__posn") + 1
        )
        sub_aggs = []
        sub_post = []
        for p in eparts:
            sp = AggregationPart("__ewv", p.operation, p.arg_map, p.window, None)
            sub_aggs.append(spec_for(p.operation).direct("__ewv", sp).alias(f"__a_{p.output_column}"))
            sub_post.append((p, sp, DIRECT_NEEDS_FINALIZE.get(p.operation)))
        sub = exploded.groupBy(*keys, "ds", "__pos").agg(
            *sub_aggs, F.max("__tsz").alias("__tsz")
        )
        for p, sp, fin in sub_post:
            if fin is not None:
                sub = sub.withColumn(f"__a_{p.output_column}", fin(f"__a_{p.output_column}", sp))
        rolled = sub.groupBy(*keys, "ds").agg(
            *[
                F.expr(
                    f"map_from_entries(collect_list(CASE WHEN __a_{p.output_column} IS NOT NULL "
                    f"THEN named_struct('key', __pos, 'value', __a_{p.output_column}) END))"
                ).alias(p.output_column)
                for p in eparts
            ],
            # observed tensor size: trailing all-null positions null-pad
            # (ElementWiseAggregator's null-initialized result list)
            F.max("__tsz").alias("__tsz"),
        )
        rolled = rolled.select(
            *keys, "ds",
            *[
                F.expr(pos_map_to_array_sized(p.output_column, "__tsz")).alias(p.output_column)
                for p in eparts
            ],
        )
        out = rolled if out is None else out.join(rolled, keys + ["ds"], "full_outer")
    return out


def group_by_backfill(
    spark: SparkSession,
    gb: GroupBy,
    start_ds: str,
    end_ds: str,
    extra_wheres: tuple[str, ...] = (),
) -> DataFrame:
    """Render + union sources, then dispatch on data model
    (spark/GroupBy.scala:691-793 computeBackfill, minus table I/O which
    lives in chronon_spark.sources.warehouse)."""
    dfs = [
        render_source(spark, s, gb, query_start=start_ds, query_end=end_ds, extra_wheres=extra_wheres)
        for s in gb.sources
    ]
    df = union_sources(dfs)
    if all(isinstance(s, EventSource) for s in gb.sources):
        return snapshot_events(spark, gb, df, start_ds, end_ds)
    return snapshot_entities(spark, gb, df)
