"""Analyzer: pre-flight validation + data-shape analysis for configs.

Port of the intent of spark/Analyzer.scala:116-190 (hot-key detection via
frequent-items sketch) and JoinBase.scala:352-372 (keys×ts uniqueness
audit), on DataFrame primitives:

- schema check: key/input/time columns exist, ts is integral millis
- hot keys: approximate top-k key values by frequency + share of rows
  (candidates for skew_keys / salting)
- uniqueness audit: duplicate (keys, ts) count on a join left
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from chronon_spark.api.types import GroupBy


def validate_group_by(gb: GroupBy, df: DataFrame) -> list[str]:
    """Returns a list of human-readable problems (empty = valid)."""
    problems = []
    for k in gb.key_columns:
        if k not in df.columns:
            problems.append(f"key column '{k}' missing from input")
    for p in gb.unpacked():
        if p.input_column not in df.columns:
            problems.append(f"input column '{p.input_column}' missing for {p.output_column}")
        if p.bucket is not None:
            if p.bucket not in df.columns:
                problems.append(f"bucket column '{p.bucket}' missing")
            elif not isinstance(df.schema[p.bucket].dataType, T.StringType):
                # bucket must be string (aggregator/row/RowAggregator.scala:41-47)
                problems.append(f"bucket column '{p.bucket}' must be string")
        if p.input_column in df.columns and isinstance(
            df.schema[p.input_column].dataType, (T.DateType, T.TimestampType, T.TimestampNTZType)
        ):
            # Date/Timestamp aggregation inputs forbidden
            # (aggregator/.../ColumnAggregator.scala:231-237)
            problems.append(
                f"column '{p.input_column}' is a date/timestamp — convert to epoch millis"
            )
    if "ts" in df.columns and not isinstance(df.schema["ts"].dataType, (T.LongType, T.IntegerType)):
        problems.append("ts must be epoch-millis LongType (spark/GroupBy.scala:492-499)")
    return problems


def validate_join(join) -> list[str]:
    """Config-level Join validation (Analyzer.scala's join checks +
    the footguns users actually hit): key mappings must target real
    GroupBy keys, part prefixes must not collide into duplicate output
    columns, bootstrap key columns must be declared."""
    problems: list[str] = []
    seen_outputs: dict[str, str] = {}
    for part in join.right_parts:
        gb = part.group_by
        for left_col, right_key in (part.key_mapping or {}).items():
            if right_key not in gb.key_columns:
                problems.append(
                    f"part '{part.full_prefix}': key_mapping targets "
                    f"'{right_key}' which is not a key of GroupBy '{gb.name}' "
                    f"(keys: {list(gb.key_columns)})"
                )
        for p in gb.unpacked():
            out = f"{part.full_prefix}_{p.output_column}"
            if out in seen_outputs:
                problems.append(
                    f"duplicate output column '{out}' from parts "
                    f"'{seen_outputs[out]}' and '{part.full_prefix}' — set a prefix"
                )
            seen_outputs[out] = part.full_prefix
    for bp in join.bootstrap_parts:
        if not bp.key_columns:
            problems.append(f"bootstrap table '{bp.table}' declares no key columns")
    return problems


def hot_keys(df: DataFrame, keys: list[str], top: int = 20, min_share: float = 0.01) -> DataFrame:
    """Approximate heavy hitters over the key tuple: value, count and share
    of total rows. Keys above ~1% of the table are salting candidates."""
    total = df.count()
    kc = F.concat_ws("\x01", *[F.col(k).cast("string") for k in keys]).alias("__key")
    counts = (
        df.select(kc)
        .groupBy("__key")
        .agg(F.count("*").alias("n"))
        .withColumn("share", F.col("n") / F.lit(float(total)))
        .filter(F.col("share") >= min_share)
        .orderBy(F.desc("n"))
        .limit(top)
    )
    return counts


def skew_advice(gb: GroupBy, df: DataFrame, min_share: float = 0.01) -> list[str]:
    """Skew-mitigation advisory — the Analyzer.scala hot-key report
    upgraded from "exclude these keys" to "here is the mitigation that
    KEEPS them": for each detected heavy hitter, reports whether hot-key
    time slicing applies to this GroupBy (all parts windowed, or
    unbounded parts algebraic → per-slice baseline IRs,
    operators/temporal.slice_classification), or — when the config holds
    set-like unbounded state that cannot slice — which aggregations to
    window or exclude via skew_keys."""
    from chronon_spark.operators.temporal import slice_classification

    hk = hot_keys(df, list(gb.key_columns), min_share=min_share).collect()
    if not hk:
        return []
    desc = ", ".join(
        f"{r['__key'].replace(chr(1), '|')} ({r['share']:.1%})" for r in hk[:5]
    )
    cls = slice_classification(gb)
    if cls is not None:
        _, ub = cls
        how = (
            "windowed time slices"
            if not ub
            else f"windowed time slices + baseline IRs for {len(ub)} unbounded mergeable-IR part(s)"
        )
        return [
            f"hot keys: {desc} — time slicing applies ({how}); pass "
            "hot_key_threshold=... to temporal_events/join_backfill/"
            "backfill_features (skew MITIGATION — keys kept; outputs "
            "bit-identical except approx sketches past their exactness "
            "regime, which stay within their own error contracts)"
        ]
    from chronon_spark.operators.temporal import _BASELINE_OPS

    blockers = [
        p.output_column
        for p in gb.unpacked()
        if p.window is None and p.operation not in _BASELINE_OPS
    ]
    return [
        f"hot keys: {desc} — time slicing NOT available (exact set-like "
        f"unbounded state — UNIQUE_COUNT/HISTOGRAM — in {blockers}; "
        "bucketed unbounded parts DO slice via per-(slice, bucket) "
        "baseline IRs); window those aggregations, or exclude the keys "
        "via skew_keys (the reference's only recourse)"
    ]


def uniqueness_audit(df: DataFrame, keys: list[str], ts_col: str = "ts") -> dict:
    """Duplicate (keys, ts) analysis for a join left
    (JoinBase.scala:352-372)."""
    total = df.count()
    distinct = df.select(*keys, ts_col).distinct().count()
    return {
        "rows": total,
        "distinct_key_ts": distinct,
        "duplicates": total - distinct,
        "duplicate_share": round((total - distinct) / total, 6) if total else 0.0,
    }


def serving_plan(gb: GroupBy) -> dict:
    """Classify each aggregation part by its serving path — the
    analyzer-side answer to "can this GroupBy be KV-uploaded?" (the
    reference's analyzer validates online-serving support per column;
    Analyzer.scala's output schema check). Parts in the bounded-IR
    family (operators/upload.UPLOADABLE, bucketed or not) ride
    ``group_by_upload``/``fetch_features``; everything else is served by
    the lambda-tile path (tilestore + streaming/lambda_tiles), which
    covers every op at per-(key, tile) granularity."""
    from chronon_spark.operators.upload import UPLOADABLE

    kv, tile_only = [], []
    for p in gb.unpacked():
        # bucketed AND element-wise (positional-bucket rewrite) parts
        # ride the bucketed IR frames — same op support
        if p.operation in UPLOADABLE:
            kv.append(p.output_column)
        else:
            why = (
                f"element-wise exact op ({p.operation.value})"
                if p.element_wise
                else f"bucketed exact op ({p.operation.value})"
                if p.bucket is not None
                else f"unbounded exact IR ({p.operation.value})"
            )
            tile_only.append({"column": p.output_column, "reason": why})
    return {
        "kv_uploadable": kv,
        "lambda_tile_only": tile_only,
        "fully_kv_servable": not tile_only,
    }
