"""Temporal entities: point-in-time values over mutating dimension tables.

Semantics (spark/GroupBy.scala:179-274 temporalEntities + aggregator/
windowing/SawtoothMutationAggregator.scala): for a query at time ``qt``
on day ``D``, the value aggregates

    EOD snapshot of day D-1   (all rows of snapshot partition ds = D-1)
  + mutations of day D with mutation_ts < qt (STRICT — a query derived
    from the mutation stream never sees its own mutation,
    SawtoothMutationAggregator.scala:204), where ``is_before = true``
    rows are DELETED from the aggregate and ``is_before = false`` rows
    are inserted (update = before+after pair, insert = after-only,
    delete = before-only — api/py/ai/chronon/query.py:66-72)

Windows apply to the ROW's event time ``ts`` (not mutation_ts) with the
sawtooth predicate ``round(qt − w, hop) ≤ ts < qt``
(SawtoothMutationAggregator.scala:112-127 updateIr), while the mutation
cutoff stays on mutation_ts — two independent time axes.

Abelian-group ops (COUNT/SUM/AVERAGE/VARIANCE/SKEW/KURTOSIS/HISTOGRAM)
honor deletes via ±1 weights; monoid ops (MIN/MAX/FIRST/LAST/FIRST_K/
LAST_K/UNIQUE_COUNT) ignore deletes and fold inserts only, matching the
reference's isDeletable contract (api.thrift:155-185 comments).

Execution: the (snapshot ∪ mutations) union becomes a single weighted
event frame grouped by (keys, ds); one cogrouped Arrow kernel evaluates
every query. Unbounded un-bucketed group ops use weighted prefix sums
(O(n+q) per day-group); windowed/bucketed parts fall back to per-query
numpy masks — O(n·q) per (key, day) group, which the day-grouping keys
bound to one key-day of mutations (the reference's own processing unit).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from chronon_spark.api.types import GroupBy, Operation
from chronon_spark.functions.op_algebra import moments
from chronon_spark.operators.temporal import _cast_feature, _plain_output_type, output_field
from chronon_spark.sources.scan import TS_COL, null_key_filter

MUT_TS = "__mut_ts"

DELETABLE = {
    Operation.COUNT,
    Operation.SUM,
    Operation.AVERAGE,
    Operation.VARIANCE,
    Operation.SKEW,
    Operation.KURTOSIS,
    Operation.HISTOGRAM,
}

_MOMENT_OPS = {Operation.VARIANCE, Operation.SKEW, Operation.KURTOSIS}


def _weighted_scalar(op: Operation, x: np.ndarray, w: np.ndarray):
    """One weighted abelian-group aggregate over masked rows."""
    n = w.sum()
    if n <= 0:
        return None
    if op is Operation.COUNT:
        return int(n)
    s1 = (w * x).sum()
    if op is Operation.SUM:
        return float(s1)
    if op is Operation.AVERAGE:
        return float(s1 / n)
    s = [(w * x**i).sum() for i in (2, 3, 4)]
    return float(moments(op, np.array([n]), np.array([s1]), *(np.array([v]) for v in s))[0])


def _weighted_hist(vals: np.ndarray, w: np.ndarray):
    """Deletable histogram (SimpleAggregators.scala:250-322): ± weighted
    counts per value; keys removed at exactly 0, negatives kept."""
    if len(vals) == 0:
        return None
    codes, uniques = pd.factorize(vals)
    net = np.bincount(codes, weights=w, minlength=len(uniques))
    d = {str(uniques[j]): int(net[j]) for j in range(len(uniques)) if net[j] != 0}
    return d if d else {}


def _monoid_value(op: Operation, vals: np.ndarray, ts: np.ndarray, k: int):
    """Insert-only monoid aggregate; FIRST/LAST ordered by row ts
    (TimedAggregators.scala:74-112)."""
    if len(vals) == 0:
        return None
    if op is Operation.MIN:
        return vals.min()
    if op is Operation.MAX:
        return vals.max()
    order = np.argsort(ts, kind="mergesort")
    if op is Operation.FIRST:
        return vals[order[0]]
    if op is Operation.LAST:
        return vals[order[-1]]
    if op is Operation.FIRST_K:
        return list(vals[order[:k]])
    if op is Operation.LAST_K:
        return list(vals[order[-k:][::-1]])
    if op is Operation.UNIQUE_COUNT:
        return int(len(set(vals.tolist())))
    raise ValueError(f"unsupported mutation op {op}")


def _weighted_kernel(gb: GroupBy, ev_schema: T.StructType, slim_cols: list[str]):
    parts = gb.unpacked()
    input_types = {f.name: f.dataType for f in ev_schema.fields}

    def kernel(qdf: pd.DataFrame, edf: pd.DataFrame) -> pd.DataFrame:
        out = qdf.loc[:, slim_cols].copy()
        nq = len(qdf)
        if nq == 0:
            for p in parts:
                out[p.output_column] = pd.Series([], dtype=object)
            return out
        if len(edf) == 0:
            for p in parts:
                out[p.output_column] = None
            return out
        edf = edf.sort_values(MUT_TS, kind="mergesort").reset_index(drop=True)
        mut_ts = edf[MUT_TS].to_numpy(dtype=np.int64)
        row_ts = edf[TS_COL].to_numpy(dtype=np.int64)
        w = edf["__w"].to_numpy(dtype=np.float64)
        qt = qdf[TS_COL].to_numpy(dtype=np.int64)
        # mutations at exactly qt are EXCLUDED (strictly mutationTs < qt,
        # SawtoothMutationAggregator.scala:204)
        hi = np.searchsorted(mut_ts, qt, side="left")

        col_cache: dict[str, tuple] = {}

        def col_arrays(name: str):
            if name not in col_cache:
                numeric = isinstance(input_types[name], (T.NumericType, T.BooleanType))
                if numeric:
                    vals = pd.to_numeric(edf[name], errors="coerce").to_numpy(np.float64)
                    mask = ~np.isnan(vals)
                else:
                    vals = edf[name].to_numpy(object)
                    mask = np.array([v is not None and v == v for v in vals], dtype=bool)
                col_cache[name] = (vals, mask, numeric)
            return col_cache[name]

        for p in parts:
            vals, notna, numeric = col_arrays(p.input_column)
            k = int(p.arg_map.get("k", 1))
            deletable = p.operation in DELETABLE

            if p.window is None and p.bucket is None and deletable and numeric \
                    and p.operation is not Operation.HISTOGRAM:
                # fast path: weighted prefix sums, O(n + q)
                x = np.where(notna, vals, 0.0)
                wm = np.where(notna, w, 0.0)
                pc = np.concatenate([[0.0], np.cumsum(wm)])
                ps = np.concatenate([[0.0], np.cumsum(wm * x)])
                n = pc[hi]
                s1 = ps[hi]
                if p.operation is Operation.COUNT:
                    res = [int(v) if v > 0 else None for v in n]
                elif p.operation is Operation.SUM:
                    res = [float(s) if c > 0 else None for s, c in zip(s1, n)]
                elif p.operation is Operation.AVERAGE:
                    res = [float(s / c) if c > 0 else None for s, c in zip(s1, n)]
                else:
                    p2 = np.concatenate([[0.0], np.cumsum(wm * x * x)])
                    p3 = np.concatenate([[0.0], np.cumsum(wm * x**3)])
                    p4 = np.concatenate([[0.0], np.cumsum(wm * x**4)])
                    vals = moments(p.operation, n, s1, p2[hi], p3[hi], p4[hi])
                    res = [float(v) if c > 0 else None for v, c in zip(vals, n)]
                out[p.output_column] = res
            else:
                # general path: per-query mask on (mutation cutoff ∧ sawtooth
                # window on row ts), weighted or insert-only; buckets group
                # the masked rows
                if p.bucket is not None:
                    bvals, bmask, _ = col_arrays(p.bucket)
                if p.window is not None:
                    wms, hop = p.window.millis, p.hop_millis
                    tails = ((qt - wms) // hop) * hop
                res = []
                for i in range(nq):
                    n_i = hi[i]
                    sel = notna[:n_i].copy()
                    if p.window is not None:
                        sel &= (row_ts[:n_i] >= tails[i]) & (row_ts[:n_i] < qt[i])
                    if not deletable:
                        sel &= w[:n_i] > 0
                    if p.bucket is not None:
                        sel &= bmask[:n_i]

                    def agg_one(m):
                        if not m.any():
                            return None
                        if p.operation is Operation.HISTOGRAM:
                            return _weighted_hist(vals[:n_i][m], w[:n_i][m])
                        if deletable:
                            return _weighted_scalar(p.operation, vals[:n_i][m], w[:n_i][m])
                        return _monoid_value(p.operation, vals[:n_i][m], row_ts[:n_i][m], k)

                    if p.bucket is None:
                        res.append(agg_one(sel))
                    else:
                        plain = _plain_output_type(p, input_types[p.input_column])
                        to_long = isinstance(
                            plain, (T.LongType, T.IntegerType, T.ShortType, T.ByteType)
                        )
                        mvals = {}
                        if sel.any():
                            bsel = bvals[:n_i][sel]
                            for b in pd.unique(bsel):
                                sub = sel.copy()
                                sub[sel] = bsel == b
                                v = agg_one(sub)
                                if v is not None:
                                    mvals[str(b)] = int(v) if to_long and v == v else v
                        res.append(mvals if mvals else None)
            if p.bucket is None and p.operation is not Operation.HISTOGRAM:
                # cast from the raw python list — routing through a pandas
                # Series first would fold None into NaN
                out[p.output_column] = _cast_feature(
                    np.array(res, dtype=object), p, input_types[p.input_column]
                )
            else:
                out[p.output_column] = res
        return out

    return kernel


def temporal_entities(
    spark: SparkSession,
    gb: GroupBy,
    queries: DataFrame,
    snapshots: DataFrame,
    mutations: DataFrame,
) -> DataFrame:
    """Point-in-time entity values at each query (keys, ts, ds).

    ``queries``: keys + ts (epoch ms) + ds (query day).
    ``snapshots``: keys + value columns + ds (EOD state per day),
    optionally a row-level ``ts`` (falls back to the snapshot-day
    midnight for window membership).
    ``mutations``: keys + value columns + mutation_ts (epoch ms) +
    is_before (bool) + ds (day of mutation), optionally a row ``ts``
    (falls back to mutation_ts).
    """
    keys = list(gb.key_columns)
    parts = gb.unpacked()
    val_cols = sorted(
        {p.input_column for p in parts} | {p.bucket for p in parts if p.bucket is not None}
    )

    snap_ts = (
        F.col(TS_COL)
        if TS_COL in snapshots.columns
        else (F.unix_timestamp(F.to_date("ds")) * 1000)
    )
    # day-D query sees day-(D-1) snapshot: shift snapshot ds forward.
    snap = (
        null_key_filter(snapshots, tuple(keys))
        .withColumn("__row_ts", snap_ts)
        .withColumn("ds", F.date_format(F.date_add(F.to_date("ds"), 1), "yyyy-MM-dd"))
        .select(
            *keys,
            F.lit(-(1 << 62)).alias(MUT_TS),  # always before any query of the day
            F.col("__row_ts").alias(TS_COL),
            F.lit(1.0).alias("__w"),
            *val_cols,
            "ds",
        )
    )
    mut_ts_col = F.col("mutation_ts")
    mut_row_ts = F.col(TS_COL) if TS_COL in mutations.columns else mut_ts_col
    mut = null_key_filter(mutations, tuple(keys)).select(
        *keys,
        mut_ts_col.alias(MUT_TS),
        mut_row_ts.alias(TS_COL),
        F.when(F.col("is_before"), F.lit(-1.0)).otherwise(F.lit(1.0)).alias("__w"),
        *val_cols,
        "ds",
    )
    events = snap.unionByName(mut)
    events = events.select(*[F.col(c).alias(c) for c in events.columns])

    group_keys = keys + ["ds"]
    slim_cols = group_keys + [TS_COL]
    qlite = queries.select(*group_keys, TS_COL).filter(F.col(TS_COL).isNotNull()).distinct()

    ev_schema = events.schema
    schema = T.StructType(
        [qlite.schema[c] for c in slim_cols] + [output_field(p, ev_schema) for p in parts]
    )
    kernel = _weighted_kernel(gb, ev_schema, slim_cols)
    feats = (
        qlite.groupBy(*group_keys)
        .cogroup(events.groupBy(*group_keys))
        .applyInPandas(kernel, schema=schema)
    )
    return queries.join(feats, slim_cols, "left")
