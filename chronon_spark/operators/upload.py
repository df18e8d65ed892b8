"""Offline GroupByUpload / fetch analogue — the reference's serving
artifact rebuilt as a KV-shaped DataFrame.

The reference materializes, per key, a FinalBatchIr = collapsed prefix
IR + tail hop IRs at the batch-end boundary (spark/GroupByUpload.scala:
76-114, aggregator/windowing/SawtoothOnlineAggregator.scala:40-126) and
its fetcher merges that bounded state with the streamed head at fetch
time. This module is the same contract without a KV store: one row per
key whose width is O(window/hop) REGARDLESS of history length —

- per windowed aggregation: hop-aligned tail IRs covering exactly
  [floor_hop(boundary - window), boundary), the only hops any fetch in
  the serving day can reach;
- per unbounded aggregation: the collapsed full-prefix IR at the
  boundary;

— and ``fetch_features`` answers (key, ts) requests by merging the hop
IRs at/after each request's sawtooth window start with the streamed
events in [boundary, ts), per key, inside one Arrow cogroup kernel (the
offline twin of the fetcher's in-memory merge). That merge is the as-of
stitch the tiled kernel also runs (temporal.stitch: hop IRs range-merged,
head events reduced on top, finalized), over the shared numpy op
registry (functions/op_algebra.py); this module only lays the upload row
out and reads it back as registry IRs (_upload_pieces).

Layout notes (deliberate deviations from the reference, documented):
- IRs are typed columns / flat parallel arrays, not serialized blobs —
  columnar-friendly, and every hop array is primitive-element only:
  list states ride as (flat values, per-entry lengths) columns.
- We store tail hops only for windowed ops; the reference additionally
  pre-collapses the hop majority per window. The merge count per fetch
  is ≤ window/hop (≤169 for 7d@1h) — bounded, so the pre-collapse is an
  optimization we skip, not a semantic.

Scope: every op whose IR is bounded (the registry state names each
frame's columns): the scalar-algebraic family (COUNT/SUM/AVERAGE/MIN/
MAX/VARIANCE/SKEW/KURTOSIS), FIRST/LAST (shared (ts, value) tie-break),
APPROX_UNIQUE_COUNT (HLL register entries, functions/sketches.py), and
the bounded-IR gather/sketch family — TOP_K/BOTTOM_K/FIRST_K/LAST_K
(≤k lists), BOUNDED_UNIQUE_COUNT (≤k capped set — exact under the cap
argument), APPROX_PERCENTILE ((n, ≤S equi-rank sample) per hop; exact
while no hop truncates, the tiled kernel's own tile IR beyond), and
APPROX_HISTOGRAM_K (≤8k-entry capped Misra-Gries count-map with error
sentinel). Bucketed aggregations are served too — Map[bucket → agg]
built from per-(hop, bucket) IR entry rows (one flat entry list per
key), exactly the BucketedColumnAggregator contract. Element-wise parts
ride the same machinery via the positional-bucket rewrite (posexplode →
__pos buckets → densify with the observed tensor size). The only
rejections left are exact UNIQUE_COUNT/HISTOGRAM (truly unbounded
state) — served offline by the lambda-tile path
(streaming/lambda_tiles.py + operators/tilestore.py), which covers
every op at per-(key, tile) granularity; this module exists for the
bounded per-key serving LAYOUT.

At 100 TB: the upload is one groupBy per aggregation over the tail
range (partition-pruned scan: only ``window`` days of history are read
for windowed parts), producing key-partitioned frames that join
shuffle-free (all sides hash-partitioned on the keys), and the fetch is
one shuffle of (queries ∪ streamed-head) against the bounded per-key
state — no history scan at fetch time at all.
"""

from __future__ import annotations

import datetime as _dt

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_type

from chronon_spark.api.types import (
    AggregationPart,
    GroupBy,
    Operation,
    sawtooth_hop_millis,
)
from chronon_spark.functions import op_algebra as alg
from chronon_spark.functions.sketches import hll_idx_rho_exprs
from chronon_spark.operators.temporal import (
    _Events,
    _hreg_reduce,
    output_field,
    stitch,
)
from chronon_spark.sources.scan import TS_COL, null_key_filter

MS_DAY = 86_400_000

# per-hop state is a scalar, a ≤k list, a ≤k value set, an (n, ≤S
# equi-rank sample) or a ≤8k-entry capped count-map — the same IR algebra
# the hot-key slicer merges (temporal.py _BASELINE_OPS); only exact
# UNIQUE_COUNT/HISTOGRAM (truly unbounded state) stay lambda-tile-only.
# Bucketed parts too: a per-(hop, bucket) IR is as bounded as a per-hop
# one, so the row stays bounded by hops × distinct buckets.
UPLOADABLE = alg.BOUNDED_OPS

_INTEGRAL = (T.ByteType, T.ShortType, T.IntegerType, T.LongType, T.BooleanType)

def boundary_millis(end_ds: str) -> int:
    """Exclusive batch-end boundary: UTC midnight AFTER ``end_ds`` (the
    upload covers every event with ts < boundary)."""
    d = _dt.datetime.strptime(end_ds, "%Y-%m-%d").replace(tzinfo=_dt.timezone.utc)
    return int(d.timestamp()) * 1000 + MS_DAY


def _check_parts(gb: GroupBy) -> list[AggregationPart]:
    parts = list(gb.unpacked())
    bad = [
        p.output_column
        for p in parts
        if p.element_wise
        or p.operation not in UPLOADABLE
    ]
    if bad:
        raise ValueError(
            f"not KV-uploadable (exact unbounded set state — "
            f"UNIQUE_COUNT/HISTOGRAM — or element-wise at the part level): "
            f"{bad}; serve these via the lambda-tile path "
            f"(operators/tilestore.py + streaming/lambda_tiles.py) instead"
        )
    return parts


def _lookback(p: AggregationPart, boundary: int) -> tuple[int, int]:
    """(hop_millis, first hop start any serving-day fetch can reach)."""
    r = sawtooth_hop_millis(p.window.millis)
    return r, ((boundary - p.window.millis) // r) * r


def _state_aggs(
    p: AggregationPart,
    integral: bool,
    lb: int | None = None,
    pqs_never_null: bool = False,
) -> list:
    """Spark aggregate expressions for one part's IR states over a group
    (a hop group or the full prefix), named ``{output}__{state}``.
    ``lb``: when set, only rows with ts ≥ lb contribute — lets parts with
    DIFFERENT lookbacks share one hop-frame groupBy (hops before a
    part's own lookback carry empty states, which no fetch can reach:
    every serving-day window start is ≥ that part's lookback)."""
    c = F.col(p.input_column)
    if lb is not None:
        c = F.when(F.col(TS_COL) >= lb, c)
    o = p.output_column
    cd = c.cast("double")
    # SQL fragment twin of ``c`` for the list/sketch states (their
    # builders — equirank_sample_struct, _hist_ir_capped — take SQL text)
    cs = (
        p.input_column
        if lb is None
        else f"(CASE WHEN {TS_COL} >= {lb} THEN {p.input_column} END)"
    )
    struct_sql = (
        f"CASE WHEN {cs} IS NOT NULL "
        f"THEN named_struct('t', {TS_COL}, 'v', {cs}) END"
    )
    k = int(p.arg_map.get("k", 1))
    out = []
    for st in alg.STATES[p.operation]:
        if st == "n":
            out.append(F.count(c).alias(f"{o}__n"))
        elif st == "s1":
            exact = integral and p.operation is Operation.SUM
            out.append(F.sum(c if exact else cd).alias(f"{o}__s1"))
        elif st == "s2":
            out.append(F.sum(cd * cd).alias(f"{o}__s2"))
        elif st == "s3":
            out.append(F.sum(cd * cd * cd).alias(f"{o}__s3"))
        elif st == "s4":
            out.append(F.sum(cd * cd * cd * cd).alias(f"{o}__s4"))
        elif st == "mn":
            out.append(F.min(c).alias(f"{o}__mn"))
        elif st == "mx":
            out.append(F.max(c).alias(f"{o}__mx"))
        elif st in ("fst", "lst"):
            # the value of the (ts, value) struct min/max — lexicographic
            # struct ordering IS the engine's shared exact-tie rule
            # (op_algebra.EventCol.tie_compact): earliest ts, smallest
            # value on ties for FIRST; latest ts, largest value for LAST
            s = F.when(c.isNotNull(), F.struct(F.col(TS_COL).alias("t"), c.alias("v")))
            out.append((F.min(s) if st == "fst" else F.max(s))["v"].alias(f"{o}__{st}"))
        elif st == "topk":
            out.append(
                F.expr(
                    f"slice(reverse(array_sort(collect_list({cs}))), 1, {k})"
                ).alias(f"{o}__topk")
            )
        elif st == "botk":
            out.append(
                F.expr(f"slice(array_sort(collect_list({cs})), 1, {k})").alias(
                    f"{o}__botk"
                )
            )
        elif st == "fstk":
            # earliest-k values in the shared (ts, value) tie order
            out.append(
                F.expr(
                    f"transform(slice(array_sort(collect_list({struct_sql})), "
                    f"1, {k}), x -> x.v)"
                ).alias(f"{o}__fstk")
            )
        elif st == "lstk":
            # newest-first k in the shared (ts, value) tie order
            out.append(
                F.expr(
                    f"transform(slice(reverse(array_sort(collect_list("
                    f"{struct_sql}))), 1, {k}), x -> x.v)"
                ).alias(f"{o}__lstk")
            )
        elif st == "uset":
            # distinct set capped at k: either complete (exact) or the
            # answer is already pinned at k — unions stay exact
            out.append(
                F.expr(
                    f"slice(array_sort(array_distinct(collect_list({cs}))), 1, {k})"
                ).alias(f"{o}__uset")
            )
        elif st == "pqs":
            from chronon_spark.functions.aggregations import (
                _let_sql,
                _pct_samples,
                equirank_sample_struct,
            )

            if lb is None and p.window is None and not pqs_never_null:
                # unbounded: one collapsed struct, NULL-when-empty is fine
                out.append(
                    F.expr(
                        equirank_sample_struct(
                            f"sort_array(collect_list(CAST({cs} AS DOUBLE)))",
                            _pct_samples(p),
                        )
                    ).alias(f"{o}__pqs")
                )
            else:
                # hop frames: NEVER-NULL struct (n=0, q=[] for empty/guarded
                # hops) so the flat+lengths extraction stays aligned
                s_ = _pct_samples(p)
                lst = f"sort_array(collect_list(CAST({cs} AS DOUBLE)))"
                sampled = (
                    f"CASE WHEN size(__lst) <= {s_} THEN __lst "
                    f"ELSE transform(sequence(0, {s_} - 1), "
                    f"i -> element_at(__lst, CAST(floor(i * (size(__lst) - 1) "
                    f"/ ({s_} - 1)) AS INT) + 1)) END"
                )
                body = (
                    f"named_struct('n', CAST(size(__lst) AS BIGINT), "
                    f"'q', {sampled})"
                )
                out.append(F.expr(_let_sql(lst, "__lst", body)).alias(f"{o}__pqs"))
        elif st == "mgh":
            from chronon_spark.functions.aggregations import _hist_ir_capped

            # capped Misra-Gries count-map with error sentinel — split
            # into parallel (keys, counts) arrays after the agg (maps
            # aren't orderable inside the hop collect struct)
            out.append(_hist_ir_capped(cs, p).alias(f"{o}__mgh"))
        elif st == "hreg":
            # sparse per-group HLL register entries (i, r), reduced to
            # per-register maxima inside the agg — bucketed frames only
            idx, rho = hll_idx_rho_exprs(cs)
            ents = F.sort_array(
                F.collect_list(
                    F.when(
                        idx.isNotNull(),
                        F.struct(idx.alias("i"), rho.alias("r")),
                    )
                )
            )
            out.append(_hreg_reduce(ents).alias(f"{o}__hreg"))
    return out


def _is_list(st: str) -> bool:
    """Hop states shipped as a list per entry: the registry's list states
    and a count-map's (keys, counts) halves (_split_map_states)."""
    return st in alg.LIST_STATES or st in ("mgk", "mgv")


def _split_map_states(df: DataFrame, parts: "list[AggregationPart]") -> DataFrame:
    """Replace each APPROX_HISTOGRAM_K map state with parallel
    (keys, counts) array columns — entry order is the IR's own ranked
    (count desc, key asc) order with the error sentinel last."""
    for p in parts:
        if p.operation is Operation.APPROX_HISTOGRAM_K:
            o = p.output_column
            if f"{o}__mgh" in df.columns:
                df = (
                    df.withColumn(
                        f"{o}__mgk",
                        F.coalesce(
                            F.map_keys(F.col(f"{o}__mgh")),
                            F.array().cast("array<string>"),
                        ),
                    )
                    .withColumn(
                        f"{o}__mgv",
                        F.coalesce(
                            F.map_values(F.col(f"{o}__mgh")),
                            F.array().cast("array<bigint>"),
                        ),
                    )
                    .drop(f"{o}__mgh")
                )
    return df


def _fx(name):
    """Closure factory for higher-order-function field extraction (a
    plain 2-arg lambda would be read by F.transform as (element, idx))."""
    return lambda x: x[name]


def _fx2(name, sub):
    return lambda x: x[name][sub]


def _fxs(name):
    return lambda x: F.size(x[name])


def _fxs2(name, sub):
    return lambda x: F.size(x[name][sub])


def _fx_nested(name, sub):
    return lambda x: F.transform(x[name], lambda e: e[sub])


def _ew_subconfigs(gb: GroupBy):
    """Element-wise parts re-expressed as positional-bucket sub-configs —
    the same rewrite the temporal path uses (temporal.py
    _attach_elementwise_temporal): per input column, every element-wise
    aggregation becomes a bucketed agg over (__pos, __ewv) plus ONE
    observed-tensor-size MAX per distinct window (trailing all-null
    positions null-pad per the reference contract)."""
    import dataclasses

    from chronon_spark.api.types import Aggregation

    ew_aggs = [a for a in gb.aggregations if a.element_wise]
    for col in sorted({a.input_column for a in ew_aggs}):
        col_ew = [a for a in ew_aggs if a.input_column == col]
        tsz_windows = tuple({w for a in col_ew for w in (a.windows or (None,))})
        tsz_agg = Aggregation("__tsz", Operation.MAX, {}, tsz_windows)
        tsz_col = {
            p.window: p.output_column
            for p in dataclasses.replace(tsz_agg, element_wise=False).unpack()
        }
        col_aggs = tuple(
            Aggregation("__ewv", a.operation, dict(a.arg_map), a.windows, ("__pos",))
            for a in col_ew
        ) + (tsz_agg,)
        sub_gb = dataclasses.replace(
            gb, name=f"{gb.name}__ew_{col}", aggregations=col_aggs, derivations=None
        )
        yield col, sub_gb, tsz_col, col_ew


def _ew_explode(df: DataFrame, gb: GroupBy, col: str) -> DataFrame:
    keys = list(gb.key_columns)
    return df.select(
        *keys, TS_COL, F.posexplode(F.col(col)).alias("__posn", "__ewv")
    ).select(
        *keys,
        TS_COL,
        F.col("__posn").cast("string").alias("__pos"),
        (F.col("__posn") + 1).alias("__tsz"),
        "__ewv",
    )


def group_by_upload(
    spark: SparkSession,
    gb: GroupBy,
    events: DataFrame,
    end_ds: str,
) -> DataFrame:
    """Per-key FinalBatchIr analogue at the ``end_ds`` boundary: exactly
    one row per key; every hop-IR column is a flat primitive array (see
    module docstring). ``events`` carries the GroupBy's key columns, an
    epoch-millis ``ts``, and each aggregation's input column."""
    import dataclasses

    keys_all = list(gb.key_columns)
    if any(a.element_wise for a in gb.aggregations):
        # element-wise rides the positional-bucket machinery: one
        # exploded sub-upload per input column, columns prefixed so two
        # array columns can't collide, all joined on the keys
        frames_ew: list[DataFrame] = []
        base_aggs = tuple(a for a in gb.aggregations if not a.element_wise)
        if base_aggs:
            frames_ew.append(
                group_by_upload(
                    spark,
                    dataclasses.replace(gb, aggregations=base_aggs, derivations=None),
                    events,
                    end_ds,
                )
            )
        for idx, (col, sub_gb, _, _) in enumerate(_ew_subconfigs(gb)):
            sub_up = group_by_upload(spark, sub_gb, _ew_explode(events, gb, col), end_ds)
            pre = f"__ew{idx}__"
            frames_ew.append(
                sub_up.select(
                    *keys_all,
                    *[
                        F.col(c).alias(pre + c)
                        for c in sub_up.columns
                        if c not in keys_all
                    ],
                )
            )
        out = frames_ew[0]
        for f in frames_ew[1:]:
            out = out.join(f, on=keys_all, how="outer")
        return out

    parts = _check_parts(gb)
    keys = list(gb.key_columns)
    boundary = boundary_millis(end_ds)
    ev = null_key_filter(events, tuple(keys)).filter(
        F.col(TS_COL).isNotNull() & (F.col(TS_COL) < boundary)
    )
    ev_types = dict(zip(ev.schema.names, [f.dataType for f in ev.schema.fields]))

    def _integral(p):
        return isinstance(ev_types[p.input_column], _INTEGRAL)

    frames: list[DataFrame] = []

    # ---- all unbounded non-HLL unbucketed parts: ONE full-prefix groupBy
    ub = [
        p
        for p in parts
        if p.window is None
        and p.bucket is None
        and p.operation is not Operation.APPROX_UNIQUE_COUNT
    ]
    if ub:
        aggs = [a for p in ub for a in _state_aggs(p, _integral(p))]
        f = ev.groupBy(*keys).agg(*aggs)
        for p in ub:
            o = p.output_column
            for st in alg.STATES[p.operation]:
                if st == "pqs":
                    f = (
                        f.withColumn(f"{o}__pqs_n", F.col(f"{o}__pqs")["n"])
                        .withColumn(f"{o}__pqs_q", F.col(f"{o}__pqs")["q"])
                        .drop(f"{o}__pqs")
                    )
        f = _split_map_states(f, ub)
        frames.append(f)

    # ---- windowed non-HLL parts: one hop frame PER RESOLUTION, shared
    # by every part at that hop (per-part lookback guards inside the agg)
    by_r: dict[int, list[AggregationPart]] = {}
    for p in parts:
        if (
            p.window is not None
            and p.bucket is None
            and p.operation is not Operation.APPROX_UNIQUE_COUNT
        ):
            by_r.setdefault(sawtooth_hop_millis(p.window.millis), []).append(p)
    for r, group in sorted(by_r.items()):
        lbs = {p.output_column: _lookback(p, boundary)[1] for p in group}
        lb_min = min(lbs.values())
        hop = F.expr(f"CAST({TS_COL} DIV {r} AS LONG) * {r}").alias("__h")
        aggs = [
            a
            for p in group
            for a in _state_aggs(
                p,
                _integral(p),
                lb=None if lbs[p.output_column] == lb_min else lbs[p.output_column],
            )
        ]
        g = ev.filter(F.col(TS_COL) >= lb_min).groupBy(*keys, hop).agg(*aggs)
        g = _split_map_states(g, group)
        state_cols = [c for c in g.columns if c not in keys and c != "__h"]
        f = g.groupBy(*keys).agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("__h"), *state_cols))
            ).alias("__e")
        )

        sel = [F.col(k) for k in keys] + [
            F.transform("__e", _fx("__h")).alias(f"__h{r}")
        ]
        for sc in state_cols:
            st = sc.rsplit("__", 1)[1]
            if st == "pqs":
                # per-hop counts, then the samples as every hop-list
                # column ships: (flat primitive array, per-hop lengths)
                sel.append(F.transform("__e", _fx2(sc, "n")).alias(f"{sc}_n"))
                sel.append(
                    F.flatten(F.transform("__e", _fx2(sc, "q"))).alias(f"{sc}_q_f")
                )
                sel.append(
                    F.transform("__e", _fxs2(sc, "q")).alias(f"{sc}_q_l")
                )
            elif _is_list(st):
                sel.append(F.flatten(F.transform("__e", _fx(sc))).alias(f"{sc}_f"))
                sel.append(F.transform("__e", _fxs(sc)).alias(f"{sc}_l"))
            else:
                sel.append(F.transform("__e", _fx(sc)).alias(sc))
        frames.append(f.select(*sel))

    # ---- unbucketed HLL parts: per-part two-stage register rollups
    for p in parts:
        o = p.output_column
        integral = _integral(p)
        if p.operation is Operation.APPROX_UNIQUE_COUNT and p.bucket is None:
            idx, rho = hll_idx_rho_exprs(p.input_column)
            base = ev.select(
                *keys, F.col(TS_COL), idx.alias("__i"), rho.alias("__r")
            ).filter(F.col("__i").isNotNull())
            if p.window is None:
                regs = base.groupBy(*keys, "__i").agg(F.max("__r").alias("__r"))
                f = regs.groupBy(*keys).agg(
                    F.sort_array(
                        F.collect_list(F.struct("__i", "__r"))
                    ).alias("__e")
                )
                f = f.select(
                    *keys,
                    F.transform("__e", lambda x: x["__i"]).alias(f"{o}__i"),
                    F.transform("__e", lambda x: x["__r"]).alias(f"{o}__r"),
                )
            else:
                r, lb = _lookback(p, boundary)
                hop = F.expr(f"CAST({TS_COL} DIV {r} AS LONG) * {r}").alias("__h")
                regs = (
                    base.filter(F.col(TS_COL) >= lb)
                    .groupBy(*keys, hop, "__i")
                    .agg(F.max("__r").alias("__r"))
                )
                f = regs.groupBy(*keys).agg(
                    F.sort_array(
                        F.collect_list(F.struct("__h", "__i", "__r"))
                    ).alias("__e")
                )
                f = f.select(
                    *keys,
                    F.transform("__e", lambda x: x["__h"]).alias(f"{o}__hh"),
                    F.transform("__e", lambda x: x["__i"]).alias(f"{o}__i"),
                    F.transform("__e", lambda x: x["__r"]).alias(f"{o}__r"),
                )
            frames.append(f)

    # ---- bucketed scalar parts: Map[bucket → agg] serving state — one
    # scalar IR row per OBSERVED bucket, grouped per bucket column (and
    # per hop resolution when windowed); shipped as flat parallel arrays
    bu_by: dict[str, list] = {}
    bw_by: dict[tuple[int, str], list] = {}
    for p in parts:
        if p.bucket is None:
            continue
        if p.window is None:
            bu_by.setdefault(p.bucket, []).append(p)
        else:
            bw_by.setdefault(
                (sawtooth_hop_millis(p.window.millis), p.bucket), []
            ).append(p)

    for bkcol, group in sorted(bu_by.items()):
        aggs = [
            a for p in group for a in _state_aggs(p, _integral(p), pqs_never_null=True)
        ]
        g = (
            ev.filter(F.col(bkcol).isNotNull())
            .groupBy(*keys, F.col(bkcol).cast("string").alias("__bk"))
            .agg(*aggs)
        )
        g = _split_map_states(g, group)
        state_cols = [c for c in g.columns if c not in keys and c != "__bk"]
        f = g.groupBy(*keys).agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("__bk"), *state_cols))
            ).alias("__e")
        )
        sel = [F.col(k) for k in keys] + [
            F.transform("__e", _fx("__bk")).alias(f"__bu_{bkcol}")
        ]
        for sc in state_cols:
            st = sc.rsplit("__", 1)[1]
            if _is_list(st):
                # per-bucket ≤k lists → (flat, per-bucket lengths)
                sel.append(F.flatten(F.transform("__e", _fx(sc))).alias(f"{sc}_bu_f"))
                sel.append(F.transform("__e", _fxs(sc)).alias(f"{sc}_bu_l"))
            elif st == "pqs":
                sel.append(F.transform("__e", _fx2(sc, "n")).alias(f"{sc}_n_bu"))
                sel.append(
                    F.flatten(F.transform("__e", _fx2(sc, "q"))).alias(f"{sc}_q_bu_f")
                )
                sel.append(F.transform("__e", _fxs2(sc, "q")).alias(f"{sc}_q_bu_l"))
            elif st == "hreg":
                sel.append(
                    F.flatten(F.transform("__e", _fx_nested(sc, "i"))).alias(
                        f"{sc}_i_bu_f"
                    )
                )
                sel.append(
                    F.flatten(F.transform("__e", _fx_nested(sc, "r"))).alias(
                        f"{sc}_r_bu_f"
                    )
                )
                sel.append(F.transform("__e", _fxs(sc)).alias(f"{sc}_bu_l"))
            else:
                sel.append(F.transform("__e", _fx(sc)).alias(f"{sc}_bu"))
        frames.append(f.select(*sel))

    for (r, bkcol), group in sorted(bw_by.items()):
        lbs = {p.output_column: _lookback(p, boundary)[1] for p in group}
        lb_min = min(lbs.values())
        hop = F.expr(f"CAST({TS_COL} DIV {r} AS LONG) * {r}").alias("__h")
        aggs = [
            a
            for p in group
            for a in _state_aggs(
                p,
                _integral(p),
                lb=None if lbs[p.output_column] == lb_min else lbs[p.output_column],
                pqs_never_null=True,
            )
        ]
        g = (
            ev.filter((F.col(TS_COL) >= lb_min) & F.col(bkcol).isNotNull())
            .groupBy(*keys, hop, F.col(bkcol).cast("string").alias("__bk"))
            .agg(*aggs)
        )
        g = _split_map_states(g, group)
        state_cols = [c for c in g.columns if c not in keys and c not in ("__h", "__bk")]
        # ONE per-key collect of (hop, bucket) entry rows, sorted by
        # (hop, bucket) — per-ENTRY hop/bucket arrays (the HLL frame's
        # layout) skip a whole (keys, hop) exchange vs nesting per hop
        f = g.groupBy(*keys).agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("__h"), F.col("__bk"), *state_cols))
            ).alias("__e")
        )
        sel = [F.col(k) for k in keys] + [
            F.transform("__e", _fx("__h")).alias(f"__bh_{r}_{bkcol}"),
            F.transform("__e", _fx("__bk")).alias(f"__bf_{r}_{bkcol}"),
        ]
        for sc in state_cols:
            st = sc.rsplit("__", 1)[1]
            if _is_list(st):
                # per-(hop, bucket)-entry ≤k lists → (flat, lengths)
                sel.append(F.flatten(F.transform("__e", _fx(sc))).alias(f"{sc}_bw_f"))
                sel.append(F.transform("__e", _fxs(sc)).alias(f"{sc}_bw_l"))
            elif st == "pqs":
                sel.append(F.transform("__e", _fx2(sc, "n")).alias(f"{sc}_n_bw"))
                sel.append(
                    F.flatten(F.transform("__e", _fx2(sc, "q"))).alias(f"{sc}_q_bw_f")
                )
                sel.append(F.transform("__e", _fxs2(sc, "q")).alias(f"{sc}_q_bw_l"))
            elif st == "hreg":
                sel.append(
                    F.flatten(F.transform("__e", _fx_nested(sc, "i"))).alias(
                        f"{sc}_i_bw_f"
                    )
                )
                sel.append(
                    F.flatten(F.transform("__e", _fx_nested(sc, "r"))).alias(
                        f"{sc}_r_bw_f"
                    )
                )
                sel.append(F.transform("__e", _fxs(sc)).alias(f"{sc}_bw_l"))
            else:
                sel.append(F.transform("__e", _fx(sc)).alias(f"{sc}_bw"))
        frames.append(f.select(*sel))

    # ≤ (1 + #resolutions + #bucket-frames + #HLL-parts) narrow per-key
    # frames — each the output of groupBy(keys), so the outer joins line
    # up on the keys
    out = frames[0]
    for f in frames[1:]:
        out = out.join(f, on=keys, how="outer")
    return out


# --------------------------------------------------------------------- fetch


def fetch_features(
    spark: SparkSession,
    gb: GroupBy,
    uploaded: DataFrame,
    streamed: DataFrame,
    queries: DataFrame,
    end_ds: str,
) -> DataFrame:
    """Serve point-in-time features for ``queries`` (keys + epoch-millis
    ``ts``, ts ≥ boundary) from the ``group_by_upload`` artifact plus the
    ``streamed`` head (events with ts ≥ boundary; earlier rows are
    ignored — they are the upload's job). Extra query columns pass
    through. One shuffle on the keys; per key, every part is the as-of
    stitch (temporal.stitch): the hop IRs from the window start on
    range-merged, merged with the head events, finalized, in the shared
    op algebra (functions/op_algebra.py) — never a history scan."""
    import dataclasses

    if any(a.element_wise for a in gb.aggregations):
        from chronon_spark.operators.collections import pos_map_to_array_sized

        keys_all = list(gb.key_columns)
        # pin a row id so the per-column sub-fetches join back 1:1 even
        # when (keys, ts) duplicate (localCheckpoint makes the
        # monotonically_increasing_id deterministic for every consumer)
        q2 = queries.withColumn(
            "__fuid", F.monotonically_increasing_id()
        ).localCheckpoint(eager=True)
        base_aggs = tuple(a for a in gb.aggregations if not a.element_wise)
        if base_aggs:
            out = fetch_features(
                spark,
                dataclasses.replace(gb, aggregations=base_aggs, derivations=None),
                uploaded,
                streamed,
                q2,
                end_ds,
            )
        else:
            out = q2.drop(TS_COL)
        for idx, (col, sub_gb, tsz_col, col_ew) in enumerate(_ew_subconfigs(gb)):
            pre = f"__ew{idx}__"
            sub_up = uploaded.select(
                *keys_all,
                *[
                    F.col(c).alias(c[len(pre):])
                    for c in uploaded.columns
                    if c.startswith(pre)
                ],
            )
            sub_out = fetch_features(
                spark,
                sub_gb,
                sub_up,
                _ew_explode(streamed, gb, col),
                q2.select(*keys_all, TS_COL, "__fuid"),
                end_ds,
            )
            renames = []
            for a in col_ew:
                for p_sub, p_out in zip(
                    dataclasses.replace(
                        a, input_column="__ewv", buckets=("__pos",), element_wise=False
                    ).unpack(),
                    a.unpack(),
                ):
                    renames.append(
                        F.expr(
                            pos_map_to_array_sized(
                                p_sub.output_column, tsz_col[p_sub.window]
                            )
                        ).alias(p_out.output_column)
                    )
            out = out.join(sub_out.select("__fuid", *renames), "__fuid", "left")
        out = out.drop("__fuid")
        if gb.derivations:
            feature_names = {p.output_column for p in gb.unpacked()}
            base = (
                ["*"]
                if "*" in gb.derivations
                else [c for c in out.columns if c not in feature_names]
            )
            exprs = base + [
                f"{e} AS {a}" for a, e in gb.derivations.items() if a != "*"
            ]
            out = out.selectExpr(*exprs)
        return out

    parts = _check_parts(gb)
    keys = list(gb.key_columns)
    boundary = boundary_millis(end_ds)

    st_types = dict(zip(streamed.schema.names, [f.dataType for f in streamed.schema.fields]))
    q_types = dict(zip(queries.schema.names, [f.dataType for f in queries.schema.fields]))
    inputs = sorted(
        {p.input_column for p in parts} | {p.bucket for p in parts if p.bucket}
    )
    hll_cols = sorted(
        {p.input_column for p in parts if p.operation is Operation.APPROX_UNIQUE_COUNT}
    )
    hll_names = [f"__hh_{c}_{x}" for c in hll_cols for x in ("idx", "rho")]
    passthrough = [c for c in queries.columns if c not in keys and c != TS_COL]
    for p in parts:
        if p.operation in (Operation.MIN, Operation.MAX) and not isinstance(
            st_types[p.input_column], (T.NumericType, T.BooleanType)
        ):
            raise ValueError(
                f"{p.output_column}: MIN/MAX upload-fetch supports numeric "
                f"inputs only; use the lambda-tile path for {st_types[p.input_column]}"
            )

    head = null_key_filter(streamed, tuple(keys)).filter(
        F.col(TS_COL).isNotNull() & (F.col(TS_COL) >= boundary)
    )
    for c in hll_cols:
        idx, rho = hll_idx_rho_exprs(c)
        head = head.withColumn(f"__hh_{c}_idx", idx).withColumn(f"__hh_{c}_rho", rho)
    head_sel = (
        [F.col(k) for k in keys]
        + [F.lit(0).alias("__tag"), F.col(TS_COL)]
        + [F.col(c) for c in inputs + hll_names]
        + [F.lit(None).cast(q_types[c]).alias(c) for c in passthrough]
    )
    q_sel = (
        [F.col(k) for k in keys]
        + [F.lit(1).alias("__tag"), F.col(TS_COL)]
        + [F.lit(None).cast(st_types[c]).alias(c) for c in inputs]
        + [F.lit(None).cast("int").alias(c) for c in hll_names]
        + [F.col(c) for c in passthrough]
    )
    left = head.select(*head_sel).unionByName(queries.select(*q_sel))

    ev_schema = streamed.select(*inputs).schema
    numeric = {f.name: isinstance(f.dataType, (T.NumericType, T.BooleanType)) for f in ev_schema}
    integral = {f.name: isinstance(f.dataType, _INTEGRAL) for f in ev_schema}
    kinds = {f.name: (numeric[f.name], integral[f.name], f.dataType) for f in ev_schema}
    out_fields = [T.StructField(c, q_types[c]) for c in keys + passthrough]
    out_fields += [output_field(p, ev_schema) for p in parts]
    out_schema = T.StructType(out_fields)
    out_types = [to_arrow_type(f.dataType) for f in out_fields]

    def kernel(lt: pa.Table, ut: pa.Table) -> pa.Table:
        tag = lt.column("__tag").to_numpy()
        q = lt.filter(pa.array(tag == 1))
        if not q.num_rows:
            return pa.schema([(f.name, t) for f, t in zip(out_fields, out_types)]).empty_table()
        qt = q.column(TS_COL).to_numpy().astype(np.int64)
        if (qt < boundary).any():
            # the reference's fetcher contract: batchEndTs ≤ queryTs
            # (SawtoothOnlineAggregator.scala:29-126 lambdaAggregateIr)
            # — a query before the boundary cannot be served from state
            # collapsed AT the boundary (hops would leak future events)
            bad = int(qt[qt < boundary][0])
            raise ValueError(
                f"fetch ts {bad} precedes the upload boundary {boundary} "
                f"(end_ds={end_ds}); serve pre-boundary queries with a "
                f"backfill (temporal_events), not the upload artifact"
            )
        ev = lt.filter(pa.array(tag == 0))
        ets = ev.column(TS_COL).to_numpy().astype(np.int64)
        order = np.argsort(ets, kind="stable")
        cols = {c: ev.column(c).combine_chunks() for c in inputs + hll_names}
        head = _Events(cols, order, np.zeros(len(order), dtype=np.int64), ets[order], numeric, integral)
        urow = {c: ut.column(c)[0].as_py() for c in ut.column_names} if ut.num_rows else {}
        feats = []
        for p in parts:
            tail = None
            if p.window is not None:
                r = sawtooth_hop_millis(p.window.millis)
                tail = ((qt - p.window.millis) // r) * r
            is_num, is_int, itype = kinds[p.input_column]
            pieces = _upload_pieces(p, urow, is_num, is_int)
            feats.append(stitch(p, pieces, head, qt, tail, boundary, itype))
        cols_q = [q.column(c).combine_chunks() for c in keys + passthrough]
        arrays = [a.cast(t) for a, t in zip(cols_q + feats, out_types)]
        return pa.Table.from_arrays(arrays, names=[f.name for f in out_fields])

    res = (
        left.groupby(*keys)
        .cogroup(uploaded.groupby(*keys))
        .applyInArrow(kernel, schema=out_schema)
    )
    if gb.derivations:
        # the reference's fetcher applies derivations at serve time
        # (online/Fetcher.scala derive step) — same selectExpr contract
        # as the batch kernels (temporal_events)
        feature_names = {p.output_column for p in parts}
        base = (
            ["*"]
            if "*" in gb.derivations
            else [c for c in res.columns if c not in feature_names]
        )
        exprs = base + [f"{e} AS {a}" for a, e in gb.derivations.items() if a != "*"]
        res = res.selectExpr(*exprs)
    return res


def _upload_pieces(p: AggregationPart, urow: dict, numeric: bool, integral: bool) -> tuple:
    """The upload row's IR entries of one part as stitch pieces: (registry
    IR, each entry's hop start, each entry's bucket label or None). Hops
    ascend per bucket; an unbounded part's entries (one collapsed entry,
    or one per bucket) start at 0. List states ride as (flat values,
    per-entry lengths) columns (see group_by_upload)."""
    o = p.output_column
    windowed = p.window is not None
    r = sawtooth_hop_millis(p.window.millis) if windowed else None
    tag = "" if p.bucket is None else ("_bw" if windowed else "_bu")

    def name(st: str, comp: str = "") -> str:
        return f"{o}__{st}{comp}{tag}"

    labels = None
    if p.bucket is not None:
        labels = urow.get(f"__bf_{r}_{p.bucket}" if windowed else f"__bu_{p.bucket}") or []
        hops = urow.get(f"__bh_{r}_{p.bucket}") if windowed else None
        n = len(labels)
    elif windowed:
        hops = urow.get(f"__h{r}") or []
        n = len(hops)
    else:
        hops, n = None, 1
    single = p.bucket is None and not windowed

    def scalars(nm: str) -> list:
        v = urow.get(nm)
        return [v] if single else (v or [None] * n)

    def lists(nm: str, lens_nm: "str | None" = None) -> list:
        if single:
            return [urow.get(nm)]
        lens = urow.get(f"{lens_nm or nm}_l") or [0] * n
        flat = urow.get(f"{nm}_f") or []
        off = np.concatenate(([0], np.cumsum([x or 0 for x in lens]))).astype(np.int64)
        return [flat[a:b] for a, b in zip(off[:-1], off[1:])]

    values = {}
    for st in alg.STATES[p.operation]:
        kind = alg.STATE_KIND[st]
        if kind == "seq":
            values[st] = lists(name(st))
        elif st == "mgh":
            values[st] = list(zip(lists(name("mgk")), lists(name("mgv"))))
        elif st == "pqs":
            values[st] = [alg.sample_of(m, q) for m, q in zip(scalars(name(st, "_n")), lists(name(st, "_q")))]
        elif st == "hreg" and p.bucket is None:
            # register entries (idx, rho), per hop entry when windowed
            ii, rr = urow.get(f"{o}__i") or [], urow.get(f"{o}__r") or []
            if single:
                values[st] = [(ii, rr)]
                continue
            hh = np.asarray(urow.get(f"{o}__hh") or [], dtype=np.int64)
            hops = np.unique(hh)
            cut = np.searchsorted(hh, hops, side="right")
            values[st] = [(ii[a:b], rr[a:b]) for a, b in zip(np.r_[0, cut[:-1]], cut)]
        elif st == "hreg":
            values[st] = list(zip(lists(name(st, "_i"), name(st)), lists(name(st, "_r"), name(st))))
        else:
            values[st] = scalars(name(st))
    part = AggregationPart(p.input_column, p.operation, p.arg_map, p.window, None)
    ir = alg.from_values(part, numeric, integral, values)
    n = len(next(iter(ir.values())))
    return ir, np.zeros(n, dtype=np.int64) if hops is None else np.asarray(hops, dtype=np.int64), labels


def fetch_consistency(
    spark: SparkSession,
    gb: GroupBy,
    uploaded: DataFrame,
    streamed: DataFrame,
    queries: DataFrame,
    end_ds: str,
    percentile_mode: str | None = None,
):
    """Online-offline consistency for the FETCH path: serve ``queries``
    from the upload artifact, recompute the same features with the raw
    as-of kernel over full history (upload inputs ∪ streamed head), and
    compare — the reference's OOC metric applied to its fetcher
    (ConsistencyJob + FetcherBase parity). Returns
    (comparison_df, metrics_df) from operators/stats.compare_tables.

    Scalar features only (compare_tables summarizes numeric columns);
    map/list outputs are parity-tested at the pytest layer instead.
    ``streamed`` must carry the full event history here — it is both the
    head for the fetch and the history for the offline recompute."""
    from chronon_spark.operators.stats import PCT_APPROX, compare_tables
    from chronon_spark.operators.temporal import temporal_events

    served = fetch_features(spark, gb, uploaded, streamed, queries, end_ds)
    offline = temporal_events(spark, gb, queries, streamed, mode="raw", passthrough=True)
    # fetch output carries keys + passthrough but not ts — the request
    # frame's passthrough columns must make rows unique (e.g. request id)
    join_keys = [c for c in queries.columns if c != TS_COL]
    return compare_tables(
        served,
        offline.select(*served.columns),
        keys=join_keys,
        percentile_mode=percentile_mode or PCT_APPROX,
    )
