"""Hop-tiled temporal (as-of) GroupBy — the hot-key scale path.

The raw kernel (operators/temporal.py) ships every event of a key into
one Arrow group: exact, but a crawl-storm url with 10M events becomes a
10M-row pandas batch. This module reproduces the reference's hop tiling
(HopsAggregator.scala:92-156 + SawtoothAggregator.scala:64-139): events
are pre-compressed into per-(key, 5-minute-tile) partial IRs by a
DataFrame groupBy (map-side combine — the full event volume never
shuffles raw), raw events are kept ONLY for tiles that contain a query
head (semi-join), and the kernel stitches

    window(qt) = merge(tiles in [tail, headStart)) + raw head [headStart, qt)

with tail = floor((qt−w)/hop)·hop on the window's hop grid and
headStart = floor(qt / 5min)·5min. Hot keys thus cost O(tiles) ≈
105k/year instead of O(events), and the shuffle moves IRs, not rows.

Supported ops: the algebraic family (COUNT/SUM/AVERAGE/MIN/MAX/
VARIANCE/SKEW/KURTOSIS/FIRST/LAST) whose IRs merge losslessly across
tiles, plus the non-algebraic family via mergeable collection IRs —
value→count maps (UNIQUE_COUNT/BOUNDED/APPROX/HISTOGRAM, evaluated by a
sliding counter over sorted queries so every tile entry is added and
removed at most once), per-tile k-heaps (FIRST_K/LAST_K/TOP_K/BOTTOM_K;
the window's k-selection is contained in the union of per-tile
k-selections + head), and per-tile sorted value arrays
(APPROX_PERCENTILE — exact). temporal_events runs this path for
mode="tiled" and for the TileStore (mode="auto" with a tile warehouse);
otherwise mode="auto" runs the exact raw kernel. That kernel reads sparse
events faster; a storm key whose tiles compress its events 3x or more
runs faster here (tools/bench_raw_hotkey.py ... sparse).

Tie semantics: events sharing an exact timestamp are ordered by
(ts, value) inside tiles — deterministic across layouts. The raw kernel's
sorted stream orders events by (keys, ts) only, and its ordered gathers
re-sort each key segment's equal-ts runs by value (op_algebra.EventCol
.tie_compact), so FIRST/LAST/FIRST_K/LAST_K pick the SAME element on
both paths; the reference leaves equal-ts order unspecified (partition
iteration order). Every other aggregate is tie-insensitive.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from chronon_spark.api.types import FIVE_MINUTES_MS, GroupBy, Operation
from chronon_spark.functions.op_algebra import SparseTable, moments, percentiles
from chronon_spark.operators.temporal import output_field
from chronon_spark.sources.scan import TS_COL, null_key_filter

TILE_MS = FIVE_MINUTES_MS

NUMERIC_TILEABLE = {
    Operation.SUM,
    Operation.AVERAGE,
    Operation.MIN,
    Operation.MAX,
    Operation.VARIANCE,
    Operation.SKEW,
    Operation.KURTOSIS,
}
ANYTYPE_TILEABLE = {Operation.COUNT, Operation.FIRST, Operation.LAST}

# non-algebraic ops with MERGEABLE tile IRs (HopsAggregator.scala:92-156
# carries sets/heaps/maps in hop IRs so EVERY op rides hops):
#   value→count maps  → UNIQUE/BOUNDED_UNIQUE/APPROX_UNIQUE/HISTOGRAM
#                       (evaluated by a sliding counter over sorted queries
#                       — each tile's entries are added and removed at most
#                       once, the two-stack shape)
#   per-tile k-heaps  → FIRST_K/LAST_K/TOP_K/BOTTOM_K (window top-k ⊆
#                       union of per-tile top-ks, so tiles cap at k)
#   per-tile sorted value arrays → APPROX_PERCENTILE (exact; IR size is
#                       O(values) — cap via argMap accuracy when approx ok)
COLLECTION_TILEABLE = {
    Operation.UNIQUE_COUNT,
    Operation.APPROX_HISTOGRAM_K,
    Operation.APPROX_UNIQUE_COUNT,
    Operation.BOUNDED_UNIQUE_COUNT,
    Operation.HISTOGRAM,
    Operation.FIRST_K,
    Operation.LAST_K,
    Operation.TOP_K,
    Operation.BOTTOM_K,
    Operation.APPROX_PERCENTILE,
}
TILEABLE = NUMERIC_TILEABLE | ANYTYPE_TILEABLE | COLLECTION_TILEABLE


BUCKETED_TILEABLE = {Operation.COUNT, Operation.SUM, Operation.AVERAGE}

_PERCENTILE_LIKE = {Operation.APPROX_PERCENTILE}
_KLIST_OPS = {Operation.FIRST_K, Operation.LAST_K, Operation.TOP_K, Operation.BOTTOM_K}
_COUNTER_OPS = {
    Operation.UNIQUE_COUNT,
    Operation.BOUNDED_UNIQUE_COUNT,
    Operation.HISTOGRAM,
    Operation.APPROX_HISTOGRAM_K,
}

# HLL sketch parameters for APPROX_UNIQUE_COUNT tile IRs
# (reference: CPC lgK=8, SimpleAggregators.scala:716-760; we use classic
# HLL p=9 → 512 registers, rse ≈ 1.04/√512 ≈ 4.6%) — shared with the raw
# temporal kernel so mode="raw"/"tiled" answer the same estimate
from chronon_spark.functions.sketches import (  # noqa: E402
    HLL_M,
    HLL_P,
    hll_estimate,
    hll_idx_rho_exprs,
)


def _part_tileable(part, ev_schema: T.StructType | None) -> bool:
    if part.bucket is not None:
        # bucketed additive ops tile as Map[bucket → stats] per tile;
        # bucketed counter ops as Map[bucket → Map[value → count]];
        # bucketed k-lists as Map[bucket → k-capped array]
        if part.operation in _COUNTER_OPS or part.operation in _KLIST_OPS:
            return True
        if part.operation in _PERCENTILE_LIKE:
            if ev_schema is None:
                return True
            return isinstance(
                ev_schema[part.input_column].dataType, (T.NumericType, T.BooleanType)
            )
        if part.operation not in BUCKETED_TILEABLE:
            return False
        if part.operation is Operation.COUNT:
            return True
        if ev_schema is None:
            return True
        return isinstance(ev_schema[part.input_column].dataType, (T.NumericType, T.BooleanType))
    if part.operation in (ANYTYPE_TILEABLE | COLLECTION_TILEABLE):
        if part.operation in _PERCENTILE_LIKE:
            if ev_schema is None:
                return True
            return isinstance(
                ev_schema[part.input_column].dataType, (T.NumericType, T.BooleanType)
            )
        return True
    if part.operation not in NUMERIC_TILEABLE:
        return False
    if ev_schema is None:
        return True
    dt = ev_schema[part.input_column].dataType
    return isinstance(dt, (T.NumericType, T.BooleanType))


def is_tileable(gb: GroupBy, ev_schema: T.StructType | None = None) -> bool:
    return all(_part_tileable(p, ev_schema) for p in gb.unpacked())


def split_by_tileability(
    gb: GroupBy, ev_schema: T.StructType | None = None
) -> tuple[GroupBy | None, GroupBy | None]:
    """Split a mixed GroupBy into (tileable, raw) halves at Aggregation
    granularity so the algebraic parts can ride the tiled path; both
    halves keep the original output-column names."""
    tiled_aggs, raw_aggs = [], []
    for agg in gb.aggregations:
        if all(_part_tileable(p, ev_schema) for p in agg.unpack()):
            tiled_aggs.append(agg)
        else:
            raw_aggs.append(agg)
    mk = lambda aggs, suffix: GroupBy(
        name=f"{gb.name}{suffix}",
        sources=gb.sources,
        key_columns=gb.key_columns,
        aggregations=tuple(aggs),
        accuracy=gb.accuracy,
    )
    return (
        mk(tiled_aggs, "__tiled") if tiled_aggs else None,
        mk(raw_aggs, "__raw") if raw_aggs else None,
    )


def _needed_bucket_pairs(gb: GroupBy) -> list[tuple[str, str]]:
    """(input_column, bucket_column) pairs used by bucketed ADDITIVE parts."""
    return sorted(
        {
            (p.input_column, p.bucket)
            for p in gb.unpacked()
            if p.bucket is not None
            and p.operation not in _COUNTER_OPS
            and p.operation not in _KLIST_OPS
            and p.operation not in _PERCENTILE_LIKE
        }
    )


def _needed_bucket_cnt(gb: GroupBy) -> list[tuple[str, str]]:
    """(input, bucket) pairs needing nested value→count tile maps."""
    return sorted(
        {
            (p.input_column, p.bucket)
            for p in gb.unpacked()
            if p.bucket is not None and p.operation in _COUNTER_OPS
        }
    )


def _bcnt_col(col: str, bucket: str) -> str:
    return f"__bc_{col}__{bucket}"


_KLIST_KIND = {
    Operation.FIRST_K: "fstk",
    Operation.LAST_K: "lstk",
    Operation.TOP_K: "topk",
    Operation.BOTTOM_K: "botk",
}


def _needed_bucket_klist(gb: GroupBy) -> list[tuple[str, str, str, int]]:
    """(input, bucket, kind, max_k) quadruples for bucketed k-list parts."""
    need: dict[tuple[str, str, str], int] = {}
    for p in gb.unpacked():
        if p.bucket is None or p.operation not in _KLIST_OPS:
            continue
        key = (p.input_column, p.bucket, _KLIST_KIND[p.operation])
        need[key] = max(need.get(key, 0), int(p.arg_map.get("k", 1)))
    return sorted((c, b, kind, k) for (c, b, kind), k in need.items())


def _bkl_col(col: str, bucket: str, kind: str) -> str:
    return f"__bk_{col}__{bucket}__{kind}"


def _needed_bucket_pct(gb: GroupBy) -> list[tuple[str, str, int]]:
    """(input, bucket, sample budget) for bucketed percentile parts."""
    need: dict[tuple[str, str], int] = {}
    for p in gb.unpacked():
        if p.bucket is None or p.operation not in _PERCENTILE_LIKE:
            continue
        key = (p.input_column, p.bucket)
        need[key] = max(need.get(key, 0), int(p.arg_map.get("accuracy", 128)))
    return sorted((c, b, s_) for (c, b), s_ in need.items())


def _bpc_col(col: str, bucket: str) -> str:
    return f"__bp_{col}__{bucket}"


def _bt_col(col: str, bucket: str, s: str) -> str:
    return f"__bt_{col}_{bucket}_{s}"


def _needed_stats(gb: GroupBy) -> dict[str, set[str]]:
    """Which tile statistics each input column needs (non-bucketed parts)."""
    need: dict[str, set[str]] = {}
    for p in gb.unpacked():
        if p.bucket is not None:
            continue
        s = need.setdefault(p.input_column, set())
        op = p.operation
        if op in (Operation.COUNT, Operation.SUM, Operation.AVERAGE):
            s.update({"n", "s1"})
        if op in (Operation.VARIANCE, Operation.SKEW, Operation.KURTOSIS):
            s.update({"n", "s1", "s2", "s3", "s4"})
        if op is Operation.MIN:
            s.add("mn")
        if op is Operation.MAX:
            s.add("mx")
        if op is Operation.FIRST:
            s.add("fst")
        if op is Operation.LAST:
            s.add("lst")
    return need


_STAT_EXPR = {
    "n": lambda c: f"count({c})",
    # float s1; integral inputs use _STAT_EXPR_S1_INT instead so long sums
    # accumulate exactly (no float64 2^53 loss) and finalize back to long
    "s1": lambda c: f"sum(CAST({c} AS DOUBLE))",
    "s2": lambda c: f"sum(CAST({c} AS DOUBLE) * CAST({c} AS DOUBLE))",
    "s3": lambda c: f"sum(CAST({c} AS DOUBLE) * CAST({c} AS DOUBLE) * CAST({c} AS DOUBLE))",
    "s4": lambda c: f"sum(CAST({c} AS DOUBLE) * CAST({c} AS DOUBLE) * CAST({c} AS DOUBLE) * CAST({c} AS DOUBLE))",
    "mn": lambda c: f"min(CAST({c} AS DOUBLE))",
    "mx": lambda c: f"max(CAST({c} AS DOUBLE))",
    "fst": lambda c: f"min(CASE WHEN {c} IS NOT NULL THEN named_struct('t', ts, 'v', {c}) END)",
    "lst": lambda c: f"max(CASE WHEN {c} IS NOT NULL THEN named_struct('t', ts, 'v', {c}) END)",
}


def _needed_coll(gb: GroupBy) -> dict[str, dict[str, int | None]]:
    """Collection-tile stats per input column: kind → max k needed.

    kinds: "cnt" (value→count map; counter ops), "fstk"/"lstk" (per-tile
    first/last-k TimeTuples), "topk"/"botk" (per-tile value k-heaps),
    "vals" (per-tile sorted value array for percentiles)."""
    need: dict[str, dict[str, int | None]] = {}
    for p in gb.unpacked():
        if p.bucket is not None:
            continue
        op = p.operation
        d = need.setdefault(p.input_column, {})

        def bump(kind: str, k: int | None):
            if k is None:
                d[kind] = None
            else:
                d[kind] = max(d.get(kind) or 0, k)

        if op in _COUNTER_OPS:
            bump("cnt", None)
        elif op is Operation.APPROX_UNIQUE_COUNT:
            bump("hll", None)
        elif op is Operation.FIRST_K:
            bump("fstk", int(p.arg_map.get("k", 1)))
        elif op is Operation.LAST_K:
            bump("lstk", int(p.arg_map.get("k", 1)))
        elif op is Operation.TOP_K:
            bump("topk", int(p.arg_map.get("k", 1)))
        elif op is Operation.BOTTOM_K:
            bump("botk", int(p.arg_map.get("k", 1)))
        elif op in _PERCENTILE_LIKE:
            bump("vals", int(p.arg_map.get("accuracy", 128)))
    return {c: d for c, d in need.items() if d}


def _coll_expr(c: str, kind: str, k: int | None) -> str:
    tt = f"CASE WHEN {c} IS NOT NULL THEN named_struct('t', ts, 'v', {c}) END"
    if kind == "fstk":
        return f"slice(array_sort(collect_list({tt})), 1, {k})"
    if kind == "lstk":
        # last k kept in ASCENDING order so concatenated tile slices stay
        # globally time-ordered (the kernel reverses at finalize)
        arr = f"array_sort(collect_list({tt}))"
        return f"CASE WHEN size({arr}) > {k} THEN slice({arr}, -{k}, {k}) ELSE {arr} END"
    if kind == "topk":
        return f"slice(reverse(array_sort(collect_list({c}))), 1, {k})"
    if kind == "botk":
        return f"slice(array_sort(collect_list({c})), 1, {k})"
    if kind == "vals":
        # (count, <=S equi-rank samples): exact when the tile holds <=S
        # values (5-min tiles almost always do); busier tiles degrade to a
        # quantile sketch — APPROX_PERCENTILE's contract (reference: KLL
        # k=128, SimpleAggregators.scala:762-802); let-bound sampling
        # shared with the snapshot day IR (functions/aggregations.py)
        from chronon_spark.functions.aggregations import equirank_sample_struct

        return equirank_sample_struct(
            f"array_sort(collect_list(CAST({c} AS DOUBLE)))", int(k or 128)
        )
    raise ValueError(kind)


def _stat_expr(c: str, s: str, integral: bool) -> str:
    if s == "s1" and integral:
        return f"sum(CAST({c} AS BIGINT))"
    return _STAT_EXPR[s](c)


def _stat_col(c: str, s: str) -> str:
    return f"__t_{c}_{s}"


class _TilePrefix:
    """Prefix/sparse structures over the per-key tile arrays."""

    def __init__(self, tdf: pd.DataFrame, col: str, stats: set[str], integral: bool = False):
        n_t = len(tdf)
        self.n = None
        self.prefix: dict[str, np.ndarray] = {}
        for s in ("n", "s1", "s2", "s3", "s4"):
            if s in stats:
                ser = tdf[_stat_col(col, s)]
                arr = pd.to_numeric(ser, errors="coerce").to_numpy(np.float64)
                arr = np.nan_to_num(arr, nan=0.0)
                if s == "s1" and integral:
                    # per-tile long sums cumulated in int64: exact long SUM
                    # even when the running total exceeds 2^53 (and fully
                    # exact when the tile column arrived null-free int64)
                    if pd.api.types.is_integer_dtype(ser.dtype):
                        iarr = ser.to_numpy(dtype=np.int64)
                    else:
                        iarr = arr.astype(np.int64)
                    ip = np.empty(n_t + 1, dtype=np.int64)
                    ip[0] = 0
                    np.cumsum(iarr, out=ip[1:])
                    self.prefix[s] = ip
                    continue
                p = np.empty(n_t + 1)
                p[0] = 0.0
                np.cumsum(arr, out=p[1:])
                self.prefix[s] = p
        self.tmin = (
            SparseTable(
                np.nan_to_num(
                    pd.to_numeric(tdf[_stat_col(col, "mn")], errors="coerce").to_numpy(np.float64),
                    nan=np.inf,
                ),
                is_min=True,
            )
            if "mn" in stats
            else None
        )
        self.tmax = (
            SparseTable(
                np.nan_to_num(
                    pd.to_numeric(tdf[_stat_col(col, "mx")], errors="coerce").to_numpy(np.float64),
                    nan=-np.inf,
                ),
                is_min=False,
            )
            if "mx" in stats
            else None
        )
        # indices of tiles whose first/last struct is non-null
        for fl in ("fst", "lst"):
            if fl in stats:
                vals = tdf[_stat_col(col, fl)].to_numpy(object)
                nn = np.array([v is not None for v in vals], dtype=bool)
                setattr(self, f"{fl}_vals", vals)
                setattr(self, f"{fl}_nn", np.flatnonzero(nn))


class _HeadCol:
    """Raw head-event arrays for one input column."""

    def __init__(self, hdf: pd.DataFrame, col: str, numeric: bool):
        self.numeric = numeric
        if numeric:
            vals = pd.to_numeric(hdf[col], errors="coerce").to_numpy(np.float64)
            self.mask = ~np.isnan(vals)
            z = np.where(self.mask, vals, 0.0)
            self.ps = np.concatenate([[0.0], np.cumsum(z)])
            self.p2 = np.concatenate([[0.0], np.cumsum(z * z)])
            self.p3 = np.concatenate([[0.0], np.cumsum(z * z * z)])
            self.p4 = np.concatenate([[0.0], np.cumsum(z * z * z * z)])
            self.vals = vals
        else:
            raw = hdf[col].to_numpy(object)
            self.mask = np.array([v is not None and v == v for v in raw], dtype=bool)
            self.vals = raw
        self.pc = np.concatenate([[0.0], np.cumsum(self.mask.astype(np.float64))])
        self.nn_idx = np.flatnonzero(self.mask)
        self._tmin = None
        self._tmax = None

    def tmin(self) -> SparseTable:
        if self._tmin is None:
            self._tmin = SparseTable(np.where(self.mask, self.vals, np.inf), is_min=True)
        return self._tmin

    def tmax(self) -> SparseTable:
        if self._tmax is None:
            self._tmax = SparseTable(np.where(self.mask, self.vals, -np.inf), is_min=False)
        return self._tmax


class _BucketPrefix:
    """Per-bucket prefix sums over tile maps + raw head rows for bucketed
    additive ops (Map[bucket → count/sum/avg])."""

    def __init__(self, tdf: pd.DataFrame, hdf: pd.DataFrame, col: str, bucket: str):
        n_maps = tdf[_bt_col(col, bucket, "n")].to_numpy(object) if len(tdf) else np.array([], object)
        s_maps = tdf[_bt_col(col, bucket, "s1")].to_numpy(object) if len(tdf) else np.array([], object)
        hb = hdf[bucket].to_numpy(object) if len(hdf) else np.array([], object)
        raw = hdf[col].to_numpy(object) if len(hdf) else np.array([], object)
        hv = pd.to_numeric(hdf[col], errors="coerce").to_numpy(np.float64) if len(hdf) else np.array([])
        hv = np.nan_to_num(hv, nan=0.0)
        # update guard: input non-null (any type — COUNT works on strings)
        # AND bucket non-null
        h_valid = (
            np.array([v is not None and v == v for v in raw], dtype=bool)
            & np.array([b is not None for b in hb], dtype=bool)
            if len(hdf)
            else np.array([], bool)
        )

        universe = set()
        for m in n_maps:
            if m:
                universe.update(m.keys())
        universe.update(str(b) for b, ok in zip(hb, h_valid) if ok)
        self.per_bucket: dict[str, tuple] = {}
        n_t = len(n_maps)
        for b in sorted(universe):
            # map values can be null (e.g. sum over a tile whose inputs were
            # all null) — treat as 0 contribution
            tn = np.array([float(m.get(b) or 0) if m else 0.0 for m in n_maps])
            ts_ = np.array([float((s_maps[i] or {}).get(b) or 0.0) for i in range(n_t)])
            mask = h_valid & np.array([str(x) == b for x in hb], dtype=bool) if len(hb) else np.array([], bool)
            pc_t = np.concatenate([[0.0], np.cumsum(tn)])
            ps_t = np.concatenate([[0.0], np.cumsum(ts_)])
            pc_h = np.concatenate([[0.0], np.cumsum(mask.astype(np.float64))])
            ps_h = np.concatenate([[0.0], np.cumsum(np.where(mask, hv, 0.0))])
            self.per_bucket[b] = (pc_t, ps_t, pc_h, ps_h)


def _slide_counter(tmaps, hvals, hmask, t_lo, t_hi, hl, h_hi, order):
    """Sliding multiset over sorted queries: per-tile value→count maps and
    raw head values enter/leave the window at most once each (two-stack
    amortization). Yields (query_index, live_counter, n_distinct)."""
    cnt: dict = {}
    nz = 0

    def add(v, c=1):
        nonlocal nz
        old = cnt.get(v, 0)
        new = old + c
        if old <= 0 < new:
            nz += 1
        elif new <= 0 < old:
            nz -= 1
        if new == 0:
            cnt.pop(v, None)
        else:
            cnt[v] = new

    ta = tr = ha = hr = 0
    for i in order:
        while ta < t_hi[i]:
            m = tmaps[ta]
            if m:
                for v, c in m.items():
                    add(v, int(c))
            ta += 1
        while tr < t_lo[i]:
            m = tmaps[tr]
            if m:
                for v, c in m.items():
                    add(v, -int(c))
            tr += 1
        while ha < h_hi[i]:
            if hmask[ha]:
                add(hvals[ha])
            ha += 1
        while hr < hl[i]:
            if hmask[hr]:
                add(hvals[hr], -1)
            hr += 1
        yield i, cnt, nz


class _Pack:
    """Contiguous packing of per-tile object/float arrays: one big array +
    offsets, so a tile-index range maps to a zero-copy value slice."""

    def __init__(self, arrs: np.ndarray, numeric: bool = False, struct_v: bool = False):
        dtype = np.float64 if numeric else object
        lens = np.fromiter(
            (0 if a is None else len(a) for a in arrs), dtype=np.int64, count=len(arrs)
        )
        self.off = np.concatenate([[0], np.cumsum(lens)]).astype(np.int64)
        pieces = []
        for a in arrs:
            if a is None or len(a) == 0:
                continue
            if struct_v:
                pieces.append(np.asarray([st["v"] for st in a], dtype=dtype))
            else:
                pieces.append(np.asarray(a, dtype=dtype))
        self.big = np.concatenate(pieces) if pieces else np.empty(0, dtype=dtype)

    def slice(self, tlo: int, thi: int) -> np.ndarray:
        return self.big[self.off[tlo] : self.off[thi]]


MS_1H = 3_600_000
MS_1D = 86_400_000
_NEG_INF = -(1 << 62)


def _gather_bounds(qt, hs, part):
    """Multi-resolution cover of [tail, headStart): returns boundary arrays
    (e0..e5) where [e0,e1)=5m, [e1,e2)=1h, [e2,e3)=1d, [e3,e4)=1h,
    [e4,e5)=5m — the reference's hop pyramid (Resolution.scala:37-47,
    HopsAggregator.scala:99-143), so a 30d window stitches ~30 day tiles +
    ~36 finer tiles instead of ~8640 five-minute tiles."""
    f1h = (hs // MS_1H) * MS_1H
    f1d = (hs // MS_1D) * MS_1D
    if part.window is None:
        e0 = e1 = e2 = np.full(len(hs), _NEG_INF, dtype=np.int64)
    else:
        w, hop = part.window.millis, part.hop_millis
        tail = ((qt - w) // hop) * hop
        e0 = tail
        c1h = ((tail + MS_1H - 1) // MS_1H) * MS_1H
        c1d = ((tail + MS_1D - 1) // MS_1D) * MS_1D
        e1 = np.clip(c1h, e0, hs)
        e2 = np.maximum(e1, np.minimum(c1d, f1h))
    e3 = np.maximum(e2, f1d)
    e4 = np.maximum(e3, f1h)
    e5 = hs
    return e0, e1, e2, e3, e4, e5


def _slide_counter_bucketed(tmaps, hb, hv, hmask, t_lo, t_hi, hl, h_hi, order):
    """Bucketed sliding multiset: nested {bucket: {value: net}} live state,
    tiles carry Map[bucket → Map[value → count]]. Same two-stack
    amortization as _slide_counter."""
    live: dict = {}

    def add(b, v, c=1):
        sub = live.setdefault(b, {})
        new = sub.get(v, 0) + c
        if new == 0:
            sub.pop(v, None)
            if not sub:
                live.pop(b, None)
        else:
            sub[v] = new

    ta = tr = ha = hr = 0
    for i in order:
        while ta < t_hi[i]:
            m = tmaps[ta]
            if m:
                for b, sub in m.items():
                    for v, c in sub.items():
                        add(b, v, int(c))
            ta += 1
        while tr < t_lo[i]:
            m = tmaps[tr]
            if m:
                for b, sub in m.items():
                    for v, c in sub.items():
                        add(b, v, -int(c))
            tr += 1
        while ha < h_hi[i]:
            if hmask[ha]:
                add(hb[ha], hv[ha])
            ha += 1
        while hr < hl[i]:
            if hmask[hr]:
                add(hb[hr], hv[hr], -1)
            hr += 1
        yield i, live


def _eval_bucketed_pct(p, ctx, hl, h_hi, nq):
    """Bucketed APPROX_PERCENTILE over the multi-level cover: per-tile
    Map[bucket → (n, ≤S samples)], kernel-side per-bucket weighted
    rollups, per-query per-bucket weighted interpolation."""
    col, bucket = p.input_column, p.bucket
    s_budget = int(p.arg_map.get("accuracy", 128))
    qs = p.arg_map.get("percentiles", [0.5])
    lv = ctx.bpct_levels(col, bucket, s_budget)
    e0, e1, e2, e3, e4, e5 = _gather_bounds(ctx.qt, ctx.head_start, p)
    segs = [
        (lv["5m"], np.searchsorted(lv["5m"][0], e0), np.searchsorted(lv["5m"][0], e1)),
        (lv["1h"], np.searchsorted(lv["1h"][0], e1), np.searchsorted(lv["1h"][0], e2)),
        (lv["1d"], np.searchsorted(lv["1d"][0], e2), np.searchsorted(lv["1d"][0], e3)),
        (lv["1h"], np.searchsorted(lv["1h"][0], e3), np.searchsorted(lv["1h"][0], e4)),
        (lv["5m"], np.searchsorted(lv["5m"][0], e4), np.searchsorted(lv["5m"][0], e5)),
    ]
    hv, hvm = ctx.raw(col)
    hb, hbm = ctx.raw(bucket)
    hmask = (hvm & hbm) if len(hvm) else hvm
    h_nn = np.flatnonzero(hmask)
    res = np.empty(nq, dtype=object)
    res[:] = None
    for i in range(nq):
        acc: dict = {}
        for (ts_a, maps), lo_a, hi_a in segs:
            for j in range(lo_a[i], hi_a[i]):
                m = maps[j]
                if m:
                    for b, (vs, ws) in m.items():
                        acc.setdefault(b, ([], []))
                        acc[b][0].append(vs)
                        acc[b][1].append(ws)
        lo_c = np.searchsorted(h_nn, hl[i], side="left")
        hi_c = np.searchsorted(h_nn, h_hi[i], side="left")
        for idx in h_nn[lo_c:hi_c]:
            b = hb[idx]
            acc.setdefault(b, ([], []))
            acc[b][0].append(np.asarray([float(hv[idx])]))
            acc[b][1].append(np.asarray([1.0]))
        if not acc:
            continue
        res[i] = {
            str(b): percentiles(np.concatenate(vp), np.concatenate(wp), qs)
            for b, (vp, wp) in acc.items()
        }
    return res


def _eval_bucketed_klist(p, ctx, t_lo, t_hi, hl, h_hi, nq, input_types):
    """Bucketed FIRST_K/LAST_K/TOP_K/BOTTOM_K over the multi-level cover:
    per-tile Map[bucket → k-capped array] (rolled up per bucket in the
    kernel), per-query per-bucket merge of the covered arrays + head
    events. Tiles and segments are visited in ascending time order, so
    first/last-k slices stay exact."""
    from chronon_spark.operators.temporal import _INTEGRAL

    op = p.operation
    kind = _KLIST_KIND[op]
    col, bucket = p.input_column, p.bucket
    k = int(p.arg_map.get("k", 1))
    lv = ctx.bklist_levels(col, bucket, kind, k)
    e0, e1, e2, e3, e4, e5 = _gather_bounds(ctx.qt, ctx.head_start, p)
    segs = [
        (lv["5m"], np.searchsorted(lv["5m"][0], e0), np.searchsorted(lv["5m"][0], e1)),
        (lv["1h"], np.searchsorted(lv["1h"][0], e1), np.searchsorted(lv["1h"][0], e2)),
        (lv["1d"], np.searchsorted(lv["1d"][0], e2), np.searchsorted(lv["1d"][0], e3)),
        (lv["1h"], np.searchsorted(lv["1h"][0], e3), np.searchsorted(lv["1h"][0], e4)),
        (lv["5m"], np.searchsorted(lv["5m"][0], e4), np.searchsorted(lv["5m"][0], e5)),
    ]
    hv, hvm = ctx.raw(col)
    hb, hbm = ctx.raw(bucket)
    hmask = (hvm & hbm) if len(hvm) else hvm
    h_nn = np.flatnonzero(hmask)
    to_long = isinstance(input_types[col], _INTEGRAL)
    res = np.empty(nq, dtype=object)
    res[:] = None
    for i in range(nq):
        acc: dict = {}
        for (ts_a, maps), lo_a, hi_a in segs:
            for j in range(lo_a[i], hi_a[i]):
                m = maps[j]
                if m:
                    for b, arr in m.items():
                        acc.setdefault(b, []).append(arr)
        lo_c = np.searchsorted(h_nn, hl[i], side="left")
        hi_c = np.searchsorted(h_nn, h_hi[i], side="left")
        for idx in h_nn[lo_c:hi_c]:
            acc.setdefault(hb[idx], []).append([hv[idx]])
        if not acc:
            continue
        m_out = {}
        for b, parts_b in acc.items():
            vals = np.concatenate([np.asarray(a, dtype=object) for a in parts_b])
            if op is Operation.FIRST_K:
                sel = list(vals[:k])
            elif op is Operation.LAST_K:
                sel = list(vals[-k:][::-1])
            elif op is Operation.TOP_K:
                sel = list(np.sort(vals)[::-1][:k])
            else:
                sel = list(np.sort(vals)[:k])
            if to_long:
                sel = [int(x) for x in sel]
            m_out[str(b)] = sel
        res[i] = m_out if m_out else None
    return res


def _eval_collection(p, ctx, t_lo, t_hi, hl, h_hi, q_order, nq, input_types, cast_fn):
    """Evaluate one collection part over tile IRs + raw head events."""
    op = p.operation
    col = p.input_column
    hvals, hmask = ctx.craw[col]
    k = int(p.arg_map.get("k", 1))
    res = np.empty(nq, dtype=object)
    res[:] = None

    if op is Operation.APPROX_UNIQUE_COUNT:
        # HLL register stitch over the multi-level cover + head events:
        # registers merge by max, estimate via the standard HLL formula
        # with linear-counting small-range correction
        lv = ctx.hll_levels(col)
        (t5, d5), (t1h, d1h), (t1d, d1d) = lv["5m"], lv["1h"], lv["1d"]
        h_idx, h_rho = ctx.hll_head(col)
        e0, e1, e2, e3, e4, e5 = _gather_bounds(ctx.qt, ctx.head_start, p)
        segs = [
            (d5, np.searchsorted(t5, e0), np.searchsorted(t5, e1)),
            (d1h, np.searchsorted(t1h, e1), np.searchsorted(t1h, e2)),
            (d1d, np.searchsorted(t1d, e2), np.searchsorted(t1d, e3)),
            (d1h, np.searchsorted(t1h, e3), np.searchsorted(t1h, e4)),
            (d5, np.searchsorted(t5, e4), np.searchsorted(t5, e5)),
        ]
        for i in range(nq):
            regs = np.zeros(HLL_M, dtype=np.int8)
            any_data = False
            for dense, lo_a, hi_a in segs:
                lo_i, hi_i = lo_a[i], hi_a[i]
                if hi_i > lo_i and dense is not None and len(dense):
                    np.maximum(regs, dense[lo_i:hi_i].max(axis=0), out=regs)
                    any_data = True
            lo_c = np.searchsorted(h_idx[0], hl[i], side="left")
            hi_c = np.searchsorted(h_idx[0], h_hi[i], side="left")
            sel = h_idx[0][lo_c:hi_c]
            if len(sel):
                np.maximum.at(regs, h_idx[1][sel], h_rho[sel])
                any_data = True
            if not any_data or not regs.any():
                res[i] = None  # no contributing values in the window
                continue
            res[i] = hll_estimate(regs)
        return cast_fn(res, p, input_types[col])

    if op in _COUNTER_OPS:
        from chronon_spark.operators.temporal import _INTEGRAL

        tmaps = ctx.ctile[(col, "cnt")]
        kk = p.arg_map.get("k")
        # integral keys print in SQL string form ('14') even when pandas
        # float-coerced a nullable head batch to 14.0 — Python dicts fold
        # 14 and 14.0 into one counter key, but str() of whichever landed
        # first would leak the artifact (see temporal.py histogram branch)
        int_keys = isinstance(input_types[col], _INTEGRAL)
        for i, cnt, nz in _slide_counter(tmaps, hvals, hmask, t_lo, t_hi, hl, h_hi, q_order):
            if nz == 0:
                continue
            if op in (Operation.HISTOGRAM, Operation.APPROX_HISTOGRAM_K):
                d = {
                    (str(int(v)) if int_keys else str(v)): int(c)
                    for v, c in cnt.items()
                    if c > 0
                }
                if kk:
                    d = dict(sorted(d.items(), key=lambda x: (-x[1], x[0]))[: int(kk)])
                res[i] = d
            elif op is Operation.BOUNDED_UNIQUE_COUNT:
                res[i] = min(nz, k)
            else:  # UNIQUE_COUNT / APPROX_UNIQUE_COUNT (exact stand-in)
                res[i] = int(nz)
        if op in (Operation.HISTOGRAM, Operation.APPROX_HISTOGRAM_K):
            return res
        return cast_fn(res, p, input_types[col])

    h_nn = ctx.h_nn(col)
    hs = ctx.head_start
    qt = ctx.qt

    if op in (Operation.FIRST_K, Operation.LAST_K):
        # single-level contiguous pack: tiles ascend in time, arrays ascend
        # within tile, so first/last-k of the window = head/tail-k of the
        # concatenated slice (+ raw head events after all tiles)
        kind = "fstk" if op is Operation.FIRST_K else "lstk"
        pack = ctx.pack(col, kind, "5m", struct_v=True)
        for i in range(nq):
            lo_c = np.searchsorted(h_nn, hl[i], side="left")
            hi_c = np.searchsorted(h_nn, h_hi[i], side="left")
            if op is Operation.FIRST_K:
                tile_part = pack.slice(t_lo[i], t_hi[i])[:k]
                acc = list(tile_part)
                if len(acc) < k:
                    for idx in h_nn[lo_c:hi_c]:
                        acc.append(hvals[idx])
                        if len(acc) >= k:
                            break
                if acc:
                    res[i] = acc[:k]
            else:
                head_part = [hvals[idx] for idx in h_nn[lo_c:hi_c][::-1][:k]]
                acc = head_part
                if len(acc) < k:
                    tile_part = pack.slice(t_lo[i], t_hi[i])
                    take = k - len(acc)
                    acc = acc + list(tile_part[-take:][::-1])
                if acc:
                    res[i] = acc[:k]
        return cast_fn(res, p, input_types[col])

    if op in (Operation.TOP_K, Operation.BOTTOM_K):
        # three-level gather: 1d tiles for whole days, 1h for partial-day
        # rims, 5m for partial-hour rims (per-query tile touches drop from
        # O(window/5min) to ~O(days + 36))
        kind = "topk" if op is Operation.TOP_K else "botk"
        # numeric columns pack as float64 so the per-query sort stays
        # vectorized (object-dtype sort falls back to python compares)
        numeric = ctx.numeric(col, input_types)
        p5 = ctx.pack(col, kind, "5m", numeric=numeric)
        p1h = ctx.pack(col, kind, "1h", numeric=numeric)
        p1d = ctx.pack(col, kind, "1d", numeric=numeric)
        e0, e1, e2, e3, e4, e5 = _gather_bounds(qt, hs, p)
        i5a = np.searchsorted(ctx.t5_ts, e0), np.searchsorted(ctx.t5_ts, e1)
        i1a = np.searchsorted(ctx.t1h_ts, e1), np.searchsorted(ctx.t1h_ts, e2)
        i1d = np.searchsorted(ctx.t1d_ts, e2), np.searchsorted(ctx.t1d_ts, e3)
        i1b = np.searchsorted(ctx.t1h_ts, e3), np.searchsorted(ctx.t1h_ts, e4)
        i5b = np.searchsorted(ctx.t5_ts, e4), np.searchsorted(ctx.t5_ts, e5)
        for i in range(nq):
            pieces = [
                p5.slice(i5a[0][i], i5a[1][i]),
                p1h.slice(i1a[0][i], i1a[1][i]),
                p1d.slice(i1d[0][i], i1d[1][i]),
                p1h.slice(i1b[0][i], i1b[1][i]),
                p5.slice(i5b[0][i], i5b[1][i]),
            ]
            lo_c = np.searchsorted(h_nn, hl[i], side="left")
            hi_c = np.searchsorted(h_nn, h_hi[i], side="left")
            if hi_c > lo_c:
                hsrc = ctx.head_numeric(col) if numeric else hvals
                pieces.append(hsrc[h_nn[lo_c:hi_c]])
            pieces = [x for x in pieces if len(x)]
            if not pieces:
                continue
            allv = np.sort(np.concatenate(pieces))
            res[i] = list(allv[::-1][:k]) if op is Operation.TOP_K else list(allv[:k])
        return cast_fn(res, p, input_types[col])

    if op in _PERCENTILE_LIKE:
        # three-level weighted-sample gather: per-query work is
        # O(day-tiles × S + rims × S), never O(window events) — the same
        # hop-pyramid compression the other gathers use. Exact (numpy-
        # identical interpolation) while every covered tile holds ≤S
        # values, the APPROX contract otherwise.
        lv = ctx.pct_levels(col)
        qs = p.arg_map.get("percentiles", [0.5])
        hnum = ctx.head_numeric(col)
        e0, e1, e2, e3, e4, e5 = _gather_bounds(ctx.qt, ctx.head_start, p)
        segs = [
            (lv["5m"], np.searchsorted(lv["5m"][0], e0), np.searchsorted(lv["5m"][0], e1)),
            (lv["1h"], np.searchsorted(lv["1h"][0], e1), np.searchsorted(lv["1h"][0], e2)),
            (lv["1d"], np.searchsorted(lv["1d"][0], e2), np.searchsorted(lv["1d"][0], e3)),
            (lv["1h"], np.searchsorted(lv["1h"][0], e3), np.searchsorted(lv["1h"][0], e4)),
            (lv["5m"], np.searchsorted(lv["5m"][0], e4), np.searchsorted(lv["5m"][0], e5)),
        ]
        for i in range(nq):
            v_parts, w_parts = [], []
            for (ts_a, off, vs, ws), lo_a, hi_a in segs:
                a, b = off[lo_a[i]], off[hi_a[i]]
                if b > a:
                    v_parts.append(vs[a:b])
                    w_parts.append(ws[a:b])
            lo_c = np.searchsorted(h_nn, hl[i], side="left")
            hi_c = np.searchsorted(h_nn, h_hi[i], side="left")
            if hi_c > lo_c:
                hv = hnum[h_nn[lo_c:hi_c]]
                v_parts.append(hv)
                w_parts.append(np.ones(len(hv)))
            if not v_parts:
                continue
            res[i] = percentiles(
                np.concatenate(v_parts), np.concatenate(w_parts), qs
            )
        return res

    raise ValueError(f"op {op} not collection-tileable")  # pragma: no cover


class _CollCtx:
    """Shared collection-evaluation state for one cogroup key: level tile
    frames, lazily-built contiguous packs, raw head values."""

    def __init__(self, tdf, t1h, t1d, hdf, coll_by_col, qt, head_start):
        self.tdf, self.t1h, self.t1d, self.hdf = tdf, t1h, t1d, hdf
        self.qt, self.head_start = qt, head_start
        self.t5_ts = tdf[TS_COL].to_numpy(np.int64)
        self.t1h_ts = t1h[TS_COL].to_numpy(np.int64)
        self.t1d_ts = t1d[TS_COL].to_numpy(np.int64)
        self.ctile = {}
        for c, kinds in coll_by_col.items():
            if "cnt" in kinds:
                self.ctile[(c, "cnt")] = tdf[_stat_col(c, "cnt")].to_numpy(object)
        self.craw = {}
        for c in coll_by_col:
            raw = hdf[c].to_numpy(object)
            cmask = np.array([v is not None and v == v for v in raw], dtype=bool)
            self.craw[c] = (raw, cmask)
        self._packs = {}
        self._hnn = {}
        self._hnum = {}

    def pack(self, col, kind, level, numeric=False, struct_v=False) -> _Pack:
        key = (col, kind, level)
        if key not in self._packs:
            frame = {"5m": self.tdf, "1h": self.t1h, "1d": self.t1d}[level]
            arrs = frame[_stat_col(col, kind)].to_numpy(object)
            self._packs[key] = _Pack(arrs, numeric=numeric, struct_v=struct_v)
        return self._packs[key]

    def pct_levels(self, col):
        """Per-level (tile_ts, sample offsets, values, weights) for the
        percentile gather. 1h/1d levels are rolled up IN THE KERNEL from
        the 5-min tile samples (weighted equi-rank resample back to S when
        a coarse tile exceeds the budget) — no extra Spark stages, O(total
        samples) per key."""
        key = ("__pct", col)
        if key in self._packs:
            return self._packs[key]
        sc = _stat_col(col, "vals")
        structs = self.tdf[sc].to_numpy(object) if sc in self.tdf.columns else np.empty(0, object)

        def base_level():
            lens, v_parts, w_parts = [], [], []
            for st in structs:
                if st is None or not len(st["q"]):
                    lens.append(0)
                    continue
                q = np.asarray(st["q"], dtype=np.float64)
                lens.append(len(q))
                v_parts.append(q)
                w_parts.append(np.full(len(q), float(st["n"]) / len(q)))
            off = np.concatenate([[0], np.cumsum(np.asarray(lens, dtype=np.int64))]).astype(np.int64)
            vs = np.concatenate(v_parts) if v_parts else np.empty(0)
            ws = np.concatenate(w_parts) if w_parts else np.empty(0)
            return (self.t5_ts, off, vs, ws)

        def rollup(child, lvl_ms, cap):
            ts_c, off_c, vs_c, ws_c = child
            if not len(ts_c):
                e = np.empty(0)
                return (np.empty(0, np.int64), np.zeros(1, np.int64), e, e)
            coarse = (ts_c // lvl_ms) * lvl_ms
            ts_out, v_parts, w_parts, lens = [], [], [], []
            start = 0
            n_t = len(ts_c)
            while start < n_t:
                end = start
                while end < n_t and coarse[end] == coarse[start]:
                    end += 1
                a, b = off_c[start], off_c[end]
                v, w = vs_c[a:b], ws_c[a:b]
                if len(v) > cap:
                    total = w.sum()
                    qpts = np.linspace(0.0, 1.0, cap)
                    v = np.asarray(percentiles(v, w, qpts))
                    w = np.full(cap, total / cap)
                ts_out.append(coarse[start])
                lens.append(len(v))
                v_parts.append(v)
                w_parts.append(w)
                start = end
            off = np.concatenate([[0], np.cumsum(np.asarray(lens, dtype=np.int64))]).astype(np.int64)
            return (
                np.asarray(ts_out, dtype=np.int64),
                off,
                np.concatenate(v_parts) if v_parts else np.empty(0),
                np.concatenate(w_parts) if w_parts else np.empty(0),
            )

        cap = max(
            (len(st["q"]) for st in structs if st is not None and len(st["q"])), default=128
        )
        cap = max(cap, 128)
        l5 = base_level()
        l1h = rollup(l5, 3_600_000, cap)
        l1d = rollup(l1h, 86_400_000, cap)
        self._packs[key] = {"5m": l5, "1h": l1h, "1d": l1d}
        return self._packs[key]

    def bklist_levels(self, col, bucket, kind, k):
        """Per-level (tile_ts, per-tile Map[bucket → value array]) for one
        bucketed k-list stat; 1h/1d rolled up per bucket in the kernel.
        Struct TimeTuples are unwrapped to plain values up front (time
        order is preserved by construction)."""
        key = ("__bkl", col, bucket, kind, k)
        if key in self._packs:
            return self._packs[key]
        sc = _bkl_col(col, bucket, kind)
        raw_maps = self.tdf[sc].to_numpy(object) if sc in self.tdf.columns else np.empty(0, object)
        struct_v = kind in ("fstk", "lstk")
        maps5 = []
        for m in raw_maps:
            if not m:
                maps5.append(None)
                continue
            maps5.append(
                {b: [st["v"] for st in arr] if struct_v else list(arr) for b, arr in m.items()}
            )

        cap = k  # the part's own k bounds every rollup slice

        def merge_arrays(parts):
            vals = [v for a in parts for v in a]
            if kind == "fstk":
                return vals[:cap]
            if kind == "lstk":
                return vals[-cap:]
            vs = np.sort(np.asarray(vals, dtype=object))
            return list(vs[::-1][:cap]) if kind == "topk" else list(vs[:cap])

        def roll(ts_c, maps_c, lvl_ms):
            if not len(ts_c):
                return ts_c, maps_c
            coarse = (ts_c // lvl_ms) * lvl_ms
            ts_out, maps_out = [], []
            start, n_t = 0, len(ts_c)
            while start < n_t:
                end = start
                grouped: dict = {}
                while end < n_t and coarse[end] == coarse[start]:
                    m = maps_c[end]
                    if m:
                        for b, arr in m.items():
                            grouped.setdefault(b, []).append(arr)
                    end += 1
                ts_out.append(coarse[start])
                maps_out.append(
                    {b: merge_arrays(parts) for b, parts in grouped.items()} if grouped else None
                )
                start = end
            return np.asarray(ts_out, dtype=np.int64), maps_out

        t1h, m1h = roll(self.t5_ts, maps5, 3_600_000)
        t1d, m1d = roll(t1h, m1h, 86_400_000)
        self._packs[key] = {
            "5m": (self.t5_ts, maps5),
            "1h": (t1h, m1h),
            "1d": (t1d, m1d),
        }
        return self._packs[key]

    def bpct_levels(self, col, bucket, s_budget):
        """Per-level (tile_ts, per-tile Map[bucket → (values, weights)])
        for bucketed percentiles; kernel-side weighted-resample rollups."""
        key = ("__bpc", col, bucket, s_budget)
        if key in self._packs:
            return self._packs[key]
        sc = _bpc_col(col, bucket)
        raw_maps = self.tdf[sc].to_numpy(object) if sc in self.tdf.columns else np.empty(0, object)
        maps5 = []
        for m in raw_maps:
            if not m:
                maps5.append(None)
                continue
            conv = {}
            for b, st in m.items():
                q = np.asarray(st["q"], dtype=np.float64)
                conv[b] = (q, np.full(len(q), float(st["n"]) / len(q)))
            maps5.append(conv)

        def roll(ts_c, maps_c, lvl_ms):
            if not len(ts_c):
                return ts_c, maps_c
            coarse = (ts_c // lvl_ms) * lvl_ms
            ts_out, maps_out = [], []
            start, n_t = 0, len(ts_c)
            while start < n_t:
                end = start
                grouped: dict = {}
                while end < n_t and coarse[end] == coarse[start]:
                    m = maps_c[end]
                    if m:
                        for b, (vs, ws) in m.items():
                            grouped.setdefault(b, ([], []))
                            grouped[b][0].append(vs)
                            grouped[b][1].append(ws)
                    end += 1
                merged = {}
                for b, (vp, wp) in grouped.items():
                    v = np.concatenate(vp)
                    w = np.concatenate(wp)
                    if len(v) > s_budget:
                        total = w.sum()
                        qpts = np.linspace(0.0, 1.0, s_budget)
                        v = np.asarray(percentiles(v, w, qpts))
                        w = np.full(s_budget, total / s_budget)
                    merged[b] = (v, w)
                ts_out.append(coarse[start])
                maps_out.append(merged if merged else None)
                start = end
            return np.asarray(ts_out, dtype=np.int64), maps_out

        t1h, m1h = roll(self.t5_ts, maps5, 3_600_000)
        t1d, m1d = roll(t1h, m1h, 86_400_000)
        self._packs[key] = {"5m": (self.t5_ts, maps5), "1h": (t1h, m1h), "1d": (t1d, m1d)}
        return self._packs[key]

    def hll_levels(self, col):
        """(tile_ts, dense register matrix) per level: the 5-min level from
        the SQL tile maps, 1h/1d rolled up IN THE KERNEL by register-wise
        np.maximum.reduceat (registers merge by max — no Spark stages)."""
        key = ("__hll", col)
        if key in self._packs:
            return self._packs[key]
        sc = _stat_col(col, "hll")
        maps = self.tdf[sc].to_numpy(object) if sc in self.tdf.columns else np.empty(0, object)
        lens = np.fromiter((len(m) if m else 0 for m in maps), dtype=np.int64, count=len(maps))
        dense5 = np.zeros((len(maps), HLL_M), dtype=np.uint8)
        total = int(lens.sum())
        if total:
            idxs = np.fromiter(
                (k for m in maps if m for k in m.keys()), dtype=np.int64, count=total
            )
            rhos = np.fromiter(
                (v for m in maps if m for v in m.values()), dtype=np.int64, count=total
            ).astype(np.uint8)
            rows = np.repeat(np.arange(len(maps)), lens)
            np.maximum.at(dense5, (rows, idxs), rhos)

        def roll(ts_c, dense_c, lvl_ms):
            if not len(ts_c):
                return ts_c, dense_c
            coarse = (ts_c // lvl_ms) * lvl_ms
            starts = np.flatnonzero(np.concatenate([[True], coarse[1:] != coarse[:-1]]))
            return coarse[starts], np.maximum.reduceat(dense_c, starts, axis=0)

        t1h, d1h = roll(self.t5_ts, dense5, 3_600_000)
        t1d, d1d = roll(t1h, d1h, 86_400_000)
        self._packs[key] = {"5m": (self.t5_ts, dense5), "1h": (t1h, d1h), "1d": (t1d, d1d)}
        return self._packs[key]

    def hll_head(self, col):
        """(non-null row positions, per-row idx) and per-row rho arrays."""
        key = ("__hllh", col)
        if key not in self._packs:
            ic, rc = f"__hh_{col}_idx", f"__hh_{col}_rho"
            if ic in self.hdf.columns and len(self.hdf):
                idx = pd.to_numeric(self.hdf[ic], errors="coerce").to_numpy(np.float64)
                rho = pd.to_numeric(self.hdf[rc], errors="coerce").to_numpy(np.float64)
                nn = np.flatnonzero(~np.isnan(idx))
                idx = np.nan_to_num(idx, nan=0.0).astype(np.int64)
                rho = np.nan_to_num(rho, nan=0.0).astype(np.uint8)
            else:
                nn = np.empty(0, dtype=np.int64)
                idx = np.empty(0, dtype=np.int64)
                rho = np.empty(0, dtype=np.uint8)
            self._packs[key] = ((nn, idx), rho)
        return self._packs[key]

    def numeric(self, col, input_types) -> bool:
        dt = input_types[col]
        return isinstance(dt, (T.NumericType, T.BooleanType))

    def raw(self, col):
        """(object values, not-null mask) for any head column (cached)."""
        if col not in self.craw:
            vals = self.hdf[col].to_numpy(object) if col in self.hdf.columns else np.empty(0, object)
            cmask = np.array([v is not None and v == v for v in vals], dtype=bool)
            self.craw[col] = (vals, cmask)
        return self.craw[col]

    def bcnt_tile(self, col, bucket) -> np.ndarray:
        key = ("__bcnt", col, bucket)
        if key not in self._packs:
            c = _bcnt_col(col, bucket)
            self._packs[key] = (
                self.tdf[c].to_numpy(object) if c in self.tdf.columns else np.empty(0, object)
            )
        return self._packs[key]

    def h_nn(self, col) -> np.ndarray:
        if col not in self._hnn:
            self._hnn[col] = np.flatnonzero(self.craw[col][1])
        return self._hnn[col]

    def head_numeric(self, col) -> np.ndarray:
        if col not in self._hnum:
            raw, cmask = self.craw[col]
            vals = np.zeros(len(raw), dtype=np.float64)
            for j in np.flatnonzero(cmask):
                vals[j] = float(raw[j])
            self._hnum[col] = vals
        return self._hnum[col]


def make_tiled_kernel(
    gb: GroupBy,
    slim_cols: list[str],
    stats_by_col: dict[str, set[str]],
    numeric_by_col: dict[str, bool],
    input_types: dict[str, T.DataType],
    coll_by_col: dict[str, dict[str, int | None]] | None = None,
    bcnt_pairs: list[tuple[str, str]] | None = None,
    bkl_quads: list[tuple[str, str, str, int]] | None = None,
):
    from chronon_spark.operators.temporal import _INTEGRAL, _cast_feature

    parts = gb.unpacked()
    bucket_pairs = _needed_bucket_pairs(gb)
    coll_by_col = coll_by_col or {}
    bcnt_pairs = bcnt_pairs or []
    bkl_quads = bkl_quads or []
    integral_by_col = {
        c: isinstance(input_types[c], _INTEGRAL) for c in input_types
    }

    def kernel(qdf: pd.DataFrame, cdf: pd.DataFrame) -> pd.DataFrame:
        out = qdf.loc[:, slim_cols].copy()
        nq = len(qdf)
        if nq == 0:
            for p in parts:
                out[p.output_column] = pd.Series([], dtype=object)
            return out
        # null-ts query rows → null features in-kernel (see the raw
        # kernel's twin block): keeps passthrough to ONE query subtree
        null_ts = qdf[TS_COL].isna().to_numpy()
        if null_ts.any():
            pad_out = qdf.loc[null_ts, slim_cols].copy()
            for p in parts:
                pad_out[p.output_column] = None
            if null_ts.all():
                return pad_out
            return pd.concat(
                [kernel(qdf.loc[~null_ts], cdf), pad_out], ignore_index=True
            )
        tdf = cdf[cdf["__kind"] == 0].sort_values(TS_COL, kind="mergesort").reset_index(drop=True)
        hdf = cdf[cdf["__kind"] == 1].sort_values(TS_COL, kind="mergesort").reset_index(drop=True)
        t1h = cdf[cdf["__kind"] == 2].sort_values(TS_COL, kind="mergesort").reset_index(drop=True)
        t1d = cdf[cdf["__kind"] == 3].sort_values(TS_COL, kind="mergesort").reset_index(drop=True)
        tile_ts = tdf[TS_COL].to_numpy(np.int64)
        head_ts = hdf[TS_COL].to_numpy(np.int64)
        qt = qdf[TS_COL].to_numpy(np.int64)
        head_start = (qt // TILE_MS) * TILE_MS

        # shared index arrays
        t_hi = np.searchsorted(tile_ts, head_start, side="left")  # tiles < headStart
        h_lo = np.searchsorted(head_ts, head_start, side="left")
        h_hi = np.searchsorted(head_ts, qt, side="left")  # strict ts < qt

        tcols = {
            c: _TilePrefix(tdf, c, st, integral=integral_by_col.get(c, False))
            for c, st in stats_by_col.items()
        }
        hcols = {c: _HeadCol(hdf, c, numeric_by_col[c]) for c in stats_by_col}
        bcols = {(c, b): _BucketPrefix(tdf, hdf, c, b) for c, b in bucket_pairs}

        # collection structures: lazily-packed tile arrays + raw head
        # values (raw objects, not float-cast — tile map keys/list elements
        # arrive as native python values and must compare equal to heads)
        cctx = (
            _CollCtx(tdf, t1h, t1d, hdf, coll_by_col, qt, head_start)
            if (coll_by_col or bcnt_pairs or bkl_quads)
            else None
        )
        q_order = (
            np.argsort(qt, kind="stable")
            if (coll_by_col or bcnt_pairs or bkl_quads)
            else None
        )

        for p in parts:
            if p.bucket is not None and p.operation in _PERCENTILE_LIKE:
                if p.window is None:
                    t_lo = np.zeros(nq, dtype=np.int64)
                    hl = h_lo
                else:
                    w, hop = p.window.millis, p.hop_millis
                    tail = ((qt - w) // hop) * hop
                    t_lo = np.searchsorted(tile_ts, tail, side="left")
                    hl = np.maximum(h_lo, np.searchsorted(head_ts, tail, side="left"))
                out[p.output_column] = _eval_bucketed_pct(p, cctx, hl, h_hi, nq)
                continue
            if p.bucket is not None and p.operation in _KLIST_OPS:
                if p.window is None:
                    t_lo = np.zeros(nq, dtype=np.int64)
                    hl = h_lo
                else:
                    w, hop = p.window.millis, p.hop_millis
                    tail = ((qt - w) // hop) * hop
                    t_lo = np.searchsorted(tile_ts, tail, side="left")
                    hl = np.maximum(h_lo, np.searchsorted(head_ts, tail, side="left"))
                out[p.output_column] = _eval_bucketed_klist(
                    p, cctx, t_lo, t_hi, hl, h_hi, nq, input_types
                )
                continue
            if p.bucket is not None and p.operation in _COUNTER_OPS:
                tmaps = cctx.bcnt_tile(p.input_column, p.bucket)
                hv, hvm = cctx.raw(p.input_column)
                hb, hbm = cctx.raw(p.bucket)
                hmask = hvm & hbm if len(hvm) else hvm
                if p.window is None:
                    t_lo = np.zeros(nq, dtype=np.int64)
                    hl = h_lo
                else:
                    w, hop = p.window.millis, p.hop_millis
                    tail = ((qt - w) // hop) * hop
                    t_lo = np.searchsorted(tile_ts, tail, side="left")
                    hl = np.maximum(h_lo, np.searchsorted(head_ts, tail, side="left"))
                kk = p.arg_map.get("k")
                k = int(p.arg_map.get("k", 1))
                bres = np.empty(nq, dtype=object)
                bres[:] = None
                for i, live in _slide_counter_bucketed(
                    tmaps, hb, hv, hmask, t_lo, t_hi, hl, h_hi, q_order
                ):
                    if not live:
                        continue
                    if p.operation is Operation.UNIQUE_COUNT:
                        m = {str(b): int(len(sub)) for b, sub in live.items() if sub}
                    elif p.operation is Operation.BOUNDED_UNIQUE_COUNT:
                        m = {str(b): int(min(len(sub), k)) for b, sub in live.items() if sub}
                    else:  # HISTOGRAM / APPROX_HISTOGRAM_K
                        # integral value keys in SQL string form — see the
                        # unbucketed counter finalize above
                        int_keys = isinstance(input_types[p.input_column], _INTEGRAL)
                        m = {}
                        for b, sub in live.items():
                            d = {
                                (str(int(v)) if int_keys else str(v)): int(c)
                                for v, c in sub.items()
                                if c > 0
                            }
                            if kk:
                                d = dict(
                                    sorted(d.items(), key=lambda x: (-x[1], x[0]))[: int(kk)]
                                )
                            if d:
                                m[str(b)] = d
                    bres[i] = m if m else None
                out[p.output_column] = bres
                continue
            if p.bucket is not None:
                bp = bcols[(p.input_column, p.bucket)]
                if p.window is None:
                    t_lo = np.zeros(nq, dtype=np.int64)
                    hl = h_lo
                else:
                    w, hop = p.window.millis, p.hop_millis
                    tail = ((qt - w) // hop) * hop
                    t_lo = np.searchsorted(tile_ts, tail, side="left")
                    hl = np.maximum(h_lo, np.searchsorted(head_ts, tail, side="left"))
                maps: list = [dict() for _ in range(nq)]
                sum_as_int = p.operation is Operation.SUM and integral_by_col.get(
                    p.input_column, False
                )
                for b, (pc_t, ps_t, pc_h, ps_h) in bp.per_bucket.items():
                    n = (pc_t[t_hi] - pc_t[t_lo]) + (pc_h[h_hi] - pc_h[hl])
                    s1 = (ps_t[t_hi] - ps_t[t_lo]) + (ps_h[h_hi] - ps_h[hl])
                    for i in range(nq):
                        if n[i] > 0:
                            if p.operation is Operation.COUNT:
                                maps[i][b] = int(n[i])
                            elif p.operation is Operation.SUM:
                                maps[i][b] = int(round(s1[i])) if sum_as_int else float(s1[i])
                            else:
                                maps[i][b] = float(s1[i] / n[i])
                out[p.output_column] = [m if m else None for m in maps]
                continue
            if p.operation in COLLECTION_TILEABLE:
                if p.window is None:
                    t_lo = np.zeros(nq, dtype=np.int64)
                    hl = h_lo
                else:
                    w, hop = p.window.millis, p.hop_millis
                    tail = ((qt - w) // hop) * hop
                    t_lo = np.searchsorted(tile_ts, tail, side="left")
                    hl = np.maximum(h_lo, np.searchsorted(head_ts, tail, side="left"))
                out[p.output_column] = _eval_collection(
                    p, cctx, t_lo, t_hi, hl, h_hi, q_order, nq, input_types, _cast_feature
                )
                continue
            tc, hc = tcols[p.input_column], hcols[p.input_column]
            if p.window is None:
                t_lo = np.zeros(nq, dtype=np.int64)
            else:
                w, hop = p.window.millis, p.hop_millis
                tail = ((qt - w) // hop) * hop
                t_lo = np.searchsorted(tile_ts, tail, side="left")
                # head events are also bounded below by tail (tiny windows)
            op = p.operation
            res: list = [None] * nq

            if op in (
                Operation.COUNT,
                Operation.SUM,
                Operation.AVERAGE,
                Operation.VARIANCE,
                Operation.SKEW,
                Operation.KURTOSIS,
            ):
                # head lower bound: max(headStart, tail)
                if p.window is None:
                    hl = h_lo
                else:
                    hl = np.maximum(h_lo, np.searchsorted(head_ts, tail, side="left"))
                n = (tc.prefix["n"][t_hi] - tc.prefix["n"][t_lo]) + (hc.pc[h_hi] - hc.pc[hl])
                if op is Operation.COUNT:
                    res = [int(v) if v > 0 else None for v in n]
                    out[p.output_column] = pd.array(res, dtype="Int64")
                    continue
                if op is Operation.SUM and integral_by_col.get(p.input_column, False):
                    # exact long path: int64 tile prefix + head contribution
                    # (head spans ≤ one 5-min tile, exact in float64)
                    s1t = tc.prefix["s1"][t_hi] - tc.prefix["s1"][t_lo]
                    s1h = np.rint(hc.ps[h_hi] - hc.ps[hl]).astype(np.int64)
                    res = [
                        int(a) + int(b) if c_ > 0 else None
                        for a, b, c_ in zip(s1t, s1h, n)
                    ]
                    out[p.output_column] = _cast_feature(
                        np.array(res, dtype=object), p, input_types[p.input_column]
                    )
                    continue
                s1 = (tc.prefix["s1"][t_hi] - tc.prefix["s1"][t_lo]) + (hc.ps[h_hi] - hc.ps[hl])
                if op is Operation.SUM:
                    res = [float(s) if c_ > 0 else None for s, c_ in zip(s1, n)]
                elif op is Operation.AVERAGE:
                    res = [float(s / c_) if c_ > 0 else None for s, c_ in zip(s1, n)]
                else:
                    s2 = (tc.prefix["s2"][t_hi] - tc.prefix["s2"][t_lo]) + (hc.p2[h_hi] - hc.p2[hl])
                    s3 = (tc.prefix["s3"][t_hi] - tc.prefix["s3"][t_lo]) + (hc.p3[h_hi] - hc.p3[hl])
                    s4 = (tc.prefix["s4"][t_hi] - tc.prefix["s4"][t_lo]) + (hc.p4[h_hi] - hc.p4[hl])
                    vals = moments(op, n, s1, s2, s3, s4)
                    res = [float(v) if c_ > 0 else None for v, c_ in zip(vals, n)]
            elif op in (Operation.MIN, Operation.MAX):
                is_min = op is Operation.MIN
                table = tc.tmin if is_min else tc.tmax
                tv = table.query(t_lo, t_hi)
                if p.window is None:
                    hl = h_lo
                else:
                    hl = np.maximum(h_lo, np.searchsorted(head_ts, tail, side="left"))
                hv = (hc.tmin() if is_min else hc.tmax()).query(hl, h_hi)
                comb = np.minimum(tv, hv) if is_min else np.maximum(tv, hv)
                valid = np.isfinite(comb)
                res = [float(v) if ok else None for v, ok in zip(comb, valid)]
            elif op in (Operation.FIRST, Operation.LAST):
                fl = "fst" if op is Operation.FIRST else "lst"
                nn = getattr(tc, f"{fl}_nn")
                vals = getattr(tc, f"{fl}_vals")
                if p.window is None:
                    hl = h_lo
                else:
                    hl = np.maximum(h_lo, np.searchsorted(head_ts, tail, side="left"))
                # vectorized index lookups: tile pick + head pick per query
                t_pos_first = np.searchsorted(nn, t_lo, side="left")
                t_pos_last = np.searchsorted(nn, t_hi, side="left") - 1
                h_pos_first = np.searchsorted(hc.nn_idx, hl, side="left")
                h_pos_last = np.searchsorted(hc.nn_idx, h_hi, side="left") - 1
                for i in range(nq):
                    if op is Operation.FIRST:
                        j = t_pos_first[i]
                        if j < len(nn) and nn[j] < t_hi[i]:
                            res[i] = vals[nn[j]]["v"]
                        else:
                            k2 = h_pos_first[i]
                            if k2 < len(hc.nn_idx) and hc.nn_idx[k2] < h_hi[i]:
                                res[i] = hc.vals[hc.nn_idx[k2]]
                    else:
                        k2 = h_pos_last[i]
                        if k2 >= 0 and k2 < len(hc.nn_idx) and hc.nn_idx[k2] >= hl[i]:
                            res[i] = hc.vals[hc.nn_idx[k2]]
                        else:
                            j = t_pos_last[i]
                            if j >= 0 and nn[j] >= t_lo[i]:
                                res[i] = vals[nn[j]]["v"]
                # FIRST/LAST keep the input column's type
                out[p.output_column] = _cast_feature(
                    np.array(res, dtype=object), p, input_types[p.input_column]
                )
                continue
            else:  # pragma: no cover
                raise ValueError(f"op {op} not tileable")

            # same output typing as the raw kernel: long for COUNT/integral
            # SUM, input type for MIN/MAX, double for the rest
            out[p.output_column] = _cast_feature(
                np.array(res, dtype=object), p, input_types[p.input_column]
            )
        return out

    return kernel


def build_tile_frame(gb: GroupBy, events: DataFrame) -> DataFrame:
    """The 5-minute tile frame: one row per (keys, tile start) carrying
    every op family's tile IR columns — the ONLY stage of the tiled path
    that aggregates raw history (one row per key-tile regardless of event
    volume), and therefore the unit the TileStore persists. Tiles never
    span a day boundary (86400000 % TILE_MS == 0), so the frame is
    day-partitionable and per-day builds concatenate to the one-pass
    build exactly. Schema is a pure function of the GroupBy config
    (caches key on the semantic hash). ``events`` must already be
    null-key-filtered with a non-null ``ts``."""
    keys = list(gb.key_columns)
    stats_by_col = _needed_stats(gb)
    # ---- tiles: per-(key, 5min) IR stats; map-side combine compresses the
    # raw volume before the shuffle
    tile_col = (F.col(TS_COL) / TILE_MS).cast("long") * TILE_MS
    aggs = []
    from chronon_spark.operators.temporal import _INTEGRAL

    for c, stats in stats_by_col.items():
        integral = isinstance(events.schema[c].dataType, _INTEGRAL)
        for s in sorted(stats):
            aggs.append(F.expr(_stat_expr(c, s, integral)).alias(_stat_col(c, s)))
    # collection tile IRs (k-heaps / sorted arrays) ride the same groupBy;
    # value->count maps need their own two-stage rollup (joined below)
    coll_by_col = _needed_coll(gb)
    for c, kinds in coll_by_col.items():
        for kind, k in sorted(kinds.items()):
            if kind in ("cnt", "hll"):  # built by their own two-stage rollups
                continue
            aggs.append(F.expr(_coll_expr(c, kind, k)).alias(_stat_col(c, kind)))
    if not aggs:
        # all parts bucketed: still need tile spine rows (counts only)
        aggs = [F.expr("count(*)").alias("__t_rows")]
    tiles = (
        events.withColumn("__tile", tile_col)
        .groupBy(*keys, "__tile")
        .agg(*aggs)
        .withColumnRenamed("__tile", TS_COL)
    )

    # bucketed additive parts: per-tile Map[bucket → (n, s1)] via a second
    # (key, tile, bucket) aggregation rolled into map IRs
    bucket_pairs = _needed_bucket_pairs(gb)
    for col, bucket in bucket_pairs:
        bt = (
            events.withColumn("__tile", tile_col)
            .filter(F.col(bucket).isNotNull())
            .groupBy(*keys, "__tile", bucket)
            .agg(
                F.expr(f"count({col})").alias("__n"),
                F.expr(f"sum(CAST({col} AS DOUBLE))").alias("__s1"),
            )
            .groupBy(*keys, "__tile")
            .agg(
                F.expr(
                    f"map_from_entries(collect_list(named_struct('key', {bucket}, 'value', __n)))"
                ).alias(_bt_col(col, bucket, "n")),
                F.expr(
                    f"map_from_entries(collect_list(named_struct('key', {bucket}, 'value', __s1)))"
                ).alias(_bt_col(col, bucket, "s1")),
            )
            .withColumnRenamed("__tile", TS_COL)
        )
        tiles = tiles.join(bt, keys + [TS_COL], "left")

    # HLL register tile IRs for APPROX_UNIQUE_COUNT: idx = top-p bits of
    # xxhash64(value), rho = leading-zero rank of the remaining bits
    # (exact via length(bin(w)) — no float log); per-(key, tile) map of
    # idx -> max(rho). Registers merge by MAX, so 1h/1d rollups and the
    # kernel stitch are pure register maxima — the mergeable sketch IR the
    # reference carries in its hops.
    w_bits = 64 - HLL_P
    for col, kinds in coll_by_col.items():
        if "hll" not in kinds:
            continue
        h = f"xxhash64({col})"
        idx = f"CAST(shiftrightunsigned({h}, {w_bits}) AS INT)"
        w = f"({h} & {(1 << w_bits) - 1})"
        rho = f"CAST(CASE WHEN {w} = 0 THEN {w_bits + 1} ELSE {w_bits + 1} - length(bin({w})) END AS INT)"
        hm = (
            events.withColumn("__tile", tile_col)
            .filter(F.col(col).isNotNull())
            .select(*keys, "__tile", F.expr(idx).alias("__hidx"), F.expr(rho).alias("__hrho"))
            .groupBy(*keys, "__tile", "__hidx")
            .agg(F.max("__hrho").alias("__hr"))
            .groupBy(*keys, "__tile")
            .agg(
                F.expr(
                    "map_from_entries(collect_list(named_struct('key', __hidx, 'value', __hr)))"
                ).alias(_stat_col(col, "hll"))
            )
            .withColumnRenamed("__tile", TS_COL)
        )
        tiles = tiles.join(hm, keys + [TS_COL], "left")

    # bucketed counter-op tile IRs: Map[bucket -> Map[value -> count]]
    # per (key, tile) via a three-level rollup
    for col, bucket in _needed_bucket_cnt(gb):
        bc = (
            events.withColumn("__tile", tile_col)
            .filter(F.col(col).isNotNull() & F.col(bucket).isNotNull())
            .groupBy(*keys, "__tile", bucket, col)
            .agg(F.count("*").alias("__n"))
            .groupBy(*keys, "__tile", bucket)
            .agg(
                F.expr(
                    f"map_from_entries(collect_list(named_struct('key', {col}, 'value', __n)))"
                ).alias("__vm")
            )
            .groupBy(*keys, "__tile")
            .agg(
                F.expr(
                    f"map_from_entries(collect_list(named_struct('key', {bucket}, 'value', __vm)))"
                ).alias(_bcnt_col(col, bucket))
            )
            .withColumnRenamed("__tile", TS_COL)
        )
        tiles = tiles.join(bc, keys + [TS_COL], "left")

    # bucketed percentile tile IRs: Map[bucket -> (n, <=S samples)] per tile
    for col, bucket, s_budget in _needed_bucket_pct(gb):
        bp = (
            events.withColumn("__tile", tile_col)
            .filter(F.col(col).isNotNull() & F.col(bucket).isNotNull())
            .groupBy(*keys, "__tile", bucket)
            .agg(F.expr(_coll_expr(col, "vals", s_budget)).alias("__pq"))
            .groupBy(*keys, "__tile")
            .agg(
                F.expr(
                    f"map_from_entries(collect_list(named_struct('key', {bucket}, 'value', __pq)))"
                ).alias(_bpc_col(col, bucket))
            )
            .withColumnRenamed("__tile", TS_COL)
        )
        tiles = tiles.join(bp, keys + [TS_COL], "left")

    # bucketed k-list tile IRs: Map[bucket -> k-capped array] per (key, tile)
    for col, bucket, kind, k in _needed_bucket_klist(gb):
        bk = (
            events.withColumn("__tile", tile_col)
            .filter(F.col(col).isNotNull() & F.col(bucket).isNotNull())
            .groupBy(*keys, "__tile", bucket)
            .agg(F.expr(_coll_expr(col, kind, k)).alias("__arr"))
            .groupBy(*keys, "__tile")
            .agg(
                F.expr(
                    f"map_from_entries(collect_list(named_struct('key', {bucket}, 'value', __arr)))"
                ).alias(_bkl_col(col, bucket, kind))
            )
            .withColumnRenamed("__tile", TS_COL)
        )
        tiles = tiles.join(bk, keys + [TS_COL], "left")

    # counter-op tile IRs: value -> count maps per (key, tile)
    for col, kinds in coll_by_col.items():
        if "cnt" not in kinds:
            continue
        cm = (
            events.withColumn("__tile", tile_col)
            .filter(F.col(col).isNotNull())
            .groupBy(*keys, "__tile", col)
            .agg(F.count("*").alias("__n"))
            .groupBy(*keys, "__tile")
            .agg(
                F.expr(
                    f"map_from_entries(collect_list(named_struct('key', {col}, 'value', __n)))"
                ).alias(_stat_col(col, "cnt"))
            )
            .withColumnRenamed("__tile", TS_COL)
        )
        tiles = tiles.join(cm, keys + [TS_COL], "left")

    return tiles


def temporal_events_tiled(
    spark: SparkSession,
    gb: GroupBy,
    queries: DataFrame,
    events: DataFrame,
    passthrough: bool = False,
    tiles_override: DataFrame | None = None,
    hot_keys: list[tuple] | None = None,
    hot_slice_ms: int | None = None,
    hot_key_threshold: "int | str | None" = None,
) -> DataFrame:
    """Tiled exact as-of aggregation (see module docstring).

    ``hot_keys``: key tuples whose kernel work should fan out across
    TIME-SLICED tasks. The as-of kernel is keyed per entity, so one hot
    key (a viral url, a bot user) serializes onto one task no matter how
    many cores exist; the reference can only EXCLUDE such keys
    (skewKeys). Slicing keeps them: the hot key's queries partition into
    contiguous ``hot_slice_ms`` time slices (tile-aligned), raw HEAD
    events follow their slice with NO replication (a head row only
    serves queries in its own 5-min tile), and only the tile-compressed
    history replicates to the ≤(1 + W/slice) slices whose windows reach
    it. Hash-bucketing queries instead would replicate the raw heads to
    every bucket — measured 2x SLOWER than no salting on a
    600k-event hot key; time slicing is the shape that scales. Requires
    every aggregation windowed (an unbounded op needs the full prefix in
    every slice). Detection stays with the caller (analyzer.hot_keys);
    results are bit-identical to unsliced."""
    keys = list(gb.key_columns)
    if not is_tileable(gb, events.schema):
        raise ValueError("GroupBy contains non-tileable parts; use temporal_events")
    stats_by_col = _needed_stats(gb)

    events = null_key_filter(events, tuple(keys)).filter(F.col(TS_COL).isNotNull())
    events = events.select(*[F.col(c).alias(c) for c in events.columns])

    cond = F.col(TS_COL).isNotNull()
    kcond = None
    for k in keys:
        c = F.col(k).isNotNull()
        kcond = c if kcond is None else (kcond | c)
    if kcond is not None:
        cond = cond & kcond
    if passthrough:
        # whole query frame through one subtree; null-ts rows padded
        # in-kernel, null-key rows cogroup against empty combined groups
        # (see the raw path's twin block in temporal.py)
        qlite = queries
    else:
        qlite = queries.select(*keys, TS_COL).filter(cond).distinct()

    coll_by_col = _needed_coll(gb)
    bucket_pairs = _needed_bucket_pairs(gb)
    tile_col = (F.col(TS_COL) / TILE_MS).cast("long") * TILE_MS
    tiles = tiles_override if tiles_override is not None else build_tile_frame(gb, events)

    # 1h/1d rollup levels for full-range gather ops (TOP_K/BOTTOM_K): the
    # hop pyramid (Resolution.scala:37-47) — per-level top-k is the top-k
    # of the union of child-tile top-ks, so rollups stay capped at k
    level_frames = []
    gather_cols = [
        (c, kind, k2)
        for c, kinds in coll_by_col.items()
        for kind, k2 in kinds.items()
        if kind in ("topk", "botk")
    ]
    if gather_cols:
        slim5 = tiles.select(*keys, TS_COL, *[_stat_col(c, kind) for c, kind, _ in gather_cols])
        for lvl_ms, tag in ((3_600_000, 2), (86_400_000, 3)):
            aggs2 = []
            for c, kind, k2 in gather_cols:
                sc = _stat_col(c, kind)
                flat = f"array_sort(flatten(collect_list({sc})))"
                if kind == "topk":
                    aggs2.append(F.expr(f"slice(reverse({flat}), 1, {k2})").alias(sc))
                else:
                    aggs2.append(F.expr(f"slice({flat}, 1, {k2})").alias(sc))
            level_frames.append(
                slim5.withColumn("__t2", (F.col(TS_COL) / lvl_ms).cast("long") * lvl_ms)
                .groupBy(*keys, "__t2")
                .agg(*aggs2)
                .withColumnRenamed("__t2", TS_COL)
                .withColumn("__kind", F.lit(tag))
            )
    tiles = tiles.withColumn("__kind", F.lit(0))

    # ---- head events: raw rows only inside tiles that contain a query
    heads = qlite.select(*keys, ((F.col(TS_COL) / TILE_MS).cast("long") * TILE_MS).alias("__tile")).distinct()
    head_events = (
        events.withColumn("__tile", tile_col)
        .join(heads, keys + ["__tile"], "left_semi")
        .drop("__tile")
        .withColumn("__kind", F.lit(1))
    )
    hll_head_cols = []
    for c in [cc for cc, kinds in coll_by_col.items() if "hll" in kinds]:
        idx_expr, rho_expr = hll_idx_rho_exprs(c)
        head_events = head_events.withColumn(f"__hh_{c}_idx", idx_expr).withColumn(
            f"__hh_{c}_rho", rho_expr
        )
        hll_head_cols += [f"__hh_{c}_idx", f"__hh_{c}_rho"]

    bcnt_pairs = _needed_bucket_cnt(gb)
    bkl_quads = _needed_bucket_klist(gb)
    bpc_trips = _needed_bucket_pct(gb)
    head_cols = sorted(
        set(stats_by_col)
        | set(coll_by_col)
        | {c for c, _ in bucket_pairs} | {b for _, b in bucket_pairs}
        | {c for c, _ in bcnt_pairs} | {b for _, b in bcnt_pairs}
        | {c for c, _, _, _ in bkl_quads} | {b for _, b, _, _ in bkl_quads}
        | {c for c, _, _ in bpc_trips} | {b for _, b, _ in bpc_trips}
    )
    combined = tiles.unionByName(head_events.select(
        *keys, TS_COL, "__kind", *[F.col(c) for c in head_cols + hll_head_cols]
    ), allowMissingColumns=True)
    for lf in level_frames:
        combined = combined.unionByName(lf, allowMissingColumns=True)

    slim_cols = qlite.columns if passthrough else keys + [TS_COL]
    ev_schema = events.schema
    fields = [qlite.schema[c] for c in slim_cols]
    for p in gb.unpacked():
        # identical output schema to the raw kernel (output_field /
        # _plain_output_type): auto-dispatch must never change types —
        # integral SUM stays long, MIN/MAX keep the input type, AVERAGE/
        # moments are double, COUNT long
        fields.append(output_field(p, ev_schema))
    schema = T.StructType(fields)

    numeric_by_col = {
        c: isinstance(ev_schema[c].dataType, (T.NumericType, T.BooleanType))
        for c in stats_by_col
    }
    input_types = {c: ev_schema[c].dataType for c in stats_by_col}
    kernel = make_tiled_kernel(
        gb, slim_cols, stats_by_col, numeric_by_col, input_types, coll_by_col,
        bcnt_pairs, bkl_quads,
    )
    from chronon_spark.operators.temporal import kernel_partitions

    p_n = kernel_partitions(spark)
    co_keys = keys
    if hot_keys is None and hot_key_threshold and gb.max_window_millis is not None:
        # opt-in detection: keys whose query count exceeds the threshold
        # (one tiny aggregate over the slim query frame), hottest-first and
        # cap-logged (temporal.detect_hot_keys); auto mode simply skips
        # when slicing is impossible (unbounded windows)
        from chronon_spark.operators.temporal import detect_hot_keys

        hot_keys = detect_hot_keys(qlite.select(*keys), keys, hot_key_threshold)
    if hot_keys:
        max_w = gb.max_window_millis
        if max_w is None:
            raise ValueError(
                "hot-key time slicing requires every aggregation windowed — "
                "an unbounded op needs the full prefix in every slice"
            )
        slice_ms = hot_slice_ms or max(max_w // 4, TILE_MS)
        slice_ms = max(TILE_MS, (slice_ms // TILE_MS) * TILE_MS)  # tile-aligned
        # sawtooth tail rounds down by up to one hop (<= 1d) below qt - w
        w_eff = max_w + 86_400_000
        is_hot = None
        for kt in hot_keys:
            m = None
            for k, v in zip(keys, kt if isinstance(kt, (tuple, list)) else (kt,)):
                c = F.col(k) == F.lit(v)
                m = c if m is None else (m & c)
            is_hot = m if is_hot is None else (is_hot | m)
        qlite = qlite.withColumn(
            "__qs",
            F.when(is_hot, (F.col(TS_COL) / slice_ms).cast("long"))
            .otherwise(F.lit(0))
            .cast("long"),
        )
        # kind 1 (raw heads) serve only same-tile queries -> exactly one
        # slice; tile rows serve queries in (ts, ts + w_eff] -> the slice
        # range their windows reach
        lo_s = (F.col(TS_COL) / slice_ms).cast("long")
        hi_s = ((F.col(TS_COL) + F.lit(w_eff)) / slice_ms).cast("long")
        combined = combined.withColumn(
            "__qs_arr",
            F.when(~is_hot, F.array(F.lit(0).cast("long"))).otherwise(
                F.when(F.col("__kind") == 1, F.array(lo_s)).otherwise(
                    F.sequence(lo_s, hi_s)
                )
            ),
        )
        combined = (
            combined.withColumn("__qs_x", F.explode("__qs_arr"))
            .withColumn("__qs", F.col("__qs_x").cast("long"))
            .drop("__qs_arr", "__qs_x")
        )
        co_keys = keys + ["__qs"]
    feats = (
        qlite.repartition(p_n, *co_keys)
        .groupBy(*co_keys)
        .cogroup(combined.repartition(p_n, *co_keys).groupBy(*co_keys))
        .applyInPandas(kernel, schema=schema)
    )
    if passthrough:
        return feats
    return queries.join(feats, slim_cols, "left")
