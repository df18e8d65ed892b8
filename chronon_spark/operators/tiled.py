"""Hop-tiled temporal (as-of) GroupBy — the hot-key scale path.

The raw kernel (operators/temporal.py) ships every event of a key into
one sorted stream: exact, but a crawl-storm url with 10M events is a
10M-event key segment. This module reproduces the reference's hop tiling
(HopsAggregator.scala:92-156 + SawtoothAggregator.scala:64-139): events
are pre-compressed into per-(key, 5-minute-tile) partial IRs by a
DataFrame groupBy (map-side combine — the full event volume never
shuffles raw), raw events are kept ONLY for tiles that contain a query
head (semi-join), and the kernel stitches

    window(qt) = merge(tiles in [tail, headStart)) ⊕ raw head [headStart, qt)

with tail = floor((qt−w)/hop)·hop on the window's hop grid and
headStart = floor(qt / 5min)·5min. Hot keys thus cost O(tiles) ≈
105k/year instead of O(events), and the shuffle moves IRs, not rows.

The kernel has no evaluation of its own. Per key, a cogroup
``applyInArrow`` call reads each part's tile IR columns into the shared
op algebra's IRs (functions/op_algebra.py, via _tile_pieces) and runs
the same as-of stitch as the upload fetch (temporal.stitch): the tiles
in [tail, headStart) range-merged — prefix sums, sparse tables and
first/last searches for the scalar states, a 5-min → 1h → 1d rollup
built in the kernel for lists, count-maps, samples and HLL registers —
merged with the reduce of the raw head events, finalized.

Tile IRs (build_tile_frame; the TileStore persists them and
streaming/lambda_tiles.py streams them): the algebraic family (COUNT/SUM/
AVERAGE/MIN/MAX/VARIANCE/SKEW/KURTOSIS/FIRST/LAST) as power sums,
extrema and (ts, value) structs; the rest as mergeable collection IRs —
value→count maps (UNIQUE_COUNT/BOUNDED/HISTOGRAM/APPROX_HISTOGRAM_K),
HLL register maps (APPROX_UNIQUE_COUNT), per-tile k-capped lists
(FIRST_K/LAST_K/TOP_K/BOTTOM_K; the window's k-selection is contained in
the union of per-tile k-selections + head) and (n, ≤S equi-rank sample)
structs (APPROX_PERCENTILE, exact while no tile or rollup holds more than
the ``accuracy`` budget). temporal_events runs this path for
mode="tiled" and for the TileStore (mode="auto" with a tile warehouse);
otherwise mode="auto" runs the exact raw kernel. That kernel reads sparse
events faster; a storm key whose tiles compress its events 3x or more
runs faster here (tools/bench_raw_hotkey.py ... sparse).

Tie semantics: events sharing an exact timestamp are ordered by
(ts, value) inside tiles — deterministic across layouts — and both
kernels' ordered gathers re-sort equal-ts runs of raw events by value
(op_algebra.EventCol.tie_compact), so FIRST/LAST/FIRST_K/LAST_K pick the
SAME element on every path; the reference leaves equal-ts order
unspecified (partition iteration order). Every other aggregate is
tie-insensitive.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_type

from chronon_spark.api.types import FIVE_MINUTES_MS, AggregationPart, GroupBy, Operation
from chronon_spark.functions import op_algebra as alg
from chronon_spark.functions.sketches import HLL_P, hll_idx_rho_exprs
from chronon_spark.operators.temporal import (
    _INTEGRAL,
    _bucket_labels,
    _Events,
    _scatter,
    detect_hot_keys,
    kernel_partitions,
    output_field,
    stitch,
)
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
# carries sets/heaps/maps in hop IRs so EVERY op rides hops): value→count
# maps, HLL register maps, per-tile k-capped lists and per-tile (n, ≤S
# equi-rank sample) structs
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


def _tile_source(p, st: str) -> str:
    """The tile frame column holding state ``st`` of part ``p``: a
    per-tile column, or for a bucketed part a per-tile Map[bucket → IR]."""
    c, b = p.input_column, p.bucket
    counter = alg.STATE_KIND[st] == "counts" or st in ("set", "uset")
    if b is None:
        kind = {"hreg": "hll", "pqs": "vals"}.get(st, "cnt" if counter else st)
        return _stat_col(c, kind)
    if counter:
        return _bcnt_col(c, b)
    if st == "pqs":
        return _bpc_col(c, b)
    if st in ("n", "s1"):
        return _bt_col(c, b, st)
    return _bkl_col(c, b, st)


def _tile_values(st: str, arr: pa.Array, integral: bool):
    """State ``st``'s serialized values (op_algebra.from_values) from its
    tile IR column: scalars stay Arrow, FIRST/LAST take the (t, v)
    struct's value, lists and maps become Python rows."""
    kind = alg.STATE_KIND[st]
    if kind in ("first", "last"):
        v = dict(zip([f.name for f in arr.type], arr.flatten()))["v"]
        return v if pa.types.is_floating(v.type) or pa.types.is_integer(v.type) else v.to_pylist()
    if kind in ("sum", "min", "max"):
        return arr
    rows = arr.to_pylist()
    if st in ("fstk", "lstk"):
        # (t, v) structs in (ts, value) order; from_values takes a
        # LAST_K list newest first
        rows = [None if r is None else [x["v"] for x in r] for r in rows]
        return [r[::-1] if r and st == "lstk" else r for r in rows]
    if st == "pqs":
        return [None if r is None else alg.sample_of(r["n"], r["q"]) for r in rows]
    key = int if integral else (lambda x: x)
    if st in ("set", "uset"):
        return [None if r is None else [key(x) for x, _ in r] for r in rows]
    if kind in ("counts", "regs"):
        return [None if r is None else ([key(x) for x, _ in r], [c for _, c in r]) for r in rows]
    return rows


def _tile_pieces(p, tiles: pa.Table, tile_ts: np.ndarray, numeric: bool, integral: bool) -> tuple:
    """Part ``p``'s tile IRs as stitch pieces (temporal.stitch): (registry
    IR, tile start times, bucket labels or None). A bucketed part's pieces
    are its tiles' (tile, bucket) map entries, in tile order."""
    part = AggregationPart(p.input_column, p.operation, p.arg_map, p.window, None)
    states = alg.STATES[p.operation]
    cols = {st: tiles.column(_tile_source(p, st)).combine_chunks() for st in states}
    ts, labels = tile_ts, None
    if p.bucket is not None:
        first = cols[states[0]]
        off = first.offsets.to_numpy()
        lens = np.diff(off) * first.is_valid().to_numpy(zero_copy_only=False)
        ts = np.repeat(tile_ts, lens)
        # entry positions in the maps' key and item children
        idx = pa.array(np.repeat(off[:-1] - np.cumsum(lens) + lens, lens) + np.arange(lens.sum()))
        labels = _bucket_labels(first.keys.take(idx)).to_pylist()
        cols = {st: a.items.take(idx) for st, a in cols.items()}
    values = {st: _tile_values(st, a, integral) for st, a in cols.items()}
    return alg.from_values(part, numeric, integral, values), ts, labels


def make_tiled_kernel(gb: GroupBy, slim_fields: "list[T.StructField]", ev_schema: T.StructType):
    """The tiled as-of kernel: a cogroup ``applyInArrow`` function over
    one key's query rows and its combined rows (5-min tiles, __kind 0;
    raw head events, __kind 1). Every part is temporal.stitch over the
    tile pieces in [tail, headStart) and the head events in [headStart,
    qt), headStart = floor(qt / 5min)·5min. One output row per query row;
    null-ts query rows get null features."""
    parts = gb.unpacked()
    numeric = {f.name: isinstance(f.dataType, (T.NumericType, T.BooleanType)) for f in ev_schema.fields}
    integral = {f.name: isinstance(f.dataType, _INTEGRAL) for f in ev_schema.fields}
    itypes = {f.name: f.dataType for f in ev_schema.fields}
    fields = list(slim_fields) + [output_field(p, ev_schema) for p in parts]
    schema = pa.schema([(f.name, to_arrow_type(f.dataType)) for f in fields])

    def kernel(qt_tab: pa.Table, ct: pa.Table) -> pa.Table:
        if not qt_tab.num_rows:
            return schema.empty_table()
        q_ts = qt_tab.column(TS_COL)
        rows = np.flatnonzero(q_ts.is_valid().to_numpy(zero_copy_only=False))
        qt = q_ts.fill_null(0).to_numpy().astype(np.int64)[rows]
        kind = ct.column("__kind").to_numpy() if ct.num_rows else np.zeros(0, np.int64)
        tiles = ct.filter(pa.array(kind == 0))
        tiles = tiles.take(pc.sort_indices(tiles, [(TS_COL, "ascending")]))
        ev = ct.filter(pa.array(kind == 1))
        ets = ev.column(TS_COL).to_numpy().astype(np.int64)
        order = np.argsort(ets, kind="stable")
        cols = {c: ev.column(c).combine_chunks() for c in ev.column_names if c in numeric or c.startswith("__hh_")}
        head = _Events(cols, order, np.zeros(len(order), dtype=np.int64), ets[order], numeric, integral)
        tile_ts = tiles.column(TS_COL).to_numpy().astype(np.int64)
        head_start = (qt // TILE_MS) * TILE_MS
        feats, cache = [], {}
        for p, f in zip(parts, schema.types[len(slim_fields):]):
            tail = None
            if p.window is not None:
                tail = ((qt - p.window.millis) // p.hop_millis) * p.hop_millis
            if len(rows):
                # the windows of one aggregation share its pieces
                key = (p.input_column, p.operation, p.bucket)
                if key not in cache:
                    cache[key] = _tile_pieces(p, tiles, tile_ts, numeric[p.input_column], integral[p.input_column])
                vals = stitch(p, cache[key], head, qt, tail, head_start, itypes[p.input_column])
            else:
                vals = pa.nulls(0, f)
            feats.append(_scatter([(rows, vals)], qt_tab.num_rows, f))
        arrays = [qt_tab.column(f.name).combine_chunks() for f in slim_fields] + feats
        return pa.Table.from_arrays([a.cast(t) for a, t in zip(arrays, schema.types)], schema=schema)

    return kernel, T.StructType(fields)


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
    tile_col = (F.col(TS_COL) / TILE_MS).cast("long") * TILE_MS
    tiles = tiles_override if tiles_override is not None else build_tile_frame(gb, events)
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

    head_cols = sorted({p.input_column for p in gb.unpacked()} | {p.bucket for p in gb.unpacked() if p.bucket})
    combined = tiles.unionByName(head_events.select(
        *keys, TS_COL, "__kind", *[F.col(c) for c in head_cols + hll_head_cols]
    ), allowMissingColumns=True)

    slim_cols = qlite.columns if passthrough else keys + [TS_COL]
    # the raw kernel's output schema (output_field): a dispatch between
    # the kernels never changes types
    kernel, schema = make_tiled_kernel(gb, [qlite.schema[c] for c in slim_cols], events.select(*head_cols).schema)
    p_n = kernel_partitions(spark)
    co_keys = keys
    if hot_keys is None and hot_key_threshold and gb.max_window_millis is not None:
        # opt-in detection: keys whose query count exceeds the threshold
        # (one tiny aggregate over the slim query frame), hottest-first and
        # cap-logged (temporal.detect_hot_keys); auto mode simply skips
        # when slicing is impossible (unbounded windows)
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
        .applyInArrow(kernel, schema=schema)
    )
    if passthrough:
        return feats
    return queries.join(feats, slim_cols, "left")
