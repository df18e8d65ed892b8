"""Temporal (as-of) GroupBy — the point-in-time core.

Semantics (the "sawtooth" window, aggregator/.../SawtoothAggregator.scala +
the definitional oracle NaiveAggregator.scala:36-44): for query time ``qt``
and window ``w`` with tail-hop ``h`` (windowing/Resolution.scala:37-47 —
>12d→1d, >12h→1h, else 5min), the effective interval is::

    [ floor((qt − w) / h) * h ,  qt )      # head strictly exclusive of qt

Events at exactly ``ts == qt`` are EXCLUDED (zero-leakage invariant,
SawtoothAggregator.scala:108-115). Unbounded windows cover ``(-inf, qt)``.

Execution: instead of the reference's three RDD cogroups keyed by
(murmur_hash(keys), headStart) (spark/GroupBy.scala:279-358), the raw
kernel streams like the reference's sawtooth aggregators: ONE stream of
query and event rows (non-key columns packed in one struct column per
role), hash-partitioned on the keys, sorted on the keys' xxhash64 in
Spark and by (keys, ts) in the kernel. It has two shapes:

- union: query rows and event rows from two frames, tag-unioned, each
  row carrying a single null slot for the other role;
- dense (``events=None``): the query frame alone, every row with a key
  and ts also an event, its event struct built in place — each row is
  read, shipped and sorted once, not twice.

A query's strict head is its segment's first event at ts ≥ qt, found by
the same (segment, ts-rank) ``searchsorted`` that gives window tails, so
the rule holds whatever the row order among equal ts. One
``mapInArrow`` call per Arrow batch cuts the batch into runs of one key
hash (an open run carries into the next batch), sorts each chunk of
whole runs into key segments and evaluates every query of every segment
at once with vectorized numpy. Each op's IR, range-reduce,
merge and finalize come from the shared numpy op registry
(functions/op_algebra.py, also behind the upload fetch kernel): a query's
value is finalize(reduce(its event range)), and under hot-key slicing
finalize(merge(baseline IR, reduce(slice-local range))). The reduces:

- invertible ops (count/sum/average/variance/skew/kurtosis) are prefix-sum
  lookups; window tails are one batch-wide ``searchsorted`` over
  (segment, ts) — O((E+Q)·logE) per batch, no per-key Python. Float
  prefix sums restart at each segment, so sums match a per-key prefix
  bit for bit;
- min/max use an O(E log E) sparse table with O(1) vectorized range lookups;
- first/last are index lookups on the non-null event index;
- list/map-valued ops (last_k/top_k/percentile/histogram/unique) slice the
  compacted value array per query (numpy slicing, loop over queries only);
- bucketed parts regroup events by (segment, bucket) and evaluate one
  range per (bucket, query of that key) pair.

Results leave as typed Arrow arrays with validity masks.

This is the same asymptotic shape as the reference's TwoStackLite
(windowing/TwoStackLiteAggregator.scala:26-120) but batch-vectorized.
Skew note: a key's whole history still sits in one task's memory (its
segment accumulates until the key ends). ``mode="auto"`` runs this kernel
without measuring the input first (outside the TileStore); a storm key
whose events 5-minute tiles would compress several times over runs
faster on operators/tiled.py, whose hop pre-tiling compresses it to
per-tile IRs before the cogroup, and ``mode="tiled"`` asks for that.
Hot-key time slicing splits a dense-query key across tasks on either
kernel. The tiled kernel and the upload fetch evaluate every part with
``stitch`` (below): pieces (tile or hop IRs) range-merged up to where
raw events take over, merged with the reduce of those events.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_type

from chronon_spark.api.types import AggregationPart, GroupBy, Operation
from chronon_spark.functions import op_algebra as alg
from chronon_spark.functions.op_algebra import EventCol, HllCol
from chronon_spark.functions.sketches import hll_idx_rho_exprs
from chronon_spark.sources.scan import TS_COL

_INTEGRAL = (T.ByteType, T.ShortType, T.IntegerType, T.LongType, T.BooleanType)


def _plain_output_type(part: AggregationPart, input_type: T.DataType) -> T.DataType:
    op = part.operation
    if op in (
        Operation.COUNT,
        Operation.UNIQUE_COUNT,
        Operation.APPROX_UNIQUE_COUNT,
        Operation.BOUNDED_UNIQUE_COUNT,
    ):
        return T.LongType()
    if op is Operation.SUM:
        return T.LongType() if isinstance(input_type, _INTEGRAL) else T.DoubleType()
    if op in (Operation.AVERAGE, Operation.VARIANCE, Operation.SKEW, Operation.KURTOSIS):
        return T.DoubleType()
    if op is Operation.APPROX_PERCENTILE:
        return T.ArrayType(T.DoubleType())
    if op in (Operation.HISTOGRAM, Operation.APPROX_HISTOGRAM_K):
        return T.MapType(T.StringType(), T.LongType())
    if op in (Operation.MIN, Operation.MAX, Operation.FIRST, Operation.LAST):
        return input_type
    if op in (Operation.FIRST_K, Operation.LAST_K, Operation.TOP_K, Operation.BOTTOM_K):
        return T.ArrayType(input_type)
    raise ValueError(f"unsupported op {op}")


def output_field(part: AggregationPart, events_schema: T.StructType) -> T.StructField:
    input_type = events_schema[part.input_column].dataType
    plain = _plain_output_type(part, input_type)
    dt = T.MapType(T.StringType(), plain) if part.bucket is not None else plain
    return T.StructField(part.output_column, dt, True)


# ------------------------------------------------------------------ numpy kernels


def _cast_feature(out_vals: np.ndarray, part: AggregationPart, input_type: T.DataType):
    """Coerce python values to the declared Spark type.

    Scalars use pandas *nullable* arrays so Arrow keeps the NaN-vs-null
    distinction (skew/kurtosis legitimately finalize to NaN for n<3 /
    zero variance, while an empty window is SQL NULL)."""
    plain = _plain_output_type(part, input_type)
    if isinstance(plain, (T.LongType, T.IntegerType, T.ShortType, T.ByteType)):
        # int64 nullable array; Arrow safe-casts down to the declared
        # narrower integer type on the way out of the kernel
        mask = np.array([v is None or v != v for v in out_vals], dtype=bool)
        vals = np.array([0 if m else int(v) for v, m in zip(out_vals, mask)], dtype=np.int64)
        return pd.arrays.IntegerArray(vals, mask)
    if isinstance(plain, T.DoubleType):
        # explicit mask keeps genuine NaN values (pd.array would fold them to NA)
        mask = np.array([v is None for v in out_vals], dtype=bool)
        vals = np.array([0.0 if m else float(v) for v, m in zip(out_vals, mask)], dtype=np.float64)
        return pd.arrays.FloatingArray(vals, mask)
    if isinstance(plain, T.ArrayType) and isinstance(
        plain.elementType, (T.LongType, T.IntegerType, T.ShortType, T.ByteType)
    ):
        # element-wise fill: np.array(list-of-lists, dtype=object) silently
        # builds a 2-D array when every list has the SAME length (the dense
        # k-list regime — every query's window holds ≥ k events), and
        # pandas then rejects the column assignment
        res = np.empty(len(out_vals), dtype=object)
        for i, v in enumerate(out_vals):
            res[i] = [int(x) for x in v] if v is not None else None
        return res
    return out_vals


def _to_arrow(res, part: AggregationPart, input_type: T.DataType) -> pa.Array:
    """One part's results (what op_algebra.finalize returns) as an Arrow array
    of the part's declared type. A (values, valid) pair becomes a typed
    array with a validity mask — a NaN value stays NaN, only ~valid is
    null; object arrays go through _cast_feature and, like every pandas
    column at the Arrow boundary, turn NaN inside lists/maps into null."""
    atype = to_arrow_type(_plain_output_type(part, input_type))
    if isinstance(res, tuple):
        vals, valid = res
        if not valid.any():
            return pa.nulls(len(valid), atype)
        if pa.types.is_floating(atype):
            return pa.array(vals.astype(np.float64), mask=~valid).cast(atype, safe=False)
        if pa.types.is_integer(atype):
            # Arrow safe-casts down to a declared narrower integer type
            return pa.array(np.where(valid, vals, 0).astype(np.int64), mask=~valid).cast(atype)
        if pa.types.is_boolean(atype):
            return pa.array(np.where(valid, vals, 0) != 0, mask=~valid)
        obj = np.empty(len(valid), dtype=object)
        obj[valid] = vals[valid]
        res = obj
    return pa.array(_cast_feature(res, part, input_type), type=atype, from_pandas=True)


def _parse_bucketed_base(cell, mapping: dict) -> dict:
    """Per-bucket baseline state dicts from the parallel-array columns
    _build_baselines assembles for a bucketed unbounded part: scalar
    states aligned to the bucket-label array, list states as (lengths,
    flat values) pairs. ``cell(column)`` reads the segment's baseline
    value (None when null or absent). Returns {bucket label: {skey: value}}."""
    bks = cell(mapping["__bk"])
    if bks is None:
        return {}
    per: list[dict] = [dict() for _ in bks]
    for skey, name in mapping.items():
        if skey == "__bk":
            continue
        if skey not in alg.SCALAR_STATES:
            ln, fl = cell(f"{name}_l"), cell(f"{name}_f")
            lens = [0] * len(bks) if ln is None else [int(x) for x in ln]
            flat = [] if fl is None else fl
            off = 0
            for t, L in enumerate(lens):
                per[t][skey] = flat[off : off + L]
                off += L
        else:
            vals = cell(name)
            for t in range(len(bks)):
                per[t][skey] = None if vals is None else vals[t]
    return {str(b): d for b, d in zip(bks, per)}


def _baseline_ir(p: AggregationPart, rows: "list[dict]", numeric: bool, integral: bool) -> dict:
    """The registry IR of baseline rows ({canonical state: value}, one
    dict per row), re-joining the states the JVM ships as parallel
    columns: a percentile sample's (values, weights), a count-map's
    (keys, counts), HLL register entries."""

    def value(base: dict, st: str):
        if st == "pqs":
            return None if base.get("pqv") is None else (base["pqv"], base.get("pqw"))
        if st == "mgh":
            return None if base.get("mgk") is None else (base["mgk"], base["mgv"])
        if st == "hreg":
            ents = base.get("hreg") or ()
            return [e["i"] for e in ents], [e["r"] for e in ents]
        return base.get(st)

    values = {st: [value(b, st) for b in rows] for st in alg.STATES[p.operation]}
    return alg.from_values(p, numeric, integral, values)


# the raw kernel's stream: query rows and event rows on the segment keys
# and ts, tagged in SIDE; each side's other columns ride packed in one
# struct column (Q_PACK / EV_PACK), so event columns never collide with
# query passthrough columns. The union shape tags query rows SIDE_QUERY
# and event rows SIDE_EVENT (a row carries ONE null slot for the other
# side); the dense shape tags a row that is both SIDE_BOTH and fills both
# packs in place. KEY_HASH is xxhash64 of the segment keys: a partition
# arrives sorted on it alone (one long key, so Spark radix-sorts), and
# the kernel orders each chunk of whole hash runs by (hash, keys, ts)
KEY_HASH = "__h"
SIDE = "__side"
Q_PACK = "__q"
EV_PACK = "__e"
SIDE_QUERY, SIDE_EVENT, SIDE_BOTH = 0, 1, 2
# rows of complete key segments evaluated per kernel step
CHUNK_ROWS = 4096


def _hashes(b: pa.RecordBatch) -> np.ndarray:
    return b.column(KEY_HASH).to_numpy(zero_copy_only=False)


def _concat(batches: "list[pa.RecordBatch]") -> pa.RecordBatch:
    if len(batches) == 1:
        return batches[0]
    return pa.Table.from_batches(batches).combine_chunks().to_batches()[0]


def _stream_columns(b: pa.RecordBatch) -> "tuple[dict, dict]":
    """({name: array} of the query side — top-level columns plus the
    Q_PACK fields —, {name: array} of the EV_PACK fields). Struct
    flatten honours a sliced batch's offset and the struct's nulls."""
    top = dict(zip(b.schema.names, b.columns))

    def fields(pack: str) -> dict:
        s = top.pop(pack, None)
        return {} if s is None else {f.name: a for f, a in zip(s.type, s.flatten())}

    ev = fields(EV_PACK)
    return {**top, **fields(Q_PACK)}, ev


def _segment_starts(batch: pa.RecordBatch, keys: "list[str]") -> np.ndarray:
    """Rows where a new key segment starts (row 0 always does) in a batch
    sorted by the keys — which splits a KEY_HASH run that holds several
    keys (a 64-bit collision). Neighbours share a segment when every key
    is equal, null matching null and NaN matching NaN — Spark's grouping
    equality."""
    n = batch.num_rows
    new = np.zeros(n, dtype=bool)
    new[:1] = True
    if n < 2:
        return np.flatnonzero(new)
    for k in keys:
        a = batch.column(k)
        diff = pc.fill_null(pc.not_equal(a.slice(0, n - 1), a.slice(1)), True)
        diff = diff.to_numpy(zero_copy_only=False)
        same = [a.is_null()]
        if pa.types.is_floating(a.type):
            same.append(pc.fill_null(pc.is_nan(a), False))
        for m in same:
            m = m.to_numpy(zero_copy_only=False)
            diff &= ~(m[:-1] & m[1:])
        new[1:] |= diff
    return np.flatnonzero(new)


def _run_starts(*cols: np.ndarray) -> np.ndarray:
    """True where a run of equal (cols...) tuples starts."""
    new = np.zeros(len(cols[0]), dtype=bool)
    new[:1] = True
    for c in cols:
        new[1:] |= c[1:] != c[:-1]
    return new


def _bucket_labels(arr: pa.Array) -> pa.Array:
    """Bucket map keys: strings as they are, integers in their SQL string
    form ('14' — the JVM-side IRs CAST the column), anything else str()."""
    t = arr.type
    if pa.types.is_string(t) or pa.types.is_large_string(t) or pa.types.is_integer(t):
        return arr.cast(pa.string())
    return pa.array([str(v) for v in arr.to_pylist()], type=pa.string())


class _Events:
    """Event rows of one stream chunk in (segment, ts) order: the chunk's
    key segments, or (by_bucket) their per-bucket regrouping. Column
    views and EventCol precomputation are cached per column."""

    def __init__(self, cols: dict, rows, seg, ts, numeric: dict, integral: dict):
        self.cols, self.rows, self.seg, self.ts = cols, rows, seg, ts
        self._numeric, self._integral = numeric, integral
        self._arrays: dict = {}
        self._cols: dict = {}
        self._buckets: dict = {}
        self._rank = None

    def array(self, name: str) -> pa.Array:
        if name not in self._arrays:
            self._arrays[name] = self.cols[name].take(self.rows)
        return self._arrays[name]

    def col(self, name: str) -> EventCol:
        if name not in self._cols:
            self._cols[name] = EventCol(
                self.array(name), self._numeric[name], self._integral[name],
                ts=self.ts, seg=self.seg,
            )
        return self._cols[name]

    def input(self, p: AggregationPart) -> "EventCol | HllCol":
        """What the part's op reduces: its input column, or for
        APPROX_UNIQUE_COUNT the JVM-hashed (idx, rho) columns."""
        if p.operation is not Operation.APPROX_UNIQUE_COUNT:
            return self.col(p.input_column)
        key = ("hll", p.input_column)
        if key not in self._cols:
            idx, rho = (
                self.array(f"__hh_{p.input_column}_{x}").cast(pa.float64()).to_numpy(zero_copy_only=False)
                for x in ("idx", "rho")
            )
            self._cols[key] = HllCol(idx, rho)
        return self._cols[key]

    def start(self, q_seg: np.ndarray) -> np.ndarray:
        """Index of the first event of each segment in ``q_seg``."""
        return np.searchsorted(self.seg, q_seg, side="left")

    def search(self, q_seg: np.ndarray, t: np.ndarray) -> np.ndarray:
        """Index of the first event with ts ≥ t in segment q_seg: ONE
        searchsorted over all segments, on (segment, dense ts rank) keys."""
        if self._rank is None:
            uniq = np.unique(self.ts)
            span = len(uniq) + 1
            self._rank = (uniq, span, self.seg * span + np.searchsorted(uniq, self.ts))
        uniq, span, key = self._rank
        return np.searchsorted(key, q_seg * span + np.searchsorted(uniq, t), side="left")

    def by_bucket(self, bcol: str):
        """(events regrouped by (segment, bucket value) — each group a
        segment of its own, buckets in first-appearance order within their
        key —, each group's key segment, each group's map-key label)."""
        if bcol not in self._buckets:
            barr = self.array(bcol)
            ok = barr.is_valid().to_numpy(zero_copy_only=False)
            if pa.types.is_floating(barr.type):
                ok &= ~pc.fill_null(pc.is_nan(barr), False).to_numpy(zero_copy_only=False)
            pos = np.flatnonzero(ok)
            labels = _bucket_labels(barr.take(pos))
            codes = pc.dictionary_encode(labels).indices.to_numpy(zero_copy_only=False)
            seg = self.seg[pos]
            # group = (segment, bucket); order groups by their first event
            o = np.lexsort((pos, codes, seg))
            g_new = _run_starts(codes[o], seg[o])
            first = pos[o][g_new][np.cumsum(g_new) - 1]
            o2 = np.lexsort((pos[o], first))
            fin, first = o[o2], first[o2]
            g_new = _run_starts(first)
            sub = pos[fin]
            self._buckets[bcol] = (
                _Events(
                    self.cols, self.rows[sub], np.cumsum(g_new) - 1, self.ts[sub],
                    self._numeric, self._integral,
                ),
                seg[fin][g_new],
                labels.take(fin[g_new]),
            )
        return self._buckets[bcol]


def _bucket_pairs(g_seg: np.ndarray, q_seg: np.ndarray):
    """(group, query) index pairs joining every bucket group with every
    query of its key segment — Σ over keys of queries × that key's
    buckets, never (all queries × all buckets)."""
    qa = np.searchsorted(q_seg, g_seg, side="left")
    cnt = np.searchsorted(q_seg, g_seg, side="right") - qa
    pg = np.repeat(np.arange(len(g_seg)), cnt)
    pq = np.arange(len(pg)) - np.repeat(np.cumsum(cnt) - cnt - qa, cnt)
    return pg, pq


def _bucket_map(vals: pa.Array, labels: pa.Array, pg, pq, nq: int) -> pa.Array:
    """Map[bucket → value] per query from per-(group, query) pair values:
    entries in group order, null values dropped, an empty map is null
    (BucketedColumnAggregator semantics)."""
    keep = np.flatnonzero(vals.is_valid().to_numpy(zero_copy_only=False))
    keep = keep[np.lexsort((pg[keep], pq[keep]))]
    counts = np.bincount(pq[keep], minlength=nq)
    offsets = np.zeros(nq + 1, dtype=np.int32)
    np.cumsum(counts, out=offsets[1:])
    items = vals.take(keep)
    if pa.types.is_floating(items.type):
        # a NaN map value (skew/kurtosis of < 3/4 events) leaves as null,
        # the pandas-boundary rule for values nested in a map
        items = pc.if_else(pc.is_nan(items), pa.scalar(None, items.type), items)
    return pa.MapArray.from_arrays(
        pa.array(offsets, mask=np.r_[counts == 0, False]), labels.take(pg[keep]), items
    )


def _scatter(pieces: list, n: int, atype: pa.DataType) -> pa.Array:
    """An n-row column from (row indices, values) pieces; rows that no
    piece covers are null."""
    if len(pieces) == 1 and len(pieces[0][0]) == n:
        return pieces[0][1]  # pieces index rows in order
    if not pieces:
        return pa.nulls(n, atype)
    rows = np.concatenate([r for r, _ in pieces])
    src = np.full(n, -1, dtype=np.int64)
    src[rows] = np.arange(len(rows))
    return pa.concat_arrays([v for _, v in pieces]).take(pa.array(src, mask=src < 0))


def stitch(
    p: AggregationPart,
    pieces: tuple,
    head: _Events,
    qt: np.ndarray,
    tail: "np.ndarray | None",
    head_start,
    input_type: T.DataType,
) -> pa.Array:
    """One part at every query of one key, the reference's sawtooth
    stitch (SawtoothAggregator.scala:64-139):

        window(qt) = merge(pieces in [tail, head_start)) ⊕ reduce(head events in [max(tail, head_start), qt))

    finalized. ``pieces`` = (IR, start times, bucket labels or None): hop
    or tile IRs in time order (per label when bucketed); ``head``: the
    key's raw events in one segment; ``tail``: each query's window start
    (None = unbounded); ``head_start``: where raw events take over from
    pieces (one time, or one per query). A bucketed part does this per
    (bucket, query) pair and folds the pairs into Map[bucket → value]."""
    part = AggregationPart(p.input_column, p.operation, p.arg_map, p.window, None)
    ir_e, ts_e, lab_e = pieces
    nq = len(qt)
    hs = np.broadcast_to(np.asarray(head_start, dtype=np.int64), (nq,))
    n_e = len(ts_e)
    if p.bucket is None:
        evs, labels, group = head, [None], {None: 0}
    else:
        evs, _, hl = head.by_bucket(p.bucket)
        group = {lab: g for g, lab in enumerate(hl.to_pylist())}
        labels = sorted(set(group) | set(lab_e))
        if not labels:
            return pa.nulls(nq, to_arrow_type(T.MapType(T.StringType(), _plain_output_type(part, input_type))))
    pl = np.repeat(np.arange(len(labels)), nq)
    pq = np.tile(np.arange(nq), len(labels))
    # piece side: per label, each distinct [tail, head_start) piece range
    # merged once; each pair points at its merged row
    merged, rows, n_rows = [], [], 0
    lab_arr = np.asarray(lab_e, dtype=object)
    for lab in labels:
        sel = np.arange(n_e) if lab is None else np.flatnonzero(lab_arr == lab)
        t = ts_e[sel]
        lo = np.zeros(nq, dtype=np.int64) if tail is None else np.searchsorted(t, tail, side="left")
        rng, pos = np.unique(np.stack([lo, np.searchsorted(t, hs, side="left")], axis=1), axis=0, return_inverse=True)
        rows.append(pos.reshape(-1) + n_rows)
        n_rows += len(rng)
        merged.append(alg.range_merge(part, alg.take(ir_e, sel), t, rng[:, 0], rng[:, 1]))
    batch = alg.concat(merged)
    # head side: the pair's events in [max(tail, head_start), qt)
    start = hs if tail is None else np.maximum(tail, hs)
    g = np.array([group.get(lab, -1) for lab in labels], dtype=np.int64)[pl]
    lo = np.zeros(len(pl), dtype=np.int64)
    hi = np.zeros(len(pl), dtype=np.int64)
    on = g >= 0
    hi[on] = evs.search(g[on], qt[pq[on]])
    lo[on] = evs.search(g[on], start[pq[on]])
    empty = lo >= hi
    lo[empty] = hi[empty] = 0
    # pairs with the same merged row and head range share one evaluation:
    # most (bucket, query) pairs of a wide bucket column have no head
    # events and one of few window starts
    key = np.stack([np.concatenate(rows), lo, hi], axis=1)
    uniq, inv = np.unique(key, axis=0, return_inverse=True)
    head_ir = alg.reduce(part, evs.input(part), uniq[:, 1], uniq[:, 2])
    ir = alg.merge(part, alg.take(batch, uniq[:, 0]), head_ir)
    arr = _to_arrow(alg.finalize(part, ir), part, input_type).take(inv.reshape(-1))
    if p.bucket is None:
        return arr
    return _bucket_map(arr, pa.array(labels, pa.string()), pl, pq, nq)


def make_temporal_kernel(
    gb: GroupBy,
    events_schema: T.StructType,
    query_cols: "list[str]",
    seg_keys: "list[str] | None" = None,
    baseline_cols: "dict[int, dict[str, str]] | None" = None,
):
    """The raw as-of kernel: a ``mapInArrow`` function over one stream.
    Input rows are queries (the ``query_cols``, plus slicing columns,
    under Q_PACK) and events (the inputs under EV_PACK), tagged in SIDE:
    the union shape has query-only rows (SIDE_QUERY) and event-only rows
    (SIDE_EVENT); the dense shape has rows that are both (SIDE_BOTH), plus
    query-only rows where the row cannot be an event (null keys or ts).
    Rows are sorted by KEY_HASH (xxhash64 of ``seg_keys``) within a
    partition, so a key's rows are contiguous, in any order. Each batch
    is cut into runs of equal KEY_HASH; the last, possibly still open,
    carries into the next batch. Each chunk of complete runs is sorted by
    (KEY_HASH, ``seg_keys``, ts) and cut into key segments, in any order
    among equal ts: a query's strict head ``ts < qt`` is its segment's
    first event at ts ≥ qt, found by the same (segment, ts-rank)
    searchsorted that gives window tails. One output batch per chunk:
    ``query_cols`` plus one column per unpacked part, one row per query
    row.

    Every part is evaluated batch-wide over all segments at once: window
    tails are one (segment, ts) searchsorted, prefix tables span the
    batch (float sums restart per segment). Null-ts query rows get null
    features, and so do query rows without events (null keys: events are
    null-key filtered).

    ``seg_keys`` default to the GroupBy keys (``keys + [__qs]`` under
    hot-key slicing). ``baseline_cols``: hot-key slicing support — {index
    within the unbounded-part subsequence of unpacked(): {state: query
    column}}. When a segment's queries carry a non-null ``__slice_lo``,
    unbounded parts reduce [slice_start, qt) locally and merge the
    segment's baseline IR (op_algebra.merge) instead of needing the full
    event prefix."""
    parts = gb.unpacked()
    seg_keys = list(seg_keys or gb.key_columns)
    numeric = {
        f.name: isinstance(f.dataType, (T.NumericType, T.BooleanType)) for f in events_schema.fields
    }
    integral = {f.name: isinstance(f.dataType, _INTEGRAL) for f in events_schema.fields}
    input_types = {f.name: f.dataType for f in events_schema.fields}
    names = list(query_cols) + [p.output_column for p in parts]
    sort_cols = [KEY_HASH, *seg_keys, TS_COL]
    sort_keys = [(c, "ascending") for c in sort_cols]

    def evaluate(b: pa.RecordBatch) -> pa.RecordBatch:
        # the (hash, keys, ts) order as an index composed into every take
        # that follows: the packed structs are never copied to sort them
        order = pc.sort_indices(
            b.select(sort_cols), sort_keys=sort_keys, null_placement="at_start"
        ).to_numpy()
        qc, evc = _stream_columns(b)
        side = qc[SIDE].to_numpy(zero_copy_only=False)[order]
        seg = np.zeros(b.num_rows, dtype=np.int64)
        seg[_segment_starts(b.select(seg_keys).take(order), seg_keys)] = 1
        seg = np.cumsum(seg) - 1
        ts_col = qc[TS_COL].take(order)
        ts = ts_col.fill_null(0).cast(pa.int64()).to_numpy(zero_copy_only=False)
        q_rows = np.flatnonzero(side != SIDE_EVENT)
        q_ok = np.flatnonzero(ts_col.is_valid().to_numpy(zero_copy_only=False)[q_rows])
        rows = q_rows[q_ok]
        qs, qt = seg[rows], ts[rows]
        ev_rows = np.flatnonzero(side != SIDE_QUERY)
        ev = _Events(evc, order[ev_rows], seg[ev_rows], ts[ev_rows], numeric, integral)
        # strict head: the segment's first event at ts ≥ qt
        head = ev.search(qs, qt)

        def cell(name: str, i: int):
            return qc[name][int(order[rows[i]])].as_py() if name in qc else None

        # hot-key slices: segments whose queries carry a slice start
        sliced_segs = []
        if baseline_cols and "__slice_lo" in qc:
            slo = qc["__slice_lo"].take(order[rows]).is_valid().to_numpy(zero_copy_only=False)
            for s in np.unique(qs[slo]):
                qi = np.arange(*np.searchsorted(qs, [s, s + 1]))
                sliced_segs.append((s, qi, cell("__slice_lo", qi[0])))
        sliced_q = np.zeros(len(rows), dtype=bool)
        for _, qi, _ in sliced_segs:
            sliced_q[qi] = True

        def values(p: AggregationPart, evs: _Events, lo, hi, base=None) -> pa.Array:
            """finalize(merge(base, reduce(events in [lo, hi)))) as Arrow:
            one path for every op, the merge skipped without a baseline."""
            ir = alg.reduce(p, evs.input(p), lo, hi)
            if base is not None:
                ir = alg.merge(p, base, ir)
            return _to_arrow(alg.finalize(p, ir), p, input_types[p.input_column])

        def plain_part(p: AggregationPart, sel: np.ndarray, lo: np.ndarray, tail) -> pa.Array:
            """Part values for queries ``sel`` over the full event range."""
            if p.bucket is None:
                return values(p, ev, lo[sel], head[sel])
            # bucketed: every (bucket group, query of its key) pair is one
            # range over the regrouped events; pairs fold into maps
            stripped = AggregationPart(p.input_column, p.operation, p.arg_map, p.window, None)
            bev, g_seg, labels = ev.by_bucket(p.bucket)
            pg, pq = _bucket_pairs(g_seg, qs[sel])
            qq = sel[pq]
            sub_hi = bev.search(pg, qt[qq])
            sub_lo = bev.start(pg) if tail is None else bev.search(pg, tail[qq])
            return _bucket_map(values(stripped, bev, sub_lo, sub_hi), labels, pg, pq, len(sel))

        def sliced_part(p: AggregationPart, mapping: dict, s, qi, slice_lo) -> pa.Array:
            """Unbounded part for the queries ``qi`` of sliced segment
            ``s``: events in [slice_lo, qt) merged with the baseline IR."""
            kind = numeric[p.input_column], integral[p.input_column]
            if "__bk" not in mapping:
                base = {st: cell(c, qi[0]) for st, c in mapping.items()}
                base_ir = alg.take(_baseline_ir(p, [base], *kind), np.zeros(len(qi), dtype=np.int64))
                lo = np.full(len(qi), ev.search(np.array([s]), np.array([slice_lo]))[0])
                return values(p, ev, lo, head[qi], base_ir)
            # bucketed sliced hot segment: every (bucket label, query) pair
            # merges the label's baseline IR with its slice-local events;
            # labels in event order, then baseline-only labels
            stripped = AggregationPart(p.input_column, p.operation, p.arg_map, p.window, None)
            base_by_b = _parse_bucketed_base(lambda c: cell(c, qi[0]), mapping)
            bev, g_seg, labels = ev.by_bucket(p.bucket)
            gs = np.arange(*np.searchsorted(g_seg, [s, s + 1]))
            groups = dict(zip(labels.take(gs).to_pylist(), gs))
            labs = list(groups) + [lab for lab in base_by_b if lab not in groups]
            pl = np.repeat(np.arange(len(labs)), len(qi))
            pq = np.tile(np.arange(len(qi)), len(labs))
            g = np.array([groups.get(lab, -1) for lab in labs], dtype=np.int64)[pl]
            sub_lo = np.zeros(len(pl), dtype=np.int64)
            sub_hi = np.zeros(len(pl), dtype=np.int64)
            on = g >= 0
            sub_lo[on] = bev.search(g[on], np.full(on.sum(), slice_lo))
            sub_hi[on] = bev.search(g[on], qt[qi][pq[on]])
            rows_b = [base_by_b.get(lab, {}) for lab in labs]
            base_ir = alg.take(_baseline_ir(stripped, rows_b, *kind), pl)
            vals = values(stripped, bev, sub_lo, sub_hi, base_ir)
            return _bucket_map(vals, pa.array(labs, pa.string()), pl, pq, len(qi))

        feats = []
        ub_i = -1
        all_q = np.arange(len(rows))
        for p in parts:
            atype = to_arrow_type(output_field(p, events_schema).dataType)
            mapping = None
            if p.window is None:
                ub_i += 1
                if baseline_cols and ub_i in baseline_cols:
                    mapping = baseline_cols[ub_i]
                lo, tail = ev.start(qs), None
            else:
                w, hop = p.window.millis, p.hop_millis
                tail = ((qt - w) // hop) * hop  # floor-to-hop grid (sawtooth tail)
                lo = ev.search(qs, tail)
            sel = all_q if mapping is None else np.flatnonzero(~sliced_q)
            pieces = [(sel, plain_part(p, sel, lo, tail))] if len(sel) else []
            if mapping is not None:
                pieces += [(qi, sliced_part(p, mapping, s, qi, slo)) for s, qi, slo in sliced_segs]
            full = _scatter(pieces, len(rows), atype)
            feats.append(_scatter([(q_ok, full)], len(q_rows), atype))
        cols = [qc[c].take(order[q_rows]) for c in query_cols]
        return pa.RecordBatch.from_arrays(cols + feats, names=names)

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        # zero-copy slices holding the rows of the still-open hash run;
        # only they are ever copied, joined to the head chunk of the next
        # batch
        pending: list[pa.RecordBatch] = []
        for b in batches:
            if b.num_rows == 0:
                continue
            h = _hashes(b)
            starts = np.flatnonzero(_run_starts(h))
            if pending and len(starts) == 1 and _hashes(pending[-1])[-1] == h[0]:
                pending.append(b)  # the open run spans the whole batch
                continue
            cut = int(starts[-1])
            # complete runs go in chunks of ~CHUNK_ROWS rows: the working
            # set stays bounded whatever the Arrow batch size
            bounds = np.unique(starts[np.searchsorted(starts, np.arange(0, cut, CHUNK_ROWS))])
            bounds = bounds[bounds < cut]
            ends = np.r_[bounds[1:], cut]
            if pending:
                # the open run closes here: its rows (plus the rest of the
                # batch's first run when it continues) head the first
                # chunk
                z = int(ends[0]) if cut else 0
                yield evaluate(_concat(pending + [b.slice(0, z)] if z else pending))
                bounds, ends = bounds[1:], ends[1:]
            for a, z in zip(bounds, ends):
                yield evaluate(b.slice(a, z - a))
            pending = [b.slice(cut)]
        if pending:
            yield evaluate(_concat(pending))

    return kernel


def temporal_events(
    spark: SparkSession,
    gb: GroupBy,
    queries: DataFrame,
    events: "DataFrame | None",
    mode: str = "auto",
    passthrough: bool = False,
    tile_warehouse=None,
    tile_range: tuple[str, str] | None = None,
    hot_key_threshold: "int | str | None" = None,
    hot_keys: "list[tuple] | None" = None,
    hot_slice_ms: int | None = None,
) -> DataFrame:
    """Point-in-time aggregates of ``events`` at each query row's ``ts``,
    with GroupBy ``derivations`` applied to the output (selectExpr over
    feature columns — spark/GroupBy.scala:763-774 applies them to ALL
    GroupBy output regardless of accuracy).

    ``events=None``: every query row with a non-null key and ts is also an
    event (features at every event of the frame itself); needs
    ``passthrough=True``. The raw kernel then streams the query frame
    alone, each row entering as query and event at once (the dense
    shape), instead of a union with a second pass over the same rows.

    ``hot_key_threshold``: keys whose query count exceeds it get time
    slicing in BOTH kernels (skew MITIGATION, not exclusion): tile-aligned
    slices with tile-compressed history in the tiled kernel
    (operators/tiled.py), bounded raw-event replication across slices in
    the raw kernel. ``"auto"`` derives the threshold from the data — one
    kernel partition's fair share of query rows, floored at
    AUTO_HOT_FLOOR (see detect_hot_keys) — so no magic number needs
    retuning at 100× the data. ``hot_keys``/``hot_slice_ms`` pin the key
    set and slice width explicitly (detection skipped). Requires every
    aggregation windowed.

    ``tile_warehouse`` + ``tile_range``: route tileable work through the
    persisted TileStore (operators/tilestore.py) — 5-min tiles for
    [tile_range] materialize once per (config, day) and raw events feed
    only head tiles on later runs."""
    import dataclasses

    if mode not in ("auto", "raw", "tiled"):
        raise ValueError(f"mode must be 'auto', 'raw' or 'tiled', not {mode!r}")
    ew_aggs = tuple(a for a in gb.aggregations if a.element_wise)
    if ew_aggs:
        base_aggs = tuple(a for a in gb.aggregations if not a.element_wise)
        if base_aggs:
            gb_base = dataclasses.replace(gb, aggregations=base_aggs, derivations=None)
            out = temporal_events(
                spark, gb_base, queries, events, mode=mode, passthrough=passthrough,
                tile_warehouse=tile_warehouse, tile_range=tile_range,
                hot_key_threshold=hot_key_threshold, hot_keys=hot_keys,
                hot_slice_ms=hot_slice_ms,
            )
        else:
            out = queries
        out = _attach_elementwise_temporal(
            spark, gb, ew_aggs, out, queries, queries if events is None else events,
            mode=mode, hot_key_threshold=hot_key_threshold, hot_keys=hot_keys,
            hot_slice_ms=hot_slice_ms,
        )
    else:
        out = _temporal_events_impl(
            spark, gb, queries, events, mode=mode, passthrough=passthrough,
            tile_warehouse=tile_warehouse, tile_range=tile_range,
            hot_key_threshold=hot_key_threshold, hot_keys=hot_keys,
            hot_slice_ms=hot_slice_ms,
        )
    if gb.derivations:
        feature_names = {p.output_column for p in gb.unpacked()}
        base = (
            ["*"]
            if "*" in gb.derivations
            else [c for c in out.columns if c not in feature_names]
        )
        exprs = base + [f"{e} AS {a}" for a, e in gb.derivations.items() if a != "*"]
        out = out.selectExpr(*exprs)
    return out


def _attach_elementwise_temporal(
    spark: SparkSession,
    gb: GroupBy,
    ew_aggs: tuple,
    out: DataFrame,
    queries: DataFrame,
    events: DataFrame,
    mode: str = "auto",
    hot_key_threshold: "int | str | None" = None,
    hot_keys: "list[tuple] | None" = None,
    hot_slice_ms: int | None = None,
) -> DataFrame:
    """Config-level element_wise (api.thrift:229-234, aggregator/row/
    ElementWiseAggregator.scala) on the temporal path: posexplode the array
    input and ride the existing BUCKET machinery with the position as the
    bucket, then densify Map[pos → value] into the output array. Any op ×
    window works uniformly; the exploded GroupBy runs with the caller's
    ``mode`` and hot-key arguments. The TileStore arguments are not
    forwarded: the exploded GroupBy has no persisted tiles of its own, so
    it runs the kernel ``mode`` names.

    Null contract: null/empty arrays never update (posexplode skips them);
    null elements inside arrays are skipped per-position (the reference
    throws on in-tensor nulls — we degrade gracefully, documented)."""
    import dataclasses

    from chronon_spark.api.types import Aggregation
    from chronon_spark.operators.collections import pos_map_to_array_sized

    keys = list(gb.key_columns)
    cond = F.col(TS_COL).isNotNull()
    kcond = None
    for k in keys:
        c = F.col(k).isNotNull()
        kcond = c if kcond is None else (kcond | c)
    if kcond is not None:
        cond = cond & kcond
    qslim = queries.select(*keys, TS_COL).filter(cond).distinct()

    for col in sorted({a.input_column for a in ew_aggs}):
        col_ew = [a for a in ew_aggs if a.input_column == col]
        # one observed-tensor-size (MAX of position+1, unbucketed) output
        # per distinct window: trailing all-null positions null-pad per
        # the reference's null-initialized result list
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
        exploded = events.select(
            *keys,
            TS_COL,
            F.posexplode(F.col(col)).alias("__posn", "__ewv"),
        ).select(
            *keys,
            TS_COL,
            F.col("__posn").cast("string").alias("__pos"),
            (F.col("__posn") + 1).alias("__tsz"),
            "__ewv",
        )
        sub_gb = dataclasses.replace(
            gb, name=f"{gb.name}__ew_{col}", aggregations=col_aggs, derivations=None
        )
        feats = temporal_events(
            spark, sub_gb, qslim, exploded, mode=mode, hot_key_threshold=hot_key_threshold,
            hot_keys=hot_keys, hot_slice_ms=hot_slice_ms,
        )
        # rename bucketed map outputs to the declared element_wise column
        # names and densify to null-padded arrays
        renames = []
        for a in col_ew:
            for p_sub, p_out in zip(
                dataclasses.replace(a, input_column="__ewv", buckets=("__pos",),
                                    element_wise=False).unpack(),
                a.unpack(),
            ):
                renames.append(
                    F.expr(
                        pos_map_to_array_sized(p_sub.output_column, tsz_col[p_sub.window])
                    ).alias(p_out.output_column)
                )
        feats = feats.select(*keys, TS_COL, *renames)
        out = out.join(feats, keys + [TS_COL], "left")
    return out


def _temporal_events_impl(
    spark: SparkSession,
    gb: GroupBy,
    queries: DataFrame,
    events: DataFrame,
    mode: str = "auto",
    passthrough: bool = False,
    tile_warehouse=None,
    tile_range: tuple[str, str] | None = None,
    hot_key_threshold: "int | str | None" = None,
    hot_keys: "list[tuple] | None" = None,
    hot_slice_ms: int | None = None,
) -> DataFrame:
    """Point-in-time aggregates of ``events`` at each query row's ``ts``.

    ``queries`` must carry the GroupBy's key columns and ``ts`` (epoch ms);
    every query column passes through to the output, duplicates preserved
    1:1 (JoinTest.scala:389-394 contract). Query rows whose keys are all
    null get null features (padGroupByFields, spark/Join.scala:410-432).

    ``mode``: "auto" reads the TileStore when ``tile_warehouse`` +
    ``tile_range`` are given and every aggregation is tileable, and
    otherwise runs the raw sorted-stream kernel; it runs no Spark action
    to decide. "raw"/"tiled" force one kernel; on the hop-tiled kernel
    (operators/tiled.py) a storm key costs O(5-min tiles) instead of
    O(events). Any other mode is a ValueError.

    ``passthrough=True`` declares that query rows are already unique on
    (keys, ts): every query column rides through the Arrow kernel and the
    uniqSort-distinct + join-back (3 shuffles) are skipped. Only use with
    slim query frames — wide payloads belong on the join-back path.

    ``events=None`` (with passthrough): the query rows are the events.
    The raw kernel streams them in the dense shape, except under hot-key
    slicing, where a hot row's event reaches slices in which it is no
    query; sliced calls stream the union shape over the persisted rows.
    """
    dense = events is None
    if dense and not passthrough:
        raise ValueError("events=None streams the query rows as events; it needs passthrough=True")
    keys = list(gb.key_columns)
    if mode != "raw":
        from chronon_spark.operators.tiled import is_tileable, temporal_events_tiled

        if dense:
            events = queries  # the tiled paths read the rows as an event frame
        cached = tile_warehouse is not None and tile_range is not None
        if mode == "auto" and cached and is_tileable(gb, events.schema):
            mode = "tiled"  # the TileStore path keeps its persisted tiles
        if mode == "tiled":
            if cached:
                from chronon_spark.operators.tilestore import (
                    TileStore,
                    temporal_events_tiled_cached,
                )

                out, _ = temporal_events_tiled_cached(
                    spark, gb, queries, events, TileStore(tile_warehouse, gb),
                    tile_range[0], tile_range[1], passthrough=passthrough,
                )
                return out
            return temporal_events_tiled(
                spark, gb, queries, events, passthrough=passthrough,
                hot_key_threshold=hot_key_threshold, hot_keys=hot_keys,
                hot_slice_ms=hot_slice_ms,
            )
    parts = gb.unpacked()

    # ship only the columns the kernel reads (inputs + buckets), never
    # passthrough payload
    needed = sorted(
        ({p.input_column for p in parts} | {p.bucket for p in parts if p.bucket})
        - set(keys)
        - {TS_COL}
    )
    ev_schema = (queries if dense else events).select(*keys, TS_COL, *needed).schema
    ev_cols = [F.col(c) for c in needed]
    # APPROX_UNIQUE inputs get JVM-side HLL (idx, rho) columns so the raw
    # kernel answers with the SAME sketch the tiled path uses (no Python
    # hashing, estimator parity across mode="raw"/"tiled")
    for c in sorted(
        {p.input_column for p in parts if p.operation is Operation.APPROX_UNIQUE_COUNT}
    ):
        idx_expr, rho_expr = hll_idx_rho_exprs(c)
        ev_cols += [idx_expr.alias(f"__hh_{c}_idx"), rho_expr.alias(f"__hh_{c}_rho")]

    # a row is an event when its ts and some key are set
    # (null_key_filter); the same test keeps the uniqSort queries below
    cond = F.col(TS_COL).isNotNull()
    kcond = None
    for k in keys:
        c = F.col(k).isNotNull()
        kcond = c if kcond is None else (kcond | c)
    if kcond is not None:
        cond = cond & kcond
    if not dense:
        events = events.select(*keys, TS_COL, *ev_cols).filter(cond)

    if passthrough:
        # the WHOLE query frame rides the kernel: null-ts rows are padded
        # IN-kernel and null-key rows form segments without events
        # (events are null-key-filtered) — a filter + pad-union here would
        # re-evaluate the query subtree twice (measured as a full second
        # window chain in the flagship plan)
        qlite = queries
        slim_cols = queries.columns
    else:
        # uniqSort trick (spark/Extensions.scala:303-318): only DISTINCT
        # (keys, ts) pass through the Arrow kernel. Wide passthrough
        # columns (e.g. multi-KB text) never leave the JVM; duplicate left
        # rows are rehydrated 1:1 by the join back. Null-key/null-ts left
        # rows fall out of the equi-join with null features
        # (padGroupByFields semantics).
        qlite = queries.select(*keys, TS_COL).filter(cond).distinct()
        slim_cols = keys + [TS_COL]

    feat_fields = [output_field(p, ev_schema) for p in parts]
    # ---- hot-key time slicing, raw-kernel edition: the dense-query regime
    # (features at every event of a crawl-storm url) is exactly where the
    # raw kernel wins on plan shape but serializes the hot key onto one
    # task. Same slice algebra as the tiled kernel (operators/tiled.py),
    # minus tile compression: the hot key's queries partition into
    # contiguous slice_ms slices, and its RAW events replicate to the
    # ≤(1 + w_eff/slice) slices whose sawtooth windows can reach them —
    # bounded replication of ONE key's events across many tasks instead of
    # one task owning everything. UNBOUNDED parts slice too when their
    # prefix state is a small mergeable IR (_BASELINE_OPS): each (hot key,
    # query slice) gets a baseline IR row covering every earlier event
    # (_build_baselines) and the kernel merges it with the slice-local
    # range (op_algebra.merge). Only exact set-like unbounded state
    # (UNIQUE_COUNT, HISTOGRAM, bucketed unbounded) stays unsliceable.
    # Results are bit-identical either way for every op except the approx
    # sketches past their exactness regime (see _BASELINE_OPS note): the
    # kernel computes exact per-query bounds, so superset events in a
    # slice are simply outside [lo, hi).
    co_keys = keys
    baseline_cols = None
    cls = slice_classification(gb)
    if cls is not None and (hot_keys or hot_key_threshold):
        # the hot path consumes qlite up to three times (detection action,
        # baseline-slice derivation, kernel stream input); without a
        # persist each consumer re-executes the query spine's upstream —
        # for an enriched spine (window functions over the full input)
        # that triples the job's dominant stage (measured 253s → 422s on
        # the 40M-row flagship). Registered in the shared backfill cache
        # registry; callers release via release_backfill_caches() once
        # the output is materialized.
        from pyspark import StorageLevel

        from chronon_spark.operators.join import _ACTIVE_CACHES

        qlite = qlite.persist(StorageLevel.MEMORY_AND_DISK)
        _ACTIVE_CACHES.append(qlite)
    if hot_keys is None and hot_key_threshold and cls is not None:
        hot_keys = detect_hot_keys(
            qlite.select(*keys), keys, hot_key_threshold,
            auto_factor=auto_hot_factor(cls[1]),
        )
    if dense and hot_keys:
        # a hot row's event replicates to every slice its windows reach,
        # but it is a query in its home slice only: sliced calls stream
        # the union shape, events read back from the persisted rows
        events = qlite.select(*keys, TS_COL, *ev_cols).filter(cond)
        dense = False
    if hot_keys:
        if cls is None:
            raise ValueError(
                "hot-key time slicing requires windowed or mergeable-IR "
                "unbounded aggregations — exact set-like unbounded state "
                "(UNIQUE_COUNT, HISTOGRAM, plain or bucketed) needs the "
                "full event prefix in every slice"
            )
        max_w, ub_parts = cls
        # all-unbounded configs have no window reach; default to day slices
        slice_ms = int(hot_slice_ms or (max(max_w // 4, 300_000) if max_w else 86_400_000))
        # sawtooth heads round down by up to one hop (≤ 1d) below qt − w;
        # pure-baseline configs replicate nothing beyond the home slice
        w_eff = (max_w + 86_400_000) if max_w else 0

        def _is_hot(frame_keys=keys):
            # Flat/balanced forms only: a left-deep OR chain over the
            # detection cap (1000 keys) overflows the JVM stack during
            # Catalyst conversion. Single key → one In/InSet node;
            # multi-key → pairwise-balanced OR tree (depth O(log n)).
            if len(frame_keys) == 1:
                vals = [
                    kt[0] if isinstance(kt, (tuple, list)) else kt for kt in hot_keys
                ]
                return F.col(frame_keys[0]).isin(vals)
            terms = []
            for kt in hot_keys:
                c = None
                for k, v in zip(frame_keys, kt if isinstance(kt, (tuple, list)) else (kt,)):
                    e = F.col(k) == F.lit(v)
                    c = e if c is None else (c & e)
                terms.append(c)
            while len(terms) > 1:
                terms = [
                    terms[i] | terms[i + 1] if i + 1 < len(terms) else terms[i]
                    for i in range(0, len(terms), 2)
                ]
            return terms[0]

        if ub_parts:
            base_q, baseline_cols = _build_baselines(
                events, qlite, keys, ub_parts, slice_ms, _is_hot(), ev_schema
            )
        qlite = qlite.withColumn(
            "__qs",
            F.when(_is_hot(), (F.col(TS_COL) / slice_ms).cast("long"))
            .otherwise(F.lit(0))
            .cast("long"),
        )
        if ub_parts:
            qlite = qlite.join(base_q, keys + ["__qs"], "left").withColumn(
                "__slice_lo", F.when(_is_hot(), F.col("__qs") * F.lit(slice_ms))
            )
        lo_s = (F.col(TS_COL) / slice_ms).cast("long")
        hi_s = ((F.col(TS_COL) + F.lit(w_eff)) / slice_ms).cast("long")
        events = events.withColumn(
            "__qs",
            F.explode(
                F.when(~_is_hot(), F.array(F.lit(0).cast("long"))).otherwise(
                    F.sequence(lo_s, hi_s)
                )
            ),
        )
        co_keys = keys + ["__qs"]
    kernel = make_temporal_kernel(
        gb, ev_schema, slim_cols, seg_keys=co_keys, baseline_cols=baseline_cols
    )
    # ONE stream, hash-partitioned on the segment keys and sorted on their
    # xxhash64 (KEY_HASH) alone, then one Python call per Arrow batch, not
    # one per key. Spark radix-sorts one long key; a (keys, ts) sort falls
    # through to a full row compare whenever the 8-byte key prefix ties
    # (every url starts "https://"), and the kernel orders each chunk by
    # (KEY_HASH, keys, ts) itself. Explicit repartition with a pinned
    # partition count: the kernel stage is CPU-bound, and AQE's
    # byte-targeted coalescing would otherwise shrink it to a handful of
    # tasks (16MB of slim rows ≈ 10 partitions on a 32-core box — a 3x
    # parallelism loss measured). The dense shape partitions on the keys,
    # so a query frame already partitioned that way (backfill_features)
    # shares its exchange. The union shape partitions on a hash of the
    # keys that no input carries: Spark drops a repartition on the keys
    # when both union inputs are already partitioned on them, and once AQE
    # coalesces one input the union splits keys from their events.
    # KEY_HASH is computed after the exchange (it is not shuffled) and
    # over the union, so a key whose query and event types differ hashes
    # in the widened type.
    def packed(frame: DataFrame, pack: str) -> list:
        rest = [c for c in frame.columns if c not in co_keys and c != TS_COL]
        return [F.struct(*rest).alias(pack)] if rest else []

    def tag(side) -> Column:
        return F.lit(side).cast("byte").alias(SIDE)

    if dense:
        ev_pack = [F.when(cond, F.struct(*ev_cols)).alias(EV_PACK)] if ev_cols else []
        side = F.when(cond, SIDE_BOTH).otherwise(SIDE_QUERY)
        stream = qlite.select(*co_keys, TS_COL, *packed(qlite, Q_PACK), *ev_pack, tag(side))
        part_by = co_keys
    else:
        stream = qlite.select(*co_keys, TS_COL, *packed(qlite, Q_PACK), tag(SIDE_QUERY)).unionByName(
            events.select(*co_keys, TS_COL, *packed(events, EV_PACK), tag(SIDE_EVENT)),
            allowMissingColumns=True,
        )
        part_by = [F.xxhash64(*co_keys)]
    out_fields = [
        stream.schema[c] if c in stream.columns else T.StructField(c, qlite.schema[c].dataType)
        for c in slim_cols
    ]
    p_n = kernel_partitions(spark)
    feats = (
        stream.repartition(p_n, *part_by)
        .withColumn(KEY_HASH, F.xxhash64(*co_keys))
        .sortWithinPartitions(KEY_HASH)
        .mapInArrow(kernel, T.StructType(out_fields + feat_fields))
    )
    # the union widens a key or ts whose query and event types differ;
    # hand the query columns back in their own types
    widened = {f.name for f in out_fields if f.dataType != qlite.schema[f.name].dataType}
    if widened:
        feats = feats.select(
            *[
                F.col(c).cast(qlite.schema[c].dataType).alias(c) if c in widened else c
                for c in feats.columns
            ]
        )
    if passthrough:
        return feats
    return queries.join(feats, slim_cols, "left")


# unbounded ops whose full-prefix state is a SMALL mergeable IR (count,
# sums, extrema, (ts,value) picks, k-capped lists, HLL registers, ≤k
# value sets, equi-rank quantile samples, capped Misra-Gries count-maps)
# — sliceable via per-slice baseline IRs. Only truly unbounded EXACT
# state (UNIQUE_COUNT's value set, HISTOGRAM's full value→count map)
# stays unsliceable: the r4 verdict's "missing #4" — the whole approx
# family's IRs are bounded and mergeable, so a crawl-storm key with an
# unbounded approx op no longer serializes onto one task.
# Merge exactness: APPROX_UNIQUE_COUNT (register max is associative) and
# BOUNDED_UNIQUE_COUNT (a set capped at k either IS the full set or has
# already pinned the answer to k) are bit-identical to unsliced;
# APPROX_PERCENTILE is bit-identical while every slice holds ≤S values
# (the sample keeps everything), APPROX_HISTOGRAM_K while every slice
# holds ≤8k distinct values (no day IR truncates); beyond that each
# degrades to its own sketch contract (equi-rank weighted samples /
# mergeable Misra-Gries with error sentinel) — the same estimators the
# tiled kernel uses (functions/aggregations._pct_ir/_hist_ir_capped).
_BASELINE_OPS = alg.BOUNDED_OPS


def slice_classification(gb: GroupBy) -> "tuple[int, list[AggregationPart]] | None":
    """(max windowed millis, unbounded-but-baseline-able parts), or None
    when some part is neither windowed nor baseline-able (exact set-like
    unbounded state: UNIQUE_COUNT / HISTOGRAM, plain or bucketed).

    Bucketed unbounded parts slice when their op is baseline-able: the
    per-(slice, bucket) IR is bounded (scalar moments, HLL registers, ≤k
    sets/lists, MG maps, equi-rank samples), so the baseline row carries
    ≤ #buckets × max-IR — the same per-key bucket map the UNSLICED kernel
    must hold in memory anyway; slicing never widens it."""
    max_w = 0
    ub: list[AggregationPart] = []
    for p in gb.unpacked():
        if p.window is None:
            if p.operation not in _BASELINE_OPS:
                return None
            ub.append(p)
        else:
            max_w = max(max_w, p.window.millis)
    return max_w, ub


def _baseline_states(p: AggregationPart, integral: bool) -> list[str]:
    """The baseline state columns of an unbounded part: its registry
    states (op_algebra.STATES), named with their cap where parts with
    other caps must not share the column; an integral SUM's exact long
    sum is "s1i". A percentile sample ships as two PARALLEL flat arrays
    (values, weights) and a Misra-Gries count-map as (keys, counts): the
    natural nested shapes segfault pyarrow's arrow_to_pandas."""
    k = int(p.arg_map.get("k", 1))
    out = []
    for st in alg.STATES[p.operation]:
        if st == "s1" and integral and p.operation is Operation.SUM:
            out.append("s1i")
        elif st in alg.LIST_STATES:
            out.append(f"{st}{k}")  # ≤k lists; a distinct set capped at k
        elif st == "pqs":
            from chronon_spark.functions.aggregations import _pct_samples

            out += [f"pqv{_pct_samples(p)}", f"pqw{_pct_samples(p)}"]
        elif st == "mgh":
            # prefix count-map: the op's own day IR + entry-sum merge
            # (functions/aggregations._hist_ir_capped)
            mk = int(p.arg_map.get("k", 8))
            out += [f"mgk{mk}", f"mgv{mk}"]
        else:
            out.append(st)
    return out


def _let_col(value: "Column", fn) -> "Column":
    """Column-API let-binding (the Column twin of aggregations._let_sql):
    evaluates ``value`` once and passes it to ``fn`` as a lambda variable —
    expressions referenced inside higher-order-function lambdas are
    otherwise re-evaluated per element."""
    return F.element_at(F.transform(F.array(value), fn), 1)


def _hreg_reduce(ents: "Column") -> "Column":
    """Per-register max over sparse HLL (i, r) entries: sort by (i, r);
    the LAST entry of each i-run carries that register's max, so keeping
    run boundaries reduces any concatenation to ≤ HLL_M entries —
    the baseline column stays bounded no matter how many slices
    contributed (a 10^7-event key with day slices would otherwise ship
    slices × 512 entries on every query row)."""
    return _let_col(
        F.array_sort(ents),
        lambda e: F.when(F.size(e) == 0, e).otherwise(
            F.filter(
                F.transform(
                    F.sequence(F.lit(1), F.size(e)),
                    lambda j: F.when(
                        (j == F.size(e))
                        | (F.element_at(e, j)["i"] != F.element_at(e, j + 1)["i"]),
                        F.element_at(e, j),
                    ),
                ),
                lambda x: x.isNotNull(),
            )
        ),
    )


def _pq_flatten(irs: "Column", s_budget: int, want_values: bool) -> "Column":
    """Flatten per-slice (n, ≤S equi-rank sample) percentile IRs into a
    FLAT array (sample values or per-sample weights — parallel calls stay
    aligned because both order by the same deterministic window collect).
    When more than 16 slices contribute, each slice's grid is coarsened
    to ⌊16·S / n_slices⌋ equi-rank picks so the baseline column carries
    ≤ ~16·S samples at ANY slice count (an equi-rank pick of an equi-rank
    sample is still equi-rank for that slice). While n_slices ≤ 16 every
    slice is kept verbatim — the ≤S-per-slice exactness regime (weights
    exactly 1.0 → np.percentile fast path in the kernel) is untouched."""
    cap_slices = 16

    def fn(box):
        rs = box["rs"]
        n_sl = F.size(rs)
        s_eff = (
            F.greatest(
                F.lit(1),
                F.floor(F.lit(s_budget * cap_slices) / F.greatest(n_sl, F.lit(1))),
            )
        ).cast("int")

        def per_slice(r):
            qn = F.size(r["q"])
            picked = F.transform(
                F.sequence(F.lit(0), s_eff - 1),
                lambda t: F.element_at(
                    r["q"],
                    F.floor(t * (qn - 1) / F.greatest(s_eff - 1, F.lit(1))).cast("int")
                    + 1,
                ),
            )
            qq = F.when(s_eff >= qn, r["q"]).otherwise(picked)
            if want_values:
                return qq
            wt = r["n"].cast("double") / F.least(
                s_eff.cast("bigint"), qn.cast("bigint")
            ).cast("double")
            return F.transform(qq, lambda v: wt)

        return F.flatten(F.transform(rs, per_slice))

    return _let_col(F.struct(irs.alias("rs")), fn)


def _mg_truncate(m: "Column", cap: int) -> "Column":
    """Cap a merged Misra-Gries count-map back to ``cap`` entries,
    folding the largest dropped count into the chr(0) error sentinel
    (space-saving merge bound: est ≤ true ≤ est + sentinel for every
    retained key). Keeps the running-merge baseline column ≤ cap entries
    regardless of how many slices contributed; each slice's cum output
    re-merges from the original per-slice IRs, so truncation never
    compounds."""
    def fn(ranked_and_err):
        ranked = ranked_and_err["rk"]
        err = ranked_and_err["er"]
        sentinel = F.struct(
            F.lit(alg.MG_ERR_KEY).alias("key"),
            (err + F.element_at(ranked, cap + 1)["value"]).alias("value"),
        )
        kept = F.map_from_entries(
            F.concat(F.slice(ranked, 1, cap), F.array(sentinel))
        )
        small = F.when(
            err > 0,
            F.map_from_entries(
                F.concat(
                    ranked,
                    F.array(
                        F.struct(
                            F.lit(alg.MG_ERR_KEY).alias("key"), err.alias("value")
                        )
                    ),
                )
            ),
        ).otherwise(F.map_from_entries(ranked))
        return F.when(F.size(ranked) > cap, kept).otherwise(small)

    ents = F.filter(
        F.map_entries(m), lambda kv: kv["key"] != F.lit(alg.MG_ERR_KEY)
    )
    ranked = F.array_sort(
        ents,
        lambda a, b: F.when(a["value"] > b["value"], F.lit(-1))
        .when(a["value"] < b["value"], F.lit(1))
        .when(a["key"] < b["key"], F.lit(-1))
        .otherwise(F.lit(1)),
    )
    err0 = F.coalesce(
        F.element_at(m, F.lit(alg.MG_ERR_KEY)), F.lit(0).cast("long")
    )
    return F.when(
        m.isNull() | (F.size(F.map_entries(m)) == 0), m
    ).otherwise(
        _let_col(
            F.struct(ranked.alias("rk"), err0.alias("er")),
            fn,
        )
    )


def _canon_skey(st: str) -> str:
    """Canonical state key the kernel reads: k-lists drop the k suffix,
    integral s1 folds into s1, fst/lst mean the VALUE (struct flattened
    after the running merge)."""
    if st.startswith(("fstk", "lstk", "topk", "botk")):
        return st[:4]
    if st.startswith("uset"):
        return "uset"
    if st.startswith(("pqv", "pqw", "mgk", "mgv")):
        return st[:3]
    if st == "s1i":
        return "s1"
    return st


def _baseline_state_exprs(c: str, st: str):
    """(per-slice partial agg, running-merge builder) for one baseline
    state over input column ``c``. The partial agg is None for 'hreg'
    (built as a side frame by the caller); the merge builder takes the
    slice window and the column name. Shared by the plain per-key and
    per-(key, bucket) baseline paths — the IR algebra is identical, only
    the grouping differs."""
    struct = f"CASE WHEN {c} IS NOT NULL THEN named_struct('t', {TS_COL}, 'v', {c}) END"
    if st == "n":
        return F.expr(f"count({c})"), lambda w, n: F.sum(n).over(w)
    if st == "s1i":
        return F.expr(f"sum({c})"), lambda w, n: F.sum(n).over(w)
    if st in ("s1", "s2", "s3", "s4"):
        pw = int(st[1])
        prod = " * ".join([f"CAST({c} AS DOUBLE)"] * pw)
        return F.expr(f"sum({prod})"), lambda w, n: F.sum(n).over(w)
    if st == "mn":
        return F.expr(f"min({c})"), lambda w, n: F.min(n).over(w)
    if st == "mx":
        return F.expr(f"max({c})"), lambda w, n: F.max(n).over(w)
    if st == "fst":
        return F.expr(f"min({struct})"), lambda w, n: F.min(n).over(w)
    if st == "lst":
        return F.expr(f"max({struct})"), lambda w, n: F.max(n).over(w)
    if st == "hreg":
        # sparse HLL register entries need a per-(slice, register) max
        # first — built as a side frame by the caller; cumulative =
        # concatenation reduced back to per-register maxima
        # (_hreg_reduce), so the baseline column stays ≤ HLL_M entries no
        # matter how many slices contributed; register max is associative
        # so the merge is bit-identical to unsliced
        return None, lambda w, n: _hreg_reduce(F.flatten(F.collect_list(n).over(w)))
    if st.startswith("uset"):
        kk = int(st[4:])
        # capped distinct set: if any cap is hit the answer is pinned at
        # k, otherwise the set is complete — exact merge
        return (
            F.expr(f"slice(array_sort(array_distinct(collect_list({c}))), 1, {kk})"),
            lambda w, n, kk=kk: F.slice(
                F.array_sort(F.array_distinct(F.flatten(F.collect_list(n).over(w)))),
                1,
                kk,
            ),
        )
    if st.startswith(("pqv", "pqw")):
        from chronon_spark.functions.aggregations import equirank_sample_struct

        ss = int(st[3:])
        # per-slice (n, ≤S equi-rank sample) — the tiled kernel's own tile
        # IR (functions/aggregations._pct_ir); the cumulative flattens to
        # PARALLEL flat arrays (values / weights, weight = n_slice/
        # |q_slice| per aggregations._pct_merge) because pyarrow segfaults
        # on an array<struct<…, array>> column
        sa = F.expr(
            equirank_sample_struct(f"sort_array(collect_list(CAST({c} AS DOUBLE)))", ss)
        )
        if st.startswith("pqv"):
            return sa, lambda w, n, sb=ss: _pq_flatten(F.collect_list(n).over(w), sb, True)
        return sa, lambda w, n, sb=ss: _pq_flatten(F.collect_list(n).over(w), sb, False)
    if st.startswith(("mgk", "mgv")):
        from chronon_spark.functions.aggregations import _hist_ir_capped, _hist_map_merge

        mk = int(st[3:])
        synth = AggregationPart(c, Operation.APPROX_HISTOGRAM_K, {"k": mk}, None, None)
        # per-slice capped count-map (Misra-Gries day IR with error
        # sentinel); cumulative = the op's own entry-sum merge, truncated
        # back to the cap (_mg_truncate — bounded column width at any
        # slice count), split into parallel (keys, counts) flat arrays
        sa = _hist_ir_capped(c, synth)
        mg_cap = 8 * mk
        if st.startswith("mgk"):
            return sa, lambda w, n, cp=mg_cap: F.map_keys(
                _mg_truncate(_hist_map_merge(n).over(w), cp)
            )
        return sa, lambda w, n, cp=mg_cap: F.map_values(
            _mg_truncate(_hist_map_merge(n).over(w), cp)
        )
    kk = int(st[4:])
    if st.startswith("fstk"):
        return (
            F.expr(
                f"transform(slice(array_sort(collect_list({struct})), 1, {kk}), x -> x.v)"
            ),
            lambda w, n, kk=kk: F.slice(F.flatten(F.collect_list(n).over(w)), 1, kk),
        )
    if st.startswith("lstk"):
        # latest slice first; each slice list already newest-first
        return (
            F.expr(
                f"transform(slice(reverse(array_sort(collect_list({struct}))), 1, {kk}), x -> x.v)"
            ),
            lambda w, n, kk=kk: F.slice(
                F.flatten(F.reverse(F.collect_list(n).over(w))), 1, kk
            ),
        )
    if st.startswith("topk"):
        return (
            F.expr(f"slice(reverse(array_sort(collect_list({c}))), 1, {kk})"),
            lambda w, n, kk=kk: F.slice(
                F.reverse(F.array_sort(F.flatten(F.collect_list(n).over(w)))), 1, kk
            ),
        )
    # botk
    return (
        F.expr(f"slice(array_sort(collect_list({c})), 1, {kk})"),
        lambda w, n, kk=kk: F.slice(
            F.array_sort(F.flatten(F.collect_list(n).over(w))), 1, kk
        ),
    )


def _build_baselines(
    events: DataFrame,
    qlite: DataFrame,
    keys: list[str],
    ub_parts: "list[AggregationPart]",
    slice_ms: int,
    is_hot,
    ev_schema: T.StructType,
):
    """Per-(hot key, query slice) baseline IRs for unbounded algebraic
    parts: everything a query needs about events BEFORE its slice,
    compressed to one slim row.

    Shape: (1) one groupBy over the hot keys' events per EVENT slice —
    map-side combinable partial IRs; (2) an inclusive running merge across
    a key's slices (a window over #slices rows per key — tiny by
    construction); (3) an as-of mapping to the distinct QUERY slices so
    gap slices read the latest earlier state. Returns (frame keyed by
    keys+__qs, {part_index: {state: column}}).

    Bucketed unbounded parts get the same treatment per (key, bucket):
    the per-slice groupBy adds the bucket column, the running merge
    windows over (keys, bucket), and the per-(key, query-slice) row ships
    the bucket axis as parallel arrays — one bucket-label array plus one
    aligned column per scalar state and (lengths, flat-values) pairs per
    list state (the upload fetch path's flat-frame trick, upload.py).
    Each per-bucket IR is bounded, so the baseline row is ≤ #buckets ×
    max-IR wide — exactly the state the UNSLICED kernel would hold for
    one (key, bucket) anyway. The kernel merges per bucket with the
    slice-local events (``__bk`` marks the mapping as bucketed)."""
    from pyspark.sql.window import Window as W

    integral = {f.name: isinstance(f.dataType, _INTEGRAL) for f in ev_schema.fields}
    col_map: dict[int, dict[str, str]] = {}
    hot_ev = events.filter(is_hot).withColumn(
        "__es", (F.col(TS_COL) / slice_ms).cast("long")
    )
    # as-of mapping target: each distinct hot QUERY slice reads the
    # cumulative state at the greatest event slice strictly before it
    qslices = (
        qlite.filter(is_hot)
        .select(*keys, (F.col(TS_COL) / slice_ms).cast("long").alias("__qs"))
        .distinct()
    )

    def collect_specs(parts, name_of):
        """(slice_aggs, cum builders, hreg side-frame specs) shared across
        parts; fills col_map for each part index."""
        slice_aggs: dict[str, Column] = {}
        cum_exprs: dict[str, "callable"] = {}
        hreg_specs: dict[str, str] = {}
        for i, p in parts:
            c = p.input_column
            mapping = col_map.setdefault(i, {})
            for st in _baseline_states(p, integral.get(c, False)):
                name = name_of(p, st)
                mapping[_canon_skey(st)] = name
                if name in slice_aggs or name in hreg_specs:
                    continue
                sa, cf = _baseline_state_exprs(c, st)
                if sa is None:
                    hreg_specs[name] = c
                else:
                    slice_aggs[name] = sa
                cum_exprs[name] = cf
        return slice_aggs, cum_exprs, hreg_specs

    def hreg_frame(name, c, grp_cols):
        # HLL states: per-(slice, register) max → sparse entry list per
        # slice group (both sides are ≤ #keys × #slices (× #buckets) rows;
        # the heavy reduction is the map-side-combinable groupBy)
        return (
            hot_ev.withColumn("__ri", F.col(f"__hh_{c}_idx"))
            .filter(F.col("__ri").isNotNull())
            .groupBy(*grp_cols, "__ri")
            .agg(F.max(f"__hh_{c}_rho").alias("__rr"))
            .groupBy(*grp_cols)
            .agg(
                F.collect_list(
                    F.struct(F.col("__ri").alias("i"), F.col("__rr").alias("r"))
                ).alias(name)
            )
        )

    def flatten_fst_lst(cum, id_cols, cum_exprs):
        # flatten (t, v) structs to value scalars (ties across the slice
        # boundary are impossible — the boundary separates ts strictly)
        flat_cols = []
        for n in cum_exprs:
            if n.endswith("_fst") or n.endswith("_lst"):
                flat_cols.append(F.col(f"{n}.v").alias(n))
            else:
                flat_cols.append(F.col(n))
        return cum.select(*id_cols, *flat_cols)

    def asof_to_queries(cum, id_extra):
        on = keys + id_extra
        j = qslices.join(cum.select(*on, "__es"), keys, "inner").filter(
            F.col("__es") < F.col("__qs")
        )
        best = j.groupBy(*on, "__qs").agg(F.max("__es").alias("__es"))
        return best.join(cum, on + ["__es"], "inner").drop("__es")

    plain = [(i, p) for i, p in enumerate(ub_parts) if p.bucket is None]
    bucketed = [(i, p) for i, p in enumerate(ub_parts) if p.bucket is not None]
    base_q = None

    if plain:
        slice_aggs, cum_exprs, hreg_specs = collect_specs(
            plain, lambda p, st: f"__b_{p.input_column}_{st}"
        )
        # always keep one plain agg so an all-HLL config still groups cleanly
        per_slice = hot_ev.groupBy(*keys, "__es").agg(
            F.count(F.lit(1)).alias("__b_rows"),
            *[sa.alias(n) for n, sa in slice_aggs.items()],
        )
        for name, c in hreg_specs.items():
            per_slice = per_slice.join(
                hreg_frame(name, c, keys + ["__es"]), keys + ["__es"], "left"
            )
        w = W.partitionBy(*keys).orderBy("__es").rowsBetween(W.unboundedPreceding, 0)
        cum = per_slice.select(
            *keys, "__es", *[cum_exprs[n](w, n).alias(n) for n in cum_exprs]
        )
        cum = flatten_fst_lst(cum, keys + ["__es"], cum_exprs)
        base_q = asof_to_queries(cum, [])

    # per-bucket baselines, one pass per distinct bucket column
    for g in sorted({p.bucket for _, p in bucketed}):
        parts_g = [(i, p) for i, p in bucketed if p.bucket == g]
        bk_name = f"__bb_{g}_bk"
        for i, _ in parts_g:
            col_map.setdefault(i, {})["__bk"] = bk_name
        slice_aggs, cum_exprs, hreg_specs = collect_specs(
            parts_g, lambda p, st: f"__bb_{g}__{p.input_column}_{st}"
        )
        hot_g = hot_ev.filter(F.col(g).isNotNull()).withColumn(
            "__bk", F.col(g).cast("string")
        )
        per_slice = hot_g.groupBy(*keys, "__es", "__bk").agg(
            F.count(F.lit(1)).alias("__bb_rows"),
            *[sa.alias(n) for n, sa in slice_aggs.items()],
        )
        for name, c in hreg_specs.items():
            reg = (
                hot_g.withColumn("__ri", F.col(f"__hh_{c}_idx"))
                .filter(F.col("__ri").isNotNull())
                .groupBy(*keys, "__es", "__bk", "__ri")
                .agg(F.max(f"__hh_{c}_rho").alias("__rr"))
                .groupBy(*keys, "__es", "__bk")
                .agg(
                    F.collect_list(
                        F.struct(F.col("__ri").alias("i"), F.col("__rr").alias("r"))
                    ).alias(name)
                )
            )
            per_slice = per_slice.join(reg, keys + ["__es", "__bk"], "left")
        w = (
            W.partitionBy(*keys, "__bk")
            .orderBy("__es")
            .rowsBetween(W.unboundedPreceding, 0)
        )
        cum = per_slice.select(
            *keys, "__bk", "__es", *[cum_exprs[n](w, n).alias(n) for n in cum_exprs]
        )
        cum = flatten_fst_lst(cum, keys + ["__bk", "__es"], cum_exprs)
        state_b = asof_to_queries(cum, ["__bk"])
        # assemble the bucket axis into parallel arrays per (key, __qs):
        # scalar states ride aligned arrays; list states ride (lengths,
        # flat values) pairs — null list = 0 elements on both
        rows = F.collect_list(
            F.struct(F.col("__bk").alias("bk"), *[F.col(n).alias(n) for n in cum_exprs])
        )
        asm = state_b.groupBy(*keys, "__qs").agg(rows.alias("__rows"))
        sel = [F.col(k) for k in keys] + [F.col("__qs")]
        sel.append(F.expr("transform(__rows, r -> r.bk)").alias(bk_name))
        for n in cum_exprs:
            # derive list-ness from the trailing state token
            tail = n.rsplit("_", 1)[-1]
            is_list = _canon_skey(tail) not in alg.SCALAR_STATES
            if is_list:
                sel.append(
                    F.expr(
                        f"transform(__rows, r -> CASE WHEN r.{n} IS NULL THEN 0 ELSE size(r.{n}) END)"
                    ).alias(f"{n}_l")
                )
                sel.append(
                    F.expr(
                        f"flatten(transform(filter(__rows, r -> r.{n} IS NOT NULL), r -> r.{n}))"
                    ).alias(f"{n}_f")
                )
            else:
                sel.append(F.expr(f"transform(__rows, r -> r.{n})").alias(n))
        asm = asm.select(*sel)
        base_q = asm if base_q is None else base_q.join(asm, keys + ["__qs"], "full")

    return base_q, col_map


HOT_KEY_DETECT_CAP = 1000


# below ~this many queries on one key, slice bookkeeping (baseline IRs,
# event replication, extra shuffle column) costs more than the straggler
# it removes — measured crossover sits between 10k and 12k dense queries
# (BENCH §28/§30)
AUTO_HOT_FLOOR = 10_000

def auto_hot_factor(ub_parts) -> int:
    """Fair-share multiplier for threshold="auto": 1 when any unbounded
    part carries sketch state (per-query cost superlinear in hot-key size
    — slice as soon as a key exceeds its fair share; measured 3.39-8.2×,
    BENCH §28/§30), else 4 (O(1)-prefix configs straggle only when one
    task's row count clearly dominates the stage; below that the slice
    bookkeeping costs more than the tail — measured at the 40M-row
    flagship, where hot keys at 2.5× fair share lost ~25s of tail but
    slicing added >60s of overhead)."""
    for p in ub_parts or ():
        if p.bucket is not None:
            # per-query cost is O(#buckets) — superlinear in hot-key size
            # like sketch state; slice at fair share
            return 1
        # scalar states cost O(1) per event and per query; every other
        # state (HLL registers, quantile samples, count-maps, k-lists)
        # pays an O(sketch-size) copy per query, so a hot key's cost is
        # superlinear in its size and slicing pays much earlier
        if not alg.SCALAR_STATES.issuperset(alg.STATES[p.operation]):
            return 1
    return 4


def detect_hot_keys(
    qlite: DataFrame,
    keys: list[str],
    threshold: "int | str",
    cap: int = HOT_KEY_DETECT_CAP,
    auto_factor: int = 4,
) -> "list[tuple] | None":
    """Keys whose query count exceeds ``threshold`` — one tiny aggregate
    over the slim query frame, hottest-first so a truncated detection
    keeps the keys that matter most. Truncation at ``cap`` is LOGGED (no
    silent caps): keys beyond it stay unsliced and fall back to
    one-task-per-key.

    ``threshold="auto"`` derives the cutoff from the data: a key owning
    more query rows than ``auto_factor`` × one kernel partition's fair
    share (total / kernel_partitions) is a straggler — its task runs
    that multiple of the stage average even if every other partition
    balances perfectly — floored at AUTO_HOT_FLOOR so small inputs never
    pay slice bookkeeping. No magic number survives a 100× scale-up:
    the fair share scales with the data, and ``auto_factor`` scales with
    the op profile (auto_hot_factor)."""
    counts = qlite.groupBy(*keys).count()
    pinned = None
    if threshold == "auto":
        from pyspark import StorageLevel

        pinned = counts = counts.persist(StorageLevel.MEMORY_AND_DISK)
        total = counts.agg(F.sum("count").alias("t")).first()["t"] or 0
        threshold = max(
            AUTO_HOT_FLOOR,
            int(auto_factor) * int(total) // kernel_partitions(qlite.sparkSession),
        )
    rows = (
        counts
        .filter(F.col("count") > int(threshold))
        .orderBy(F.col("count").desc())
        .limit(cap + 1)
        .collect()
    )
    if pinned is not None:
        pinned.unpersist()
    if len(rows) > cap:
        import logging

        logging.getLogger("chronon_spark").warning(
            "hot-key detection truncated at cap=%d (threshold=%d): the %d "
            "hottest keys get time slicing, further hot keys stay unsliced "
            "— raise the cap via detect_hot_keys(cap=...) if this matters",
            cap, int(threshold), cap,
        )
        rows = rows[:cap]
    return [tuple(r[k] for k in keys) for r in rows] or None


def kernel_partitions(spark: SparkSession) -> int:
    """Partition count for Arrow-kernel stages: at least one task per core
    (AQE's byte-targeted coalescing would otherwise starve the CPU-bound
    kernel stage), without over-sharding small inputs — python-worker
    setup is ~50ms/task, so 3x-per-core sharding taxed small SFs more
    than straggler smoothing repaid."""
    return max(int(spark.conf.get("spark.sql.shuffle.partitions", "32")),
               spark.sparkContext.defaultParallelism)
