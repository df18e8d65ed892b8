"""The numpy op algebra: each aggregation op's IR, range-reduce, merge and
finalize, written once and shared by the numpy kernels.

The reference writes every op once, as one SimpleAggregator with
prepare/update/merge/finalize (aggregator/base/SimpleAggregators.scala),
and every execution path reuses it. ``functions/aggregations.OP_SPECS``
is that registry for Spark expressions; this module is its numpy twin:

- ``STATES``: each op's IR state names. The JVM builders (hot-key
  baselines, upload hop frames) name their state columns from it;
- ``reduce(part, col, lo, hi)``: the IR of the events in each ``[lo, hi)``
  index range, vectorized over ranges (prefix sums, sparse tables,
  index gathers; list-like states are per-range views of one compacted
  value array);
- ``merge(part, a, b)``: the IR of ``a``'s events followed by ``b``'s;
- ``finalize(part, ir)``: the feature values;
- ``from_values``: an IR from serialized state values (JVM-built rows
  or tile columns);
- ``range_merge``: the merged IR of each ``[lo, hi)`` range of pieces
  (hop or tile IRs in time order), by prefix sums, sparse tables and
  first/last searches for the scalar kinds and a 5-min → 1h → 1d rollup
  for the rest.

An IR is a dict {state: array}, one row per range. A state's merge rule
is its kind's (``STATE_KIND``): sums add, extrema take min/max, FIRST
keeps the earlier value and LAST the later, sequences concatenate,
count-maps add per key, weighted samples concatenate, HLL registers take
the max. Empty ranges reduce to each kind's identity, so ``finalize(
merge(reduce(A), reduce(B))) == finalize(reduce(A ++ B))`` bit for bit
for the exact ops (tests/test_op_algebra.py).

``finalize`` returns a (values, valid) pair for numeric scalar results
and an object array (None = null) otherwise — what the kernels' Arrow
conversion (operators/temporal._to_arrow) takes.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from chronon_spark.api.types import AggregationPart, Operation
from chronon_spark.functions.sketches import HLL_M, hll_estimate

# chr(0) key of a Misra-Gries count-map carrying its truncation error
# bound (est ≤ true ≤ est + err for every retained key); never surfaces
MG_ERR_KEY = "\x00__mg_err"

STATES: "dict[Operation, tuple[str, ...]]" = {
    Operation.COUNT: ("n",),
    Operation.SUM: ("n", "s1"),
    Operation.AVERAGE: ("n", "s1"),
    Operation.VARIANCE: ("n", "s1", "s2"),
    Operation.SKEW: ("n", "s1", "s2", "s3"),
    Operation.KURTOSIS: ("n", "s1", "s2", "s3", "s4"),
    Operation.MIN: ("mn",),
    Operation.MAX: ("mx",),
    Operation.FIRST: ("fst",),
    Operation.LAST: ("lst",),
    Operation.FIRST_K: ("fstk",),
    Operation.LAST_K: ("lstk",),
    Operation.TOP_K: ("topk",),
    Operation.BOTTOM_K: ("botk",),
    Operation.UNIQUE_COUNT: ("set",),
    Operation.BOUNDED_UNIQUE_COUNT: ("uset",),
    Operation.HISTOGRAM: ("hist",),
    Operation.APPROX_UNIQUE_COUNT: ("hreg",),
    Operation.APPROX_PERCENTILE: ("pqs",),
    Operation.APPROX_HISTOGRAM_K: ("mgh",),
}

# the serialized value and merge rule of each state:
# sum — a count or power sum; min/max — an extremum; first/last — the
# (ts, value)-earliest/latest value; seq — values in (ts, value) order
# (lstk ships newest first); counts — {key: count}; sample — (values,
# weights or None when every weight is 1); regs — HLL (idx, rho) entries
STATE_KIND = {
    "n": "sum", "s1": "sum", "s2": "sum", "s3": "sum", "s4": "sum",
    "mn": "min", "mx": "max", "fst": "first", "lst": "last",
    "fstk": "seq", "lstk": "seq", "topk": "seq", "botk": "seq", "set": "seq", "uset": "seq",
    "hist": "counts", "mgh": "counts", "pqs": "sample", "hreg": "regs",
}

# states with O(1) size per IR row; every other state grows with its
# range (bounded by a k or sketch cap when an op uploads or slices)
SCALAR_STATES = frozenset(s for s, k in STATE_KIND.items() if k in ("sum", "min", "max", "first", "last"))
# states serialized as a list of values
LIST_STATES = frozenset(s for s, k in STATE_KIND.items() if k == "seq")

# ops whose serialized IR stays bounded (scalars, k-capped lists and
# sets, sketches): what a hot-key baseline row or an upload row can
# carry. Exact UNIQUE_COUNT and HISTOGRAM keep every distinct value.
BOUNDED_OPS = frozenset(op for op, sts in STATES.items() if not {"set", "hist"} & set(sts))

# sequences whose order is the (ts, value) tie order
_ORDERED = frozenset({"fstk", "lstk"})


# ------------------------------------------------------------ event columns


def prefix(arr: np.ndarray) -> np.ndarray:
    out = np.empty(len(arr) + 1, dtype=np.float64)
    out[0] = 0.0
    np.cumsum(arr, out=out[1:])
    return out


class SparseTable:
    """O(1) range min/max after O(n log n) build, vectorized over queries."""

    def __init__(self, vals: np.ndarray, is_min: bool):
        n = len(vals)
        self.n = n
        fill = np.inf if is_min else -np.inf
        k_max = max(1, int(np.floor(np.log2(n))) + 1) if n else 1
        table = np.full((k_max, n), fill, dtype=np.float64)
        if n:
            table[0] = vals
            reducer = np.minimum if is_min else np.maximum
            for k in range(1, k_max):
                half = 1 << (k - 1)
                if n - (1 << k) + 1 <= 0:
                    break
                table[k, : n - (1 << k) + 1] = reducer(
                    table[k - 1, : n - (1 << k) + 1], table[k - 1, half : n - (1 << k) + 1 + half]
                )
        self.table = table
        self.fill = fill

    def query(self, lo: np.ndarray, hi: np.ndarray) -> np.ndarray:
        """range [lo, hi) per element; empty ranges yield self.fill."""
        res = np.full(len(lo), self.fill, dtype=np.float64)
        ln = hi - lo
        nz = ln > 0
        if not nz.any():
            return res
        k = np.zeros(len(lo), dtype=np.int64)
        k[nz] = np.floor(np.log2(ln[nz])).astype(np.int64)
        a = self.table[k[nz], lo[nz]]
        b = self.table[k[nz], hi[nz] - (1 << k[nz])]
        res[nz] = np.minimum(a, b) if self.fill == np.inf else np.maximum(a, b)
        return res


def objects(arr: pa.Array) -> np.ndarray:
    """A non-numeric Arrow array as a 1-D object array (None = null)."""
    if pa.types.is_string(arr.type) or pa.types.is_large_string(arr.type):
        return arr.to_numpy(zero_copy_only=False)
    return np.fromiter(arr.to_pylist(), dtype=object, count=len(arr))


class EventCol:
    """Per-input-column precomputation shared across parts/windows, over
    event values in (segment, ts) order. ``seg`` is the nondecreasing
    segment id of each event (None = one segment): a segment is one key's
    events, and float prefix sums restart at each segment start so every
    range sum is that key's own running-sum difference, bit for bit."""

    def __init__(
        self,
        arr: pa.Array,
        numeric: bool,
        integral: bool = False,
        ts: "np.ndarray | None" = None,
        seg: "np.ndarray | None" = None,
    ):
        self.numeric = numeric
        self.integral = integral
        self._ts = ts
        self._seg = seg
        self._tie_compact = None
        if numeric:
            # nulls (and NaN) → NaN → masked out
            vals = arr.cast(pa.float64(), safe=False).to_numpy(zero_copy_only=False)
            self.mask = ~np.isnan(vals)
            self.vals = vals
            if integral:
                # exact long SUM: int64 prefix sums (running totals beyond
                # 2^53 stay exact — the same contract as range_merge's int64
                # prefix over tile sums). One prefix over all segments is
                # exact: int64 differences are modular.
                ivals = arr.cast(pa.int64()).fill_null(0).to_numpy(zero_copy_only=False)
                self._ipsum = np.empty(len(ivals) + 1, dtype=np.int64)
                self._ipsum[0] = 0
                np.cumsum(ivals, out=self._ipsum[1:])
        else:
            self.raw = objects(arr)
            self.mask = arr.is_valid().to_numpy(zero_copy_only=False)
            self.vals = None
        self.pcount = prefix(self.mask.astype(np.float64))
        # compacted (non-null) values in (segment, ts) order + their indices
        self.nn_idx = np.flatnonzero(self.mask)
        if numeric:
            self.compact = self.vals[self.nn_idx]
        else:
            self.compact = self.raw[self.nn_idx]
        self._psum = None
        self._pmoments = None
        self._tmin = None
        self._tmax = None

    @property
    def tie_compact(self) -> np.ndarray:
        """Compact values with equal-ts runs re-ordered ascending by value
        — the tiled kernel's (ts, value) struct-sort tie-break, shared so
        FIRST/LAST/FIRST_K/LAST_K pick the SAME element on exact-tie
        timestamps in every execution path (the order the gate oracle
        asserts). Window bounds always fall on ts-run boundaries, so the
        reorder is invisible to every other op. The segment is the primary
        sort key, so runs never cross keys. Falls back to input order when
        the constructor got no ts array."""
        if self._ts is None:
            return self.compact
        if self._tie_compact is None:
            vals = self.compact
            if self.numeric:
                key = vals
            else:
                # non-numeric gather columns: order by string form (Spark's
                # UTF8 ordering agrees with Python's for the practical
                # string/categorical cases; compact is already non-null)
                key = np.array([str(v) for v in vals], dtype=object)
            sort_keys = (key, self._ts[self.nn_idx])
            if self._seg is not None:
                sort_keys += (self._seg[self.nn_idx],)
            self._tie_compact = vals[np.lexsort(sort_keys)]
        return self._tie_compact

    def count_in(self, lo, hi):
        return (self.pcount[hi] - self.pcount[lo]).astype(np.int64)

    def compact_range(self, lo, hi):
        """map event-index range [lo,hi) → compact-index range."""
        clo = (self.pcount[lo]).astype(np.int64)
        chi = (self.pcount[hi]).astype(np.int64)
        return clo, chi

    def _seg_prefix(self, z: np.ndarray) -> "tuple[np.ndarray, np.ndarray]":
        """(hi, lo) prefix tables that restart at every segment start:
        for lo ≤ a < b ≤ hi inside one segment, hi[b] − lo[a] is the
        per-key prefix difference, summed in the same order."""
        n = len(z)
        hi = np.empty(n + 1, dtype=np.float64)
        hi[0] = 0.0
        if self._seg is None or n == 0:
            starts = np.zeros(1, dtype=np.int64)
        else:
            starts = np.r_[0, np.flatnonzero(np.diff(self._seg)) + 1]
        for s0, s1 in zip(starts, np.r_[starts[1:], n]):
            np.cumsum(z[s0:s1], out=hi[s0 + 1 : s1 + 1])
        if len(starts) == 1:
            return hi, hi
        lo = hi.copy()
        lo[starts] = 0.0
        return hi, lo

    @staticmethod
    def range_sum(pref, lo: np.ndarray, hi: np.ndarray) -> np.ndarray:
        """Σ over event ranges [lo, hi) from a _seg_prefix table pair;
        empty ranges sum to exactly 0."""
        return np.where(hi > lo, pref[0][hi] - pref[1][lo], 0.0)

    @property
    def psum(self):
        if self._psum is None:
            self._psum = self._seg_prefix(np.where(self.mask, self.vals, 0.0))
        return self._psum

    @property
    def pmoments(self):
        if self._pmoments is None:
            z = np.where(self.mask, self.vals, 0.0)
            self._pmoments = tuple(self._seg_prefix(z**i) for i in (2, 3, 4))
        return self._pmoments

    def tmin(self):
        if self._tmin is None:
            v = np.where(self.mask, self.vals, np.inf)
            self._tmin = SparseTable(v, is_min=True)
        return self._tmin

    def tmax(self):
        if self._tmax is None:
            v = np.where(self.mask, self.vals, -np.inf)
            self._tmax = SparseTable(v, is_min=False)
        return self._tmax


class HllCol:
    """JVM-hashed HLL (idx, rho) per event (NaN = null value), the input
    of APPROX_UNIQUE_COUNT's register state (functions/sketches.py)."""

    def __init__(self, idx: np.ndarray, rho: np.ndarray):
        self.pos = np.flatnonzero(~np.isnan(idx))
        self.idx = idx[self.pos].astype(np.int64)
        self.rho = rho[self.pos].astype(np.uint8)


# ------------------------------------------------------------ shared helpers


def moments(op: Operation, n, s1, s2, s3=None, s4=None) -> np.ndarray:
    """Population-moment finalize over power sums: variance = m2 clipped
    ≥ 0; skew NaN when n < 3 or m2 ≤ 0; excess kurtosis NaN when n < 4
    or m2 ≤ 0. Rows with n = 0 come out NaN; callers mask them null."""
    n = np.asarray(n, dtype=np.float64)
    with np.errstate(divide="ignore", invalid="ignore"):
        m1 = s1 / n
        m2 = s2 / n - m1**2
        if op is Operation.VARIANCE:
            return np.maximum(m2, 0.0)
        if op is Operation.SKEW:
            m3 = s3 / n - 3 * m1 * s2 / n + 2 * m1**3
            return np.where((n < 3) | (m2 <= 0), np.nan, m3 / np.power(np.maximum(m2, 1e-300), 1.5))
        m4 = s4 / n - 4 * m1 * s3 / n + 6 * m1**2 * s2 / n - 3 * m1**4
        return np.where((n < 4) | (m2 <= 0), np.nan, m4 / np.maximum(m2, 1e-300) ** 2 - 3.0)


def percentiles(vals: np.ndarray, wts: "np.ndarray | None", qs) -> "list[float]":
    """Linear-interpolated percentiles of a (weighted) sample. Without
    weights, or with unit weights (a sample that kept every value), this
    is np.percentile, bit for bit. Otherwise position x = q·(Σw − 1) over
    the value-sorted cumulative weights (the snapshot path's _pct_scan
    contract)."""
    if wts is None or np.all(wts == 1):
        return [float(np.percentile(vals, q * 100)) for q in qs]
    order = np.argsort(vals, kind="stable")
    v = vals[order]
    pos = np.cumsum(wts[order]) - 1.0
    out = []
    for q in qs:
        x = q * pos[-1]
        i = int(np.searchsorted(pos, x, side="left"))
        if i <= 0:
            out.append(float(v[0]))
        elif i >= len(v):
            out.append(float(v[-1]))
        elif pos[i] <= pos[i - 1]:
            out.append(float(v[i]))
        else:
            f = (x - pos[i - 1]) / (pos[i] - pos[i - 1])
            out.append(float(v[i - 1] + (v[i] - v[i - 1]) * f))
    return out


def count_keys(vals: np.ndarray, integral: bool) -> dict:
    """{value: count} keyed in SQL string form: integral values as '14',
    not the float artifact '14.0' — the reference stringifies by column
    type (ItemsSketch<String> via .toString) and the JVM-side IRs CAST
    the original type."""
    if not len(vals):
        return {}
    keyed = vals.astype(np.int64) if integral else vals
    uniq, counts = np.unique(keyed.astype(str), return_counts=True)
    return {str(u): int(c) for u, c in zip(uniq, counts)}


def top_counts(d: dict, k) -> "dict | None":
    """A count-map's output: the error key dropped, the k largest counts
    by (count desc, key asc) when k is set, else every key in key order;
    None when empty."""
    d = {x: c for x, c in d.items() if x != MG_ERR_KEY}
    if not d:
        return None
    if k:
        return dict(sorted(d.items(), key=lambda x: (-x[1], x[0]))[: int(k)])
    return dict(sorted(d.items()))


def sample_of(n, q) -> tuple:
    """A (n, equi-rank sample) IR as (values, weights): the sample carries
    weight n/|q| per value, None when it kept every value."""
    q = np.asarray(q if q is not None else (), dtype=np.float64)
    n = 0 if n is None or n != n else int(n)
    return q, (None if n == len(q) else np.full(len(q), n / len(q)))


# ------------------------------------------------------------ the algebra


def _nones(n: int) -> np.ndarray:
    return np.full(n, None, dtype=object)


def _objs(items) -> np.ndarray:
    """A 1-D object array of ``items`` (slice assignment would unpack
    equal-length sequences into a second dimension)."""
    items = list(items)
    out = np.empty(len(items), dtype=object)
    for i, x in enumerate(items):
        out[i] = x
    return out


def reduce(part: AggregationPart, col, lo: np.ndarray, hi: np.ndarray) -> dict:
    """The IR of each event-index range [lo, hi) of ``col`` (an EventCol,
    or an HllCol for APPROX_UNIQUE_COUNT)."""
    op = part.operation
    ir = {}
    for st in STATES[op]:
        kind = STATE_KIND[st]
        if st == "n":
            ir[st] = col.count_in(lo, hi)
        elif st == "s1" and col.integral and op is Operation.SUM:
            ir[st] = col._ipsum[hi] - col._ipsum[lo]
        elif kind == "sum":
            pref = col.psum if st == "s1" else col.pmoments[int(st[1]) - 2]
            ir[st] = col.range_sum(pref, lo, hi)
        elif kind in ("min", "max") and col.numeric:
            ir[st] = (col.tmin() if kind == "min" else col.tmax()).query(lo, hi)
        elif kind in ("first", "last"):
            clo, chi = col.compact_range(lo, hi)
            valid = chi > clo
            idx = np.where(valid, clo if kind == "first" else chi - 1, 0)
            vals = col.tie_compact
            if col.numeric:
                v = vals[idx] if len(vals) else np.zeros(len(lo))
                v[~valid] = np.nan
            else:
                v = _nones(len(lo))
                v[valid] = vals[idx[valid]]
            ir[st] = v
        elif kind == "regs":
            a = np.searchsorted(col.pos, lo, side="left")
            b = np.searchsorted(col.pos, hi, side="left")
            regs = np.zeros((len(lo), HLL_M), dtype=np.uint8)
            for i in np.flatnonzero(b > a):
                np.maximum.at(regs[i], col.idx[a[i] : b[i]], col.rho[a[i] : b[i]])
            ir[st] = regs
        else:
            clo, chi = col.compact_range(lo, hi)
            vals = col.tie_compact if st in _ORDERED else col.compact
            seqs = (vals[a:b] for a, b in zip(clo, chi))
            if kind == "counts":
                seqs = (count_keys(s, col.integral) for s in seqs)
            elif kind == "sample":
                seqs = ((s.astype(np.float64), None) for s in seqs)
            elif kind in ("min", "max"):  # non-numeric extrema
                pick = min if kind == "min" else max
                seqs = (pick(s) if len(s) else None for s in seqs)
            ir[st] = _objs(seqs)
    return ir


def _pick(kind: str):
    """Element merge of an object-valued state (x earlier than y)."""
    if kind == "min":
        return lambda x, y: x if y is None else (y if x is None else min(x, y))
    if kind == "max":
        return lambda x, y: x if y is None else (y if x is None else max(x, y))
    if kind == "first":
        return lambda x, y: y if x is None else x
    if kind == "last":
        return lambda x, y: x if y is None else y
    return lambda x, y: _combine(kind, [x, y], None)


def merge(part: AggregationPart, a: dict, b: dict) -> dict:
    """Row-wise IR of a's events followed by b's."""
    out = {}
    for st, x in a.items():
        y = b[st]
        kind = STATE_KIND[st]
        if kind == "sum":
            out[st] = x + y
        elif kind == "regs":
            out[st] = np.maximum(x, y)
        elif x.dtype != object and kind in ("min", "max"):
            out[st] = (np.minimum if kind == "min" else np.maximum)(x, y)
        elif x.dtype != object and kind in ("first", "last"):
            out[st] = np.where(np.isnan(x), y, x) if kind == "first" else np.where(np.isnan(y), x, y)
        else:
            f = _pick(kind)
            out[st] = _objs(f(p, q) for p, q in zip(x, y))
    return out


def finalize(part: AggregationPart, ir: dict):
    """Feature values of each IR row: a (values, valid) pair for numeric
    scalars, else an object array (None = null)."""
    op = part.operation
    st = STATES[op][-1]
    v = ir[st]
    if op is Operation.COUNT:
        return v, v > 0
    n = ir.get("n")
    if op is Operation.SUM:
        return v, n > 0
    if op is Operation.AVERAGE:
        with np.errstate(divide="ignore", invalid="ignore"):
            return v / n, n > 0
    if op in (Operation.VARIANCE, Operation.SKEW, Operation.KURTOSIS):
        return moments(op, n, ir["s1"], ir["s2"], ir.get("s3"), ir.get("s4")), n > 0
    if v.dtype != object:
        if op is Operation.APPROX_UNIQUE_COUNT:
            valid = v.any(axis=1)
            est = np.zeros(len(v), dtype=np.int64)
            est[valid] = [hll_estimate(r) for r in v[valid]]
            return est, valid
        # numeric extrema (±inf when empty) and picks (NaN when empty)
        return v, (np.isfinite(v) if op in (Operation.MIN, Operation.MAX) else ~np.isnan(v))
    if op in (Operation.MIN, Operation.MAX, Operation.FIRST, Operation.LAST):
        return v
    k = int(part.arg_map.get("k", 1))
    out = _nones(len(v))
    for i, x in enumerate(v):
        if op in (Operation.HISTOGRAM, Operation.APPROX_HISTOGRAM_K):
            out[i] = top_counts(x, part.arg_map.get("k"))
        elif op is Operation.APPROX_PERCENTILE:
            if len(x[0]):
                out[i] = percentiles(x[0], x[1], part.arg_map.get("percentiles", [0.5]))
        elif not len(x):
            continue
        elif op is Operation.FIRST_K:
            out[i] = list(x[:k])
        elif op is Operation.LAST_K:
            out[i] = list(x[-k:][::-1])
        elif op is Operation.TOP_K:
            out[i] = list(np.sort(x)[::-1][:k])
        elif op is Operation.BOTTOM_K:
            out[i] = list(np.sort(x)[:k])
        elif op is Operation.UNIQUE_COUNT:
            out[i] = int(len(np.unique(x)))
        else:  # BOUNDED_UNIQUE_COUNT: a ≤k capped set is exact under the cap
            out[i] = int(min(len(np.unique(x)), k))
    return out


def _null(v) -> bool:
    return v is None or (isinstance(v, float) and v != v)


def _scalars(col, dtype, empty) -> np.ndarray:
    """A scalar state's serialized values (a list or an Arrow array; null
    or NaN = empty) as a numpy array; an Arrow float column of an int64
    state (a bucketed tile's double sum) rounds."""
    if isinstance(col, pa.Array):
        if dtype is np.int64 and pa.types.is_floating(col.type):
            col = pc.round(col)
        out = col.cast(pa.from_numpy_dtype(dtype), safe=False).fill_null(empty).to_numpy(zero_copy_only=False)
    else:
        out = np.array([empty if _null(v) else v for v in col], dtype=dtype)
    return np.where(np.isnan(out), empty, out) if dtype is np.float64 else out


def from_values(part: AggregationPart, numeric: bool, integral: bool, values: dict) -> dict:
    """An IR from serialized state values, one list entry per row (None =
    the state is absent: an empty range). Serialized forms per kind are
    those of STATE_KIND's comment; a scalar state may come as an Arrow
    array."""
    op = part.operation
    ir = {}
    for st in STATES[op]:
        col = values[st]
        kind = STATE_KIND[st]
        if kind == "sum":
            exact = st == "n" or (st == "s1" and integral and op is Operation.SUM)
            ir[st] = _scalars(col, np.int64 if exact else np.float64, 0)
        elif kind in ("min", "max", "first", "last") and numeric:
            ir[st] = _scalars(col, np.float64, {"min": np.inf, "max": -np.inf}.get(kind, np.nan))
        elif kind == "regs":
            regs = np.zeros((len(col), HLL_M), dtype=np.uint8)
            for i, v in enumerate(col):
                if v is not None and len(v[0]):
                    np.maximum.at(regs[i], np.asarray(v[0], np.int64), np.asarray(v[1], np.uint8))
            ir[st] = regs
        else:
            out = _nones(len(col))
            for i, v in enumerate(col):
                if kind == "seq":
                    v = () if _null(v) else (v[::-1] if st == "lstk" else v)
                    out[i] = np.asarray(v, dtype=np.float64 if numeric else object)
                elif kind == "counts":
                    d = {}
                    keys, cnts = v or (None, None)
                    for x, c in zip(keys or (), cnts or ()):
                        d[str(x)] = d.get(str(x), 0) + int(c)
                    out[i] = d
                elif kind == "sample":
                    vals, wts = (np.empty(0), None) if v is None else v
                    wts = None if wts is None or np.all(np.asarray(wts) == 1.0) else np.asarray(wts, np.float64)
                    out[i] = (np.asarray(vals, dtype=np.float64), wts)
                else:
                    out[i] = None if _null(v) else v
            ir[st] = out
    return ir


def take(ir: dict, idx: np.ndarray) -> dict:
    """The IR rows at ``idx``."""
    return {st: v[idx] for st, v in ir.items()}


def concat(irs: "list[dict]") -> dict:
    return {st: np.concatenate([ir[st] for ir in irs]) for st in irs[0]}


_HOUR_MS = 3_600_000
_DAY_MS = 86_400_000


def _cap(part: AggregationPart, st: str, v):
    """A rolled-up state value cut back to the op's bound: k for the
    k-lists and the capped set, the ``accuracy`` sample budget (an
    equi-rank resample of the weighted sample) for percentiles; a set
    keeps its distinct values. Every cut but the resample is lossless."""
    k = int(part.arg_map.get("k", 1))
    if st == "fstk":
        return v[:k]
    if st == "lstk":
        return v[-k:]
    if st in ("topk", "botk"):
        v = np.sort(v)
        return v[::-1][:k] if st == "topk" else v[:k]
    if st in ("set", "uset"):
        v = np.unique(v)
        return v[:k] if st == "uset" else v
    if st == "pqs":
        cap = int(part.arg_map.get("accuracy", 128))
        vals, wts = v
        if len(vals) > cap:
            total = len(vals) if wts is None else wts.sum()
            vals = np.asarray(percentiles(vals, wts, np.linspace(0.0, 1.0, cap)))
            return vals, np.full(cap, total / cap)
    return v


def _combine(kind: str, items: list, empty):
    """The merge of a run of object-valued state values, in order."""
    if not items:
        return empty
    if kind == "seq":
        return np.concatenate(items)
    if kind == "sample":
        return _join_samples(items)
    if kind == "regs":
        return np.max(np.stack(items), axis=0)
    if kind == "counts":
        out = dict(items[0])
        for d in items[1:]:
            for x, c in d.items():
                out[x] = out.get(x, 0) + c
        return out
    f = _pick(kind)  # min, max, first, last over objects
    acc = items[0]
    for x in items[1:]:
        acc = f(acc, x)
    return acc


def _cover(lo: np.ndarray, hi: np.ndarray, starts: np.ndarray, n: int):
    """The groups (piece-index ``starts``, ascending, from 0; the last
    ends at n) lying wholly in each [lo, hi): group indices [a, b) and
    the piece range [m_lo, m_hi) they span (empty at hi when none)."""
    ends = np.r_[starts[1:], n]
    a = np.searchsorted(starts, lo, side="left")
    b = np.maximum(a, np.searchsorted(ends, hi, side="right"))
    has = b > a
    m_lo = np.where(has, starts[np.minimum(a, len(starts) - 1)], hi)
    m_hi = np.where(has, ends[np.maximum(b - 1, 0)], hi)
    return a, b, m_lo, m_hi


def _rollup(part: AggregationPart, st: str, x: np.ndarray, ts: np.ndarray, lo, hi) -> np.ndarray:
    """Range merge of an object-valued (or register) state: the pieces
    rolled up to 1h and 1d groups of their start times (the reference's
    hop pyramid, Resolution.scala:37-47), each group merged and capped
    once; a range is its whole days, the whole hours at its rims and the
    pieces left over, merged in time order."""
    kind = STATE_KIND[st]
    n = len(x)
    if kind == "regs":
        empty = np.zeros(HLL_M, dtype=np.uint8)
    else:
        empty = {"seq": np.empty(0), "sample": (np.empty(0), None), "counts": {}}.get(kind)
    levels, starts = [x], [np.arange(n)]
    for width in (_HOUR_MS, _DAY_MS):
        grp = ts[starts[-1]] // width
        first = np.flatnonzero(np.r_[True, grp[1:] != grp[:-1]]) if len(grp) else np.zeros(0, np.int64)
        prev = levels[-1]
        ends = np.r_[first[1:], len(prev)]
        levels.append(_objs(_cap(part, st, _combine(kind, list(prev[a:b]), empty)) for a, b in zip(first, ends)))
        starts.append(starts[-1][first])
    if n == 0:
        segs = []
    else:
        # days wholly inside; hours wholly inside the rims left of them
        # and right of them; the pieces in between
        a2, b2, d_lo, d_hi = _cover(lo, hi, starts[2], n)
        a1, b1, h_lo, h_hi = _cover(lo, d_lo, starts[1], n)
        a3, b3, r_lo, r_hi = _cover(d_hi, hi, starts[1], n)
        segs = [(0, lo, h_lo), (1, a1, b1), (0, h_hi, d_lo), (2, a2, b2),
                (0, d_hi, r_lo), (1, a3, b3), (0, r_hi, hi)]
    out = []
    for j in range(len(lo)):
        items = [v for lv, a, b in segs for v in levels[lv][a[j] : b[j]]]
        out.append(_combine(kind, items, empty))
    if kind == "regs":
        return np.stack(out) if out else np.zeros((0, HLL_M), dtype=np.uint8)
    return _objs(out)


def range_merge(part: AggregationPart, ir: dict, ts: np.ndarray, lo: np.ndarray, hi: np.ndarray) -> dict:
    """Row j merges rows [lo[j], hi[j]) of an H-row IR of pieces in time
    order (hop or tile IRs starting at ``ts``); an empty range gives the
    empty IR. The method goes by state kind: sums by prefix sums, numeric
    extrema by a sparse table, FIRST/LAST by the range's first/last
    non-empty piece, every other kind by the 5-min → 1h → 1d rollup."""
    out = {}
    for st, x in ir.items():
        kind = STATE_KIND[st]
        if kind == "sum":
            pref = np.zeros(len(x) + 1, dtype=x.dtype)
            np.cumsum(x, out=pref[1:])
            out[st] = pref[hi] - pref[lo]
        elif kind in ("min", "max") and x.dtype != object:
            out[st] = SparseTable(x, is_min=kind == "min").query(lo, hi)
        elif kind in ("first", "last"):
            numeric = x.dtype != object
            full = np.flatnonzero(~np.isnan(x) if numeric else np.array([v is not None for v in x], dtype=bool))
            if kind == "first":
                j = np.searchsorted(full, lo, side="left")
                ok = j < len(full)
                ok[ok] &= full[j[ok]] < hi[ok]
            else:
                j = np.searchsorted(full, hi, side="left") - 1
                ok = j >= 0
                ok[ok] &= full[j[ok]] >= lo[ok]
            v = np.full(len(lo), np.nan) if numeric else _nones(len(lo))
            v[ok] = x[full[j[ok]]]
            out[st] = v
        else:
            out[st] = _rollup(part, st, x, ts, lo, hi)
    return out


def _join_samples(samples: list) -> tuple:
    """Weighted samples in sequence as one (values, weights or None)."""
    if not samples:
        return np.empty(0, dtype=np.float64), None
    vals = np.concatenate([s[0] for s in samples])
    if all(s[1] is None for s in samples):
        return vals, None
    return vals, np.concatenate([np.ones(len(s[0])) if s[1] is None else s[1] for s in samples])
