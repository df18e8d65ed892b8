"""Laws of the numpy op algebra (functions/op_algebra.py), pure numpy:

- split law: for random event streams cut at a ts-run boundary into
  A | B (either side may be empty), with nulls and exact-ts ties,
  finalize(merge(reduce(A), reduce(B))) == finalize(reduce(A ++ B)) bit
  for bit, for every registry op on float, integral and string inputs;
- suffix law: hop IRs range-merged from any start to the last hop equal
  the reduce of the events from that hop on;
- range law: tile IRs range-merged over any piece range equal the
  reduce of that range's events, across the 1h/1d rollup levels;
- sketch bands: a truncated equi-rank sample or Misra-Gries count-map
  merged with exact events stays inside its documented error band;
- a unit-weight sample's percentiles are np.percentile's, bit for bit;
- coverage: every op a kernel accepts has a registry entry.
"""

import struct
import zlib

import numpy as np
import pyarrow as pa
import pytest

from chronon_spark.api.types import AggregationPart, Operation
from chronon_spark.functions import op_algebra as alg
from chronon_spark.functions.op_algebra import EventCol, HllCol

ARGS = {
    Operation.FIRST_K: {"k": 3},
    Operation.LAST_K: {"k": 3},
    Operation.TOP_K: {"k": 2},
    Operation.BOTTOM_K: {"k": 4},
    Operation.BOUNDED_UNIQUE_COUNT: {"k": 3},
    Operation.APPROX_HISTOGRAM_K: {"k": 2},
    Operation.APPROX_PERCENTILE: {"percentiles": [0.0, 0.3, 0.5, 0.75, 1.0]},
}
# ops a non-numeric input supports
STRING_OPS = {
    Operation.COUNT, Operation.MIN, Operation.MAX, Operation.FIRST, Operation.LAST,
    Operation.FIRST_K, Operation.LAST_K, Operation.TOP_K, Operation.BOTTOM_K,
    Operation.UNIQUE_COUNT, Operation.BOUNDED_UNIQUE_COUNT, Operation.HISTOGRAM,
    Operation.APPROX_HISTOGRAM_K,
}


def _part(op):
    return AggregationPart("v", op, ARGS.get(op, {}), None, None)


def _bits(x):
    if isinstance(x, (float, np.floating)):
        return ("f", struct.pack("<d", float(x)))
    if isinstance(x, (list, tuple, np.ndarray)):
        return ("l", tuple(_bits(v) for v in x))
    if isinstance(x, dict):
        return ("d", tuple(sorted((k, _bits(v)) for k, v in x.items())))
    if isinstance(x, (np.integer, np.bool_)):
        return ("i", int(x))
    return ("o", x)


def _rows(res):
    """Finalized values as one comparable tuple per row (None = null)."""
    if isinstance(res, tuple):
        vals, valid = res
        return [_bits(v) if ok else None for v, ok in zip(vals, valid)]
    return [None if v is None else _bits(v) for v in res]


def _stream(rng, kind):
    """(ts, Arrow values) sorted by ts: few distinct times (exact-ts
    ties), about a fifth nulls."""
    n = int(rng.integers(0, 25))
    ts = np.sort(rng.integers(0, 6, n)) * 300_000
    null = rng.random(n) < 0.2
    if kind == "str":
        vals = [None if m else f"w{x}" for m, x in zip(null, rng.integers(0, 6, n))]
        return ts, pa.array(vals, pa.string())
    if kind == "int":
        return ts, pa.array([None if m else int(x) for m, x in zip(null, rng.integers(-9, 9, n))], pa.int64())
    x = rng.integers(-20, 20, n) / 4.0  # repeated values
    return ts, pa.array([None if m else float(v) for m, v in zip(null, x)], pa.float64())


def _col(ts, arr, kind):
    return EventCol(arr, numeric=kind != "str", integral=kind == "int", ts=ts)


def _cuts(ts):
    """Every ts-run boundary: window bounds never split a tie run."""
    return np.r_[0, np.flatnonzero(np.diff(ts)) + 1, len(ts)] if len(ts) else np.zeros(1, np.int64)


def _hll(rng, n):
    idx = rng.integers(0, 512, n).astype(np.float64)
    idx[rng.random(n) < 0.2] = np.nan
    return HllCol(idx, rng.integers(1, 12, n).astype(np.float64))


CASES = [(op, kind) for op in alg.STATES for kind in ("float", "int", "str")
         if (kind != "str" or op in STRING_OPS) and op is not Operation.APPROX_UNIQUE_COUNT]


@pytest.mark.parametrize("op,kind", CASES, ids=[f"{o.name}-{k}" for o, k in CASES])
def test_split_law(op, kind):
    p = _part(op)
    rng = np.random.default_rng(zlib.crc32(f"{op.name}-{kind}".encode()))
    for _ in range(60):
        ts, arr = _stream(rng, kind)
        col = _col(ts, arr, kind)
        cuts = _cuts(ts)
        zero = np.zeros(len(cuts), dtype=np.int64)
        end = np.full(len(cuts), len(ts), dtype=np.int64)
        whole = alg.finalize(p, alg.reduce(p, col, zero, end))
        split = alg.finalize(
            p, alg.merge(p, alg.reduce(p, col, zero, cuts), alg.reduce(p, col, cuts, end))
        )
        assert _rows(split) == _rows(whole), (op, kind, ts, arr)


def test_split_law_hll():
    p = _part(Operation.APPROX_UNIQUE_COUNT)
    rng = np.random.default_rng(3)
    for _ in range(40):
        n = int(rng.integers(0, 40))
        col = _hll(rng, n)
        cuts = np.arange(n + 1)
        zero, end = np.zeros(n + 1, np.int64), np.full(n + 1, n, np.int64)
        whole = alg.finalize(p, alg.reduce(p, col, zero, end))
        split = alg.finalize(p, alg.merge(p, alg.reduce(p, col, zero, cuts), alg.reduce(p, col, cuts, end)))
        assert _rows(split) == _rows(whole)


def _tiled_stream(rng, kind):
    """(ts, Arrow values, piece cuts, piece start times): events in
    5-minute tiles of the hours 22, 23, 0 and 1 of three days, so piece
    ranges cross 1h and 1d rollup edges; few distinct times per tile."""
    n = int(rng.integers(0, 120))
    day = rng.integers(0, 3, n)
    hour = rng.choice([22, 23, 0, 1], n)
    tile = np.sort(day * 288 + hour * 12 + rng.integers(0, 12, n))
    ts = tile * 300_000 + rng.integers(0, 3, n) * 1_000
    null = rng.random(n) < 0.2
    if kind == "str":
        arr = pa.array([None if m else f"w{x}" for m, x in zip(null, rng.integers(0, 9, n))], pa.string())
    elif kind == "int":
        arr = pa.array([None if m else int(x) for m, x in zip(null, rng.integers(-9, 9, n))], pa.int64())
    else:
        arr = pa.array([None if m else float(v) for m, v in zip(null, rng.integers(-40, 40, n) / 4.0)])
    cuts = np.r_[0, np.flatnonzero(np.diff(tile)) + 1, n] if n else np.zeros(1, np.int64)
    return ts, arr, cuts, tile[cuts[:-1]] * 300_000


RANGE_CASES = CASES + [(Operation.APPROX_UNIQUE_COUNT, "float")]


@pytest.mark.parametrize("op,kind", RANGE_CASES, ids=[f"{o.name}-{k}" for o, k in RANGE_CASES])
def test_range_law(op, kind):
    """Tiles = 5-minute piece IRs; range_merge(tiles, [lo, hi)) ==
    reduce(events of those tiles) for every range: empty, single-piece,
    whole, and across 1h/1d rollup edges. Exact ops bit for bit; the
    percentile sample (budget 4, so rollups resample) within the rank
    band of test_percentile_sample_band."""
    args = dict(ARGS.get(op, {}))
    if op is Operation.APPROX_PERCENTILE:
        args["accuracy"] = 4
    p = AggregationPart("v", op, args, None, None)
    rng = np.random.default_rng(zlib.crc32(f"range-{op.name}-{kind}".encode()))
    for _ in range(8):
        ts, arr, cuts, piece_ts = _tiled_stream(rng, kind)
        col = _hll(rng, len(ts)) if op is Operation.APPROX_UNIQUE_COUNT else _col(ts, arr, kind)
        pieces = alg.reduce(p, col, cuts[:-1], cuts[1:])
        lo, hi = np.triu_indices(len(cuts))
        got = alg.finalize(p, alg.range_merge(p, pieces, piece_ts, lo, hi))
        exp = alg.finalize(p, alg.reduce(p, col, cuts[lo], cuts[hi]))
        if op is not Operation.APPROX_PERCENTILE:
            assert _rows(got) == _rows(exp), (op, kind, ts, arr)
            continue
        vals = arr.to_numpy(zero_copy_only=False)
        for j, (g, e) in enumerate(zip(got, exp)):
            assert (g is None) == (e is None)
            if g is None:
                continue
            full = np.sort(vals[cuts[lo[j]] : cuts[hi[j]]])
            full = full[~np.isnan(full)]
            slack = len(full) / args["accuracy"] + 1
            for qq, v in zip(args["percentiles"], g):
                pos = qq * (len(full) - 1)
                a, b = np.searchsorted(full, v, side="left"), np.searchsorted(full, v, side="right")
                assert a - slack <= pos <= b + slack, (qq, v, pos, a, b, slack)


@pytest.mark.parametrize("op", list(alg.STATES), ids=[o.name for o in alg.STATES])
def test_suffix_law(op):
    """Hops = consecutive ts runs; range_merge(hops, [s, H)) — the fetch
    kernel's window-start-to-boundary shape — == reduce(events of hops ≥ s)."""
    p = _part(op)
    kind = "float"
    rng = np.random.default_rng(11)
    for _ in range(30):
        ts, arr = _stream(rng, kind)
        cuts = _cuts(ts)
        if op is Operation.APPROX_UNIQUE_COUNT:
            col = _hll(rng, len(ts))
        else:
            col = _col(ts, arr, kind)
        hops = alg.reduce(p, col, cuts[:-1], cuts[1:])
        starts = np.unique(rng.integers(0, len(cuts), 4))
        end = np.full(len(starts), len(cuts) - 1, dtype=np.int64)
        got = alg.finalize(p, alg.range_merge(p, hops, ts[cuts[:-1]], starts, end))
        n = np.full(len(starts), len(ts), dtype=np.int64)
        exp = alg.finalize(p, alg.reduce(p, col, cuts[starts], n))
        assert _rows(got) == _rows(exp), (op, ts, arr, starts)


def test_percentile_sample_band():
    """An equi-rank sample of A (S points, weight |A|/S each) merged with
    B's exact values: every percentile lies within |A|/S + 1 ranks of its
    exact position in A ++ B (the equi-rank sample's rank bound,
    functions/aggregations._pct_ir)."""
    p = _part(Operation.APPROX_PERCENTILE)
    qs = p.arg_map["percentiles"]
    rng = np.random.default_rng(5)
    for _ in range(50):
        a = np.sort(rng.normal(0, 5, int(rng.integers(20, 400))))
        b = rng.normal(1, 5, int(rng.integers(0, 50)))
        s = 16
        q = a[np.floor(np.arange(s) * (len(a) - 1) / (s - 1)).astype(int)]
        base = alg.from_values(p, True, False, {"pqs": [alg.sample_of(len(a), q)]})
        col = EventCol(pa.array(b), numeric=True, ts=np.zeros(len(b), np.int64))
        ir = alg.merge(p, base, alg.reduce(p, col, np.zeros(1, np.int64), np.full(1, len(b))))
        got = alg.finalize(p, ir)[0]
        full = np.sort(np.concatenate([a, b]))
        slack = len(a) / s + 1
        for qq, v in zip(qs, got):
            lo = np.searchsorted(full, v, side="left")
            hi = np.searchsorted(full, v, side="right")
            pos = qq * (len(full) - 1)
            assert lo - slack <= pos <= hi + slack, (qq, v, pos, lo, hi)


def test_unit_weight_percentiles_are_numpys():
    """A sample whose weights are all 1 kept every value: its percentiles
    equal the unweighted ones (np.percentile) bit for bit, so the tiled
    kernel's exact regime and the raw kernel agree."""
    rng = np.random.default_rng(11)
    qs = [0.0, 0.3, 0.5, 0.75, 0.9, 1.0]
    for _ in range(500):
        v = rng.normal(0, 10.0 ** rng.integers(-3, 6), int(rng.integers(1, 60)))
        got = alg.percentiles(v, np.ones(len(v)), qs)
        exp = alg.percentiles(v, None, qs)
        assert np.array_equal(np.array(got).view(np.int64), np.array(exp).view(np.int64)), v


def test_count_map_error_band():
    """A Misra-Gries count-map of A, truncated with its error key, merged
    with B's exact counts: every reported count is within [true − err,
    true] and the error key never surfaces."""
    p = _part(Operation.APPROX_HISTOGRAM_K)
    rng = np.random.default_rng(9)
    for _ in range(50):
        a = rng.zipf(1.6, int(rng.integers(1, 300))) % 40
        b = rng.integers(0, 40, int(rng.integers(0, 60)))
        keys, counts = np.unique(a.astype(str), return_counts=True)
        order = np.lexsort((keys, -counts))
        cap = 6
        kept, dropped = order[:cap], order[cap:]
        err = int(counts[dropped].max()) if len(dropped) else 0
        mg = ([*keys[kept], alg.MG_ERR_KEY], [*counts[kept], err])
        base = alg.from_values(p, True, True, {"mgh": [mg]})
        col = EventCol(pa.array(b), numeric=True, integral=True, ts=np.zeros(len(b), np.int64))
        ir = alg.merge(p, base, alg.reduce(p, col, np.zeros(1, np.int64), np.full(1, len(b))))
        got = alg.finalize(p, ir)[0]
        assert got and alg.MG_ERR_KEY not in got and len(got) <= 2
        true = dict(zip(*np.unique(np.concatenate([a, b]).astype(str), return_counts=True)))
        for key, est in got.items():
            assert est <= true[key] <= est + err, (key, est, true[key], err)


def test_every_kernel_op_has_algebra():
    """Every op a kernel accepts has an IR in the registry, and every
    state has a merge kind: an op added without its algebra fails here."""
    from chronon_spark.operators.mutations import DELETABLE
    from chronon_spark.operators.temporal import _BASELINE_OPS
    from chronon_spark.operators.tiled import TILEABLE
    from chronon_spark.operators.upload import UPLOADABLE

    for ops in (UPLOADABLE, TILEABLE, DELETABLE, _BASELINE_OPS):
        assert ops <= alg.STATES.keys(), ops - alg.STATES.keys()
    assert set(Operation) == alg.STATES.keys()
    assert {st for sts in alg.STATES.values() for st in sts} == alg.STATE_KIND.keys()
