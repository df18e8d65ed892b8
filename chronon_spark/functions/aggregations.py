"""Aggregation operations as composable Spark SQL expression builders.

The reference implements every operation as a SimpleAggregator[Input, IR,
Output] with prepare/update/merge/finalize (aggregator/base/
BaseAggregator.scala; SimpleAggregators.scala; TimedAggregators.scala).
We re-express the same contract as **columnar** Spark expressions so the
whole plan stays inside Catalyst/WholeStageCodegen:

- ``direct``:   whole-group aggregate expression (used for unbounded
                windows and within-group temporal finalization).
- ``ir``:       per-(key, day) partial-aggregate expression — the IR is a
                plain Spark column (scalar, struct, array or map) instead
                of the reference's mutable Array[Any]
                (aggregator/row/RowAggregator.scala:27-76).
- ``merge``:    associative merge of IRs over a day-range window frame
                (the analogue of SimpleAggregator.merge, run by Spark's
                window-aggregate machinery instead of a hand-rolled loop).
- ``finalize``: IR → output column.

Null contract matches the reference: null inputs never update the IR
(aggregator/row/ColumnAggregator.scala update guards), and a window with
no events finalizes to null (RowAggregator IR slots start null).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F

from chronon_spark.api.types import AggregationPart, Operation
from chronon_spark.functions.op_algebra import MG_ERR_KEY

# epoch-millis ts column name used inside event frames
TS = "ts"


def _nn(input_expr: str, payload: str) -> str:
    """Wrap payload so null inputs are skipped (update-guard semantics)."""
    return f"CASE WHEN ({input_expr}) IS NOT NULL THEN {payload} END"


def _ts_struct(inp: str) -> str:
    """(ts, value) TimeTuple struct — struct ordering gives min/max-by-ts
    (TimedAggregators.scala:74-112)."""
    return f"named_struct('t', {TS}, 'v', {inp})"


@dataclass
class OpSpec:
    """Expression builders for one operation.

    Each builder takes the *input expression string* (usually a column
    name) and returns a Spark Column / SQL string. ``merge`` builds the
    windowed merge given the IR column name; callers apply ``.over(w)``
    themselves where needed.
    """

    # whole-group aggregate: (input_expr, part) -> Column
    direct: Callable[[str, AggregationPart], Column]
    # per-day partial: (input_expr, part) -> Column
    ir: Callable[[str, AggregationPart], Column]
    # merge-over-frame SQL: (ir_col, part) -> SQL string using window
    # aggregate functions (caller wraps with OVER via F.expr(...).over(w)
    # is not possible for expr strings; we return Column-producing fns)
    merge: Callable[[str, AggregationPart], "WindowMerge"]
    # finalize: (ir_col, part) -> Column
    finalize: Callable[[str, AggregationPart], Column]


@dataclass
class WindowMerge:
    """A merge = window-aggregate column factory: fn(WindowSpec) -> Column."""

    fn: Callable[[object], Column]

    def over(self, w) -> Column:
        return self.fn(w)


def _wm(fn: Callable[[object], Column]) -> WindowMerge:
    return WindowMerge(fn)


# ---------------------------------------------------------------- helpers

def _percentiles(part: AggregationPart) -> list[float]:
    return list(part.arg_map.get("percentiles", [0.5]))


def _k(part: AggregationPart) -> int:
    return int(part.arg_map.get("k", 1))


def _interp_percentile(sorted_arr: str, p: float) -> str:
    """Linear-interpolated percentile over a sorted array — same definition
    as numpy/np.percentile, Spark's exact `percentile`, DuckDB
    quantile_cont. The reference returns KLL-sketch approximations
    (SimpleAggregators.scala:762-802); parity tests use allclose so the
    exact value is an acceptable (stronger) stand-in; a sketch path can
    swap in per-hop KLL merges later."""
    n = f"size({sorted_arr})"
    idx = f"({p} * ({n} - 1))"
    lo = f"CAST(floor({idx}) AS INT)"
    hi = f"CAST(ceil({idx}) AS INT)"
    frac = f"({idx} - floor({idx}))"
    return (
        f"CASE WHEN {n} > 0 THEN "
        f"element_at({sorted_arr}, {lo} + 1) * (1.0 - {frac}) + "
        f"element_at({sorted_arr}, {hi} + 1) * {frac} END"
    )


def _moments_finalize(ir: str, op: Operation) -> Column:
    """Finalize (n, s1..s4) power sums.

    Matches the reference's moment finalizers (SimpleAggregators.scala:
    872-983): variance = m2 (population), skew = m3/m2^1.5 with NaN when
    n<3 or m2==0, kurtosis (excess) = m4/m2^2 - 3 with NaN when n<4.
    """
    n = f"{ir}.n"
    m1 = f"({ir}.s1 / {n})"
    m2 = f"({ir}.s2 / {n} - {m1} * {m1})"
    m3 = f"({ir}.s3 / {n} - 3 * {m1} * {ir}.s2 / {n} + 2 * {m1} * {m1} * {m1})"
    m4 = (
        f"({ir}.s4 / {n} - 4 * {m1} * {ir}.s3 / {n}"
        f" + 6 * {m1} * {m1} * {ir}.s2 / {n} - 3 * {m1} * {m1} * {m1} * {m1})"
    )
    if op is Operation.VARIANCE:
        body = f"CASE WHEN {n} >= 1 THEN greatest({m2}, 0.0D) END"
    elif op is Operation.SKEW:
        body = (
            f"CASE WHEN {n} < 3 OR {m2} <= 0 THEN CAST('NaN' AS DOUBLE) "
            f"ELSE {m3} / power({m2}, 1.5) END"
        )
    else:  # KURTOSIS
        body = (
            f"CASE WHEN {n} < 4 OR {m2} <= 0 THEN CAST('NaN' AS DOUBLE) "
            f"ELSE {m4} / ({m2} * {m2}) - 3.0 END"
        )
    return F.expr(f"CASE WHEN {ir} IS NOT NULL AND {n} > 0 THEN {body} END")


def _moments_ir(inp: str) -> Column:
    x = f"CAST({inp} AS DOUBLE)"
    return F.expr(
        f"named_struct("
        f"'n',  count({inp}), "
        f"'s1', sum({x}), "
        f"'s2', sum({x} * {x}), "
        f"'s3', sum({x} * {x} * {x}), "
        f"'s4', sum({x} * {x} * {x} * {x}))"
    )


def _moments_merge(ir: str) -> WindowMerge:
    def fn(w):
        return F.struct(
            F.sum(F.col(f"{ir}.n")).over(w).alias("n"),
            F.sum(F.col(f"{ir}.s1")).over(w).alias("s1"),
            F.sum(F.col(f"{ir}.s2")).over(w).alias("s2"),
            F.sum(F.col(f"{ir}.s3")).over(w).alias("s3"),
            F.sum(F.col(f"{ir}.s4")).over(w).alias("s4"),
        )

    return _wm(fn)


def _moments_direct(inp: str, op: Operation) -> Column:
    x = f"CAST({inp} AS DOUBLE)"
    n = f"count({inp})"
    m1 = f"(sum({x}) / {n})"
    m2 = f"(sum({x}*{x}) / {n} - {m1}*{m1})"
    m3 = f"(sum({x}*{x}*{x}) / {n} - 3*{m1}*sum({x}*{x})/{n} + 2*{m1}*{m1}*{m1})"
    m4 = (
        f"(sum({x}*{x}*{x}*{x}) / {n} - 4*{m1}*sum({x}*{x}*{x})/{n}"
        f" + 6*{m1}*{m1}*sum({x}*{x})/{n} - 3*{m1}*{m1}*{m1}*{m1})"
    )
    if op is Operation.VARIANCE:
        body = f"greatest({m2}, 0.0D)"
    elif op is Operation.SKEW:
        body = f"CASE WHEN {n} < 3 OR {m2} <= 0 THEN CAST('NaN' AS DOUBLE) ELSE {m3} / power({m2}, 1.5) END"
    else:
        body = f"CASE WHEN {n} < 4 OR {m2} <= 0 THEN CAST('NaN' AS DOUBLE) ELSE {m4} / ({m2}*{m2}) - 3.0 END"
    return F.expr(f"CASE WHEN {n} > 0 THEN {body} END")


def _let_sql(value_expr: str, var: str, body: str) -> str:
    """SQL let-binding via a 1-element transform: evaluates ``value_expr``
    ONCE and binds it as lambda variable ``var`` inside ``body``. Needed
    because expressions referenced inside higher-order-function lambdas are
    re-evaluated per element (no CSE inside lambda bodies) — e.g. an
    element_at(sort_array(...), i) inside transform would re-sort per
    element."""
    return f"element_at(transform(array({value_expr}), {var} -> {body}), 1)"


def _rle_count_entries(sorted_lst: str) -> str:
    """Run-length count entries over a SORTED array: one O(n) pass instead
    of a size(filter(...)) scan per distinct value (which is
    O(distinct × n) — quadratic on high-cardinality columns). Boundary
    positions (1-based) where the value changes close a run; run length =
    boundary − previous boundary. The sorted array and the boundary array
    are let-bound so they are computed once, not per element."""
    # empty-array guard: sequence(1, 0) DESCENDS in Spark ([1, 0]), so an
    # unguarded sequence over an empty array probes element_at(…, 1) and
    # throws — an all-null group (empty collect_list) must yield [] instead
    ends = (
        "filter(transform(CASE WHEN size(__lst) = 0 THEN array() "
        "ELSE sequence(1, size(__lst)) END, i -> "
        "CASE WHEN i = size(__lst) OR element_at(__lst, i) != element_at(__lst, i + 1) "
        "THEN i END), x -> x IS NOT NULL)"
    )
    entries = (
        "transform(CASE WHEN size(__ends) = 0 THEN array() "
        "ELSE sequence(1, size(__ends)) END, j -> named_struct("
        "'key', element_at(__lst, element_at(__ends, j)), "
        "'value', CAST(element_at(__ends, j) - "
        "CASE WHEN j = 1 THEN 0 ELSE element_at(__ends, j - 1) END AS BIGINT)))"
    )
    return _let_sql(sorted_lst, "__lst", _let_sql(ends, "__ends", entries))


def _topk_entries(entries: str, k: int) -> str:
    """Top-k entries by (count desc, key asc) — the reference's histogram
    truncation order (SimpleAggregators.scala:250-322)."""
    return (
        f"slice(array_sort({entries}, (a, b) -> CASE WHEN a.value > b.value THEN -1 "
        f"WHEN a.value < b.value THEN 1 WHEN a.key < b.key THEN -1 ELSE 1 END), 1, {k})"
    )


def _hist_finalize(list_col: str, part: AggregationPart) -> Column:
    """Build Map[String, Long] counts from a collected string array via
    a sorted run-length pass (no UDF). Optional top-k truncation at
    finalize (SimpleAggregators.scala:250-322)."""
    entries = _rle_count_entries(f"array_sort({list_col})")
    k = part.arg_map.get("k")
    if k:
        entries = _topk_entries(entries, int(k))
    return F.expr(
        f"CASE WHEN {list_col} IS NOT NULL AND size({list_col}) > 0 "
        f"THEN map_from_entries({entries}) END"
    )


# ---------------------------------------------------------------- specs


def _collect_merge(ir: str) -> WindowMerge:
    return _wm(lambda w: F.flatten(F.collect_list(ir).over(w)))


def _sorted_struct_list(inp: str, asc: bool, limit: int | None, by_value: bool) -> str:
    """collect (ts,value) structs (or plain values) sorted, optionally k-limited.

    collect_list skips nulls natively — matching the null-update guard."""
    if by_value:
        body = f"array_sort(collect_list({inp}))"
    else:
        body = f"array_sort(collect_list({_nn(inp, _ts_struct(inp))}))"
    if not asc:
        body = f"reverse({body})"
    if limit is not None:
        body = f"slice({body}, 1, {limit})"
    return body


def spec_for(op: Operation) -> OpSpec:
    return OP_SPECS[op]


OP_SPECS: dict[Operation, OpSpec] = {}


def _register(op: Operation, direct, ir, merge, finalize):
    OP_SPECS[op] = OpSpec(direct=direct, ir=ir, merge=merge, finalize=finalize)


_register(
    Operation.COUNT,
    # zero-count finalizes to NULL: the reference's IR is never created
    # when no non-null input arrives (ColumnAggregator update guard), so
    # COUNT over an empty/all-null window is null, not 0 — matching this
    # engine's temporal kernel (cross-path parity caught by the snapshot
    # property fuzz)
    direct=lambda inp, p: F.expr(f"nullif(count({inp}), 0)"),
    ir=lambda inp, p: F.expr(f"count({inp})"),
    merge=lambda ir, p: _wm(lambda w: F.sum(ir).over(w)),
    finalize=lambda ir, p: F.expr(f"CASE WHEN {ir} > 0 THEN {ir} END"),
)

_register(
    Operation.SUM,
    direct=lambda inp, p: F.expr(f"sum({inp})"),
    ir=lambda inp, p: F.expr(f"sum({inp})"),
    merge=lambda ir, p: _wm(lambda w: F.sum(ir).over(w)),
    finalize=lambda ir, p: F.col(ir),
)

_register(
    Operation.MIN,
    direct=lambda inp, p: F.expr(f"min({inp})"),
    ir=lambda inp, p: F.expr(f"min({inp})"),
    merge=lambda ir, p: _wm(lambda w: F.min(ir).over(w)),
    finalize=lambda ir, p: F.col(ir),
)

_register(
    Operation.MAX,
    direct=lambda inp, p: F.expr(f"max({inp})"),
    ir=lambda inp, p: F.expr(f"max({inp})"),
    merge=lambda ir, p: _wm(lambda w: F.max(ir).over(w)),
    finalize=lambda ir, p: F.col(ir),
)

_register(
    Operation.AVERAGE,
    direct=lambda inp, p: F.expr(f"avg(CAST({inp} AS DOUBLE))"),
    ir=lambda inp, p: F.expr(
        f"named_struct('s', sum(CAST({inp} AS DOUBLE)), 'c', count({inp}))"
    ),
    merge=lambda ir, p: _wm(
        lambda w: F.struct(
            F.sum(F.col(f"{ir}.s")).over(w).alias("s"),
            F.sum(F.col(f"{ir}.c")).over(w).alias("c"),
        )
    ),
    finalize=lambda ir, p: F.expr(f"CASE WHEN {ir}.c > 0 THEN {ir}.s / {ir}.c END"),
)

for _op in (Operation.VARIANCE, Operation.SKEW, Operation.KURTOSIS):
    _register(
        _op,
        direct=lambda inp, p, _o=_op: _moments_direct(inp, _o),
        ir=lambda inp, p: _moments_ir(inp),
        merge=lambda ir, p: _moments_merge(ir),
        finalize=lambda ir, p, _o=_op: _moments_finalize(ir, _o),
    )

_register(
    Operation.UNIQUE_COUNT,
    direct=lambda inp, p: F.expr(f"count(DISTINCT {inp})"),
    ir=lambda inp, p: F.expr(f"collect_set({inp})"),
    merge=lambda ir, p: _wm(lambda w: F.array_distinct(F.flatten(F.collect_list(ir).over(w)))),
    finalize=lambda ir, p: F.expr(f"CASE WHEN size({ir}) > 0 THEN size({ir}) END"),
)

_register(
    Operation.APPROX_UNIQUE_COUNT,
    # reference: CPC sketch lgK=8 (SimpleAggregators.scala:716-760); Spark
    # native is HLL++ — same allclose-tolerance contract as reference tests
    # (GroupByTest.scala:127-130 treat approx == exact on low cardinality).
    direct=lambda inp, p: F.expr(f"approx_count_distinct({inp})"),
    ir=lambda inp, p: F.expr(f"hll_sketch_agg({inp})"),
    merge=lambda ir, p: _wm(lambda w: F.expr(f"hll_union_agg({ir})").over(w)),
    finalize=lambda ir, p: F.expr(f"CASE WHEN {ir} IS NOT NULL THEN hll_sketch_estimate({ir}) END"),
)

_register(
    Operation.BOUNDED_UNIQUE_COUNT,
    # reference caps the set at k (SimpleAggregators.scala:603-708);
    # finalized value == least(exact_distinct, k)
    direct=lambda inp, p: F.expr(f"least(count(DISTINCT {inp}), {_k(p)})"),
    ir=lambda inp, p: F.expr(f"collect_set({inp})"),
    merge=lambda ir, p: _wm(lambda w: F.array_distinct(F.flatten(F.collect_list(ir).over(w)))),
    finalize=lambda ir, p: F.expr(f"CASE WHEN size({ir}) > 0 THEN least(size({ir}), {_k(p)}) END"),
)

def _pct_samples(part: AggregationPart) -> int:
    """Per-day quantile-sample budget (reference KLL k=128 default,
    SimpleAggregators.scala:762-802; override via argMap['accuracy'])."""
    return int(part.arg_map.get("accuracy", 128))


def equirank_sample_struct(lst: str, s: int) -> str:
    """(n, q) equi-rank sample struct over a sorted-array expression ``lst``
    with budget ``s`` — let-bound so the sorted array is built once, not
    once per sampled element. Shared with the tiled kernel's tile IRs."""
    sampled = (
        f"CASE WHEN size(__lst) <= {s} THEN __lst "
        f"ELSE transform(sequence(0, {s} - 1), "
        f"i -> element_at(__lst, CAST(floor(i * (size(__lst) - 1) / ({s} - 1)) AS INT) + 1)) END"
    )
    body = (
        f"CASE WHEN size(__lst) > 0 THEN "
        f"named_struct('n', CAST(size(__lst) AS BIGINT), 'q', {sampled}) END"
    )
    return _let_sql(lst, "__lst", body)


def _pct_ir(inp: str, part: AggregationPart) -> Column:
    """Compact mergeable day IR: (count, ≤S equi-rank samples). Days with
    ≤S values keep every value — the merge is then EXACT (numpy-identical
    interpolation); busier days degrade gracefully to a quantile sketch,
    which is the reference's own contract for APPROX_PERCENTILE."""
    s = _pct_samples(part)
    lst = f"sort_array(collect_list(CAST({inp} AS DOUBLE)))"
    return F.expr(equirank_sample_struct(lst, s))


def _pct_merge(ir: str) -> WindowMerge:
    """Merge day IRs over the window frame into (sorted weighted samples,
    total weight) — O(window_days × S) per output row instead of
    re-materializing every raw value (the r1 flatten(collect_list) path)."""

    def fn(w):
        irs = F.collect_list(ir).over(w)
        samples = F.flatten(
            F.transform(
                irs,
                lambda r: F.transform(
                    r["q"],
                    lambda v: F.struct(
                        v.alias("v"), (r["n"].cast("double") / F.size(r["q"])).alias("w")
                    ),
                ),
            )
        )
        samples = F.array_sort(samples)
        total = F.aggregate(samples, F.lit(0.0), lambda a, s: a + s["w"])
        return F.struct(samples.alias("smp"), total.alias("tot"))

    return _wm(fn)


def _pct_scan(ir: str, p_val: float) -> str:
    """Weighted linear-interpolated percentile over sorted (v, w) samples:
    position x = p·(Σw − 1); with unit weights this is exactly numpy's
    linear interpolation. Single aggregate() scan, no UDF."""
    x = f"({p_val} * ({ir}.tot - 1.0D))"
    return (
        f"aggregate({ir}.smp, "
        f"named_struct('cum', 0.0D, 'ppos', CAST(NULL AS DOUBLE), "
        f"'pv', CAST(NULL AS DOUBLE), 'res', CAST(NULL AS DOUBLE)), "
        f"(acc, s) -> named_struct("
        f"'cum', acc.cum + s.w, "
        f"'ppos', acc.cum + s.w - 1.0D, "
        f"'pv', s.v, "
        f"'res', CASE WHEN acc.res IS NOT NULL THEN acc.res "
        f"WHEN acc.cum + s.w - 1.0D >= {x} THEN "
        f"CASE WHEN acc.pv IS NULL OR acc.cum + s.w - 1.0D <= acc.ppos THEN s.v "
        f"ELSE acc.pv + (s.v - acc.pv) * ({x} - acc.ppos) / (acc.cum + s.w - 1.0D - acc.ppos) END "
        f"END), "
        f"acc -> coalesce(acc.res, acc.pv))"
    )


def _pct_direct(inp: str, p: AggregationPart) -> Column:
    """Unwindowed/direct APPROX_PERCENTILE — bounded-memory by default.

    Default is Spark's ``percentile_approx`` (Greenwald-Khanna summary,
    O(accuracy) aggregation buffer per group): the reference's own
    contract for this op is a KLL sketch (SimpleAggregators.scala:762-802),
    i.e. approximate with bounded memory — exact ``percentile`` buffers
    every group value and is a scale-killer on large groups.
    ``arg_map={'exact': True}`` keeps the exact interpolated percentile as
    a test/oracle mode (matches numpy/DuckDB quantile_cont);
    ``arg_map['sql_accuracy']`` tunes the GK error (1/accuracy rank error).
    """
    ps = ", ".join(str(x) for x in _percentiles(p))
    if p.arg_map.get("exact"):
        return F.expr(f"percentile({inp}, array({ps}))")
    acc = int(p.arg_map.get("sql_accuracy", 10000))
    return F.expr(f"CAST(percentile_approx({inp}, array({ps}), {acc}) AS array<double>)")


_register(
    Operation.APPROX_PERCENTILE,
    direct=_pct_direct,
    ir=_pct_ir,
    merge=lambda ir, p: _pct_merge(ir),
    finalize=lambda ir, p: F.expr(
        "CASE WHEN size({ir}.smp) > 0 THEN array({exprs}) END".format(
            ir=ir, exprs=", ".join(_pct_scan(ir, q) for q in _percentiles(p))
        )
    ),
)


def _hist_ir(inp: str) -> Column:
    """Day IR = Map[value → count] (matches the reference's Histogram IR,
    SimpleAggregators.scala:250-322) instead of the raw value list — the
    window merge then moves O(distinct/day), not O(events/day). Built by
    one sorted run-length pass: O(n log n) per key-day, never
    O(distinct × n)."""
    lst = f"sort_array(collect_list({inp}))"
    return F.expr(
        f"CASE WHEN size({lst}) > 0 THEN map_from_entries({_rle_count_entries(lst)}) END"
    )


def _let(value: Column, body) -> Column:
    """Column-level let-binding (see _let_sql): evaluate ``value`` once,
    bind it as a lambda variable inside ``body``."""
    return F.element_at(F.transform(F.array(value), body), 1)


def _hist_map_merge(ir: str) -> WindowMerge:
    """Merge day count-maps over the window frame: flatten entries, sort by
    key, sum each key-run — O(E log E) in total entries E per output row
    (the prior per-distinct re-filter was O(distinct²)). Intermediate
    arrays are let-bound so nothing is re-evaluated per element."""

    def fn(w):
        ents0 = F.array_sort(
            F.flatten(F.transform(F.collect_list(ir).over(w), lambda m: F.map_entries(m)))
        )

        def with_ents(ents):
            n = F.size(ents)
            ends0 = F.filter(
                F.transform(
                    ents,
                    lambda e, i: F.when(
                        (i == n - 1) | (e["key"] != F.element_at(ents, i + 2)["key"]), i + 1
                    ),
                ),
                lambda x: x.isNotNull(),
            )

            def with_ends(ends):
                merged = F.transform(
                    ends,
                    lambda endpos, j: F.struct(
                        F.element_at(ents, endpos)["key"].alias("key"),
                        F.aggregate(
                            F.slice(
                                ents,
                                F.when(j == 0, F.lit(1)).otherwise(
                                    F.element_at(ends, j) + 1
                                ),
                                endpos
                                - F.when(j == 0, F.lit(0)).otherwise(F.element_at(ends, j)),
                            ),
                            F.lit(0).cast("long"),
                            lambda a, e: a + e["value"],
                        ).alias("value"),
                    ),
                )
                return F.map_from_entries(merged)

            return _let(ends0, with_ends)

        return _let(ents0, with_ents)

    return _wm(fn)


def _hist_map_finalize(ir: str, part: AggregationPart) -> Column:
    entries = f"map_entries({ir})"
    k = part.arg_map.get("k")
    if k:
        entries = (
            f"slice(array_sort({entries}, (a, b) -> CASE WHEN a.value > b.value THEN -1 "
            f"WHEN a.value < b.value THEN 1 WHEN a.key < b.key THEN -1 ELSE 1 END), 1, {int(k)})"
        )
    return F.expr(
        f"CASE WHEN {ir} IS NOT NULL AND size({ir}) > 0 THEN map_from_entries({entries}) END"
    )


_register(
    Operation.HISTOGRAM,
    # keys stringified on EVERY path (Map[String, Long] — the reference's
    # Histogram IR and this engine's temporal/tiled/mutations paths;
    # cross-accuracy schema parity caught by the snapshot property fuzz)
    direct=lambda inp, p: F.expr(f"collect_list(CAST({inp} AS STRING))"),
    ir=lambda inp, p: _hist_ir(f"CAST({inp} AS STRING)"),
    merge=lambda ir, p: _hist_map_merge(ir),
    finalize=lambda ir, p: _hist_map_finalize(ir, p),
)


# Sentinel map key carrying the Misra-Gries truncation error inside
# APPROX_HISTOGRAM_K day IRs. chr(0) prefix: sorts before (and cannot be
# produced by) any printable stringified value. op_algebra.MG_ERR_KEY
# spelled in SQL, where a string literal cannot hold chr(0).
_MG_ERR_KEY_SQL = f"concat(chr(0), '{MG_ERR_KEY[1:]}')"


def _hist_ir_capped(inp: str, part: AggregationPart) -> Column:
    """Space-saving day IR for APPROX_HISTOGRAM_K: keep the top 8k entries
    by (count desc, key asc) per day — the deterministic analogue of the
    reference's ItemsSketch frequent-items IR
    (SimpleAggregators.scala:459-601) — WITH the sketch's error guarantee:
    when a day truncates, a sentinel entry records the largest dropped
    count. The ordinary entry-sum window merge accumulates the sentinel
    across days, so for every retained key the merged result satisfies
    est ≤ true ≤ est + error_bound (mergeable Misra-Gries; Agarwal et al.,
    "Mergeable Summaries", PODS'12). Exact (bound 0) whenever every day
    holds ≤ 8k distinct values. Keys stringified — Map[String, Long],
    matching ItemsSketch<String> and this engine's temporal/tiled paths."""
    cap = 8 * int(part.arg_map.get("k", 8))
    lst = f"sort_array(collect_list(CAST({inp} AS STRING)))"
    ranked = (
        f"array_sort({_rle_count_entries(lst)}, (a, b) -> CASE WHEN a.value > b.value THEN -1 "
        f"WHEN a.value < b.value THEN 1 WHEN a.key < b.key THEN -1 ELSE 1 END)"
    )
    body = (
        f"CASE WHEN size(__rk) = 0 THEN NULL "
        f"WHEN size(__rk) > {cap} THEN map_from_entries(concat(slice(__rk, 1, {cap}), "
        f"array(named_struct('key', {_MG_ERR_KEY_SQL}, "
        f"'value', element_at(__rk, {cap} + 1).value)))) "
        f"ELSE map_from_entries(__rk) END"
    )
    return F.expr(_let_sql(ranked, "__rk", body))


def approx_histogram_error_bound(ir: str) -> Column:
    """Frequency error bound of a merged APPROX_HISTOGRAM_K IR: for every
    key in the finalized map, est ≤ true_count ≤ est + bound (the
    ItemsSketch getUpperBound/getLowerBound contract). 0 when no day
    truncated."""
    return F.expr(f"coalesce(try_element_at({ir}, {_MG_ERR_KEY_SQL}), 0L)")


def _hist_map_finalize_capped(ir: str, part: AggregationPart) -> Column:
    """APPROX finalize: strip the error sentinel, then standard top-k."""
    clean = f"map_filter({ir}, (k, v) -> k != {_MG_ERR_KEY_SQL})"
    return _hist_map_finalize(clean, part)


_register(
    Operation.APPROX_HISTOGRAM_K,
    direct=lambda inp, p: F.expr(f"collect_list(CAST({inp} AS STRING))"),  # finalized via direct_finalize
    ir=_hist_ir_capped,
    merge=lambda ir, p: _hist_map_merge(ir),
    finalize=lambda ir, p: _hist_map_finalize_capped(ir, p),
)

_register(
    Operation.FIRST,
    direct=lambda inp, p: F.expr(f"min({_nn(inp, _ts_struct(inp))})"),
    ir=lambda inp, p: F.expr(f"min({_nn(inp, _ts_struct(inp))})"),
    merge=lambda ir, p: _wm(lambda w: F.min(ir).over(w)),
    finalize=lambda ir, p: F.expr(f"{ir}.v"),
)

_register(
    Operation.LAST,
    direct=lambda inp, p: F.expr(f"max({_nn(inp, _ts_struct(inp))})"),
    ir=lambda inp, p: F.expr(f"max({_nn(inp, _ts_struct(inp))})"),
    merge=lambda ir, p: _wm(lambda w: F.max(ir).over(w)),
    finalize=lambda ir, p: F.expr(f"{ir}.v"),
)

_register(
    Operation.FIRST_K,
    direct=lambda inp, p: F.expr(_sorted_struct_list(inp, asc=True, limit=_k(p), by_value=False)),
    ir=lambda inp, p: F.expr(_sorted_struct_list(inp, asc=True, limit=_k(p), by_value=False)),
    merge=lambda ir, p: _wm(
        lambda w: F.slice(F.array_sort(F.flatten(F.collect_list(ir).over(w))), 1, _k(p))
    ),
    finalize=lambda ir, p: F.expr(
        f"CASE WHEN size({ir}) > 0 THEN transform({ir}, x -> x.v) END"
    ),
)

_register(
    Operation.LAST_K,
    direct=lambda inp, p: F.expr(_sorted_struct_list(inp, asc=False, limit=_k(p), by_value=False)),
    ir=lambda inp, p: F.expr(_sorted_struct_list(inp, asc=False, limit=_k(p), by_value=False)),
    merge=lambda ir, p: _wm(
        lambda w: F.slice(F.reverse(F.array_sort(F.flatten(F.collect_list(ir).over(w)))), 1, _k(p))
    ),
    finalize=lambda ir, p: F.expr(
        f"CASE WHEN size({ir}) > 0 THEN transform({ir}, x -> x.v) END"
    ),
)

_register(
    Operation.TOP_K,
    direct=lambda inp, p: F.expr(_sorted_struct_list(inp, asc=False, limit=_k(p), by_value=True)),
    ir=lambda inp, p: F.expr(_sorted_struct_list(inp, asc=False, limit=_k(p), by_value=True)),
    merge=lambda ir, p: _wm(
        lambda w: F.slice(F.reverse(F.array_sort(F.flatten(F.collect_list(ir).over(w)))), 1, _k(p))
    ),
    finalize=lambda ir, p: F.expr(f"CASE WHEN size({ir}) > 0 THEN {ir} END"),
)

_register(
    Operation.BOTTOM_K,
    direct=lambda inp, p: F.expr(_sorted_struct_list(inp, asc=True, limit=_k(p), by_value=True)),
    ir=lambda inp, p: F.expr(_sorted_struct_list(inp, asc=True, limit=_k(p), by_value=True)),
    merge=lambda ir, p: _wm(
        lambda w: F.slice(F.array_sort(F.flatten(F.collect_list(ir).over(w))), 1, _k(p))
    ),
    finalize=lambda ir, p: F.expr(f"CASE WHEN size({ir}) > 0 THEN {ir} END"),
)


# Direct-path ops whose group-aggregate result still needs a finalize step
DIRECT_NEEDS_FINALIZE = {
    Operation.HISTOGRAM: lambda col, p: _hist_finalize(col, p),
    Operation.APPROX_HISTOGRAM_K: lambda col, p: _hist_finalize(col, p),
    Operation.FIRST: lambda col, p: F.expr(f"{col}.v"),
    Operation.LAST: lambda col, p: F.expr(f"{col}.v"),
    Operation.FIRST_K: lambda col, p: F.expr(f"CASE WHEN size({col}) > 0 THEN transform({col}, x -> x.v) END"),
    Operation.LAST_K: lambda col, p: F.expr(f"CASE WHEN size({col}) > 0 THEN transform({col}, x -> x.v) END"),
    Operation.TOP_K: lambda col, p: F.expr(f"CASE WHEN size({col}) > 0 THEN {col} END"),
    Operation.BOTTOM_K: lambda col, p: F.expr(f"CASE WHEN size({col}) > 0 THEN {col} END"),
}
