"""Determinism / invariance properties:

- partitioning invariance: identical results regardless of input layout
  and shuffle width (the sandbox proxy for cluster-size invariance)
- step-days invariance: one-shot backfill == many small stepped runs
- hypothesis property test: the pure Arrow kernel vs the naive oracle on
  adversarial random streams (no Spark in the loop)
"""

import random
import zlib

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql import types as T

from chronon_spark.api.types import (
    Accuracy,
    Aggregation,
    EventSource,
    GroupBy,
    Operation,
    Query,
    TimeUnit,
    Window,
)
from chronon_spark.operators.temporal import (
    EV_PACK,
    KEY_HASH,
    SIDE,
    SIDE_BOTH,
    SIDE_EVENT,
    SIDE_QUERY,
    make_temporal_kernel,
)
from chronon_spark.pipelines.webtext import backfill_features
from chronon_spark.fixtures.webtext import generate_webtext
from chronon_spark.runner import run_group_by_backfill
from chronon_spark.sources.warehouse import Warehouse
from tests.naive_oracle import allclose_feature, naive_feature

MS_DAY = 86_400_000
T0 = 1_700_000_000_000


def _hash(df):
    cols = sorted(c for c in df.columns if not c.startswith("__"))
    h = df.select(
        F.sum(
            F.pmod(
                F.xxhash64(*[F.col(c).cast("string") for c in cols]), F.lit(1_000_000_007)
            )
        ).alias("h"),
        F.count("*").alias("n"),
    ).first()
    return (h["h"], h["n"])


def test_partitioning_invariance(spark):
    pages = generate_webtext(spark, n_rows=8_000, n_urls=200, days=30, partitions=4)
    a = backfill_features(spark, pages.repartition(3)).drop("text")
    b = backfill_features(spark, pages.repartition(17)).drop("text")
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    c = backfill_features(spark, pages.repartition(5)).drop("text")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    assert _hash(a) == _hash(b) == _hash(c)


def test_step_days_invariance(spark, tmp_path):
    rng = np.random.default_rng(41)
    n = 300
    ev = pd.DataFrame(
        {
            "user": [f"u{i}" for i in rng.integers(0, 4, n)],
            "ts": (T0 + rng.integers(0, 12 * MS_DAY, n)).astype(np.int64),
            "v": rng.integers(1, 50, n).astype(float),
        }
    )
    spark.createDataFrame(ev).withColumn(
        "ds", F.date_format(F.timestamp_millis("ts"), "yyyy-MM-dd")
    ).createOrReplaceTempView("inv_events")
    gb = GroupBy(
        name="inv_gb",
        sources=(EventSource(table="inv_events", query=Query(time_column="ts")),),
        key_columns=("user",),
        aggregations=(Aggregation("v", Operation.SUM, windows=(Window(5),)),),
    )
    wh1 = Warehouse(spark, str(tmp_path / "w1"))
    wh2 = Warehouse(spark, str(tmp_path / "w2"))
    run_group_by_backfill(spark, wh1, gb, "2023-11-18", "2023-11-26", step_days=30)
    run_group_by_backfill(spark, wh2, gb, "2023-11-18", "2023-11-26", step_days=2)
    a = sorted(tuple(r) for r in wh1.read("inv_gb").select("user", "ds", "v_sum_5d").collect())
    b = sorted(tuple(r) for r in wh2.read("inv_gb").select("user", "ds", "v_sum_5d").collect())
    assert a == b


KERNEL_GB = GroupBy(
    name="prop",
    sources=(EventSource(table="x"),),
    key_columns=("k",),
    aggregations=(
        Aggregation("v", Operation.COUNT, windows=(None, Window(1, TimeUnit.HOURS))),
        Aggregation("v", Operation.SUM, windows=(Window(4, TimeUnit.HOURS),)),
        Aggregation("v", Operation.AVERAGE, windows=(None,)),
        Aggregation("v", Operation.MIN, windows=(Window(1, TimeUnit.HOURS),)),
        Aggregation("v", Operation.MAX, windows=(None,)),
        Aggregation("v", Operation.LAST, windows=(Window(2, TimeUnit.HOURS),)),
        Aggregation("v", Operation.LAST_K, arg_map={"k": 3}, windows=(None,)),
        Aggregation("v", Operation.SUM, windows=(Window(2, TimeUnit.HOURS),), buckets=("b",)),
        Aggregation("v", Operation.VARIANCE, windows=(None, Window(2, TimeUnit.HOURS))),
        Aggregation("v", Operation.SKEW, windows=(Window(4, TimeUnit.HOURS),)),
        Aggregation("v", Operation.KURTOSIS, windows=(None,)),
        Aggregation("v", Operation.FIRST, windows=(None, Window(1, TimeUnit.HOURS))),
        Aggregation("v", Operation.FIRST_K, arg_map={"k": 2}, windows=(Window(2, TimeUnit.HOURS),)),
        Aggregation("v", Operation.TOP_K, arg_map={"k": 3}, windows=(Window(1, TimeUnit.HOURS),)),
        Aggregation("v", Operation.BOTTOM_K, arg_map={"k": 2}, windows=(None,)),
        Aggregation("v", Operation.UNIQUE_COUNT, windows=(Window(2, TimeUnit.HOURS),)),
        Aggregation("v", Operation.BOUNDED_UNIQUE_COUNT, arg_map={"k": 4}, windows=(None,)),
        Aggregation("v", Operation.HISTOGRAM, windows=(Window(1, TimeUnit.HOURS),)),
        # k ≥ the 60 events a stream can hold, so no key is truncated away
        Aggregation("v", Operation.APPROX_HISTOGRAM_K, arg_map={"k": 64}, windows=(None,)),
        # the raw kernel keeps every value: the sample budget is never hit
        Aggregation(
            "v", Operation.APPROX_PERCENTILE, arg_map={"percentiles": [0.25, 0.5, 0.9]},
            windows=(Window(4, TimeUnit.HOURS),),
        ),
        Aggregation("v", Operation.AVERAGE, windows=(None,), buckets=("b",)),
    ),
    accuracy=Accuracy.TEMPORAL,
)

EV_SCHEMA = T.StructType(
    [
        T.StructField("k", T.StringType()),
        T.StructField("ts", T.LongType()),
        T.StructField("v", T.DoubleType()),
        T.StructField("b", T.StringType()),
    ]
)

KEYS = ["a", "b", "c", None]  # events never carry the null key (null-key filtered)


def _key_hash(k, collide: bool) -> int:
    """A stand-in for the JVM's xxhash64 of the key (42 for null, its
    seed): distinct per key, or one value for every key when
    ``collide``."""
    return 42 if collide or k is None else zlib.crc32(k.encode())


def _stream_batches(queries, events, cuts, dense=False, collide=False, order=None):
    """The kernel's input as Spark hands it over: sorted by KEY_HASH alone,
    rows in ``order``'s shuffle within a hash run (by (k, ts) with events
    first among equal (k, ts), the order a running-count head gets wrong,
    when ``order`` is None), cut into Arrow batches at ``cuts``. Union
    shape: query rows and event rows. Dense shape: every event row is also
    a query; the queries add only query-only rows, those with a null key
    or ts."""
    if dense:
        rows = [(k, t, SIDE_BOTH, v, bk) for k, t, v, bk in events] + [
            (k, t, SIDE_QUERY, None, None) for k, t in queries if k is None or t is None
        ]
    else:
        rows = [(k, t, SIDE_EVENT, v, bk) for k, t, v, bk in events] + [
            (k, t, SIDE_QUERY, None, None) for k, t in queries
        ]
    rows.sort(key=lambda r: (r[0] is not None, r[0] or "", r[1] is not None, r[1] or 0))
    if order is not None:
        order.shuffle(rows)
    rows.sort(key=lambda r: _key_hash(r[0], collide))
    table = pa.table(
        {
            KEY_HASH: pa.array([_key_hash(r[0], collide) for r in rows], pa.int64()),
            "k": pa.array([r[0] for r in rows], pa.string()),
            "ts": pa.array([r[1] for r in rows], pa.int64()),
            SIDE: pa.array([r[2] for r in rows], pa.int8()),
            EV_PACK: pa.StructArray.from_arrays(
                [
                    pa.array([r[3] for r in rows], pa.float64()),
                    pa.array([r[4] for r in rows], pa.string()),
                ],
                names=["v", "b"],
                mask=pa.array([r[2] == SIDE_QUERY for r in rows], pa.bool_()),
            ),
        }
    )
    bounds = [0] + sorted({c % (len(rows) + 1) for c in cuts}) + [len(rows)]
    return [table.slice(a, b - a).to_batches()[0] for a, b in zip(bounds, bounds[1:]) if b > a]


def _times(hours):
    """Offsets from T0 over ``hours``: a 5-min grid (exact-ts ties, and
    window starts that land on hop boundaries) mixed with arbitrary
    milliseconds (events inside the sawtooth gap between a window's
    hop-floored start and ``qt - w``)."""
    grid = st.integers(0, hours * 12).map(lambda m: m * 300_000)
    return st.one_of(grid, st.integers(0, hours * 3_600_000))


@settings(max_examples=200, deadline=None)
# the sawtooth gap, pinned: qt − 1h lies 60 s past a hop boundary
# (T0 ≡ 200,000 mod 5 min), and the event sits between that boundary and
# qt − 1h — inside the 1h/2h/4h windows, outside a plain sliding window
@example(
    events=[(0, 150_000, 1, "x")], queries=[(0, 3_760_000)], cuts=[], dense=False,
    collide=False, order=None,
)
# an exact-ts tie of two rows that are query and event at once: neither
# may see the other
@example(
    events=[(0, 0, 1, "x"), (0, 0, 2, "y")], queries=[(3, 0)], cuts=[], dense=True,
    collide=False, order=None,
)
# one hash run holding three keys and the null key, exact-ts ties across
# keys, rows shuffled within the run and cut across batches: segments
# must follow the keys, not the hash
@example(
    events=[(0, 0, 1, "x"), (1, 0, 2, "y"), (2, 0, 3, None), (0, 300_000, 4, "y"),
            (1, 300_000, None, "x"), (2, 600_000, 5, "x")],
    queries=[(0, 300_000), (1, 600_000), (2, 0), (3, 300_000), (1, None)],
    cuts=[2, 5, 9], dense=False, collide=True, order=random.Random(3),
)
@given(
    events=st.lists(
        st.tuples(
            st.integers(0, 2),
            _times(6),
            st.one_of(st.none(), st.integers(0, 100)),
            st.sampled_from(["x", "y", None]),
        ),
        max_size=60,
    ),
    queries=st.lists(
        st.tuples(
            st.integers(0, 3),
            st.one_of(st.none(), _times(7)),
        ),
        min_size=1,
        max_size=30,
    ),
    cuts=st.lists(st.integers(0, 200), max_size=6),
    dense=st.booleans(),
    collide=st.booleans(),
    order=st.randoms(use_true_random=False),
)
def test_kernel_property(events, queries, cuts, dense, collide, order):
    """Pure-kernel property test, no Spark: the stream kernel fed
    arbitrary Arrow batch cuts (hash runs straddle batches) over several
    keys, a null key, null-ts queries, exact-ts ties, off-grid times and
    null values, in both stream shapes, with rows in any order within a
    key hash run, and with one hash shared by every key (a collision) —
    every query row equals the naive oracle."""
    ev = [(KEYS[k], T0 + t, None if v is None else float(v), bk) for k, t, v, bk in events]
    qs = [(KEYS[k], None if t is None else T0 + t) for k, t in queries]
    batches = _stream_batches(qs, ev, cuts, dense, collide, order)
    if dense:
        qs = [e[:2] for e in ev] + [q for q in qs if q[0] is None or q[1] is None]
    kernel = make_temporal_kernel(KERNEL_GB, EV_SCHEMA, ["k", "ts"])
    out = [r for b in kernel(iter(batches)) for r in b.to_pylist()]
    assert sorted(((r["k"] or ""), r["ts"] or 0) for r in out) == sorted(
        ((k or ""), t or 0) for k, t in qs
    )
    for row in out:
        mine = sorted((e for e in ev if e[0] == row["k"]), key=lambda e: e[1])
        ets = np.array([e[1] for e in mine], dtype=np.int64)
        evs = np.array([e[2] for e in mine], dtype=object)
        bks = np.array([e[3] for e in mine], dtype=object)
        for p in KERNEL_GB.unpacked():
            got = row[p.output_column]
            if isinstance(got, list) and got and isinstance(got[0], tuple):
                got = dict(got)  # Arrow map → dict
            if row["ts"] is None or not mine:
                exp = None
            else:
                exp = naive_feature(p, ets, evs, row["ts"], buckets=bks if p.bucket else None)
            assert allclose_feature(got, exp), (row, p.output_column, got, exp)


def test_segment_prefix_sums_bit_identical():
    """Float prefix sums over a batch of key segments restart per segment:
    every in-segment range sum equals the per-key prefix difference bit
    for bit."""
    from chronon_spark.functions.op_algebra import EventCol as _EventCol, prefix as _prefix

    rng = np.random.default_rng(7)
    lens = rng.integers(1, 40, 60)
    seg = np.repeat(np.arange(len(lens)), lens)
    vals = rng.standard_normal(len(seg)) * 10.0 ** rng.integers(-3, 9, len(seg))
    col = _EventCol(pa.array(vals), numeric=True, seg=seg)
    starts = np.r_[0, np.cumsum(lens)]
    for a, b in zip(starts[:-1], starts[1:]):
        own = _prefix(vals[a:b])
        lo, hi = np.meshgrid(np.arange(a, b + 1), np.arange(a, b + 1))
        keep = lo <= hi
        lo, hi = lo[keep], hi[keep]
        got = col.range_sum(col.psum, lo, hi)
        exp = own[hi - a] - own[lo - a]
        assert np.array_equal(got, exp), (a, b)


def test_tiled_collection_partitioning_invariance(spark):
    """Collection tile IRs (counter maps, k-heaps, quantile samples, HLL
    registers) must be layout- and shuffle-width-invariant."""
    from chronon_spark.operators.tiled import temporal_events_tiled
    from tests.test_tiled import GB, _gen

    ev, q = _gen(seed=41, n_events=700, n_queries=150)
    gb = GB
    outs = []
    for rep, shuf in ((3, 4), (17, 7)):
        spark.conf.set("spark.sql.shuffle.partitions", str(shuf))
        ev_df = spark.createDataFrame(ev).repartition(rep)
        q_df = spark.createDataFrame(q).repartition(rep)
        rows = temporal_events_tiled(spark, gb, q_df, ev_df).collect()
        outs.append(sorted([r.asDict() for r in rows], key=lambda r: (r["user"], r["ts"])))
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    a, b = outs
    assert len(a) == len(b)
    cols = [p.output_column for p in gb.unpacked()]
    for ra, rb in zip(a, b):
        assert (ra["user"], ra["ts"]) == (rb["user"], rb["ts"])
        for c in cols:
            assert allclose_feature(ra[c], rb[c]), (ra["user"], ra["ts"], c, ra[c], rb[c])


SNAP_GB_AGGS = (
    Aggregation("v", Operation.SUM, windows=(Window(3),)),
    Aggregation("v", Operation.COUNT, windows=(None,)),
    Aggregation("v", Operation.UNIQUE_COUNT, windows=(Window(4),)),  # delta path
    Aggregation("v", Operation.HISTOGRAM, windows=(Window(3),)),
    Aggregation("v", Operation.APPROX_PERCENTILE, arg_map={"percentiles": [0.5]},
                windows=(Window(5),)),
    Aggregation("v", Operation.LAST, windows=(Window(2),)),
)


# keys beside the generated one: "b" has only events before start_ds minus
# the widest window (5 days), "c" has gaps wider than every window and an
# event past end_ds; (day offset from start_ds, ms into the day, value)
SNAP_FIXED_KEYS = {
    "b": [(-9, 3_600_000, 2.0), (-8, 0, None), (-8, 7_200_000, 5.0)],
    "c": [(-7, 60_000, 1.0), (0, 0, 3.0), (0, 0, 4.0), (7, 1_000, 6.0)],
}


@settings(max_examples=6, deadline=None)
@given(
    day_off=st.lists(st.integers(0, 8), min_size=1, max_size=30),
    in_day=st.lists(st.integers(0, MS_DAY - 1), min_size=1, max_size=30),
    vals=st.lists(st.integers(0, 6), min_size=1, max_size=30),
    nulls=st.lists(st.booleans(), min_size=1, max_size=30),
)
def test_snapshot_property(spark, day_off, in_day, vals, nulls):
    """Snapshot path vs the naive oracle on adversarial shapes: day gaps,
    duplicate timestamps, null runs, single-event days — every path
    (spec IRs, delta-DISTINCT, quantile samples) on one frame, with and
    without an unbounded part. Key "a" is generated; "b" and "c" are
    SNAP_FIXED_KEYS. The output rows are exactly the days in
    [start_ds, end_ds] that some event reaches: within the widest window,
    or from the key's first event on when a part is unbounded."""
    import datetime as dt

    from chronon_spark.operators.groupby import snapshot_events

    n = min(len(day_off), len(in_day), len(vals), len(nulls))
    base = 1_699_920_000_000  # 2023-11-14 00:00 UTC (day-aligned) = start_ds
    rows = [("a", day_off[i], in_day[i], None if nulls[i] else float(vals[i])) for i in range(n)]
    rows += [(k, d, ms, v) for k, evs in SNAP_FIXED_KEYS.items() for d, ms, v in evs]
    ev = pd.DataFrame(
        [(k, base + d * MS_DAY + ms, v) for k, d, ms, v in rows], columns=["k", "ts", "v"]
    )
    df = spark.createDataFrame(ev).withColumn(
        "ds", F.date_format(F.timestamp_millis(F.col("ts")), "yyyy-MM-dd")
    )
    bounded = tuple(a for a in SNAP_GB_AGGS if None not in a.windows)
    for aggs, reach in ((SNAP_GB_AGGS, None), (bounded, 5)):
        gb = GroupBy(
            name="prop_snap", sources=(EventSource(table="x"),), key_columns=("k",),
            aggregations=aggs,
        )
        out = snapshot_events(spark, gb, df, "2023-11-14", "2023-11-20").collect()
        event_days = {k: set((g["ts"] - base) // MS_DAY) for k, g in ev.groupby("k")}
        want = {
            (k, x)
            for k, days in event_days.items()
            for x in range(7)
            if any(d <= x and (reach is None or x - d < reach) for d in days)
        }
        got = [
            (r["k"], (dt.date.fromisoformat(r["ds"]) - dt.date(2023, 11, 14)).days) for r in out
        ]
        assert len(got) == len(set(got)) and set(got) == want, (sorted(got), sorted(want))
        for row in out:
            g = ev[ev["k"] == row["k"]].sort_values("ts", kind="stable")
            ets = g["ts"].to_numpy(np.int64)
            evs = g["v"].to_numpy(object)
            d = dt.date.fromisoformat(row["ds"]) + dt.timedelta(days=1)
            qt = int(dt.datetime(d.year, d.month, d.day, tzinfo=dt.timezone.utc).timestamp() * 1000)
            for p in gb.unpacked():
                got_v = row[p.output_column]
                exp = naive_feature(p, ets, evs, qt)
                assert allclose_feature(got_v, exp), (row["k"], row["ds"], p.output_column, got_v, exp)
