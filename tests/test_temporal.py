"""Temporal (as-of) GroupBy vs the definitional naive oracle.

Mirrors the reference's SawtoothAggregatorTest.scala:50-177 strategy:
random events + random queries, engine output must equal the naive
O(E×Q) re-aggregation per query, allclose with the reference's 1e-5
comparison tolerance. Edge cases baked in: duplicate event timestamps,
queries at exactly an event ts (head exclusivity / zero leakage),
null values, null keys, duplicate query rows.
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from chronon_spark.api.types import (
    Aggregation,
    EventSource,
    GroupBy,
    Operation,
    TimeUnit,
    Window,
)
from chronon_spark.operators.temporal import temporal_events
from tests.naive_oracle import allclose_feature, naive_feature

MS_DAY = 86_400_000
T0 = 1_700_000_000_000


def _gen(seed=42, n_events=800, n_queries=250, n_keys=6):
    rng = np.random.default_rng(seed)
    ev_ts = T0 + rng.integers(0, 30 * MS_DAY, n_events)
    # force duplicate timestamps within keys
    ev_ts[::50] = ev_ts[1::50][: len(ev_ts[::50])]
    ev = pd.DataFrame(
        {
            "user": [f"u{i}" for i in rng.integers(0, n_keys, n_events)],
            "ts": ev_ts.astype(np.int64),
            "price": rng.integers(1, 500, n_events).astype(float),
            "cat": rng.choice(["a", "b", "c", "d"], n_events),
        }
    )
    ev.loc[ev.index % 37 == 0, "price"] = None  # null values
    q_ts = T0 + rng.integers(0, 31 * MS_DAY, n_queries)
    q_ts[:40] = ev_ts[:40]  # queries at exactly an event ts → excluded
    q = pd.DataFrame(
        {
            "user": [f"u{i}" for i in rng.integers(0, n_keys + 1, n_queries)],  # some unseen keys
            "ts": q_ts.astype(np.int64),
        }
    )
    q = pd.concat([q, q.iloc[:15]], ignore_index=True)  # duplicate query rows
    return ev, q


AGGS = (
    Aggregation("price", Operation.COUNT, windows=(None, Window(7), Window(6, TimeUnit.HOURS))),
    Aggregation("price", Operation.SUM, windows=(Window(7), Window(30))),
    Aggregation("price", Operation.AVERAGE, windows=(Window(3),)),
    Aggregation("price", Operation.MIN, windows=(Window(7),)),
    Aggregation("price", Operation.MAX, windows=(Window(7), None)),
    Aggregation("price", Operation.VARIANCE, windows=(Window(7),)),
    Aggregation("price", Operation.SKEW, windows=(Window(14),)),
    Aggregation("price", Operation.KURTOSIS, windows=(Window(14),)),
    Aggregation("price", Operation.FIRST, windows=(Window(7),)),
    Aggregation("price", Operation.LAST, windows=(Window(7),)),
    Aggregation("price", Operation.FIRST_K, arg_map={"k": 4}, windows=(Window(7),)),
    Aggregation("price", Operation.LAST_K, arg_map={"k": 4}, windows=(Window(7),)),
    Aggregation("price", Operation.TOP_K, arg_map={"k": 3}, windows=(Window(7),)),
    Aggregation("price", Operation.BOTTOM_K, arg_map={"k": 3}, windows=(Window(7),)),
    Aggregation("price", Operation.UNIQUE_COUNT, windows=(Window(7),)),
    Aggregation("price", Operation.BOUNDED_UNIQUE_COUNT, arg_map={"k": 5}, windows=(Window(7),)),
    Aggregation(
        "price", Operation.APPROX_PERCENTILE, arg_map={"percentiles": [0.25, 0.5, 0.95]},
        windows=(Window(7),),
    ),
    Aggregation("cat", Operation.HISTOGRAM, windows=(Window(7),)),
    Aggregation("cat", Operation.LAST, windows=(Window(7),)),
    Aggregation("price", Operation.SUM, windows=(Window(7),), buckets=("cat",)),
    Aggregation("price", Operation.AVERAGE, windows=(None,), buckets=("cat",)),
)


@pytest.fixture(scope="module")
def result(spark):
    ev, q = _gen()
    gb = GroupBy(
        name="t", sources=(EventSource(table="ev"),), key_columns=("user",), aggregations=AGGS
    )
    ev_df = spark.createDataFrame(ev.astype({"ts": "int64"}))
    q_df = spark.createDataFrame(q)
    # collect() preserves None-vs-NaN distinction that toPandas() loses
    out = [r.asDict() for r in temporal_events(spark, gb, q_df, ev_df).collect()]
    return ev, q, gb, out


def test_row_count_preserved(result):
    ev, q, gb, out = result
    assert len(out) == len(q)  # duplicates preserved 1:1


def _oracle_mismatches(ev, q, gb, out):
    """(user, ts, column, got, expected) for every engine value that
    differs from the naive oracle; out rows line up with q by (user, ts)."""
    parts = gb.unpacked()
    by_user = {u: g.sort_values("ts", kind="mergesort") for u, g in ev.groupby("user")}
    # engine output order is arbitrary: line rows up by (user, ts)
    out_sorted = sorted(out, key=lambda r: (r["user"], r["ts"]))
    q_sorted = q.sort_values(["user", "ts"], kind="mergesort").reset_index(drop=True)
    assert [r["user"] for r in out_sorted] == list(q_sorted["user"])

    mismatches = []
    for row in out_sorted:
        user, qt = row["user"], int(row["ts"])
        g = by_user.get(user)
        for p in parts:
            got = row[p.output_column]
            if g is None or len(g) == 0:
                exp = None
            else:
                exp = naive_feature(
                    p,
                    g["ts"].to_numpy(np.int64),
                    g[p.input_column].to_numpy(object),
                    qt,
                    buckets=g["cat"].to_numpy(object) if p.bucket else None,
                )
            if not allclose_feature(got, exp):
                mismatches.append((user, qt, p.output_column, got, exp))
    return mismatches


def test_vs_naive_oracle(result):
    ev, q, gb, out = result
    mismatches = _oracle_mismatches(ev, q, gb, out)
    assert not mismatches, f"{len(mismatches)} mismatches, first 5: {mismatches[:5]}"


def _canonical(rows):
    out = []
    for r in rows:
        d = r.asDict()
        for k, v in d.items():
            if isinstance(v, dict):
                d[k] = tuple(sorted(v.items()))
            elif isinstance(v, list):
                d[k] = tuple(v)
            elif isinstance(v, float) and v != v:
                d[k] = "nan"
        out.append(tuple(d.items()))
    return sorted(out, key=repr)


@pytest.mark.parametrize("hot", [False, True])
def test_arrow_batch_boundaries(spark, hot):
    """The raw kernel reads one sorted stream in Arrow batches and carries
    an open key segment into the next batch. At maxRecordsPerBatch=5
    nearly every segment straddles batches; the output must equal the
    default-batch output and the naive oracle — plain, and with a pinned
    hot key whose slices carry baseline IRs (the bucketed unbounded
    AVERAGE rides per-(slice, bucket) baselines)."""
    ev, q = _gen(seed=5, n_events=300, n_queries=120)
    gb = GroupBy(
        name="tb", sources=(EventSource(table="ev"),), key_columns=("user",), aggregations=AGGS
    )
    ev_df = spark.createDataFrame(ev)
    q_df = spark.createDataFrame(q)
    kw = {"hot_keys": [("u0",)], "hot_slice_ms": 4 * MS_DAY} if hot else {}

    def run():
        return temporal_events(spark, gb, q_df, ev_df, mode="raw", **kw).collect()

    default = run()
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    before = spark.conf.get(conf)
    spark.conf.set(conf, "5")
    try:
        small = run()
    finally:
        spark.conf.set(conf, before)
    assert _canonical(small) == _canonical(default)
    mismatches = _oracle_mismatches(ev, q, gb, [r.asDict() for r in small])
    assert not mismatches, f"{len(mismatches)} mismatches, first 5: {mismatches[:5]}"


def test_zero_leakage(spark):
    """An event at exactly ts == qt must be excluded
    (SawtoothAggregator.scala:108-115; JoinTest.scala:409-414)."""
    ev = spark.createDataFrame(
        [("u1", 1000, 5.0), ("u1", 2000, 7.0), ("u1", 2000, 9.0)], "user string, ts long, price double"
    )
    q = spark.createDataFrame([("u1", 2000), ("u1", 2001)], "user string, ts long")
    gb = GroupBy(
        name="l",
        sources=(EventSource(table="ev"),),
        key_columns=("user",),
        aggregations=(Aggregation("price", Operation.SUM, windows=(None,)),),
    )
    rows = {r["ts"]: r["price_sum"] for r in temporal_events(spark, gb, q, ev).collect()}
    assert rows[2000] == 5.0  # both ts=2000 events excluded
    assert rows[2001] == 21.0


def test_null_key_rows_get_null_features(spark):
    ev = spark.createDataFrame([("u1", 1000, 5.0)], "user string, ts long, price double")
    q = spark.createDataFrame([(None, 2000), ("u1", 2000)], "user string, ts long")
    gb = GroupBy(
        name="nk",
        sources=(EventSource(table="ev"),),
        key_columns=("user",),
        aggregations=(Aggregation("price", Operation.COUNT, windows=(None,)),),
    )
    out = {r["user"]: r["price_count"] for r in temporal_events(spark, gb, q, ev).collect()}
    assert out[None] is None
    assert out["u1"] == 1


def test_temporal_derivations(spark):
    """GroupBy derivations apply on the temporal path too
    (spark/GroupBy.scala:763-774 — all GroupBy output, any accuracy)."""
    import pandas as pd

    from chronon_spark.api.types import Accuracy, Aggregation, EventSource, GroupBy, Operation, Window

    ev = spark.createDataFrame(pd.DataFrame({
        "user": ["a"] * 6,
        "ts": [1_700_000_000_000 + i * 1000 for i in range(6)],
        "price": [1.0, 2.0, 3.0, 4.0, 5.0, 6.0],
    }))
    gb = GroupBy(
        name="d", sources=(EventSource(table="ev"),), key_columns=("user",),
        aggregations=(
            Aggregation("price", Operation.SUM, windows=(Window(7),)),
            Aggregation("price", Operation.COUNT, windows=(Window(7),)),
        ),
        accuracy=Accuracy.TEMPORAL,
        derivations={"*": "*", "price_mean_7d": "price_sum_7d / price_count_7d"},
    )
    q = ev.select("user", "ts")
    for mode in ("raw", "tiled"):
        out = temporal_events(spark, gb, q, ev, mode=mode)
        assert "price_mean_7d" in out.columns
        r = {row["ts"]: row for row in out.collect()}
        last = r[1_700_000_000_000 + 5000]
        assert last["price_sum_7d"] == 15.0 and last["price_count_7d"] == 5
        assert last["price_mean_7d"] == 3.0


def test_unknown_mode_raises(spark):
    """``mode`` has three values; anything else is refused, not run raw."""
    ev, q = _gen(n_events=60, n_queries=50)
    ev_df, q_df = spark.createDataFrame(ev), spark.createDataFrame(q)
    gb = GroupBy(name="m", sources=(EventSource(table="ev"),), key_columns=("user",),
                 aggregations=(Aggregation("price", Operation.SUM, windows=(Window(7),)),))
    for mode in ("split", "fast"):
        with pytest.raises(ValueError, match="mode"):
            temporal_events(spark, gb, q_df, ev_df, mode=mode)


def test_elementwise_follows_mode(spark):
    """An element-wise aggregation's exploded GroupBy runs the kernel the
    caller's ``mode`` names: mode="tiled" plans the tiled cogroup, and its
    features equal mode="raw"'s."""
    rng = np.random.default_rng(8)
    n = 300
    ev = pd.DataFrame({
        "user": [f"u{i % 3}" for i in range(n)],
        "ts": (T0 + rng.integers(0, 6 * MS_DAY, n)).astype(np.int64),
    })
    ev["vec"] = [list(map(float, rng.integers(1, 50, 3))) for _ in range(n)]
    gb = GroupBy(
        name="ewm", sources=(EventSource(table="ev"),), key_columns=("user",),
        aggregations=(
            Aggregation("price", Operation.COUNT, windows=(Window(2),)),
            Aggregation("vec", Operation.AVERAGE, windows=(Window(2),), element_wise=True),
        ),
    )
    ev["price"] = rng.integers(1, 9, n).astype(float)
    ev_df = spark.createDataFrame(ev)
    q_df = ev_df.select("user", "ts")
    tiled = temporal_events(spark, gb, q_df, ev_df, mode="tiled")
    plan = tiled._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FlatMapCoGroupsInArrow") == 2 and "MapInArrow" not in plan
    raw = temporal_events(spark, gb, q_df, ev_df, mode="raw")
    cols = ["user", "ts", "price_count_2d", "vec_average_2d"]
    got = sorted(tuple(r[c] if c != "vec_average_2d" else tuple(r[c] or ()) for c in cols) for r in tiled.collect())
    exp = sorted(tuple(r[c] if c != "vec_average_2d" else tuple(r[c] or ()) for c in cols) for r in raw.collect())
    assert len(got) == len(exp) == n
    for g, e in zip(got, exp):
        assert g[:3] == e[:3] and np.allclose(g[3], e[3]), (g, e)
