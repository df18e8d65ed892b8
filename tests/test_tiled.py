"""Tiled temporal path vs the naive oracle and vs the raw kernel."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from chronon_spark.api.types import (
    Accuracy,
    Aggregation,
    EventSource,
    GroupBy,
    Operation,
    TimeUnit,
    Window,
)
from chronon_spark.operators.temporal import temporal_events
from chronon_spark.operators.tiled import is_tileable, temporal_events_tiled
from tests.naive_oracle import allclose_feature, naive_feature

MS_DAY = 86_400_000
T0 = 1_700_000_000_000

AGGS = (
    Aggregation("price", Operation.COUNT, windows=(None, Window(7), Window(6, TimeUnit.HOURS))),
    Aggregation("price", Operation.SUM, windows=(Window(7), Window(30))),
    Aggregation("price", Operation.AVERAGE, windows=(Window(3),)),
    Aggregation("price", Operation.MIN, windows=(Window(7), None)),
    Aggregation("price", Operation.MAX, windows=(Window(7),)),
    Aggregation("price", Operation.VARIANCE, windows=(Window(14),)),
    Aggregation("price", Operation.SKEW, windows=(Window(14),)),
    Aggregation("price", Operation.FIRST, windows=(Window(7),)),
    Aggregation("price", Operation.LAST, windows=(Window(7), None)),
    Aggregation("price", Operation.COUNT, windows=(Window(7),), buckets=("cat",)),
    Aggregation("price", Operation.SUM, windows=(None,), buckets=("cat",)),
    Aggregation("price", Operation.AVERAGE, windows=(Window(3),), buckets=("cat",)),
    # bucketed counter family: nested Map[bucket -> ...] tile IRs
    Aggregation("price", Operation.UNIQUE_COUNT, windows=(Window(7),), buckets=("cat",)),
    Aggregation("cat", Operation.HISTOGRAM, windows=(Window(14), None), buckets=("cat",)),
    # bucketed percentiles: Map[bucket -> (n, samples)] tile IRs
    Aggregation("price", Operation.APPROX_PERCENTILE, windows=(Window(14), None),
                arg_map={"percentiles": [0.5, 0.9]}, buckets=("cat",)),
    # bucketed k-lists: Map[bucket -> k-capped array] tile IRs
    Aggregation("price", Operation.LAST_K, windows=(Window(7),), arg_map={"k": 2}, buckets=("cat",)),
    Aggregation("price", Operation.TOP_K, windows=(Window(14), None), arg_map={"k": 3}, buckets=("cat",)),
    Aggregation("price", Operation.FIRST_K, windows=(Window(7),), arg_map={"k": 2}, buckets=("cat",)),
    # non-algebraic family: mergeable collection tile IRs
    Aggregation("cat", Operation.UNIQUE_COUNT, windows=(Window(7), None)),
    Aggregation("price", Operation.UNIQUE_COUNT, windows=(Window(14),)),
    Aggregation("price", Operation.BOUNDED_UNIQUE_COUNT, windows=(Window(7),), arg_map={"k": 5}),
    Aggregation("cat", Operation.HISTOGRAM, windows=(Window(7), None)),
    Aggregation("cat", Operation.HISTOGRAM, windows=(Window(14),), arg_map={"k": 2}),
    Aggregation("price", Operation.LAST_K, windows=(Window(7), None), arg_map={"k": 3}),
    Aggregation("price", Operation.FIRST_K, windows=(Window(7),), arg_map={"k": 3}),
    Aggregation("price", Operation.TOP_K, windows=(Window(14),), arg_map={"k": 4}),
    Aggregation("price", Operation.BOTTOM_K, windows=(Window(7),), arg_map={"k": 4}),
    Aggregation(
        "price",
        Operation.APPROX_PERCENTILE,
        windows=(Window(7), None),
        arg_map={"percentiles": [0.25, 0.5, 0.95]},
    ),
)

GB = GroupBy(name="t", sources=(EventSource(table="ev"),), key_columns=("user",),
             aggregations=AGGS, accuracy=Accuracy.TEMPORAL)


def _gen(seed=17, n_events=900, n_queries=300, n_keys=5):
    rng = np.random.default_rng(seed)
    ev_ts = T0 + rng.integers(0, 32 * MS_DAY, n_events)
    ev = pd.DataFrame(
        {
            "user": [f"u{i}" for i in rng.integers(0, n_keys, n_events)],
            "ts": ev_ts.astype(np.int64),
            "price": rng.integers(1, 500, n_events).astype(float),
            "cat": rng.choice(["a", "b", "c", None], n_events, p=[0.4, 0.3, 0.25, 0.05]),
        }
    )
    ev.loc[ev.index % 31 == 0, "price"] = None
    q_ts = T0 + rng.integers(0, 33 * MS_DAY, n_queries)
    q_ts[:30] = ev_ts[:30]  # exact-collision edges
    q_ts[30:40] = (q_ts[30:40] // 300_000) * 300_000  # on-tile-boundary edges
    q = pd.DataFrame(
        {
            "user": [f"u{i}" for i in rng.integers(0, n_keys + 1, n_queries)],
            "ts": q_ts.astype(np.int64),
        }
    )
    return ev, q


def test_is_tileable():
    # EVERY op × bucket combination rides the tiled path
    assert is_tileable(GB)
    gb2 = GroupBy(name="x", sources=GB.sources, key_columns=("user",),
                  aggregations=(Aggregation("price", Operation.APPROX_PERCENTILE,
                                            arg_map={"percentiles": [0.5]}, buckets=("cat",)),))
    assert is_tileable(gb2)


def test_tiled_vs_naive(spark):
    ev, q = _gen()
    ev_df = spark.createDataFrame(ev)
    q_df = spark.createDataFrame(q)
    out = [r.asDict() for r in temporal_events_tiled(spark, GB, q_df, ev_df).collect()]
    by_user = {u: g.sort_values("ts", kind="mergesort") for u, g in ev.groupby("user")}
    parts = GB.unpacked()
    bad = []
    for row in out:
        g = by_user.get(row["user"])
        for p in parts:
            got = row[p.output_column]
            exp = (
                None
                if g is None
                else naive_feature(
                    p,
                    g["ts"].to_numpy(np.int64),
                    g[p.input_column].to_numpy(object),
                    int(row["ts"]),
                    buckets=g["cat"].to_numpy(object) if p.bucket else None,
                )
            )
            if not allclose_feature(got, exp):
                bad.append((row["user"], row["ts"], p.output_column, got, exp))
    assert not bad, f"{len(bad)} mismatches, first 5: {bad[:5]}"


def test_tiled_equals_raw(spark):
    ev, q = _gen(seed=23)
    ev_df = spark.createDataFrame(ev)
    q_df = spark.createDataFrame(q)
    tiled = temporal_events_tiled(spark, GB, q_df, ev_df)
    raw = temporal_events(spark, GB, q_df, ev_df, mode="raw")
    _assert_same_features(GB, tiled, raw)


def _assert_same_features(gb, a_df, b_df):
    cols = [p.output_column for p in gb.unpacked()]
    a = sorted([tuple(r) for r in a_df.select("user", "ts", *cols).collect()], key=repr)
    b = sorted([tuple(r) for r in b_df.select("user", "ts", *cols).collect()], key=repr)
    assert len(a) == len(b)
    for x, y in zip(a, b):
        assert allclose_feature(list(x), list(y)), (x, y)


DISPATCH_GB = GroupBy(
    name="d", sources=GB.sources, key_columns=("user",),
    aggregations=(
        Aggregation("price", Operation.COUNT, windows=(None, Window(7))),
        Aggregation("price", Operation.SUM, windows=(Window(1),)),
        Aggregation("price", Operation.LAST, windows=(Window(7),)),
    ),
    accuracy=Accuracy.TEMPORAL,
)


def _dispatch_input(kind: str, seed: int = 5):
    """(events, queries) over one tile-compression regime. sparse: 5 keys,
    ~1 event per 5-minute tile; storm: one key with ~10 events per tile;
    diluted: that storm key plus 200 cold keys whose tiles pull the global
    ratio under 2; packed: 300 cold keys of 8 events in one tile each (a
    global ratio over 2) beside one heavy key of ~1 event per tile."""
    rng = np.random.default_rng(seed)

    def keyed(names, n, span_ms):
        return pd.DataFrame({
            "user": rng.choice(names, n),
            "ts": (T0 + rng.integers(0, span_ms, n)).astype(np.int64),
            "price": rng.integers(1, 500, n).astype(float),
        })

    storm = keyed(["hot"], 3_000, MS_DAY)
    if kind == "sparse":
        ev = keyed([f"u{i}" for i in range(5)], 1_000, 32 * MS_DAY)
    elif kind == "storm":
        ev = storm
    elif kind == "packed":
        tile_start = (T0 // 300_000 + np.repeat(np.arange(300), 8)) * 300_000
        cold = pd.DataFrame({
            "user": np.repeat([f"c{i}" for i in range(300)], 8),
            "ts": (tile_start + rng.integers(0, 300_000, 2_400)).astype(np.int64),
            "price": rng.integers(1, 500, 2_400).astype(float),
        })
        ev = pd.concat([keyed(["heavy"], 1_000, 32 * MS_DAY), cold])
    else:
        ev = pd.concat([storm, keyed([f"c{i}" for i in range(200)], 4_000, 32 * MS_DAY)])
    q = ev.sample(100, random_state=seed)[["user", "ts"]].drop_duplicates()
    q["ts"] += rng.integers(-MS_DAY, MS_DAY, len(q))
    return ev, q


@pytest.mark.parametrize("kind", ["sparse", "storm", "diluted", "packed"])
def test_auto_dispatch_by_tile_compression(spark, kind):
    """mode="auto" outside the TileStore plans the raw kernel whatever
    the tiles would compress, without measuring the input first, and
    answers what both forced kernels answer."""
    ev, q = _dispatch_input(kind)
    ev_df, q_df = spark.createDataFrame(ev), spark.createDataFrame(q)
    auto = temporal_events(spark, DISPATCH_GB, q_df, ev_df)
    plan = auto._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan and "FlatMapCoGroupsInArrow" not in plan
    for forced in ("raw", "tiled"):
        _assert_same_features(
            DISPATCH_GB, auto, temporal_events(spark, DISPATCH_GB, q_df, ev_df, mode=forced)
        )


def test_tiled_hll_approx_unique(spark):
    """APPROX_UNIQUE_COUNT on the tiled path is a true HLL register sketch
    (p=9 → rse ≈ 4.6%): estimates within a 15% band of the exact distinct
    count across windows, deterministic across runs."""
    rng = np.random.default_rng(31)
    n = 40_000
    ev = pd.DataFrame(
        {
            "user": ["u0"] * n,
            "ts": (T0 + rng.integers(0, 32 * MS_DAY, n)).astype(np.int64),
            "price": rng.integers(1, 5000, n).astype(float),
            "cat": rng.choice(["a", "b"], n),
        }
    )
    gb = GroupBy(
        name="h", sources=GB.sources, key_columns=("user",),
        aggregations=(
            Aggregation("price", Operation.APPROX_UNIQUE_COUNT, windows=(Window(7), None)),
        ),
        accuracy=Accuracy.TEMPORAL,
    )
    q = pd.DataFrame({"user": ["u0"] * 50, "ts": (T0 + rng.integers(MS_DAY, 33 * MS_DAY, 50)).astype(np.int64)})
    ev_df = spark.createDataFrame(ev)
    q_df = spark.createDataFrame(q)
    out = temporal_events_tiled(spark, gb, q_df, ev_df)
    rows = {r["ts"]: r for r in out.collect()}
    ts_arr = ev["ts"].to_numpy()
    pr = ev["price"].to_numpy()
    checked = 0
    for _, qrow in q.iterrows():
        qt = int(qrow["ts"])
        r = rows[qt]
        for col, (lo_f, name) in {
            "price_approx_unique_count_7d": (lambda t: ((t - 7 * MS_DAY) // 3_600_000) * 3_600_000, "7d"),
            "price_approx_unique_count": (lambda t: -(1 << 62), "unb"),
        }.items():
            lo = lo_f(qt)
            exact = len(np.unique(pr[(ts_arr >= lo) & (ts_arr < qt)]))
            got = r[col]
            if exact == 0:
                assert got is None
                continue
            checked += 1
            assert abs(got / exact - 1) < 0.15, (col, qt, got, exact)
    assert checked > 50
    # determinism
    out2 = {r["ts"]: r for r in temporal_events_tiled(spark, gb, q_df, ev_df).collect()}
    for t, r in rows.items():
        assert out2[t]["price_approx_unique_count_7d"] == r["price_approx_unique_count_7d"]


def test_tiled_fuzz_vs_naive(spark):
    """Hypothesis-style adversarial fuzz (deterministic seeds): tiny/empty
    tiles, all-null stretches, duplicate timestamps on tile boundaries,
    single-event keys — tiled collection kernel vs the naive oracle."""
    parts_gb = GroupBy(
        name="fz", sources=GB.sources, key_columns=("user",),
        aggregations=(
            Aggregation("price", Operation.UNIQUE_COUNT, windows=(Window(1), None)),
            Aggregation("cat", Operation.HISTOGRAM, windows=(Window(2),)),
            Aggregation("price", Operation.LAST_K, windows=(Window(1),), arg_map={"k": 2}),
            Aggregation("price", Operation.TOP_K, windows=(Window(30),), arg_map={"k": 2}),
            Aggregation("price", Operation.APPROX_PERCENTILE, windows=(Window(2),),
                        arg_map={"percentiles": [0.0, 1.0]}),
            Aggregation("price", Operation.UNIQUE_COUNT, windows=(Window(1),), buckets=("cat",)),
        ),
        accuracy=Accuracy.TEMPORAL,
    )
    parts = parts_gb.unpacked()
    for seed in range(6):
        rng = np.random.default_rng(100 + seed)
        n = int(rng.integers(1, 60))
        ts = T0 + rng.integers(0, 3 * MS_DAY, n)
        ev = pd.DataFrame({
            "user": rng.choice(["a", "b"], n),
            "ts": ts.astype(np.int64),
            "cat": rng.choice(["x", None], n, p=[0.8, 0.2]),
        })
        # force boundary/duplicate timestamps; price is a FUNCTION of ts so
        # equal-ts ties (whose order the reference leaves unspecified —
        # partition iteration order) cannot change any aggregate value
        ev.loc[ev.index % 5 == 0, "ts"] = (ev["ts"].iloc[0] // 300_000) * 300_000
        ev["price"] = (ev["ts"] % 7).astype(float)
        ev.loc[ev.index % 9 == 0, "price"] = None
        q_ts = np.concatenate([ts[: min(5, n)], T0 + rng.integers(0, 4 * MS_DAY, 10)])
        q = pd.DataFrame({"user": rng.choice(["a", "b", "c"], len(q_ts)), "ts": q_ts.astype(np.int64)})
        out = [r.asDict() for r in temporal_events_tiled(
            spark, parts_gb, spark.createDataFrame(q), spark.createDataFrame(ev)
        ).collect()]
        by_user = {u: g.sort_values("ts", kind="mergesort") for u, g in ev.groupby("user")}
        for row in out:
            g = by_user.get(row["user"])
            for p in parts:
                exp = None if g is None else naive_feature(
                    p, g["ts"].to_numpy(np.int64), g[p.input_column].to_numpy(object),
                    int(row["ts"]), buckets=g["cat"].to_numpy(object) if p.bucket else None,
                )
                assert allclose_feature(row[p.output_column], exp), (
                    seed, row["user"], row["ts"], p.output_column, row[p.output_column], exp,
                )


def test_hot_key_query_salting(spark):
    """Hot-key time slicing: bit-identical results, and the hot key's
    queries actually spread across time slices."""
    ev, q = _gen()
    # make u0 hot: 10x its queries
    import pandas as pd

    hot_q = pd.concat(
        [q] + [q[q.user == "u0"].assign(ts=lambda d: d.ts + i) for i in range(1, 11)],
        ignore_index=True,
    )
    ev_df = spark.createDataFrame(ev)
    q_df = spark.createDataFrame(hot_q)
    plain = temporal_events_tiled(spark, GB, q_df, ev_df)
    from chronon_spark.api.types import Operation as Op

    # GB has unbounded windows -> slicing must refuse
    import pytest as _pt

    with _pt.raises(ValueError, match="windowed"):
        temporal_events_tiled(spark, GB, q_df, ev_df, hot_keys=[("u0",)])
    import dataclasses as _dc

    gb_w = _dc.replace(
        GB,
        aggregations=tuple(
            _dc.replace(a, windows=tuple(w for w in a.windows if w is not None) or a.windows)
            for a in GB.aggregations
            if any(w is not None for w in a.windows)
        ),
    )
    plain = temporal_events_tiled(spark, gb_w, q_df, ev_df)
    salted = temporal_events_tiled(
        spark, gb_w, q_df, ev_df, hot_keys=[("u0",)], hot_slice_ms=6 * 3_600_000
    )

    def norm(rows):
        out = []
        for r in sorted(rows, key=lambda r: (str(r["user"]), r["ts"])):
            d = r.asDict()
            for k, v in d.items():
                if isinstance(v, dict):
                    d[k] = tuple(sorted(v.items()))
                elif isinstance(v, list):
                    d[k] = tuple(v)
                elif isinstance(v, float) and v != v:
                    d[k] = "nan"
            out.append(tuple(d.items()))
        return out

    assert norm(plain.collect()) == norm(salted.collect())
    # the hot key's queries spread over >1 time slice
    from pyspark.sql import functions as F2

    spread = (
        q_df.filter("user = 'u0'")
        .select((F2.col("ts") / (6 * 3_600_000)).cast("long").alias("b"))
        .distinct()
        .count()
    )
    assert spread > 1


def test_hot_key_auto_detection(spark):
    """hot_key_threshold auto-detects heavy-query keys and slices them;
    results stay bit-identical; unbounded configs silently skip."""
    import dataclasses as _dc

    import pandas as pd

    ev, q = _gen()
    hot_q = pd.concat(
        [q] + [q[q.user == "u0"].assign(ts=lambda d: d.ts + i) for i in range(1, 6)],
        ignore_index=True,
    )
    ev_df = spark.createDataFrame(ev)
    q_df = spark.createDataFrame(hot_q)
    gb_w = _dc.replace(
        GB,
        aggregations=tuple(
            _dc.replace(a, windows=tuple(w for w in a.windows if w is not None) or a.windows)
            for a in GB.aggregations
            if any(w is not None for w in a.windows)
        ),
    )
    plain = temporal_events_tiled(spark, gb_w, q_df, ev_df)
    auto = temporal_events_tiled(
        spark, gb_w, q_df, ev_df, hot_key_threshold=100, hot_slice_ms=6 * 3_600_000
    )
    a = sorted((str(r["user"]), r["ts"]) for r in plain.collect())
    b = sorted((str(r["user"]), r["ts"]) for r in auto.collect())
    assert a == b
    # unbounded GB + auto threshold: no error, plain results
    out = temporal_events_tiled(spark, GB, q_df, ev_df, hot_key_threshold=100)
    assert out.count() == len(hot_q)
