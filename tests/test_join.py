"""Join backfill vs the naive oracle: temporal part, snapshot part,
entity part, key mapping, prefixes, duplicate left rows, null keys."""

import datetime as dt

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from chronon_spark.api.types import (
    Accuracy,
    Aggregation,
    EntitySource,
    EventSource,
    GroupBy,
    Join,
    JoinPart,
    Operation,
    Query,
    Window,
)
from chronon_spark.operators.join import join_backfill
from tests.naive_oracle import allclose_feature, naive_feature

MS_DAY = 86_400_000
T0 = 1_700_000_000_000


def _midnight(ds: str) -> int:
    d = dt.date.fromisoformat(ds)
    return int(dt.datetime(d.year, d.month, d.day, tzinfo=dt.timezone.utc).timestamp() * 1000)


@pytest.fixture(scope="module")
def setup(spark):
    rng = np.random.default_rng(5)
    n = 500
    ev = pd.DataFrame(
        {
            "user": [f"u{i}" for i in rng.integers(0, 5, n)],
            "ts": (T0 + rng.integers(0, 25 * MS_DAY, n)).astype(np.int64),
            "amount": rng.integers(1, 100, n).astype(float),
        }
    )
    ev_df = spark.createDataFrame(ev).withColumn(
        "ds", F.date_format(F.timestamp_millis("ts"), "yyyy-MM-dd")
    )
    ev_df.createOrReplaceTempView("purchases")

    dim = pd.DataFrame(
        [
            {"user_id": f"u{i}", "ds": d, "plan": ("pro" if i % 2 else "free")}
            for i in range(5)
            for d in [
                (dt.date(2023, 11, 15) + dt.timedelta(days=k)).isoformat() for k in range(30)
            ]
        ]
    )
    spark.createDataFrame(dim).createOrReplaceTempView("users_dim")

    nq = 120
    q = pd.DataFrame(
        {
            "user": [f"u{i}" for i in rng.integers(0, 6, nq)],
            "ts": (T0 + rng.integers(10 * MS_DAY, 25 * MS_DAY, nq)).astype(np.int64),
        }
    )
    q = pd.concat([q, q.iloc[:10]], ignore_index=True)  # duplicates
    q_df = spark.createDataFrame(q).withColumn(
        "ds", F.date_format(F.timestamp_millis("ts"), "yyyy-MM-dd")
    )
    q_df.createOrReplaceTempView("checkouts")
    return ev, q


GB_TEMPORAL = GroupBy(
    name="purchases_t",
    sources=(EventSource(table="purchases", query=Query(time_column="ts")),),
    key_columns=("user",),
    aggregations=(
        Aggregation("amount", Operation.SUM, windows=(Window(7), None)),
        Aggregation("amount", Operation.COUNT, windows=(Window(3),)),
        Aggregation("amount", Operation.LAST, windows=(Window(7),)),
    ),
    accuracy=Accuracy.TEMPORAL,
)

GB_SNAPSHOT = GroupBy(
    name="purchases_s",
    sources=(EventSource(table="purchases", query=Query(time_column="ts")),),
    key_columns=("user",),
    aggregations=(Aggregation("amount", Operation.SUM, windows=(Window(7),)),),
    accuracy=Accuracy.SNAPSHOT,
)

GB_ENTITY = GroupBy(
    name="user_plan",
    sources=(EntitySource(snapshot_table="users_dim"),),
    key_columns=("user_id",),
    aggregations=(Aggregation("plan", Operation.LAST, windows=(None,)),),
    accuracy=Accuracy.SNAPSHOT,
)

JOIN = Join(
    name="checkout_features",
    left=EventSource(table="checkouts", query=Query(time_column="ts")),
    right_parts=(
        JoinPart(GB_TEMPORAL),
        JoinPart(GB_SNAPSHOT, prefix="snap"),
        JoinPart(GB_ENTITY, key_mapping={"user": "user_id"}),
    ),
)

START, END = "2023-11-24", "2023-12-09"


@pytest.fixture(scope="module")
def joined(spark, setup):
    out = [r.asDict() for r in join_backfill(spark, JOIN, START, END).collect()]
    return out


def test_left_rows_preserved(setup, joined):
    ev, q = setup
    expected = q[[u is not None for u in q.user]]
    expected = expected[
        (pd.to_datetime(expected.ts, unit="ms").dt.date >= dt.date.fromisoformat(START))
        & (pd.to_datetime(expected.ts, unit="ms").dt.date <= dt.date.fromisoformat(END))
    ]
    assert len(joined) == len(expected)


def test_temporal_part_values(setup, joined):
    ev, q = setup
    by_user = {u: g.sort_values("ts") for u, g in ev.groupby("user")}
    parts = GB_TEMPORAL.unpacked()
    bad = []
    for row in joined:
        g = by_user.get(row["user"])
        for p in parts:
            got = row[f"purchases_t_{p.output_column}"]
            exp = (
                None
                if g is None
                else naive_feature(
                    p, g["ts"].to_numpy(np.int64), g["amount"].to_numpy(object), int(row["ts"])
                )
            )
            if not allclose_feature(got, exp):
                bad.append((row["user"], row["ts"], p.output_column, got, exp))
    assert not bad, bad[:5]


def test_snapshot_part_values(setup, joined):
    """Snapshot part = window evaluated at midnight of the LEFT row's ds
    (yesterday's EOD — JoinBase.scala:86-119)."""
    ev, q = setup
    by_user = {u: g.sort_values("ts") for u, g in ev.groupby("user")}
    p = GB_SNAPSHOT.unpacked()[0]
    bad = []
    for row in joined:
        g = by_user.get(row["user"])
        qt = _midnight(row["ds"])  # start of the left row's day == EOD of ds-1
        got = row[f"snap_purchases_s_{p.output_column}"]
        exp = (
            None
            if g is None
            else naive_feature(p, g["ts"].to_numpy(np.int64), g["amount"].to_numpy(object), qt)
        )
        if not allclose_feature(got, exp):
            bad.append((row["user"], row["ds"], got, exp))
    assert not bad, bad[:5]


def test_entity_part_values(joined):
    for row in joined:
        got = row["user_plan_plan_last"]
        u = row["user"]
        if u == "u5":
            assert got is None  # unseen in dim
        else:
            assert got == ("pro" if int(u[1]) % 2 else "free"), row


def test_small_mode_in_pushdown(spark):
    """Small-mode IN-list injection (spark/JoinUtils.scala:296-351): with a
    small left key set, the right scan carries a pushed In() filter and
    results match the semi-join path exactly."""
    from chronon_spark.api.types import Accuracy, EventSource, GroupBy, Join, JoinPart, Query
    from chronon_spark.operators.join import ROW_UID, compute_join_part, join_backfill
    from chronon_spark.sources.scan import render_source

    path = "/root/testdata/sf0.001/events.parquet"
    tcol = "unix_millis(cast(ts as timestamp))"
    gb = GroupBy(
        name="sm",
        sources=(EventSource(table=path, query=Query(selects={"user_id": None, "value": None}, time_column=tcol)),),
        key_columns=("user_id",),
        aggregations=(Aggregation("value", Operation.SUM, windows=(Window(7),)),),
        accuracy=Accuracy.TEMPORAL,
    )
    left_src = EventSource(
        table=path,
        query=Query(selects={"event_id": None, "user_id": None}, wheres=("user_id < 3",), time_column=tcol),
    )
    left = render_source(spark, left_src, None, query_start=None, query_end=None)
    left = left.withColumn(ROW_UID, F.monotonically_increasing_id())
    part = JoinPart(gb)
    feats_small, _ = compute_join_part(spark, left, part, "2024-01-01", "2024-12-31")
    plan = feats_small._jdf.queryExecution().executedPlan().toString()
    assert "In(user_id" in plan or "user_id IN" in plan, "IN predicate must reach the scan"
    feats_semi, _ = compute_join_part(spark, left, part, "2024-01-01", "2024-12-31", small_mode=False)
    a = sorted([tuple(r) for r in feats_small.collect()], key=repr)
    b = sorted([tuple(r) for r in feats_semi.collect()], key=repr)
    assert a == b


def test_parts_planned_concurrently_in_callers_job_group(spark, setup, monkeypatch):
    """join_backfill builds its parts on a thread pool: each part's
    small-mode key collect runs off the calling thread, yet its jobs land
    in the caller's job group; each table is read once per backfill, and
    every frame it cached is released afterwards."""
    import threading

    from chronon_spark.operators import join as join_mod
    from chronon_spark.sources import scan

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    collects, reads = [], []
    collect, read = join_mod.small_mode_key_values, scan._read_table

    def traced_collect(*a, **kw):
        collects.append((threading.current_thread(), sc.getLocalProperty("spark.jobGroup.id")))
        return collect(*a, **kw)

    monkeypatch.setattr(join_mod, "small_mode_key_values", traced_collect)
    monkeypatch.setattr(scan, "_read_table", lambda s, t: reads.append(t) or read(s, t))
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("g", "join")
    try:
        out = join_backfill(spark, JOIN, START, END)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(collects) == len(JOIN.right_parts)
    assert all(t is not threading.main_thread() and g == "g" for t, g in collects)
    # the collects ran jobs, and no job of the backfill escaped the group
    assert tracker.getJobIdsForGroup("g")
    assert set(tracker.getJobIdsForGroup(None)) == ungrouped
    assert sorted(reads) == ["checkouts", "purchases", "users_dim"]
    assert out.count() > 0
    join_mod.release_backfill_caches()
    assert not join_mod._ACTIVE_CACHES


def test_part_pool_plans_without_jobs(spark, setup, monkeypatch):
    """With the default temporal_mode and a left over the small-mode
    cutoff (so no part collects keys), planning a backfill runs no Spark
    job from its part pool: the temporal part picks its kernel without
    looking at the data."""
    from chronon_spark.operators import join as join_mod

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    build = join_mod.compute_join_part

    def in_pool_group(*a, **kw):
        sc.setJobGroup("part_pool", "join part plan")
        return build(*a, **kw)

    monkeypatch.setattr(join_mod, "SMALL_MODE_CUTOFF", 0)
    monkeypatch.setattr(join_mod, "compute_join_part", in_pool_group)
    try:
        out = join_backfill(spark, JOIN, START, END)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        assert not tracker.getJobIdsForGroup("part_pool")
        assert out.count() > 0
    finally:
        join_mod.release_backfill_caches()


def test_release_backfill_caches_fails_loudly(spark):
    """A frame that fails to unpersist is reported after the rest are
    released; a frame of a stopped session is dropped quietly."""
    from types import SimpleNamespace as NS

    from chronon_spark.operators.join import _ACTIVE_CACHES, release_backfill_caches

    def failing(live: bool):
        def unpersist():
            raise RuntimeError("unpersist failed")

        return NS(sparkSession=NS(sparkContext=NS(_jsc=object() if live else None)), unpersist=unpersist)

    df = spark.range(3).persist()
    df.count()
    _ACTIVE_CACHES.extend([df, failing(live=False), failing(live=True)])
    with pytest.raises(RuntimeError, match="unpersist failed"):
        release_backfill_caches()
    assert not _ACTIVE_CACHES and not df.is_cached
    _ACTIVE_CACHES.append(failing(live=False))
    release_backfill_caches()
    assert not _ACTIVE_CACHES


def test_shared_scans_reads_each_table_once_across_threads(monkeypatch):
    """Concurrent scan_table calls inside one shared_scans block read each
    table once and all get the same frame; outside the block nothing is
    shared."""
    import contextvars
    import sys
    import time
    from concurrent.futures import ThreadPoolExecutor

    from chronon_spark.sources import scan

    reads = []

    def fake_read(spark, table):
        reads.append(table)
        time.sleep(0.001)
        return object()

    monkeypatch.setattr(scan, "_read_table", fake_read)
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with scan.shared_scans(), ThreadPoolExecutor(max_workers=16) as pool:
            futures = [
                pool.submit(contextvars.copy_context().run, scan.scan_table, None, f"t{i % 3}")
                for i in range(300)
            ]
            frames = [f.result(timeout=60) for f in futures]
    finally:
        sys.setswitchinterval(interval)
    assert sorted(reads) == ["t0", "t1", "t2"]
    assert len({id(f) for f in frames}) == 3
    assert scan.scan_table(None, "t0") not in frames
