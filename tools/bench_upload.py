"""Serving-layout bench: KV upload/fetch vs raw history rescan.

The point of the upload artifact (operators/upload.py, the reference's
GroupByUpload/FinalBatchIr) is that point-in-time serving reads BOUNDED
per-key state (tail hop IRs + streamed head) instead of rescanning
history. This protocol measures that directly on a deterministic
synthetic shape big enough for the history term to dominate:

- N_EVENTS events over DAYS days for N_USERS keys (seeded numpy),
- upload built at the second-to-last day's boundary,
- N_QUERIES point fetches spread over the last (serving) day,
- the same queries answered by the raw as-of kernel over FULL history.

Both paths produce identical values (the pytest suite asserts parity);
here we record wall clock: upload build (amortized once per day),
fetch, and the raw rescan, plus fetches/s. Artifact:
BENCH/round5_upload_serving.json.

Run: python tools/bench_upload.py [quick]
"""

from __future__ import annotations

import json
import os
import sys
import time

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from chronon_spark.api.types import (  # noqa: E402
    Accuracy,
    Aggregation,
    EventSource,
    GroupBy,
    Operation,
    Window,
)
from chronon_spark.operators.temporal import temporal_events  # noqa: E402
from chronon_spark.operators.upload import (  # noqa: E402
    boundary_millis,
    fetch_features,
    group_by_upload,
)
from chronon_spark.session import build_session  # noqa: E402

MS_DAY = 86_400_000
T0 = 1_700_006_400_000  # 2023-11-15 00:00 UTC, day-aligned
DAYS = 60
END_DS = "2024-01-12"  # upload boundary = start of the last (serving) day
_args = sys.argv[1:]
QUICK = "quick" in _args
MODE = next((a for a in _args if a != "quick"), "full")
N_EVENTS = 200_000 if QUICK else 2_000_000
N_USERS = 500 if QUICK else 2_000
N_QUERIES = 20_000 if QUICK else 200_000


def _end_ds(days: int) -> str:
    import datetime as dt

    d = dt.datetime.fromtimestamp(
        (T0 + (days - 2) * MS_DAY) / 1000, dt.timezone.utc
    )
    return d.strftime("%Y-%m-%d")


def make_frames(spark, n_events=None, days=None, end_ds=None):
    n_events = n_events or N_EVENTS
    days = days or DAYS
    end_ds = end_ds or END_DS
    rng = np.random.default_rng(7)
    ev = pd.DataFrame(
        {
            "user": rng.integers(0, N_USERS, n_events).astype(np.int64),
            "ts": (T0 + rng.integers(0, days * MS_DAY, n_events)).astype(np.int64),
            "v": np.round(rng.gamma(3.0, 25.0, n_events), 2),
            "cat": rng.choice([f"c{i}" for i in range(12)], n_events),
        }
    )
    boundary = boundary_millis(end_ds)
    q = pd.DataFrame(
        {
            "user": rng.integers(0, N_USERS, N_QUERIES).astype(np.int64),
            "ts": (boundary + rng.integers(0, MS_DAY, N_QUERIES)).astype(np.int64),
            "qid": np.arange(N_QUERIES, dtype=np.int64),
        }
    )
    return (
        spark.createDataFrame(ev).repartition(32).persist(),
        spark.createDataFrame(q).repartition(32).persist(),
    )


GB = GroupBy(
    name="bench_serving_gb",
    sources=(EventSource(table="ev"),),
    key_columns=("user",),
    aggregations=(
        Aggregation("v", Operation.COUNT, windows=(None,)),
        Aggregation("v", Operation.SUM, windows=(Window(7),)),
        Aggregation("v", Operation.AVERAGE, windows=(Window(3),)),
        Aggregation("v", Operation.MAX, windows=(Window(7),)),
        Aggregation("v", Operation.LAST, windows=(Window(7),)),
        Aggregation("v", Operation.TOP_K, arg_map={"k": 3}, windows=(Window(7),)),
        Aggregation(
            "v", Operation.BOUNDED_UNIQUE_COUNT, arg_map={"k": 10}, windows=(Window(7),)
        ),
        Aggregation(
            "v",
            Operation.APPROX_PERCENTILE,
            arg_map={"percentiles": [0.5]},
            windows=(Window(7),),
        ),
        Aggregation(
            "cat", Operation.APPROX_HISTOGRAM_K, arg_map={"k": 3}, windows=(Window(7),)
        ),
        Aggregation("cat", Operation.APPROX_UNIQUE_COUNT, windows=(Window(7),)),
        Aggregation("v", Operation.SUM, windows=(Window(7),), buckets=("cat",)),
    ),
    accuracy=Accuracy.TEMPORAL,
)


def run_once(spark, n_events, days):
    end_ds = _end_ds(days)
    ev, q = make_frames(spark, n_events=n_events, days=days, end_ds=end_ds)
    ev.count(), q.count()  # materialize inputs outside the timed region
    boundary = boundary_millis(end_ds)
    head = ev.filter(f"ts >= {boundary}")

    t0 = time.monotonic()
    up = group_by_upload(spark, GB, ev, end_ds).persist()
    n_keys = up.count()
    t_upload = time.monotonic() - t0

    t0 = time.monotonic()
    fetched = fetch_features(spark, GB, up, head, q, end_ds)
    n_fetched = fetched.count()
    t_fetch = time.monotonic() - t0

    t0 = time.monotonic()
    raw = temporal_events(spark, GB, q, ev, mode="raw", passthrough=True)
    n_raw = raw.count()
    t_raw = time.monotonic() - t0
    assert n_fetched == n_raw == N_QUERIES, (n_fetched, n_raw)
    for df in (ev, q, up):
        df.unpersist()
    return {
        "n_events": n_events,
        "n_users": N_USERS,
        "n_queries": N_QUERIES,
        "days_history": days,
        "n_upload_keys": n_keys,
        "upload_build_s": round(t_upload, 2),
        "fetch_s": round(t_fetch, 2),
        "fetch_per_s": round(N_QUERIES / t_fetch),
        "raw_rescan_s": round(t_raw, 2),
        "serve_speedup_vs_raw": round(t_raw / t_fetch, 2),
    }


GB_HIBUCK = GroupBy(
    name="bench_serving_hibuck",
    sources=(EventSource(table="ev"),),
    key_columns=("user",),
    aggregations=(
        # one part per IR state kind over a ~400-distinct bucket column:
        # scalar sums, a k-list, a count-map and a weighted sample
        # (functions/op_algebra.py STATE_KIND)
        Aggregation("v", Operation.SUM, windows=(Window(7),), buckets=("hib",)),
        Aggregation(
            "v", Operation.TOP_K, arg_map={"k": 3}, windows=(Window(7),), buckets=("hib",)
        ),
        Aggregation(
            "cat", Operation.APPROX_HISTOGRAM_K, arg_map={"k": 3},
            windows=(Window(7),), buckets=("hib",),
        ),
        Aggregation(
            "v", Operation.APPROX_PERCENTILE, arg_map={"percentiles": [0.5]},
            windows=(Window(7),), buckets=("hib",),
        ),
    ),
    accuracy=Accuracy.TEMPORAL,
)


def run_hibuck(spark, n_events, days, n_buckets=400):
    """High-cardinality-bucket fetch: per-key upload rows carry
    O(hops × observed buckets) entries, and every query's output map is
    O(observed buckets) wide — the entry-walk stress case."""
    end_ds = _end_ds(days)
    ev, q = make_frames(spark, n_events=n_events, days=days, end_ds=end_ds)
    rng = np.random.default_rng(13)
    from pyspark.sql import functions as F

    ev = ev.withColumn(
        "hib", F.concat(F.lit("b"), F.pmod(F.xxhash64("ts", "v"), F.lit(n_buckets)))
    ).persist()
    boundary = boundary_millis(end_ds)
    head = ev.filter(f"ts >= {boundary}")
    ev.count(), q.count()
    t0 = time.monotonic()
    up = group_by_upload(spark, GB_HIBUCK, ev, end_ds).persist()
    n_keys = up.count()
    t_upload = time.monotonic() - t0
    t0 = time.monotonic()
    fetched = fetch_features(spark, GB_HIBUCK, up, head, q, end_ds)
    n_fetched = fetched.count()
    t_fetch = time.monotonic() - t0
    assert n_fetched == N_QUERIES
    for df in (ev, q, up):
        df.unpersist()
    return {
        "n_events": n_events,
        "n_buckets": n_buckets,
        "n_queries": N_QUERIES,
        "n_upload_keys": n_keys,
        "upload_build_s": round(t_upload, 2),
        "fetch_s": round(t_fetch, 2),
        "fetch_per_s": round(N_QUERIES / t_fetch),
    }


def main():
    spark = build_session(app_name="bench_upload_serving")
    spark.sparkContext.setLogLevel("ERROR")
    rec = {
        "protocol": "upload+fetch vs raw full-history rescan, same queries; "
        "hist mode holds queries/head fixed and grows HISTORY 6x — serving "
        "cost must stay flat while the rescan grows with history",
        "master": spark.sparkContext.master,
    }
    if MODE == "hibuck":
        rec["runs"] = [run_hibuck(spark, N_EVENTS, DAYS)]
    elif MODE == "hist":
        rec["runs"] = [
            run_once(spark, 2_000_000, 60),
            run_once(spark, 12_000_000, 360),
        ]
        a, b = rec["runs"]
        rec["raw_growth_6x_history"] = round(
            b["raw_rescan_s"] / a["raw_rescan_s"], 2
        )
        rec["fetch_growth_6x_history"] = round(b["fetch_s"] / a["fetch_s"], 2)
    else:
        rec["runs"] = [run_once(spark, N_EVENTS, DAYS)]
    print(json.dumps(rec))
    out = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "BENCH",
        "round5_upload_serving.json",
    )
    if not QUICK:
        with open(out, "w") as f:
            json.dump(rec, f, indent=1)
    spark.stop()


if __name__ == "__main__":
    main()
