"""Raw-kernel hot-key time-slicing measurement (BENCH §28).

One crawl-storm key (600k events, 200k dense queries) + 31 cold keys, on
the flagship-shaped GroupBy (unbounded COUNT/LAST + windowed COUNT/
AVERAGE + SUM(None)) — the regime mode="raw" owns. Compares the
unmitigated kernel (one task owns the hot key) against time slicing with
per-slice baseline IRs for the unbounded parts.

    python tools/bench_raw_hotkey.py [n_hot_events] [n_hot_queries] [light|heavy]

``light`` (default) = the flagship's prefix-op shape (COUNT/AVERAGE/SUM/
LAST — O(1)/query vectorized, slicing pays mostly for replication);
``heavy`` = gather/percentile ops (per-query python loops — the shape
where one hot task serializes real compute and slicing must win).

``sparse`` = the raw/tiled crossover, i.e. what a storm key pays for
mode="auto" running raw outside the TileStore, and where mode="tiled"
wins: one key of 50k events up to ``n_hot_events`` at 3 and 8 events
per 5-minute tile (the key-size axis), then ``n_hot_events`` events at 1-8
per tile on one key and spread over 500 keys; ``n_hot_queries`` random
query times over the same span, mode="raw" timed against mode="tiled"
(best of two, light ops):

    python tools/bench_raw_hotkey.py 1000000 2000 sparse
"""

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np
import pandas as pd

MS_DAY = 86_400_000
T0 = 1_700_000_000_000


def main():
    n_hot_ev = int(sys.argv[1]) if len(sys.argv) > 1 else 600_000
    n_hot_q = int(sys.argv[2]) if len(sys.argv) > 2 else 200_000
    from pyspark.sql import SparkSession

    from chronon_spark.api.types import (
        Accuracy, Aggregation, EventSource, GroupBy, Operation, Query, Window,
    )
    from chronon_spark.operators.temporal import temporal_events

    spark = (
        SparkSession.builder.master(f"local[{os.cpu_count()}]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.showConsoleProgress", "false")
        .appName("bench-raw-hotkey")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    mode = sys.argv[3] if len(sys.argv) > 3 else "light"
    if mode == "approx":
        # r4 verdict missing #4: UNBOUNDED mergeable-sketch ops — before
        # round 5 the slicer refused these and the hot key serialized onto
        # one task; now they ride per-slice baseline IRs (HLL register
        # entries / capped sets / equi-rank samples)
        aggs = (
            Aggregation("text_len", Operation.APPROX_UNIQUE_COUNT, windows=(None,)),
            Aggregation(
                "text_len", Operation.APPROX_PERCENTILE, windows=(None,),
                arg_map={"percentiles": [0.5, 0.9]},
            ),
            Aggregation("lang", Operation.BOUNDED_UNIQUE_COUNT, windows=(None,), arg_map={"k": 8}),
            Aggregation("text_len", Operation.COUNT, windows=(None, Window(7))),
        )
    elif mode == "heavy":
        aggs = (
            Aggregation("text_len", Operation.SUM, windows=(Window(7),)),
            Aggregation(
                "text_len", Operation.APPROX_PERCENTILE, windows=(Window(7),),
                arg_map={"percentiles": [0.5, 0.9]},
            ),
            Aggregation("text_len", Operation.TOP_K, windows=(Window(14),), arg_map={"k": 5}),
            Aggregation("text_len", Operation.LAST_K, windows=(Window(7),), arg_map={"k": 3}),
            Aggregation("lang", Operation.HISTOGRAM, windows=(Window(7),)),
        )
    else:
        aggs = (
            Aggregation("text_len", Operation.COUNT, windows=(None, Window(7), Window(30))),
            Aggregation("text_len", Operation.AVERAGE, windows=(Window(30),)),
            Aggregation("text_len", Operation.SUM, windows=(None,)),
            Aggregation("text_len", Operation.LAST, windows=(None,)),
            Aggregation("lang", Operation.LAST, windows=(None,)),
        )
    gb = GroupBy(
        name="bench_hot",
        sources=(EventSource(table="ev", query=Query(time_column="ts")),),
        key_columns=("url",),
        aggregations=aggs,
        accuracy=Accuracy.TEMPORAL,
    )

    if mode == "sparse":
        sparse_crossover(spark, gb, n_hot_ev, n_hot_q)
        spark.stop()
        return

    rng = np.random.default_rng(7)
    days = 60
    hot = pd.DataFrame(
        {
            "url": "u_hot",
            "ts": np.sort(T0 + rng.integers(0, days * MS_DAY, n_hot_ev)).astype(np.int64),
            "text_len": rng.integers(50, 5000, n_hot_ev).astype(np.int64),
            "lang": rng.choice(["en", "de", "fr"], n_hot_ev),
        }
    )
    n_cold = 31 * 6_000
    cold = pd.DataFrame(
        {
            "url": [f"u{i}" for i in rng.integers(0, 31, n_cold)],
            "ts": (T0 + rng.integers(0, days * MS_DAY, n_cold)).astype(np.int64),
            "text_len": rng.integers(50, 5000, n_cold).astype(np.int64),
            "lang": rng.choice(["en", "de", "fr"], n_cold),
        }
    )
    ev = pd.concat([hot, cold], ignore_index=True)
    q = pd.concat(
        [
            hot.iloc[rng.choice(n_hot_ev, n_hot_q, replace=False)][["url", "ts"]],
            cold[["url", "ts"]],
        ],
        ignore_index=True,
    ).drop_duplicates()

    ev_df = spark.createDataFrame(ev).repartition(32).cache()
    q_df = spark.createDataFrame(q).repartition(32).cache()
    print(f"events={ev_df.count():,} queries={q_df.count():,}", flush=True)

    def run(tag, **kw):
        t0 = time.time()
        out = temporal_events(spark, gb, q_df, ev_df, mode="raw", **kw)
        n = out.count()
        dt = time.time() - t0
        print(f"{tag:28s} {dt:7.2f}s  rows={n:,}", flush=True)
        return dt

    runs = {}
    runs["plain"] = run("no mitigation")
    runs["sliced_default"] = run("time slices (default 7.5d)", hot_keys=[("u_hot",)])
    runs["sliced_3d"] = run("time slices (3d)", hot_keys=[("u_hot",)], hot_slice_ms=3 * MS_DAY)
    runs["sliced_15d"] = run("time slices (15d)", hot_keys=[("u_hot",)], hot_slice_ms=15 * MS_DAY)
    runs["auto"] = run("auto detect (threshold=10k)", hot_key_threshold=10_000)
    best = min(v for k, v in runs.items() if k != "plain")
    print(f"speedup (plain / best sliced): {runs['plain'] / best:.2f}x", flush=True)
    spark.stop()


def sparse_crossover(spark, gb, n_ev: int, n_q: int) -> None:
    """Time mode="raw" against mode="tiled" at a fixed number of events per
    5-minute tile (the tile compression E/T) with ``n_q`` queries at random
    times over the events' span, best of two runs each. First the key-size
    axis: one key of 50k, 200k, 400k and 1M events (those up to ``n_ev``)
    at 3 and 8 events per tile; then compressions from 1 to 8 at ``n_ev``
    events, once on one key and once spread over 500 keys (where the tiled
    kernel also pays one pandas call per key)."""
    from chronon_spark.operators.temporal import temporal_events

    tile_ms = 300_000
    rng = np.random.default_rng(11)
    sizes = sorted({s for s in (50_000, 200_000, 400_000, 1_000_000) if s <= n_ev} | {n_ev})
    runs = [(1, n, per_tile) for n in sizes for per_tile in (3, 8)]
    runs += [(k, n_ev, per_tile) for k in (1, 500) for per_tile in (1, 1.5, 2, 3, 4, 8)]
    print(f"{'keys':>5s} {'E/T':>5s} {'events':>9s} {'tiles':>9s} {'raw_s':>7s} {'tiled_s':>7s} "
          "raw/tiled", flush=True)
    for n_keys, n, per_tile in runs:
        m = n // n_keys
        n_tiles = int(round(m / per_tile))
        # every tile of every key holds floor or ceil of m / n_tiles events
        tile = np.tile(np.sort(np.arange(m) % n_tiles), n_keys)
        ev = pd.DataFrame({
            "url": np.repeat([f"u{k}" for k in range(n_keys)], m),
            "ts": (T0 + tile * tile_ms + rng.integers(0, tile_ms, len(tile))).astype(np.int64),
            "text_len": rng.integers(50, 5000, len(tile)).astype(np.int64),
            "lang": rng.choice(["en", "de", "fr"], len(tile)),
        })
        q = pd.DataFrame({
            "url": [f"u{k}" for k in rng.integers(0, n_keys, n_q)],
            "ts": (T0 + rng.integers(0, n_tiles * tile_ms, n_q)).astype(np.int64),
        }).drop_duplicates()
        ev_df = spark.createDataFrame(ev).repartition(32).cache()
        q_df = spark.createDataFrame(q).repartition(32).cache()
        ev_df.count(), q_df.count()
        best = {"raw": float("inf"), "tiled": float("inf")}
        for _ in range(2):
            for mode in best:
                t0 = time.time()
                out = temporal_events(spark, gb, q_df, ev_df, mode=mode)
                out.write.format("noop").mode("overwrite").save()
                best[mode] = min(best[mode], time.time() - t0)
        print(f"{n_keys:5d} {m / n_tiles:5.2f} {len(tile):9,d} {n_tiles * n_keys:9,d} "
              f"{best['raw']:7.2f} {best['tiled']:7.2f} {best['raw'] / best['tiled']:6.2f}",
              flush=True)
        ev_df.unpersist(), q_df.unpersist()


if __name__ == "__main__":
    main()
