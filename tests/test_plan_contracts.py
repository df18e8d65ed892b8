"""Physical-plan contracts: the properties that make queries scale must
be visible in the executed plan, not just implied (SURVEY §4)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F


def _plan(df, execute: bool = False) -> str:
    if execute:  # AQE finalizes (and shows codegen spans) only after a run
        df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def test_parquet_scan_pushdown_and_codegen(spark):
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    q = (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag")
        .agg(F.sum("l_quantity").alias("s"))
    )
    plan = _plan(q, execute=True)
    assert "PushedFilters" in plan and "l_shipdate" in plan.split("PushedFilters", 1)[1][:300]
    assert "*(" in plan  # WholeStageCodegen span marker
    # column pruning: a 2-column aggregate must not read the wide columns
    assert "l_comment" not in plan.split("ReadSchema", 1)[1][:400]


def test_snapshot_sketch_ir_plan(spark):
    """30d percentile/unique snapshot plans must not re-materialize raw
    values per output day (the r1 scale-killer)."""
    from chronon_spark.api.types import Aggregation, EventSource, GroupBy, Operation, Window
    from chronon_spark.operators.groupby import snapshot_events

    ev = spark.createDataFrame(
        pd.DataFrame(
            {
                "user": ["u1"] * 10,
                "ts": [1_700_000_000_000 + i * 86_400_000 for i in range(10)],
                "price": [float(i) for i in range(10)],
            }
        )
    ).withColumn("ds", F.date_format(F.timestamp_millis(F.col("ts")), "yyyy-MM-dd"))
    gb = GroupBy(
        name="pc",
        sources=(EventSource(table="ev"),),
        key_columns=("user",),
        aggregations=(
            Aggregation("price", Operation.APPROX_PERCENTILE, arg_map={"percentiles": [0.5]}, windows=(Window(30),)),
            Aggregation("price", Operation.UNIQUE_COUNT, windows=(Window(30),)),
        ),
    )
    plan = _plan(snapshot_events(spark, gb, ev, "2023-11-15", "2023-12-10"))
    assert "flatten(collect_list" not in plan
    assert "collect_set" not in plan


@pytest.mark.parametrize("unbounded", [False, True])
def test_snapshot_single_scan_plan(spark, tmp_path, unbounded):
    """The snapshot spine comes out of the same pass over the daily IRs:
    without a UNIQUE_COUNT part the events are scanned once and no
    full-outer join stitches a spine back on."""
    from chronon_spark.api.types import Aggregation, EventSource, GroupBy, Operation, Window
    from chronon_spark.operators.groupby import snapshot_events

    path = str(tmp_path / "ev")
    spark.createDataFrame(
        pd.DataFrame({
            "user": [f"u{i % 3}" for i in range(60)],
            "ts": [1_700_000_000_000 + i * 43_200_000 for i in range(60)],
            "price": [float(i) for i in range(60)],
        })
    ).write.parquet(path)
    ev = spark.read.parquet(path).withColumn(
        "ds", F.date_format(F.timestamp_millis(F.col("ts")), "yyyy-MM-dd")
    )
    gb = GroupBy(
        name="one_scan",
        sources=(EventSource(table=path),),
        key_columns=("user",),
        aggregations=(
            Aggregation("price", Operation.SUM, windows=(Window(3), Window(7))),
            Aggregation("price", Operation.LAST, windows=(None if unbounded else Window(2),)),
        ),
    )
    plan = _plan(snapshot_events(spark, gb, ev, "2023-11-20", "2023-12-10"))
    assert plan.count("FileScan parquet") == 1, plan
    assert "FullOuter" not in plan, plan


def _walk(node, pred, out):
    if pred(node):
        out.append(node)
    ch = node.children()
    for i in range(ch.size()):
        _walk(ch.apply(i), pred, out)


def test_bucketed_payload_join_no_exchange_on_pages(spark, tmp_path):
    """The flagship's 100-TB layout contract: with the pages table written
    bucketed-by-url (Warehouse.write_bucketed — the Iceberg bucketed_by
    analogue), the final wide-column payload join reads pages with ZERO
    exchange above the scan; only the slim feats side shuffles (subset
    co-partitioning on url, requireAllClusterKeysForCoPartition=false)."""
    from chronon_spark.sources.warehouse import Warehouse

    n = 4000
    pdf = pd.DataFrame(
        {
            "url": [f"u{i % 97}" for i in range(n)],
            "ts": [1_700_000_000_000 + i * 60_000 for i in range(n)],
            "text": [f"body of page {i}" for i in range(n)],
        }
    )
    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.write_bucketed(
        spark.createDataFrame(pdf), "pages_bucketed_t", ["url"], n_buckets=8,
        sort_cols=["url", "ts"],
    )
    confs = {
        "spark.sql.adaptive.enabled": "false",  # plain tree for the walk
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force the SMJ (at-scale) shape
    }
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        pages = wh.read_bucketed("pages_bucketed_t")
        payload = (
            pages.withColumn("__th", F.xxhash64("text"))
            .select("url", "ts", "__th", "text")
            .dropDuplicates(["url", "ts", "__th"])
        )
        feats = spark.createDataFrame(pdf[["url", "ts"]]).withColumn(
            "__th", F.xxhash64(F.concat(F.lit("body of page "), F.lit("x")))
        )
        joined = feats.join(payload, ["url", "ts", "__th"], "left")
        root = joined._jdf.queryExecution().executedPlan()

        exchanges: list = []
        _walk(root, lambda nd: "ShuffleExchange" in nd.getClass().getSimpleName(), exchanges)
        assert len(exchanges) == 1, f"expected 1 exchange (feats side), got {len(exchanges)}"
        # the single exchange's subtree must NOT contain the bucketed scan
        scans_under_exchange: list = []
        _walk(
            exchanges[0],
            lambda nd: "FileSourceScan" in nd.getClass().getSimpleName(),
            scans_under_exchange,
        )
        assert not scans_under_exchange, "pages scan found under an exchange"
        assert "Bucketed: true" in root.toString()
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
        wh.drop("pages_bucketed_t")


def test_bucketed_flagship_end_to_end(spark, tmp_path):
    """backfill_features over a bucketed-by-url catalog table returns the
    same rows as over the plain frame (layout is a pure physical change)."""
    from chronon_spark.fixtures.webtext import generate_webtext
    from chronon_spark.pipelines.webtext import backfill_features
    from chronon_spark.sources.warehouse import Warehouse

    pages = generate_webtext(spark, n_rows=3000, n_urls=80, days=20)
    wh = Warehouse(spark, str(tmp_path / "wh2"))
    wh.write_bucketed(pages, "pages_flag_b", ["url"], n_buckets=8, sort_cols=["url", "ts"])
    try:
        plain = backfill_features(spark, pages)
        bucketed = backfill_features(spark, wh.read_bucketed("pages_flag_b"))
        cols = sorted(plain.columns)
        a = sorted((tuple(r) for r in plain.select(*cols).collect()), key=repr)
        b = sorted((tuple(r) for r in bucketed.select(*cols).collect()), key=repr)
        assert a == b
    finally:
        wh.drop("pages_flag_b")


def _nodes(root, name: str) -> list:
    out: list = []
    _walk(root, lambda nd: name in nd.getClass().getSimpleName(), out)
    return out


def _plain_plan(spark, build):
    """The executed plan of ``build()`` planned without AQE (a plain tree
    for the walk)."""
    saved = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        return build()._jdf.queryExecution().executedPlan()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", saved)


def test_flagship_reads_text_twice_in_one_stream(spark, tmp_path, monkeypatch):
    """backfill_features over a parquet page table: two scans read
    ``text`` (the slim frame's length, the payload); no Union, since each
    page row enters the as-of stream once, as query and event; ONE
    REPARTITION_BY_NUM url exchange under both the window chain and the
    kernel; and a duplicate probe that reads no text."""
    import re

    from chronon_spark.fixtures.webtext import generate_webtext
    from chronon_spark.pipelines import webtext

    path = str(tmp_path / "pages")
    generate_webtext(spark, n_rows=2000, n_urls=50, days=10).select(
        "url", "ts", "ds", "lang", "text"
    ).write.parquet(path)
    probes: list = []
    probe = webtext._repeat_probe
    monkeypatch.setattr(webtext, "_repeat_probe", lambda f, k: probes.append(probe(f, k)) or probes[-1])
    root = _plain_plan(spark, lambda: webtext.backfill_features(spark, spark.read.parquet(path)))

    def reads_text(scan) -> bool:
        return re.search(r"[<,]text:", scan.toString().split("ReadSchema:")[1]) is not None

    assert sum(map(reads_text, _nodes(root, "FileSourceScan"))) == 2, root.toString()
    assert not _nodes(root, "Union"), root.toString()
    (kernel,) = _nodes(root, "MapInArrow")
    (exchange,) = _nodes(kernel, "ShuffleExchange")
    head = exchange.toString().splitlines()[0]
    assert "REPARTITION_BY_NUM" in head and "hashpartitioning(url" in head, head
    windows = _nodes(kernel, "WindowExec")
    assert windows and all(len(_nodes(w, "ShuffleExchange")) == 1 for w in windows)
    assert probes and not reads_text(_nodes(_plain_plan(spark, lambda: probes[0]), "FileSourceScan")[0])


def test_union_stream_exchange_above_union(spark):
    """The union shape shuffles the union itself, whatever its inputs'
    partitioning. The trap: a query frame hash-partitioned on the keys by
    a window and events repartitioned on them at the kernel's count.
    Under Spark's partitioning-aware Union a repartition on the keys is
    dropped there, AQE coalesces the query side, and the union splits
    keys from their events."""
    import numpy as np
    from pyspark.sql import Window as SW

    from chronon_spark.api.types import Aggregation, EventSource, GroupBy, Operation, Window
    from chronon_spark.operators.temporal import kernel_partitions, temporal_events

    n = 4000
    rng = np.random.default_rng(5)
    ev = spark.createDataFrame(
        pd.DataFrame({
            "user": [f"u{i % 37}" for i in range(n)],
            "ts": (1_700_000_000_000 + rng.integers(0, 10 * 86_400_000, n)).astype("int64"),
            "v": rng.integers(0, 9, n).astype(float),
        })
    )
    gb = GroupBy(
        name="trap", sources=(EventSource(table="ev"),), key_columns=("user",),
        aggregations=(Aggregation("v", Operation.SUM, windows=(Window(1), None)),),
    )
    lagged = ev.select(
        "user", "ts", F.lag("ts").over(SW.partitionBy("user").orderBy("ts")).alias("lag")
    )

    def build(q, e):
        return temporal_events(spark, gb, q, e, mode="raw", passthrough=True).drop("lag")

    def trap():
        return build(lagged, ev.repartition(kernel_partitions(spark), "user"))

    root = _plain_plan(spark, trap)
    unions = _nodes(root, "Union")
    over = [
        x for x in _nodes(root, "ShuffleExchange")
        if x.children().apply(0).getClass().getSimpleName() == "UnionExec"
    ]
    assert unions and len(over) == len(unions), root.toString()
    plain = build(ev.select("user", "ts"), ev)
    assert trap().exceptAll(plain).count() == 0 and plain.exceptAll(trap()).count() == 0


def test_incremental_phase2_reads_cache_only(spark, tmp_path):
    """The incremental runner's output step must plan as scans of the IR /
    occurrence cache tables ONLY — the raw events relation may not appear
    anywhere in the executed plans of phase 2 (the scan-once contract)."""
    import numpy as np

    from chronon_spark.api.types import (
        Aggregation,
        EventSource,
        GroupBy,
        Operation,
        Query,
        Window,
    )
    from chronon_spark.operators.incremental import run_group_by_backfill_incremental
    from chronon_spark.sources.warehouse import Warehouse

    MS_DAY = 86_400_000
    T0 = 1_700_000_000_000
    rng = np.random.default_rng(3)
    n = 300
    ev = pd.DataFrame(
        {
            "user": [f"u{i}" for i in rng.integers(0, 4, n)],
            "ts": (T0 + rng.integers(0, 12 * MS_DAY, n)).astype(np.int64),
            "v": rng.integers(1, 30, n).astype(float),
        }
    )
    raw_dir = str(tmp_path / "raw_events.parquet")
    spark.createDataFrame(ev).withColumn(
        "ds", F.date_format(F.timestamp_millis("ts"), "yyyy-MM-dd")
    ).write.mode("overwrite").parquet(raw_dir)
    gb = GroupBy(
        name="plan_inc_gb",
        sources=(EventSource(table=raw_dir, query=Query(time_column="ts")),),
        key_columns=("user",),
        aggregations=(
            Aggregation("v", Operation.SUM, windows=(Window(5),)),
            Aggregation("v", Operation.UNIQUE_COUNT, windows=(Window(5),)),
        ),
    )
    wh = Warehouse(spark, str(tmp_path / "wh"))
    # first run: cache materializes (this IS allowed to scan raw)
    run_group_by_backfill_incremental(spark, wh, gb, "2023-11-20", "2023-11-24")

    # intercept the output write: the frame handed to overwrite_partitions
    # carries its own file provenance (DataFrame.inputFiles)
    captured = []
    orig_ow = Warehouse.overwrite_partitions

    def spy(self, df, table, partitions, **kw):
        if table == "plan_inc_gb":  # the OUTPUT write (phase 2)
            captured.append(list(df.inputFiles()))
        return orig_ow(self, df, table, partitions, **kw)

    Warehouse.overwrite_partitions = spy
    try:
        # extend by one day → phase 1 scans raw for the new day only;
        # phase 2 (output) must read caches exclusively
        _, mat = run_group_by_backfill_incremental(
            spark, wh, gb, "2023-11-20", "2023-11-25"
        )
    finally:
        Warehouse.overwrite_partitions = orig_ow
    assert captured, "no output write captured"
    for files in captured:
        assert files, "output step read no files"
        assert any("plan_inc_gb__ir" in f for f in files)
        assert any("plan_inc_gb__occ__v" in f for f in files)
        bad = [f for f in files if "raw_events.parquet" in f]
        assert not bad, f"phase 2 touched raw events: {bad[:3]}"


def test_tilestore_materialize_partition_pruning(spark, tmp_path):
    """Tile materialization must prune the source scan to the step's ds
    partitions (visible as PartitionFilters on the FileScan)."""
    import numpy as np

    from chronon_spark.api.types import (
        Accuracy,
        Aggregation,
        EventSource,
        GroupBy,
        Operation,
        Window,
    )
    from chronon_spark.operators.tilestore import TileStore
    from chronon_spark.sources.warehouse import Warehouse

    MS_DAY = 86_400_000
    T0 = 1_700_006_400_000
    rng = np.random.default_rng(2)
    n = 200
    ev = pd.DataFrame(
        {
            "user": [f"u{i}" for i in rng.integers(0, 3, n)],
            "ts": (T0 + rng.integers(0, 8 * MS_DAY, n)).astype(np.int64),
            "v": rng.integers(1, 9, n).astype(float),
        }
    )
    src = str(tmp_path / "ev")
    spark.createDataFrame(ev).withColumn(
        "ds", F.date_format(F.timestamp_millis("ts"), "yyyy-MM-dd")
    ).write.partitionBy("ds").parquet(src)
    events = spark.read.option("basePath", src).parquet(src)
    gb = GroupBy(
        name="prune_gb", sources=(EventSource(table=src),), key_columns=("user",),
        aggregations=(Aggregation("v", Operation.SUM, windows=(Window(3),)),),
        accuracy=Accuracy.TEMPORAL,
    )
    wh = Warehouse(spark, str(tmp_path / "wh"))
    store = TileStore(wh, gb)
    built = store.materialize(spark, events, "2023-11-16", "2023-11-17")
    assert built == ["2023-11-16", "2023-11-17"]
    # the built tiles read back only the two days' files
    files = wh.read(store.table).inputFiles()
    assert files and all("ds=2023-11-1" in f for f in files)
    # and a fresh single-day materialization plans with ds partition
    # filters reaching the scan
    captured = []
    import chronon_spark.operators.tilestore as _ts

    orig_ref = _ts.build_tile_frame

    def spy(gb_, events_):
        captured.append(events_._jdf.queryExecution().executedPlan().toString())
        return orig_ref(gb_, events_)

    _ts.build_tile_frame = spy
    try:
        store.materialize(spark, events, "2023-11-16", "2023-11-18")
    finally:
        _ts.build_tile_frame = orig_ref
    assert captured, "no tile build captured"
    plan = captured[0]
    pf = plan.split("PartitionFilters", 1)
    assert len(pf) == 2, "no PartitionFilters on the tile-build scan"
    assert "2023-11-18" in pf[1][:400]


def test_sliced_raw_kernel_plan_contracts(spark):
    """Hot-key slicing plan contracts: (1) the kernel stream partitions on
    (keys, __qs) so a hot key's work really lands on many tasks; (2) the
    stats-family default plan carries percentile_approx, never the
    unbounded-buffer exact percentile; (3) baseline building adds no
    driver-side collect of event data (it is groupBy + window + as-of
    joins, all in-plan)."""
    import numpy as np

    from chronon_spark.api.types import Aggregation, EventSource, GroupBy, Operation, Window
    from chronon_spark.operators.temporal import temporal_events

    n = 600
    rng = np.random.default_rng(11)
    ev = spark.createDataFrame(
        pd.DataFrame(
            {
                "user": ["u0"] * n,
                "ts": np.sort(1_700_000_000_000 + rng.integers(0, 20 * 86_400_000, n)).astype("int64"),
                "v": rng.integers(0, 9, n).astype(float),
            }
        )
    )
    q = ev.select("user", "ts")
    out = temporal_events(
        spark, GroupBy(
            name="pc2", sources=(EventSource(table="ev"),), key_columns=("user",),
            aggregations=(
                Aggregation("v", Operation.SUM, windows=(Window(7),)),
                Aggregation("v", Operation.COUNT, windows=(None,)),  # baseline IR path
            ),
        ),
        q, ev, mode="raw", hot_keys=[("u0",)], hot_slice_ms=4 * 86_400_000,
    )
    plan = _plan(out, execute=True)
    # the kernel stage's exchange must hash on user AND the slice id:
    # some hashpartitioning clause carries __qs in its key list
    low = plan.lower()
    assert "mapinarrow" in low
    assert any(
        "__qs" in seg[:120] for seg in low.split("hashpartitioning(")[1:]
    ), "no exchange hashes on the slice id"

    # stats default: bounded-memory percentile only
    from chronon_spark.operators.stats import column_summary

    sdf = ev.withColumn("ds", F.date_format(F.timestamp_millis(F.col("ts")), "yyyy-MM-dd"))
    splan = _plan(column_summary(sdf.select("ds", "v"), keys=()))
    assert "percentile_approx" in splan
    assert "percentile(" not in splan.replace("percentile_approx(", "")


def test_upload_shares_one_hop_frame_per_resolution(spark):
    """group_by_upload must shuffle O(resolutions), not O(parts): eight
    windowed parts sharing the 1h hop resolution plus two unbounded
    parts collapse to one hop-frame groupBy chain + one prefix groupBy
    (operators/upload.py). A per-part layout would show ~17 exchanges."""
    import numpy as np

    from chronon_spark.api.types import (
        Accuracy,
        Aggregation,
        EventSource,
        GroupBy,
        Operation,
        Window,
    )
    from chronon_spark.operators.upload import group_by_upload

    n = 400
    rng = np.random.default_rng(5)
    ev = spark.createDataFrame(
        pd.DataFrame(
            {
                "user": [f"u{i}" for i in rng.integers(0, 4, n)],
                "ts": (1_700_006_400_000 + rng.integers(0, 10 * 86_400_000, n)).astype(
                    "int64"
                ),
                "v": rng.normal(10, 3, n),
            }
        )
    )
    gb = GroupBy(
        name="pc_up",
        sources=(EventSource(table="ev"),),
        key_columns=("user",),
        aggregations=(
            Aggregation("v", Operation.SUM, windows=(Window(7),)),
            Aggregation("v", Operation.COUNT, windows=(Window(7),)),
            Aggregation("v", Operation.MIN, windows=(Window(3),)),
            Aggregation("v", Operation.MAX, windows=(Window(7),)),
            Aggregation("v", Operation.VARIANCE, windows=(Window(7),)),
            Aggregation("v", Operation.LAST, windows=(Window(2),)),
            Aggregation("v", Operation.TOP_K, arg_map={"k": 3}, windows=(Window(7),)),
            Aggregation(
                "v",
                Operation.APPROX_PERCENTILE,
                arg_map={"percentiles": [0.5]},
                windows=(Window(7),),
            ),
            Aggregation("v", Operation.KURTOSIS, windows=(None,)),
            Aggregation("v", Operation.FIRST, windows=(None,)),
        ),
        accuracy=Accuracy.TEMPORAL,
    )
    up = group_by_upload(spark, gb, ev, "2023-11-24")
    plan = _plan(up, execute=True)
    # AQE's toString appends the pre-adaptive plan under "Initial Plan"
    # (with fresh plan_ids) — count exchanges in the FINAL plan only
    final = plan.split("Initial Plan", 1)[0]
    n_ex = final.count("Exchange ")
    # 1 prefix groupBy + 2 for the shared hop chain; the outer join adds
    # none (both sides already hash-partitioned on the keys)
    assert 0 < n_ex <= 3, f"upload shuffles O(parts): {n_ex} exchanges\n{plan[:2000]}"
    assert up.count() == 4  # one row per key


def test_upload_bucketed_frame_two_exchanges(spark):
    """A bucketed windowed part plans exactly 2 exchanges (the
    (keys, hop, bucket) partial-aggregated groupBy + the per-key
    collect) — the per-entry hop layout skips the (keys, hop) middle
    grouping (operators/upload.py bucketed frames)."""
    import numpy as np

    from chronon_spark.api.types import (
        Accuracy,
        Aggregation,
        EventSource,
        GroupBy,
        Operation,
        Window,
    )
    from chronon_spark.operators.upload import group_by_upload

    rng = np.random.default_rng(9)
    n = 300
    ev = spark.createDataFrame(
        pd.DataFrame(
            {
                "user": [f"u{i}" for i in rng.integers(0, 4, n)],
                "ts": (1_700_006_400_000 + rng.integers(0, 9 * 86_400_000, n)).astype(
                    "int64"
                ),
                "v": rng.normal(10, 3, n),
                "b": rng.choice(["x", "y", "z"], n),
            }
        )
    )
    gb = GroupBy(
        name="pc_upb",
        sources=(EventSource(table="ev"),),
        key_columns=("user",),
        aggregations=(
            Aggregation("v", Operation.SUM, windows=(Window(7),), buckets=("b",)),
            Aggregation("v", Operation.AVERAGE, windows=(Window(7),), buckets=("b",)),
        ),
        accuracy=Accuracy.TEMPORAL,
    )
    up = group_by_upload(spark, gb, ev, "2023-11-24")
    plan = _plan(up, execute=True)
    final = plan.split("Initial Plan", 1)[0]
    n_ex = final.count("Exchange ")
    assert n_ex == 2, f"bucketed frame exchanges: {n_ex}\n{final[:1500]}"
    assert up.count() == 4


def test_pipeline_ops_plan_shapes(spark):
    """New training-data ops keep their 100TB shapes: map-side ops show
    ZERO exchanges, packing exactly one (the per-group window), decontam
    broadcasts the benchmark grams, vocab rolls up in exactly two
    keyed exchanges, tfidf broadcasts the vocabulary back."""
    from chronon_spark.operators.decontam import decontaminate
    from chronon_spark.operators.packing import pack_sequences
    from chronon_spark.operators.redact import redact_pii
    from chronon_spark.operators.sampling import sample_stratified
    from chronon_spark.operators.textstats import repetition_features
    from chronon_spark.operators.urltools import url_normalize
    from chronon_spark.operators.vocab import doc_tfidf_top_terms, token_doc_freq

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs = docs.withColumn("url", F.concat(F.lit("https://s.example/"), "doc_id"))

    for name, df in [
        ("repetition", repetition_features(docs, ns=(2,))),
        ("redact", redact_pii(docs)),
        ("url", url_normalize(docs)),
        ("sample", sample_stratified(docs, {"src0": 0.5}, default_rate=0.25)),
    ]:
        plan = _plan(df)
        assert "Exchange" not in plan, f"{name}: map-side op must not shuffle\n{plan}"

    pack = _plan(pack_sequences(docs, seq_len=128))
    assert pack.count("Exchange") == 1  # one hash partitioning for the window

    dec = _plan(decontaminate(docs.filter("doc_id % 7 != 0"), docs.filter("doc_id % 7 = 0")))
    assert "BroadcastHashJoin" in dec  # benchmark grams never shuffle the corpus side
    # corpus text must not ride any exchange: only narrow gram/count rows do
    # (bench distinct + hit-count groupBy + final doc_id join = <= 4 shuffles;
    # BroadcastExchange is not a shuffle)
    assert dec.count("Exchange hashpartitioning") <= 4

    vocab = _plan(token_doc_freq(docs))
    assert vocab.count("Exchange") == 2  # (doc,token) partial-agg rollup + token re-key
    assert vocab.count("HashAggregate") >= 4  # partial+final per stage

    # vocab re-attachment is SIZE-GUARDED, not hint-forced: AQE sees the
    # vocab aggregate's real post-shuffle size at runtime and converts to
    # a broadcast join when it fits under adaptive.autoBroadcastJoinThreshold
    # (a hard hint would OOM on a crawl-scale min_df=1 token set — r6
    # verdict "what's wrong" #1). Below threshold → broadcast...
    tfidf = _plan(doc_tfidf_top_terms(docs, k=2), execute=True)
    assert "BroadcastHashJoin" in tfidf  # small vocabulary rides a broadcast
    # ...above threshold (simulated by disabling it) → sort-merge, never
    # an un-demotable broadcast of an unbounded vocabulary
    for k_ in ("spark.sql.adaptive.autoBroadcastJoinThreshold",
               "spark.sql.autoBroadcastJoinThreshold"):
        spark.conf.set(k_, "-1")
    try:
        tfidf_big = _plan(doc_tfidf_top_terms(docs, k=2), execute=True)
        assert "BroadcastHashJoin" not in tfidf_big
        assert "SortMergeJoin" in tfidf_big or "ShuffledHashJoin" in tfidf_big
    finally:
        for k_ in ("spark.sql.adaptive.autoBroadcastJoinThreshold",
                   "spark.sql.autoBroadcastJoinThreshold"):
            spark.conf.unset(k_)
