"""The flagship north-star pipeline: backfilled feature vectors per
url × warc_ts over a Common-Crawl-style page table, zero temporal
leakage, text byte-identical per row.

Feature vector (BASELINE.json north_star):
- as-of crawl counts (7d/30d/unbounded), avg + last text length,
  last lang — temporal GroupBy (exact sawtooth windows)
- language-frequency map over 30d — bucketed COUNT → Map[lang → n]
- lag/lead text_len — window functions per url
- sessionized crawl activity (30-min gap sessions per url): session id,
  session start, events-in-session so far
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from chronon_spark.api.types import (
    Accuracy,
    Aggregation,
    EventSource,
    GroupBy,
    Operation,
    Query,
)
from chronon_spark.api.types import Window as W
from chronon_spark.operators.features import lag_lead, sessionize
from chronon_spark.operators.temporal import kernel_partitions, temporal_events

WEBTEXT_GROUPBY = GroupBy(
    name="url_activity",
    sources=(EventSource(table="pages", query=Query(time_column="ts")),),
    key_columns=("url",),
    aggregations=(
        Aggregation("text_len", Operation.COUNT, windows=(W(7), W(30), None)),
        Aggregation("text_len", Operation.AVERAGE, windows=(W(30),)),
        Aggregation("text_len", Operation.LAST, windows=(None,)),
        Aggregation("lang", Operation.LAST, windows=(None,)),
        Aggregation("text_len", Operation.COUNT, windows=(W(30),), buckets=("lang",)),
    ),
    accuracy=Accuracy.TEMPORAL,
)


def enrich_pages(pages: DataFrame, session_gap_ms: int = 30 * 60 * 1000) -> DataFrame:
    """Row-sequence features computed on the pages table itself: lag/lead
    text_len and session assignment per url. One shuffle on url."""
    if "text_len" not in pages.columns:
        pages = pages.withColumn("text_len", F.length("text"))
    out = lag_lead(pages, ["url"], "ts", {"text_len": [1, 2, -1]})
    out = sessionize(out, ["url"], "ts", session_gap_ms)
    w = Window.partitionBy("url", "session_id").orderBy("ts")
    out = out.withColumn("session_event_idx", F.row_number().over(w) - 1)
    return out


def _repeat_probe(frame: DataFrame, keys: "list[str]") -> DataFrame:
    """The ``keys`` tuples found on more than one row of ``frame``: a
    narrow aggregate that reads the key columns only."""
    return frame.groupBy(*keys).agg(F.count("*").alias("__n")).filter(F.col("__n") > 1)


def backfill_features(
    spark: SparkSession,
    pages: DataFrame,
    queries: DataFrame | None = None,
    hot_key_threshold: "int | str | None" = None,
) -> DataFrame:
    """Feature vectors at each query (url, ts); queries default to the
    pages themselves (feature vector at every crawl event).

    Shuffle discipline (this is what makes the job scale): every feature
    stage — lag/lead + session windows, the as-of kernel, the feature
    join-back — runs on a SLIM frame (url, ts, text_len, lang ≈ 30 bytes/
    row). The multi-KB ``text`` payload is attached by exactly ONE final
    equi-join on (url, ts), so page bytes cross the network once, not once
    per stage. On a bucketed-by-url Iceberg table that final join is
    shuffle-free on the pages side. ``text`` passes through byte-identical
    (BASELINE.json input_hint contract).

    With the default queries the page text is read twice: once for the
    slim frame (``text_len`` when the table lacks it) and once for the
    payload. The slim frame is hash-partitioned on url at the kernel's
    partition count before the window chain, and the as-of kernel streams
    that frame alone (``temporal_events(events=None)``: each page row is
    query and event at once), so the windows and the kernel share one
    exchange. The duplicate probe groups on (url, ts) without text; only
    when some (url, ts) repeats does a text hash join the payload keys.
    """
    if "text_len" not in pages.columns:
        pages = pages.withColumn("text_len", F.length("text"))
    if queries is not None:
        events = pages.select("url", "ts", "text_len", "lang")
        return temporal_events(
            spark, WEBTEXT_GROUPBY, queries, events, mode="raw",
            hot_key_threshold=hot_key_threshold,
        )
    payload_keys = ["url", "ts"]
    if not _repeat_probe(pages, payload_keys).isEmpty():
        # an 8-byte text hash keys the payload join: two crawls of one url
        # at the SAME millisecond with different texts match 1:1 by hash
        # instead of fanning out, and byte-identical duplicate crawls
        # collapse to one payload row (each left row still gets its exact
        # text — identity preserved)
        pages = pages.withColumn("__th", F.xxhash64("text"))
        payload_keys.append("__th")
    payload = pages.select(*payload_keys, "text")
    # byte-identical duplicate crawls would still fan the join out: the
    # wide payload is deduplicated only when such rows exist
    if len(payload_keys) > 2 and not _repeat_probe(pages, payload_keys).isEmpty():
        payload = payload.dropDuplicates(payload_keys)
    slim = pages.select(*payload_keys, "ds", "text_len", "lang").repartition(
        kernel_partitions(spark), "url"
    )
    left = enrich_pages(slim).select(
        *payload_keys,
        "ds",
        "lang",
        "text_len",
        "text_len_lag_1",
        "text_len_lag_2",
        "text_len_lead_1",
        "session_id",
        "session_ts",
        "session_event_idx",
    )
    # mode="raw": queries sit at EVERY event, so every 5-min tile contains
    # a query head and tiling degenerates to raw + tile overhead (measured
    # 3x slower); the tiled path wins for sparse/backfill query patterns.
    # hot_key_threshold: a crawl-storm url (one key owning a huge share of
    # queries) time-slices across tasks instead of serializing — the
    # unbounded COUNT/LAST parts ride per-slice baseline IRs
    # (temporal._build_baselines), the windowed parts bounded replication.
    # Detection runs HERE on the raw url column (one pruned parquet-scan
    # aggregate), not inside temporal_events where the query spine is the
    # enriched frame: in passthrough mode spine keys are the page urls
    # 1:1, and detecting on the spine would force a full extra
    # materialization of the window-function chain before the real job
    # (measured: the detection job alone cost more than the kernel-tail
    # saving at 40M rows)
    hot_keys = None
    if hot_key_threshold is not None:
        from chronon_spark.operators.temporal import (
            auto_hot_factor,
            detect_hot_keys,
            slice_classification,
        )

        cls = slice_classification(WEBTEXT_GROUPBY)
        hot_keys = detect_hot_keys(
            pages.select("url"), ["url"], hot_key_threshold,
            auto_factor=auto_hot_factor(cls[1] if cls else None),
        )
    # passthrough: the left frame is slim and one row per page
    feats = temporal_events(
        spark, WEBTEXT_GROUPBY, left, None, mode="raw", passthrough=True, hot_keys=hot_keys
    )
    # the single wide-column shuffle of the whole pipeline
    return feats.join(payload, payload_keys, "left").drop("__th")
