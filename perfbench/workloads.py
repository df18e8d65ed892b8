"""The workloads: inputs, engine calls and the checked output columns.

Each workload calls only the engine's public functions. ``op()`` builds
the plan of one timed action; the caller materializes it through
``engine.checksum_action``, which reads every output column.
"""

from __future__ import annotations

import dataclasses

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from chronon_spark.api.types import (
    Accuracy,
    Aggregation,
    EventSource,
    GroupBy,
    Join,
    JoinPart,
    Operation,
    Query,
    Window,
)
from gen import DAYS, MS_DAY, T0, ds_of


class Webtext:
    """``backfill_features`` with a query at every crawl event."""

    name = "webtext_dense"
    key = "url"
    row_id = ("url", "ts")
    # (engine count column, reference strict count) of the leakage audit
    leak = ("text_len_count", "strict_count")
    # engine output column -> reference column it must equal
    check = {
        "text_len_lag_1": "lag1",
        "text_len_lag_2": "lag2",
        "text_len_lead_1": "lead1",
        "session_id": "session_id",
        "session_ts": "session_ts",
        "session_event_idx": "session_event_idx",
        "text_len_count_7d": "count_7d",
        "text_len_count_30d": "count_30d",
        "text_len_count": "count_all",
        "text_len_average_30d": "avg_30d",
        "text_len_last": "last_len",
        "lang_last": "last_lang",
        "text_len_count_30d_by_lang": "lang_hist_30d",
        "__text_md5": "text_md5",
    }

    def register(self, spark: SparkSession, inputs: dict[str, str]) -> None:
        self.pages = spark.read.parquet(inputs["pages"])
        self.rows = self.pages.count()

    def op(self, spark: SparkSession) -> DataFrame:
        from chronon_spark.pipelines.webtext import backfill_features

        out = backfill_features(spark, self.pages)
        return out.withColumn("__text_md5", F.md5(F.col("text")))


def _on(gb: GroupBy, table: str) -> GroupBy:
    return dataclasses.replace(gb, sources=(dataclasses.replace(gb.sources[0], table=table),))


_PAGELOG = EventSource(table="pagelog", query=Query(selects={"url": None, "text_len": None}, time_column="ts"))
TEMPORAL_GB = GroupBy(
    name="tmp",
    sources=(_PAGELOG,),
    key_columns=("url",),
    aggregations=(
        Aggregation("text_len", Operation.COUNT, windows=(Window(7),)),
        Aggregation("text_len", Operation.SUM, windows=(Window(7),)),
        Aggregation("text_len", Operation.AVERAGE, windows=(Window(1),)),
        Aggregation("text_len", Operation.MAX, windows=(Window(7),)),
    ),
    accuracy=Accuracy.TEMPORAL,
)
SNAPSHOT_GB = GroupBy(
    name="snap",
    sources=(_PAGELOG,),
    key_columns=("url",),
    aggregations=(
        Aggregation("text_len", Operation.COUNT, windows=(Window(3),)),
        Aggregation("text_len", Operation.SUM, windows=(Window(7),)),
    ),
    accuracy=Accuracy.SNAPSHOT,
)
# served by group_by_upload + fetch_features in the traced run
UPLOAD_GB = GroupBy(
    name="serve",
    sources=(_PAGELOG,),
    key_columns=("url",),
    aggregations=(
        Aggregation("text_len", Operation.COUNT, windows=(None,)),
        Aggregation("text_len", Operation.SUM, windows=(Window(7),)),
        Aggregation("text_len", Operation.AVERAGE, windows=(Window(1),)),
        Aggregation("text_len", Operation.MAX, windows=(Window(7),)),
        Aggregation("text_len", Operation.LAST, windows=(Window(7),)),
    ),
    accuracy=Accuracy.TEMPORAL,
)


class JoinSparse:
    """``join_backfill`` of a sparse jittered spine against one tileable
    TEMPORAL part and one SNAPSHOT part over the page log."""

    name = "join_sparse"
    key = "url"
    row_id = ("query_id",)
    leak = ("tmp_text_len_count_7d", "strict_count_7d")
    check = {
        "tmp_text_len_count_7d": "c7",
        "tmp_text_len_sum_7d": "s7",
        "tmp_text_len_average_1d": "a1",
        "tmp_text_len_max_7d": "m7",
        "snap_text_len_count_3d": "sc3",
        "snap_text_len_sum_7d": "ss7",
    }

    def register(self, spark: SparkSession, inputs: dict[str, str]) -> None:
        self.gb_t = _on(TEMPORAL_GB, inputs["pagelog"])
        self.gb_s = _on(SNAPSHOT_GB, inputs["pagelog"])
        left = EventSource(
            table=inputs["spine"],
            query=Query(selects={"query_id": None, "url": None}, time_column="ts"),
        )
        self.join = Join(name="js", left=left, right_parts=(JoinPart(self.gb_t), JoinPart(self.gb_s)))
        self.start_ds, self.end_ds = (str(d) for d in ds_of(np.array([T0, T0 + (DAYS - 1) * MS_DAY])))
        self.rows = spark.read.parquet(inputs["spine"]).count()

    def op(self, spark: SparkSession) -> DataFrame:
        from chronon_spark.operators.join import join_backfill, release_backfill_caches

        release_backfill_caches()  # the previous op's persisted left
        return join_backfill(spark, self.join, self.start_ds, self.end_ds)


WORKLOADS = {w.name: w for w in (Webtext, JoinSparse)}
