"""North-rule invariants on the webtext pipeline: byte-identical text,
zero leakage, session/lag features, deterministic generation."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from chronon_spark.fixtures.webtext import generate_webtext
from chronon_spark.operators.features import lag_lead, session_stats, sessionize
from chronon_spark.pipelines.webtext import backfill_features


@pytest.fixture(scope="module")
def pages(spark):
    return generate_webtext(spark, n_rows=20_000, n_urls=400, days=60, partitions=8).cache()


def test_generation_deterministic(spark, pages):
    again = generate_webtext(spark, n_rows=20_000, n_urls=400, days=60, partitions=4)
    def hsum(df):
        return df.select(
            F.sum(F.pmod(F.xxhash64("url", "ts", "text", "lang"), F.lit(1_000_000_007))).alias("h")
        ).collect()[0]["h"]

    h1, h2 = hsum(pages), hsum(again)
    assert h1 == h2  # parallelism-invariant determinism


def test_text_byte_identical(spark, pages):
    """text must survive the full feature pipeline byte-identical
    (BASELINE.json input_hint invariant)."""
    out = backfill_features(spark, pages)
    in_h = pages.select(F.md5(F.concat_ws("\x01", "url", F.col("ts").cast("string"), "text")).alias("h"))
    out_h = out.select(F.md5(F.concat_ws("\x01", "url", F.col("ts").cast("string"), "text")).alias("h"))
    assert in_h.subtract(out_h).count() == 0
    assert out_h.subtract(in_h).count() == 0
    assert out.count() == pages.count()


def test_zero_leakage_audit(spark, pages):
    """For every output row, unbounded crawl count == # events strictly
    before ts for that url — a full-output leakage audit."""
    out = backfill_features(spark, pages)
    ev = pages.select("url", F.col("ts").alias("ev_ts"))
    audit = (
        out.select("url", "ts", "text_len_count")
        .join(ev, "url", "left")
        .groupBy("url", "ts", "text_len_count")
        .agg(F.sum(F.when(F.col("ev_ts") < F.col("ts"), 1).otherwise(0)).alias("true_prior"))
    )
    bad = audit.filter(
        F.coalesce(F.col("text_len_count"), F.lit(0)) != F.col("true_prior")
    ).count()
    assert bad == 0


def test_sessionize(spark):
    rows = [
        ("u", 0), ("u", 1000), ("u", 2000),           # session 0
        ("u", 2_000_000), ("u", 2_100_000),            # session 1 (gap > 30min? no - 30min=1.8e6; 2e6-2000 > 1.8e6 → yes)
        ("u", 10_000_000),                             # session 2
        ("v", 5),                                      # other key
    ]
    df = spark.createDataFrame(rows, "url string, ts long")
    s = sessionize(df, ["url"], "ts", gap_ms=1_800_000)
    got = {(r["url"], r["ts"]): r["session_id"] for r in s.collect()}
    assert got[("u", 0)] == got[("u", 1000)] == got[("u", 2000)] == 0
    assert got[("u", 2_000_000)] == got[("u", 2_100_000)] == 1
    assert got[("u", 10_000_000)] == 2
    assert got[("v", 5)] == 0
    st = {r["session_id"]: r for r in session_stats(df.filter("url='u'"), ["url"], "ts", 1_800_000).collect()}
    assert st[0]["session_events"] == 3 and st[0]["session_duration_ms"] == 2000
    assert st[2]["session_events"] == 1


def test_lag_lead(spark):
    df = spark.createDataFrame(
        [("u", 1, 10), ("u", 2, 20), ("u", 3, 30)], "url string, ts long, x long"
    )
    out = {r["ts"]: r for r in lag_lead(df, ["url"], "ts", {"x": [1, -1]}).collect()}
    assert out[2]["x_lag_1"] == 10 and out[2]["x_lead_1"] == 30
    assert out[1]["x_lag_1"] is None and out[3]["x_lead_1"] is None


def test_lang_frequency_map(spark, pages):
    out = backfill_features(spark, pages)
    row = (
        out.filter(F.col("text_len_count_30d_by_lang").isNotNull())
        .orderBy(F.desc("text_len_count"))
        .select("url", "ts", "text_len_count_30d", "text_len_count_30d_by_lang")
        .first()
    )
    # bucketed counts sum to ≤ the unbucketed count (null langs excluded)
    assert sum(row["text_len_count_30d_by_lang"].values()) <= row["text_len_count_30d"]


def test_same_ms_duplicate_crawls(spark):
    """Two crawls of one url at the SAME millisecond (distinct texts, and a
    byte-identical duplicate pair) must not fan out the payload join: row
    count invariant, each row keeps its exact text."""
    import pandas as pd

    T0 = 1_700_000_000_000
    rows = [
        ("u1", T0, "alpha text"),
        ("u1", T0, "beta text"),        # same ms, different text
        ("u1", T0 + 1000, "gamma"),
        ("u2", T0, "same bytes"),
        ("u2", T0, "same bytes"),       # byte-identical duplicate crawl
        ("u2", T0 + 5000, "later"),
    ]
    pdf = pd.DataFrame(rows, columns=["url", "ts", "text"])
    pages = spark.createDataFrame(pdf).select(
        "url",
        F.col("ts").cast("long").alias("ts"),
        "text",
        F.lit("en").alias("lang"),
        F.date_format(F.timestamp_millis("ts"), "yyyy-MM-dd").alias("ds"),
    )
    out = backfill_features(spark, pages)
    assert out.count() == len(rows)  # no fan-out
    got = sorted((r["url"], r["ts"], r["text"]) for r in out.select("url", "ts", "text").collect())
    assert got == sorted((u, t, x) for u, t, x in rows)
    assert "__th" not in out.columns


def test_flagship_hot_key_slicing_identical(spark, pages):
    """backfill_features(hot_key_threshold=...) — the crawl-storm-url
    mitigation — returns byte-identical feature vectors: the unbounded
    COUNT/LAST parts merge per-slice baseline IRs, windowed parts get
    bounded event replication (temporal.py raw-kernel slicing)."""
    import pandas as pd

    plain = backfill_features(spark, pages)
    sliced = backfill_features(spark, pages, hot_key_threshold=30)

    def canon(df):
        pdf = df.toPandas()
        pdf = pdf[sorted(pdf.columns)]
        for c in pdf.columns:
            if pdf[c].dtype == object:
                pdf[c] = pdf[c].map(lambda v: str(sorted(v.items())) if isinstance(v, dict) else str(v))
        return pdf.sort_values(by=list(pdf.columns)).reset_index(drop=True)

    a, b = canon(plain), canon(sliced)
    assert a.equals(b)


def test_flagship_fixture_rewrite_drops_memoized_scan(spark, tmp_path, monkeypatch):
    """Writing the flagship fixture's parquet drops the memoized scan of
    it: the next call reads the new files, not a frame that lists the
    replaced ones."""
    import shutil

    import __spark_entry__ as entry
    from chronon_spark.fixtures import webtext as wt

    def generator(rows):
        def generate(spark, **_):
            return spark.createDataFrame(
                [(f"u{i}", 1_700_000_000_000 + i, 5, "en", "hello") for i in range(rows)],
                "url string, ts long, text_len int, lang string, text string",
            )

        return generate

    path = str(tmp_path / "pages")
    monkeypatch.setattr(entry, "FLAGSHIP_PAGES_PATH", path)
    monkeypatch.setattr(entry, "_FIXTURE_VALIDATED", False)
    monkeypatch.setattr(entry, "_READ_MEMO", {})
    monkeypatch.setattr(wt, "generate_webtext", generator(3))
    assert entry._flagship_pages(spark).count() == 3
    shutil.rmtree(path)
    monkeypatch.setattr(wt, "generate_webtext", generator(5))
    assert entry._flagship_pages(spark).count() == 5
