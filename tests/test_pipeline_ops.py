"""Dedup / similarity / textstats / multimodal operators on the driver's
documents + embeddings testdata (sf0.001)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from chronon_spark.operators.dedup import (
    embedding_near_dups,
    exact_dedup,
    minhash_near_dups,
    ngram_jaccard_pairs,
    simhash_near_dups,
)
from chronon_spark.operators.multimodal import frame_sample, image_features, image_metadata
from chronon_spark.operators.similarity import brute_force_top_k, ivf_top_k, lsh_top_k
from chronon_spark.operators.textstats import fingerprint, lang_id, quality_features, token_count

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


def test_exact_dedup(spark, docs):
    out = exact_dedup(docs)
    n_distinct = docs.select(
        F.countDistinct(F.regexp_replace(F.lower(F.trim("text")), r"\s+", " "))
    ).first()[0]
    assert out.count() == n_distinct
    assert out.agg(F.sum("dup_count")).first()[0] == docs.count()


def test_exact_dedup_fails_on_all_null_id_cluster(spark):
    """min_by skips null ids: a cluster whose ids are all null has no row
    to keep, so the query must fail instead of emitting doc_id = NULL,
    text = NULL, dup_count = 2. A cluster with one non-null id keeps it."""
    schema = "doc_id long, text string"
    kept = exact_dedup(spark.createDataFrame([(None, "Same  Text"), (7, "same text")], schema))
    assert [tuple(r) for r in kept.collect()] == [(7, "same text", 2)]
    lost = exact_dedup(spark.createDataFrame([(None, "Same  Text"), (None, "same text")], schema))
    with pytest.raises(Exception, match="no row with a non-null doc_id"):
        lost.collect()


def test_minhash_self_duplicates(spark, docs):
    """A doc duplicated verbatim must be found by minhash LSH."""
    d2 = docs.limit(5).withColumn("doc_id", F.col("doc_id") + 1_000_000)
    both = docs.unionByName(d2)
    pairs = minhash_near_dups(both, jaccard_threshold=0.9)
    found = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    for i in [r["doc_id"] for r in docs.limit(5).collect()]:
        assert (i, i + 1_000_000) in found


def test_ngram_jaccard(spark):
    pairs = spark.createDataFrame(
        [("a b c d e f g h", "a b c d e f g h"), ("a b c d e f g h", "z y x w v u t s")],
        "text_a string, text_b string",
    )
    out = ngram_jaccard_pairs(pairs, k_shingle=3).collect()
    assert out[0]["jaccard"] == 1.0
    assert out[1]["jaccard"] == 0.0


def test_simhash_duplicates(spark, docs):
    d2 = docs.limit(3).withColumn("doc_id", F.col("doc_id") + 1_000_000)
    pairs = simhash_near_dups(docs.unionByName(d2), max_hamming=0)
    found = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs.collect()}
    for i in [r["doc_id"] for r in docs.limit(3).collect()]:
        assert found.get((i, i + 1_000_000)) == 0


def test_embedding_near_dups_finds_clones(spark, emb):
    e2 = emb.limit(4).withColumn("vec_id", F.col("vec_id") + 1_000_000)
    pairs = embedding_near_dups(emb.unionByName(e2), cosine_threshold=0.999)
    found = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    for i in [r["vec_id"] for r in emb.limit(4).collect()]:
        assert (i, i + 1_000_000) in found


def test_brute_force_top_k_matches_numpy(spark, emb):
    qs = emb.limit(3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    got = brute_force_top_k(emb, qs, k=5).collect()
    rows = emb.collect()
    mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    ids = np.array([r["vec_id"] for r in rows])
    norms = np.linalg.norm(mat, axis=1)
    for q in qs.collect():
        qv = np.array(q["query_vec"], dtype=np.float64)
        cos = mat @ qv / (norms * np.linalg.norm(qv))
        order = np.lexsort((ids, -cos))[:5]
        exp = list(ids[order])
        mine = [r["vec_id"] for r in sorted(got, key=lambda r: r["rank"]) if r["query_id"] == q["query_id"]]
        assert mine == exp


def test_lsh_and_ivf_self_hit(spark, emb):
    """Approximate variants must at least return each query itself at rank 1."""
    qs = emb.limit(5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    for fn in (lsh_top_k, ivf_top_k):
        got = fn(emb, qs, k=3)
        top1 = {r["query_id"]: r["vec_id"] for r in got.filter("rank = 1").collect()}
        assert all(top1[q] == q for q in top1), fn.__name__
        assert len(top1) == 5, fn.__name__


def test_textstats(spark, docs):
    out = quality_features(docs)
    row = out.filter(F.length("text") > 50).first()
    assert 0.0 <= row["quality_score"] <= 1.0
    assert row["n_tokens"] == len(row["text"].split())
    li = lang_id(docs)
    assert set(r["lang_pred"] for r in li.collect()) <= {"en", "de", "fr", "es", "und"}
    fp = fingerprint(docs)
    # identical normalized text ⇒ identical fingerprint
    a = fp.select("text", "fingerprint").first()
    assert fp.filter(F.col("text") == a["text"]).select("fingerprint").distinct().count() == 1


def test_multimodal_stubs(spark, docs):
    bin_df = docs.withColumn("blob", F.encode("text", "utf-8")).select("doc_id", "blob")
    meta = image_metadata(bin_df, "blob", fake=True)
    m = meta.first()["image_meta"]
    assert m["channels"] == 3 and m["format"] == "fake"
    feats = image_features(bin_df, "blob", n_features=8, fake=True)
    v = feats.first()["image_vec"]
    assert len(v) == 8 and abs(sum(v) - 1.0) < 1e-5
    frames = frame_sample(bin_df.limit(10), "blob", every_n_bytes=64, max_frames=4)
    per = frames.groupBy("doc_id").count().agg(F.max("count")).first()[0]
    assert 1 <= per <= 4
    with pytest.raises(Exception, match="NotImplementedError|codecs"):
        image_metadata(bin_df.limit(1), "blob", fake=False).collect()


def test_multimodal_real_bmp_ppm_decode(spark):
    """fake=False REALLY decodes codec-free formats: 24-bit uncompressed
    BMP (header + padded rows) and binary PPM (P6)."""
    import struct

    import numpy as np

    def make_bmp(w, h, seed):
        rng = np.random.default_rng(seed)
        px = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        row_bytes = (w * 3 + 3) // 4 * 4
        raster = np.zeros((h, row_bytes), dtype=np.uint8)
        raster[:, : w * 3] = px.reshape(h, w * 3)
        header = (
            b"BM"
            + struct.pack("<IHHI", 14 + 40 + raster.size, 0, 0, 54)
            + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, raster.size, 2835, 2835, 0, 0)
        )
        return header + raster.tobytes(), px

    def make_ppm(w, h, seed):
        rng = np.random.default_rng(seed)
        px = rng.integers(0, 256, h * w * 3, dtype=np.uint8)
        return b"P6\n# comment\n%d %d\n255\n" % (w, h) + px.tobytes(), px

    bmp, bpx = make_bmp(7, 5, 3)  # w=7 exercises row padding
    ppm, ppx = make_ppm(4, 6, 4)
    df = spark.createDataFrame([(1, bytearray(bmp)), (2, bytearray(ppm))], "id int, blob binary")
    meta = {r["id"]: r["image_meta"] for r in image_metadata(df, "blob", fake=False).collect()}
    assert meta[1]["width"] == 7 and meta[1]["height"] == 5
    assert meta[1]["channels"] == 3 and meta[1]["format"] == "bmp"
    assert meta[2]["width"] == 4 and meta[2]["height"] == 6 and meta[2]["format"] == "ppm"
    feats = {r["id"]: r["image_vec"] for r in
             image_features(df, "blob", n_features=8, fake=False, normalize=False).collect()}
    exp_bmp = np.bincount(bpx.reshape(-1) % 8, minlength=8)
    exp_ppm = np.bincount(ppx % 8, minlength=8)
    assert list(feats[1]) == [int(x) for x in exp_bmp]
    assert list(feats[2]) == [int(x) for x in exp_ppm]


def test_curate_corpus_funnel(spark):
    """Curation funnel: stage counts are monotone, dedup keeps the first
    doc per normalized text, filters behave."""
    import pandas as pd

    from chronon_spark.operators.curation import curate_corpus

    good = "the cat and the dog went to the house and it was good " * 3
    docs = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4, 5],
            "text": [
                good,                      # passes, kept
                good + " ",                # exact dup after normalize → dropped
                "short text",              # fails min_tokens
                ("le chat " * 30) + "les des est une dans que pour pas",  # french
                good + " unique tail here",  # passes, kept
            ],
        }
    )
    curated, funnel = curate_corpus(
        spark.createDataFrame(docs), min_tokens=20, max_punct_ratio=0.2, langs=("en",)
    )
    kept = sorted(r["doc_id"] for r in curated.collect())
    assert kept == [1, 5]
    f = funnel.first()
    assert f["n_input"] == 5
    assert f["n_input"] >= f["n_quality"] >= f["n_lang"] >= f["n_curated"]
    assert f["n_lang"] == 3 and f["n_curated"] == 2


def test_ivf_train_kmeans(spark, emb):
    """Lloyd training: deterministic, centroids move toward cluster means,
    trained recall@10 vs brute force is at least as good as the sampled
    shortcut, and the index accepts trained centroids."""
    from chronon_spark.operators.similarity import ivf_train

    c1 = ivf_train(emb, n_cells=8, iters=2)
    c2 = ivf_train(emb, n_cells=8, iters=2)
    assert c1 == c2  # deterministic
    assert len(c1) == 8 and all(len(v) == len(c1[0]) for v in c1)
    c0 = ivf_train(emb, n_cells=8, iters=0)  # = the sampled shortcut
    assert c1 != c0  # training actually moved centroids

    qs = emb.limit(10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    truth = {
        (r["query_id"], r["vec_id"])
        for r in brute_force_top_k(emb, qs, k=10).collect()
    }

    def recall(centroids):
        got = {
            (r["query_id"], r["vec_id"])
            for r in ivf_top_k(emb, qs, k=10, n_cells=8, n_probe=2,
                               centroids=centroids).collect()
        }
        return len(got & truth) / len(truth)

    r_sampled, r_trained = recall(c0), recall(c1)
    assert r_trained >= r_sampled - 0.05  # never meaningfully worse
    assert r_trained >= 0.5


def test_tune_bands():
    from chronon_spark.operators.dedup import tune_bands

    # high threshold → few bands (tight); low threshold → many bands
    hi, lo = tune_bands(64, 0.9), tune_bands(64, 0.3)
    assert hi < lo
    for thr in (0.3, 0.5, 0.7, 0.9):
        b = tune_bands(64, thr)
        assert 64 % b == 0
        mid = (1.0 / b) ** (b / 64.0)
        assert abs(mid - thr) < 0.2  # S-curve midpoint lands near target


def test_image_resize_real(spark):
    """image_resize: real nearest-neighbor pixel math on codec-free
    formats, PPM/PGM re-encode, NULL for undecodable bytes; numpy
    ground-truth comparison per pixel."""
    import struct

    import numpy as np

    from chronon_spark.operators.multimodal import _decode_pixels, image_resize

    def make_ppm(w, h, seed):
        rng = np.random.default_rng(seed)
        px = rng.integers(0, 256, h * w * 3, dtype=np.uint8)
        return b"P6\n%d %d\n255\n" % (w, h) + px.tobytes(), px.reshape(h, w, 3)

    def make_pgm(w, h, seed):
        rng = np.random.default_rng(seed)
        px = rng.integers(0, 256, h * w, dtype=np.uint8)
        return b"P5\n%d %d\n255\n" % (w, h) + px.tobytes(), px.reshape(h, w)

    ppm, ppx = make_ppm(10, 6, 5)
    pgm, gpx = make_pgm(5, 9, 6)
    df = spark.createDataFrame(
        [(1, bytearray(ppm)), (2, bytearray(pgm)), (3, bytearray(b"\xff\xd8JPEG-ish")), (4, None)],
        "id int, blob binary",
    )
    out = {r["id"]: r["resized"] for r in image_resize(df, "blob", width=4, height=3).collect()}
    assert out[3] is None and out[4] is None  # undecodable / null → NULL

    # PPM: header + exact nearest-neighbor pixels
    assert bytes(out[1]).startswith(b"P6\n4 3\n255\n")
    got = _decode_pixels(bytes(out[1])).reshape(3, 4, 3)
    ys = (np.arange(3) * 6 // 3).clip(0, 5)
    xs = (np.arange(4) * 10 // 4).clip(0, 9)
    assert np.array_equal(got, ppx[ys][:, xs])

    # PGM stays single-channel
    assert bytes(out[2]).startswith(b"P5\n4 3\n255\n")
    got_g = _decode_pixels(bytes(out[2])).reshape(3, 4)
    ys = (np.arange(3) * 9 // 3).clip(0, 8)
    xs = (np.arange(4) * 5 // 4).clip(0, 4)
    assert np.array_equal(got_g, gpx[ys][:, xs])

    # BMP: BGR->RGB + bottom-up flip handled; spot-check one corner pixel
    def make_bmp(w, h, seed):
        rng = np.random.default_rng(seed)
        px = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)  # rows bottom-up, BGR
        row_bytes = (w * 3 + 3) // 4 * 4
        raster = np.zeros((h, row_bytes), dtype=np.uint8)
        raster[:, : w * 3] = px.reshape(h, w * 3)
        header = (
            b"BM" + struct.pack("<IHHI", 14 + 40 + raster.size, 0, 0, 54)
            + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, raster.size, 2835, 2835, 0, 0)
        )
        return header + raster.tobytes(), px

    bmp, bpx = make_bmp(8, 8, 7)
    df2 = spark.createDataFrame([(1, bytearray(bmp))], "id int, blob binary")
    rb = bytes(df2.transform(lambda d: image_resize(d, "blob", width=8, height=8)).first()["resized"])
    got_b = _decode_pixels(rb).reshape(8, 8, 3)
    top_down_rgb = bpx[::-1][:, :, [2, 1, 0]]
    assert np.array_equal(got_b, top_down_rgb)  # identity resize round-trips


def test_decontaminate(spark, docs):
    """Flagged docs share >= min_hits distinct 4-grams with the benchmark
    (python-set oracle per doc); benchmark-vs-itself is fully flagged."""
    from chronon_spark.operators.decontam import decontaminate

    bench = docs.filter("doc_id % 7 = 0")
    train = docs.filter("doc_id % 7 != 0")
    out = decontaminate(train, bench, n=4, min_hits=2).collect()

    def grams(t):
        w = t.split(" ")
        return [" ".join(w[i : i + 4]) for i in range(len(w) - 3)]

    bg = set()
    for r in bench.select("text").collect():
        bg |= set(grams(r[0]))
    texts = {r["doc_id"]: r["text"] for r in train.select("doc_id", "text").collect()}
    assert len(out) == len(texts)
    for r in out:
        g = grams(texts[r["doc_id"]])
        hits = len(set(g) & bg)  # hits are DISTINCT; n_grams counts positions
        assert r["n_hits"] == hits and r["n_grams"] == len(g)
        assert r["contaminated"] == int(hits >= 2)

    # a benchmark doc checked against the benchmark is always flagged
    self_hit = decontaminate(bench, bench, n=4, min_hits=1)
    assert self_hit.filter("contaminated = 0").count() == 0


def test_pack_sequences(spark, docs):
    """Pack layout is a running sum in (group, doc_id) order: offsets
    are contiguous (prev offset + prev tokens), pack indices are the
    stream positions' floor-div, and a doc never spans more packs than
    its token count requires."""
    from chronon_spark.operators.packing import pack_sequences

    L = 128
    rows = pack_sequences(docs, seq_len=L).collect()
    by_group: dict = {}
    for r in sorted(rows, key=lambda r: (r["source"], r["doc_id"])):
        off = by_group.get(r["source"], 0)
        assert r["stream_offset"] == off
        assert r["pack_first"] == off // L
        assert r["pack_last"] == (off + r["n_tokens"] - 1) // L
        assert r["pack_offset"] == off % L
        by_group[r["source"]] = off + r["n_tokens"]
    # +1 EOS over the whitespace token count
    d0 = docs.select("doc_id", F.size(F.split("text", " ")).alias("n")).collect()
    ns = {r["doc_id"]: r["n"] for r in d0}
    for r in rows:
        assert r["n_tokens"] == ns[r["doc_id"]] + 1


def test_repetition_features(spark, docs):
    """Counter-oracle per doc: dup-position fraction and max count*len
    char mass for 2-grams, plus edge cases (too-short doc, all-same doc)."""
    from collections import Counter

    from chronon_spark.operators.textstats import repetition_features

    import re

    rows = repetition_features(docs, ns=(2,)).select(
        "doc_id", "frac_dup_2gram", "top_2gram_char_frac"
    ).collect()
    texts = {r["doc_id"]: r["text"] for r in docs.select("doc_id", "text").collect()}
    for r in rows:
        w = [t for t in re.sub(r"\s+", " ", texts[r["doc_id"]].lower().strip()).split(" ") if t]
        grams = [" ".join(w[i : i + 2]) for i in range(len(w) - 1)]
        c = Counter(grams)
        frac = 1.0 - len(c) / len(grams) if grams else 0.0
        best = max((n * len(g) for g, n in c.items()), default=0)
        total = len(" ".join(w))
        # compare unrounded with a half-ulp-of-6dp tolerance: python round()
        # is banker's, Spark round() is HALF_UP, and power-of-two token
        # sums make exact .5 ties real (0.0703125 showed up in testdata)
        assert abs(r["frac_dup_2gram"] - frac) <= 5.1e-7
        assert abs(r["top_2gram_char_frac"] - (best / total if total else 0.0)) <= 5.1e-7

    edge = spark.createDataFrame(
        [(1, "one"), (2, "go go go go"), (3, "")], ["doc_id", "text"]
    )
    out = {r["doc_id"]: r for r in repetition_features(edge, ns=(2,)).collect()}
    assert out[1]["frac_dup_2gram"] == 0.0 and out[1]["top_2gram_char_frac"] == 0.0
    # "go go" occupies 3 of 3 positions, 2 distinct-less: 1 - 1/3; mass 3*5/11
    assert abs(out[2]["frac_dup_2gram"] - round(1 - 1 / 3, 6)) < 1e-9
    assert abs(out[2]["top_2gram_char_frac"] - round(15 / 11, 6)) < 1e-9
    assert out[3]["frac_dup_2gram"] == 0.0 and out[3]["top_2gram_char_frac"] == 0.0


def test_redact_pii(spark):
    """Counts are pre-redaction per kind; masking replaces every
    occurrence; clean text passes through byte-identical."""
    from chronon_spark.operators.redact import redact_pii

    rows = [
        (1, "mail a@b.io and c.d+x@e-f.org now"),
        (2, "srv 192.168.0.1 peer 10.0.0.255"),
        (3, "call +1 (415) 555-0123 or +44 20 7946 0958"),
        (4, "plain words only"),
        (5, "mix a@b.io 10.0.0.1 +1 415 555 0123"),
    ]
    out = {
        r["doc_id"]: r
        for r in redact_pii(
            spark.createDataFrame(rows, ["doc_id", "text"])
        ).collect()
    }
    assert (out[1]["n_email"], out[1]["n_ipv4"], out[1]["n_phone"]) == (2, 0, 0)
    assert out[1]["text_redacted"] == "mail <email> and <email> now"
    assert (out[2]["n_email"], out[2]["n_ipv4"], out[2]["n_phone"]) == (0, 2, 0)
    assert out[2]["text_redacted"] == "srv <ipv4> peer <ipv4>"
    assert (out[3]["n_email"], out[3]["n_ipv4"], out[3]["n_phone"]) == (0, 0, 2)
    assert out[3]["text_redacted"] == "call <phone> or <phone>"
    assert out[4]["pii_total"] == 0
    assert out[4]["text_redacted"] == "plain words only"
    assert out[5]["pii_total"] == 3
    assert out[5]["text_redacted"] == "mix <email> <ipv4> <phone>"


def test_sampling_deterministic_and_partition_stable(spark, docs):
    """Hash sampling: identical survivor sets under any partition layout
    (the property DataFrame.sample lacks), rates within binomial
    tolerance, weights = 1/rate; splits disjoint, exhaustive, stable."""
    from chronon_spark.operators.sampling import sample_stratified, split_assign

    rates = {"src0": 0.9, "src1": 0.1}
    a = sample_stratified(docs, rates, seed=3, default_rate=0.5)
    b = sample_stratified(docs.repartition(17, "lang"), rates, seed=3, default_rate=0.5)
    ids_a = {r["doc_id"] for r in a.select("doc_id").collect()}
    ids_b = {r["doc_id"] for r in b.select("doc_id").collect()}
    assert ids_a == ids_b and len(ids_a) > 0

    w = {r["doc_id"]: r["sample_weight"] for r in a.select("doc_id", "sample_weight").collect()}
    srcs = {r["doc_id"]: r["source"] for r in docs.select("doc_id", "source").collect()}
    for i, wt in w.items():
        exp = rates.get(srcs[i], 0.5)
        assert abs(wt - 1.0 / exp) < 1e-9
    n0 = docs.filter("source = 'src0'").count()
    k0 = sum(1 for i in ids_a if srcs[i] == "src0")
    assert abs(k0 / n0 - 0.9) < 4 * (0.9 * 0.1 / n0) ** 0.5 + 0.05

    sp = split_assign(docs, {"train": 0.75, "valid": 0.125, "test": 0.125}, seed=5)
    counts = {r["split"]: r["count"] for r in sp.groupBy("split").count().collect()}
    assert set(counts) <= {"train", "valid", "test"}
    assert sum(counts.values()) == docs.count()
    sp2 = split_assign(docs.repartition(5), {"train": 0.75, "valid": 0.125, "test": 0.125}, seed=5)
    m1 = {r["doc_id"]: r["split"] for r in sp.select("doc_id", "split").collect()}
    m2 = {r["doc_id"]: r["split"] for r in sp2.select("doc_id", "split").collect()}
    assert m1 == m2

    import pytest as _pytest

    with _pytest.raises(ValueError, match="sum to 1"):
        split_assign(docs, {"a": 0.5, "b": 0.4})


def test_url_normalize(spark):
    """Case-folds scheme/host only, strips default ports and fragments,
    drops tracking params, sorts survivors, trims trailing slash."""
    from chronon_spark.operators.urltools import url_normalize

    rows = [
        (1, "HTTPS://WWW.Example.COM:443/Path/?utm_source=x&b=2&a=1#frag"),
        (2, "http://site.org:80/p"),
        (3, "http://site.org:8080/p/"),
        (4, "https://a.b.co.uk/x?fbclid=1&z=9&utm_campaign"),
        (5, "https://x.example"),
        (6, "https://x.example/?gclid=2"),
    ]
    out = {
        r["id"]: r
        for r in url_normalize(spark.createDataFrame(rows, ["id", "url"])).collect()
    }
    assert out[1]["url_norm"] == "https://www.example.com/Path?a=1&b=2"
    assert out[1]["url_host"] == "www.example.com"
    assert out[1]["url_domain"] == "example.com"
    assert out[2]["url_norm"] == "http://site.org/p"
    assert out[3]["url_norm"] == "http://site.org:8080/p"  # non-default port kept
    assert out[3]["url_host"] == "site.org"
    assert out[4]["url_norm"] == "https://a.b.co.uk/x?z=9"
    assert out[5]["url_norm"] == "https://x.example"
    assert out[5]["url_path"] == "" and out[5]["url_query"] == ""
    assert out[6]["url_norm"] == "https://x.example"  # bare / + tracking-only query


def test_vocab_and_tfidf(spark):
    """token_doc_freq matches a Counter oracle; doc_tfidf ranks by
    rounded score with bytewise tie-break and honors min_df."""
    import math

    from chronon_spark.operators.vocab import doc_tfidf_top_terms, token_doc_freq

    corpus = [
        (1, "apple banana apple cherry"),
        (2, "banana cherry cherry durian"),
        (3, "apple banana"),
        (4, "elderberry"),
    ]
    docs4 = spark.createDataFrame(corpus, ["doc_id", "text"])
    got = {r["token"]: r for r in token_doc_freq(docs4).collect()}
    exp_df = {"apple": 2, "banana": 3, "cherry": 2, "durian": 1, "elderberry": 1}
    exp_tf = {"apple": 3, "banana": 3, "cherry": 3, "durian": 1, "elderberry": 1}
    assert {t: r["doc_freq"] for t, r in got.items()} == exp_df
    assert {t: r["term_freq"] for t, r in got.items()} == exp_tf
    for t, r in got.items():
        assert abs(r["idf"] - (math.log(5.0 / (exp_df[t] + 1.0)) + 1.0)) < 1e-12

    top = doc_tfidf_top_terms(docs4, k=2, min_df=2).collect()
    by_doc = {}
    for r in top:
        by_doc.setdefault(r["doc_id"], []).append((r["rank"], r["token"]))
    # doc 1: apple tf=2 beats the tf=1 terms; of those, cherry (df=2)
    # carries higher idf than banana (df=3) so it takes rank 2
    assert sorted(by_doc[1]) == [(1, "apple"), (2, "cherry")]
    # doc 4: only token is below min_df, so the doc vanishes
    assert 4 not in by_doc


def test_url_normalize_urllib_parity(spark):
    """Cross-check the regex decomposition against urllib.urlsplit on a
    crafted corpus (userinfo, ports, case soup, tracking-only queries,
    IPv4 hosts, deep subdomains)."""
    import re
    from urllib.parse import urlsplit

    from chronon_spark.operators.urltools import TRACKING_RE, url_normalize

    urls = [
        "https://user:pw@Secret.Example.COM/a",
        "HTTP://WWW.A.B.Example.ORG:8080/Deep/Path/?z=1&utm_medium=m",
        "https://198.51.100.7/x?a=2",
        "https://h.example:443/p?b=1&a=1&utm_source=s&fbclid=f",
        "http://h.example:80/",
        "https://h.example/p/q/r/",
        "ftp://files.example.net:21/pub",
        "https://h.example/?utm_source=only",
    ]
    df = spark.createDataFrame([(i, u) for i, u in enumerate(urls)], ["id", "url"])
    got = {r["id"]: r for r in url_normalize(df).collect()}
    defaults = {"https": 443, "http": 80}
    for i, u in enumerate(urls):
        ps = urlsplit(u)
        scheme = ps.scheme.lower()
        host = ps.hostname or ""
        r = got[i]
        assert r["url_scheme"] == scheme, u
        assert r["url_host"] == host, u
        assert r["url_path"] == re.sub("/$", "", ps.path), u
        kept = sorted(
            p for p in ps.query.split("&") if p and not re.match(TRACKING_RE, p + "=")
        )
        assert r["url_query"] == "&".join(kept), u
        hostport = host
        if ps.port is not None and ps.port != defaults.get(scheme):
            hostport += f":{ps.port}"
        exp_norm = f"{scheme}://{hostport}" + re.sub("/$", "", ps.path)
        if kept:
            exp_norm += "?" + "&".join(kept)
        assert r["url_norm"] == exp_norm, u


def test_connected_components(spark):
    """Union-find oracle on a mixed graph; a 100-node path converges via
    path halving; drop_near_duplicates keeps min-id reps + singletons."""
    from chronon_spark.operators.components import (
        connected_components,
        drop_near_duplicates,
    )

    # mixed graph: two cliques bridged, a chain, isolated pair
    edges = (
        [(1, 2), (2, 3), (3, 1), (3, 10), (10, 11), (11, 12)]
        + [(i, i + 1) for i in range(200, 300)]  # 101-node path
        + [(500, 501)]
    )

    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    exp = {n: find(n) for n in parent}

    e = spark.createDataFrame(edges, ["id_a", "id_b"])
    got = {r["node"]: r["component"] for r in connected_components(e).collect()}
    assert got == exp

    docs = spark.createDataFrame(
        [(i, f"t{i}") for i in sorted(exp) + [999]], ["doc_id", "text"]
    )
    kept = drop_near_duplicates(docs, e).collect()
    reps = {r["doc_id"] for r in kept}
    # one rep per component (its min) + the untouched singleton
    assert reps == set(exp.values()) | {999}
    by_id = {r["doc_id"]: r for r in kept}
    assert by_id[1]["cluster_size"] == 6 and by_id[1]["dup_cluster"] == 1
    assert by_id[200]["cluster_size"] == 101
    assert by_id[999]["dup_cluster"] is None and by_id[999]["cluster_size"] is None


def test_mixture_rates_and_sampling(spark, docs):
    """count^alpha weights normalize to 1; alpha<1 upweights small
    sources; rates cap at 1; sample_to_mixture lands near the target."""
    from chronon_spark.operators.sampling import mixture_rates, sample_to_mixture

    # skew the corpus: drop most of src0 so sources differ in size
    # (src0 ids are = 0 mod 20 in the fixture, so filter on %3 to bite)
    skewed = docs.filter("source != 'src0' OR doc_id % 3 = 0")
    rates = {r["stratum"]: r for r in mixture_rates(skewed, alpha=0.5).collect()}
    assert abs(sum(r["weight"] for r in rates.values()) - 1.0) < 1e-4
    counts = {r["source"]: r["count"] for r in skewed.groupBy("source").count().collect()}
    small, big = min(counts, key=counts.get), max(counts, key=counts.get)
    # temperature mixing: weight ratio is sqrt of count ratio, so the
    # small source's weight per doc is higher
    assert rates[small]["weight"] / counts[small] > rates[big]["weight"] / counts[big]
    assert all(r["rate"] <= 1.0 for r in rates.values())

    n = skewed.count()
    target = n // 2
    got = sample_to_mixture(skewed, alpha=0.5, target_total=target, seed=3).count()
    assert abs(got - target) < 6 * (target ** 0.5) + 10  # binomial tolerance


def test_chunk_documents(spark):
    """Window starts advance by stride, the tail window lands flush at
    n-chunk, short docs yield one short chunk, and chunk text is the
    exact token slice."""
    from chronon_spark.operators.packing import chunk_documents

    text = " ".join(f"t{i}" for i in range(50))
    rows = [(1, text), (2, "a b c"), (3, " ".join(f"x{i}" for i in range(24)))]
    out = chunk_documents(
        spark.createDataFrame(rows, ["doc_id", "text"]), chunk_tokens=24, stride=16
    ).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    d1 = sorted(by_doc[1], key=lambda r: r["chunk_id"])
    # 50 tokens, chunk 24, stride 16 -> full starts 0, 16 and tail 26
    assert [r["start_tok"] for r in d1] == [0, 16, 26]
    assert [r["n_tokens"] for r in d1] == [24, 24, 24]
    toks = text.split(" ")
    for r in d1:
        assert r["chunk_text"] == " ".join(toks[r["start_tok"] : r["start_tok"] + 24])
    assert len(by_doc[2]) == 1 and by_doc[2][0]["n_tokens"] == 3
    assert by_doc[2][0]["chunk_text"] == "a b c"
    # exactly chunk-sized doc: one window, not a duplicate tail
    assert len(by_doc[3]) == 1 and by_doc[3][0]["n_tokens"] == 24


def test_remove_boilerplate_lines(spark):
    """Lines in >= min_doc_freq distinct docs are stripped from all docs;
    rare and unique lines survive in order; counts are auditable; the
    Arrow path (forced tiny literal limit) agrees with the JVM path."""
    from chronon_spark.operators import boilerplate as bpmod
    from chronon_spark.operators.boilerplate import (
        boilerplate_lines,
        remove_boilerplate_lines,
    )

    rows = [
        (1, "intro one\nCOOKIE NOTICE\nbody a\nALL RIGHTS"),
        (2, "COOKIE NOTICE\nbody b\nALL RIGHTS"),
        (3, "body c\nCOOKIE NOTICE"),
        (4, "ALL RIGHTS\nbody d"),
        (5, "body e"),
    ]
    docs5 = spark.createDataFrame(rows, ["doc_id", "text"])
    bp = {r["line"]: r["n_docs"] for r in boilerplate_lines(docs5, min_doc_freq=3).collect()}
    assert bp == {"COOKIE NOTICE": 3, "ALL RIGHTS": 3}

    out = {r["doc_id"]: r for r in remove_boilerplate_lines(docs5, min_doc_freq=3).collect()}
    assert out[1]["text_clean"] == "intro one\nbody a"
    assert out[1]["n_lines_removed"] == 2
    assert out[2]["text_clean"] == "body b" and out[2]["n_lines_removed"] == 2
    assert out[5]["text_clean"] == "body e" and out[5]["n_lines_removed"] == 0

    # force the Arrow/broadcast-set path and require identical output
    old = bpmod._LITERAL_LIMIT
    bpmod._LITERAL_LIMIT = 0
    try:
        arrow = {r["doc_id"]: r for r in remove_boilerplate_lines(docs5, min_doc_freq=3).collect()}
    finally:
        bpmod._LITERAL_LIMIT = old
    assert {k: (v["text_clean"], v["n_lines_removed"]) for k, v in out.items()} == {
        k: (v["text_clean"], v["n_lines_removed"]) for k, v in arrow.items()
    }


def test_lm_score(spark):
    """Python-oracle parity on a toy corpus; fixed external reference
    gives unseen tokens the floor probability; gibberish scores worse."""
    import math

    from chronon_spark.operators.lmscore import lm_score

    rows = [
        (1, "the cat sat"),
        (2, "the the the"),
        (3, "zq"),
    ]
    d3 = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r for r in lm_score(d3).collect()}
    # corpus tf: the=4, cat=1, sat=1, zq=1 -> T=7, V=4, denom=11
    lp = {t: math.log((tf + 1) / 11.0) for t, tf in {"the": 4, "cat": 1, "sat": 1, "zq": 1}.items()}
    exp1 = (lp["the"] + lp["cat"] + lp["sat"]) / 3
    assert abs(got[1]["mean_logp"] - round(exp1, 6)) < 1e-6
    assert got[2]["mean_logp"] == round(lp["the"], 6)
    assert got[1]["n_tokens"] == 3 and got[3]["n_tokens"] == 1
    # "the the the" is the most probable doc; rare-token doc the least
    assert got[2]["ppl"] < got[1]["ppl"] < got[3]["ppl"]

    # fixed reference: unseen tokens take the floor logp
    ref = spark.createDataFrame([(10, "alpha beta alpha")], ["doc_id", "text"])
    out = {r["doc_id"]: r for r in lm_score(d3, reference=ref).collect()}
    floor = math.log(1 / (3 + 2))  # T=3, V=2
    assert out[3]["mean_logp"] == round(floor, 6)


def test_chunk_documents_fuzz(spark):
    """Hypothesis fuzz: random corpora x (chunk, stride) against a python
    start-set oracle — full windows every stride, flush tail, short-doc
    single chunk, byte-exact chunk text."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from chronon_spark.operators.packing import chunk_documents

    @settings(max_examples=6, deadline=None)
    @given(
        st.lists(st.integers(min_value=0, max_value=40), min_size=1, max_size=8),
        st.integers(min_value=1, max_value=9),
        st.integers(min_value=1, max_value=9),
    )
    def run(doc_lens, chunk, stride):
        rows = [
            (i, " ".join(f"w{i}_{j}" for j in range(ln)))
            for i, ln in enumerate(doc_lens)
        ]
        out = chunk_documents(
            spark.createDataFrame(rows, ["doc_id", "text"]),
            chunk_tokens=chunk,
            stride=stride,
        ).collect()
        got = {}
        for r in out:
            got.setdefault(r["doc_id"], []).append(r)
        for i, ln in enumerate(doc_lens):
            toks = rows[i][1].split(" ")  # note: "" splits to [""] (1 token)
            n = len(toks)
            if n <= chunk:
                starts = [0]
            else:
                starts = sorted(
                    {s * stride for s in range((n - chunk) // stride + 1)}
                    | {n - chunk}
                )
            rs = sorted(got[i], key=lambda r: r["chunk_id"])
            assert [r["start_tok"] for r in rs] == starts, (doc_lens, chunk, stride)
            for r in rs:
                assert r["n_tokens"] == min(chunk, n - r["start_tok"])
                assert r["chunk_text"] == " ".join(
                    toks[r["start_tok"] : r["start_tok"] + chunk]
                )

    run()


def test_boilerplate_arrow_path_large_set(spark):
    """The >literal_limit Arrow set-filter path (one pyarrow is_in over
    the flattened line child + offsets rebuild — no per-row Python) must
    agree with the literal-array JVM path on a corpus whose boilerplate
    set exceeds 1000 distinct lines, including empty-result docs."""
    from chronon_spark.operators.boilerplate import remove_boilerplate_lines

    n_bp = 1200
    bp_lines = [f"BOILER {i:04d}" for i in range(n_bp)]
    rows = []
    # three docs share every boilerplate line (doc_freq=3 >= 3), each with
    # a unique line mixed in; one doc is ALL boilerplate; one has none
    for d in range(3):
        rows.append((d, "\n".join(bp_lines + [f"unique {d}"])))
    rows.append((3, "\n".join(bp_lines)))
    rows.append((4, "plain body"))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    arrow = {
        r["doc_id"]: r
        for r in remove_boilerplate_lines(docs, min_doc_freq=3, literal_limit=0).collect()
    }
    literal = {
        r["doc_id"]: r
        for r in remove_boilerplate_lines(
            docs, min_doc_freq=3, literal_limit=10_000
        ).collect()
    }
    assert {k: (v["text_clean"], v["n_lines_removed"]) for k, v in arrow.items()} == {
        k: (v["text_clean"], v["n_lines_removed"]) for k, v in literal.items()
    }
    assert arrow[0]["text_clean"] == "unique 0" and arrow[0]["n_lines_removed"] == n_bp
    assert arrow[3]["text_clean"] == "" and arrow[3]["n_lines_removed"] == n_bp
    assert arrow[4]["text_clean"] == "plain body" and arrow[4]["n_lines_removed"] == 0


def test_boilerplate_strip_lines_sliced_batch():
    """The Arrow path's per-batch filter on SLICED list arrays (a nonzero
    offset, as Arrow batch views produce): a slice reads only its own
    lines, so it gives the same result as a fresh copy of its rows."""
    import pyarrow as pa

    from chronon_spark.operators.boilerplate import _strip_lines

    lists = pa.array([["a", "BP"], ["BP", "b", "c"], None, ["BP"], ["d"]])
    vs = pa.array(["BP"])
    for start in range(len(lists)):
        sliced = lists.slice(start)
        copied = pa.array(sliced.to_pylist(), type=lists.type)
        got = [a.to_pylist() for a in _strip_lines(sliced, vs, "\n")]
        assert got == [a.to_pylist() for a in _strip_lines(copied, vs, "\n")], start
    joined, nrem = _strip_lines(lists.slice(1), vs, "\n")
    assert joined.to_pylist() == ["b\nc", None, "", "d"]
    assert nrem.to_pylist() == [1, 0, 1, 0]


def test_lm_score_vocab_broadcast_guard(spark):
    """lm_score's vocab hint is size-guarded by the exact V from the
    smoothing aggregate: above the cutoff the initial plan must NOT carry
    a forced broadcast of the vocabulary (AQE may still convert at
    runtime when the REAL size fits — that is the point)."""
    from chronon_spark.operators import lmscore as lmod
    from chronon_spark.operators.lmscore import lm_score

    d = spark.createDataFrame(
        [(1, "the cat sat"), (2, "the the the")], ["doc_id", "text"]
    )
    small = lm_score(d)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in small  # V=3 <= cutoff: hint applied

    old = lmod.VOCAB_BROADCAST_MAX_ROWS
    lmod.VOCAB_BROADCAST_MAX_ROWS = 0
    try:
        big = lm_score(d)._jdf.queryExecution().executedPlan().toString()
    finally:
        lmod.VOCAB_BROADCAST_MAX_ROWS = old
    assert "SortMergeJoin" in big or "ShuffledHashJoin" in big
