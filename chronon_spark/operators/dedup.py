"""Deduplication suite for web-scale corpora.

All variants are DataFrame-first; the only Python is a vectorized
pandas_udf for simhash bit-packing (Arrow-batched, numpy inside).

- exact:        hash-groupBy on normalized text (1 shuffle)
- minhash LSH:  shingle → minhash signature (higher-order functions,
                no UDF) → band buckets → bucket self-join for candidate
                pairs → exact-jaccard verification on candidates only
- simhash:      64-bit signature; near-dups = hamming distance ≤ k via
                band join on signature chunks
- ngram jaccard: exact pairwise verification primitive
- embedding cosine: near-dup pairs over an embedding column via
                random-hyperplane LSH buckets (brute-force verify inside
                buckets)

Scale shape: every variant is (map-side signature) → (shuffle on bucket)
→ (verify within bucket). No cross join ever touches the full corpus;
candidate generation is linear in rows × bands.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

# 2^31-1: keeps a*x+b < 2^63 under ANSI arithmetic (no silent overflow)
MERSENNE = (1 << 31) - 1


def normalize_text(col: str = "text"):
    """Canonical form for exact dedup: lowercase, collapse whitespace."""
    return F.regexp_replace(F.lower(F.trim(F.col(col))), r"\s+", " ")


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id row per distinct normalized text. Adds
    ``dup_count`` (cluster size). One shuffle on the text hash.

    Hash-aggregate form (min_by on the row struct + count) rather than
    window count/row_number: a HashAggregate gets map-side PARTIAL
    aggregation — duplicate rows collapse before the exchange, so the
    shuffle moves one candidate row per (partition, hash) instead of
    every row — and needs no per-partition sort. The window form shipped
    the full corpus through the exchange and sorted each partition.

    ``min_by`` skips null ids, so a cluster whose rows all have a null
    ``id_col`` has no row to keep: the query fails rather than emit an
    all-null row that loses the text."""
    cols = df.columns
    agg = (
        df.withColumn("__th", F.md5(normalize_text(text_col)))
        .groupBy("__th")
        .agg(
            F.min_by(F.struct(*cols), F.col(id_col)).alias("__row"),
            F.count("*").alias("dup_count"),
        )
    )
    no_id = F.raise_error(
        F.lit(f"exact_dedup: a duplicate cluster has no row with a non-null {id_col}")
    )
    row = F.coalesce(F.col("__row"), no_id)
    return agg.select(*[row[c].alias(c) for c in cols], "dup_count")


def shingle_hashes(text_col: str, k: int = 5):
    """k-token shingles as 64-bit hashes — pure higher-order functions.

    tokens = whitespace split of normalized text; shingle i =
    xxhash64(tokens[i..i+k)). Short docs (<k tokens) get one whole-doc
    shingle so they can still match exactly."""
    toks = f"split(regexp_replace(lower(trim({text_col})), '\\\\s+', ' '), ' ')"
    return F.expr(
        f"CASE WHEN size({toks}) >= {k} THEN "
        f"transform(sequence(0, size({toks}) - {k}), "
        f"  i -> xxhash64(concat_ws(' ', slice({toks}, i + 1, {k})))) "
        f"ELSE array(xxhash64(concat_ws(' ', {toks}))) END"
    )


def token_hashes(text_col: str):
    """Per-token 31-bit hashes (each token xxhash64-ed once)."""
    toks = f"split(regexp_replace(lower(trim({text_col})), '\\\\s+', ' '), ' ')"
    return F.expr(f"transform({toks}, t -> pmod(xxhash64(t), {MERSENNE}L))")


def shingles_from_token_hashes(th_col: str, k: int = 5):
    """Polynomial rolling combination of k token hashes per shingle —
    integer ops over a MATERIALIZED token-hash column (hashing each token
    once instead of building+hashing k-token strings per shingle)."""
    A = 1_000_003
    poly = f"element_at({th_col}, i + 1)"
    for j in range(1, k):
        poly = f"pmod({poly} * {A}L + element_at({th_col}, i + {j + 1}), {MERSENNE}L)"
    whole = f"aggregate({th_col}, 0L, (acc, h) -> pmod(acc * {A}L + h, {MERSENNE}L))"
    return F.expr(
        f"CASE WHEN size({th_col}) >= {k} THEN "
        f"transform(sequence(0, size({th_col}) - {k}), i -> {poly}) "
        f"ELSE array({whole}) END"
    )


def minhash_signature(shingles_col: str, n_hashes: int = 64, seed: int = 7):
    """n permutation-min hashes: min over shingles of (a_i*x+b_i) mod M.

    Pure-SQL higher-order-function form — correct but interpreted lambda
    evaluation makes it ~50x slower than the numpy form below; kept as the
    no-Python reference implementation."""
    rng = np.random.default_rng(seed)
    a = rng.integers(1, MERSENNE, n_hashes, dtype=np.int64)
    b = rng.integers(0, MERSENNE, n_hashes, dtype=np.int64)
    mins = [
        f"array_min(transform({shingles_col}, "
        f"x -> pmod({int(a[i])}L * pmod(x, {MERSENNE}L) + {int(b[i])}L, {MERSENNE}L)))"
        for i in range(n_hashes)
    ]
    return F.expr(f"array({', '.join(mins)})")


def minhash_signature_udf(n_hashes: int = 64, seed: int = 7):
    """Vectorized Arrow form of minhash_signature: one numpy broadcast
    (n_hashes × shingles) per row batch. Identical output to the SQL form
    (same (a,b) streams, same Mersenne-31 modulus)."""
    rng = np.random.default_rng(seed)
    a = rng.integers(1, MERSENNE, n_hashes, dtype=np.int64)[:, None]
    b = rng.integers(0, MERSENNE, n_hashes, dtype=np.int64)[:, None]

    # Chunk so the (n_hashes × flat_shingles) work matrix stays L2/L3
    # resident (~4 MB at 64 hashes). Measured: larger chunks (128 MB)
    # anti-scale 2-6x from cache blowout; per-row form ties this at long
    # shingle lists (the 64×L kernel amortizes the loop) and loses ~1.3x
    # at short lists, where batch concatenation amortizes loop overhead.
    flat_limit = max(256, (1 << 19) // max(1, n_hashes))

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def sig(shingles: pd.Series) -> pd.Series:
        vals = shingles.to_numpy()
        n = len(vals)
        k = int(a.shape[0])
        out = np.full((n, k), MERSENNE, dtype=np.int64)
        lens = np.fromiter(
            (0 if sh is None else len(sh) for sh in vals),
            dtype=np.int64,
            count=n,
        )
        nonempty = np.flatnonzero(lens)
        # one concatenate + one broadcast + one reduceat per chunk: the
        # whole Arrow batch is hashed in a handful of numpy kernel calls
        # instead of one (k × len) broadcast per row
        start = 0
        while start < len(nonempty):
            end, tot = start, 0
            while end < len(nonempty) and (tot == 0 or tot + lens[nonempty[end]] <= flat_limit):
                tot += lens[nonempty[end]]
                end += 1
            rows = nonempty[start:end]
            flat = np.concatenate(
                [np.asarray(vals[i], dtype=np.int64) for i in rows]
            ) % MERSENNE
            hashed = a * flat[None, :]
            hashed += b
            hashed %= MERSENNE
            offs = np.zeros(len(rows), dtype=np.int64)
            np.cumsum(lens[rows][:-1], out=offs[1:])
            out[rows] = np.minimum.reduceat(hashed, offs, axis=1).T
            start = end
        return pd.Series([r.tolist() for r in out])

    return sig


def tune_bands(n_hashes: int, threshold: float) -> int:
    """Pick the band count whose S-curve midpoint (1/b)^(1/r) sits
    closest to the target jaccard threshold (MMDS §3.4.3): more bands →
    catches lower similarities (more candidates), fewer bands → tighter.
    Only divisors of n_hashes are valid band counts."""
    best, best_err = 1, float("inf")
    for b in range(1, n_hashes + 1):
        if n_hashes % b:
            continue
        r = n_hashes // b
        mid = (1.0 / b) ** (1.0 / r)
        err = abs(mid - threshold)
        if err < best_err:
            best, best_err = b, err
    return best


def minhash_near_dups(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k_shingle: int = 5,
    n_hashes: int = 64,
    bands: int | None = 16,
    jaccard_threshold: float = 0.7,
) -> DataFrame:
    """Near-duplicate PAIRS (id_a < id_b) with estimated jaccard ≥ threshold.

    banding: signature split into ``bands`` rows of n/bands; docs sharing
    any band bucket are candidates; candidates verified by the minhash
    jaccard estimate (fraction of equal signature slots). ``bands=None``
    auto-tunes the band count so the S-curve midpoint matches the
    threshold (tune_bands)."""
    if bands is None:
        bands = tune_bands(n_hashes, jaccard_threshold)
    rows_per_band = n_hashes // bands
    sig_udf = minhash_signature_udf(n_hashes)
    sig = (
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("t"))
        .withColumn("__th", token_hashes("t"))
        .withColumn("__sh", shingles_from_token_hashes("__th", k_shingle))
        .withColumn("sig", sig_udf(F.col("__sh")))
        .select("id", "sig")
    )
    # signatures computed once and persisted — the natural checkpoint
    # between the signature and candidate-join stages at cluster scale
    sig = sig.persist()
    # band join on NARROW (id, band-hash) rows only; the 0.5KB signature
    # arrays are re-attached per candidate pair afterwards (shuffling them
    # through the self-join costs ~1000x the id rows)
    banded = sig.select(
        "id",
        F.explode(
            F.expr(
                f"transform(sequence(0, {bands - 1}), "
                f"b -> named_struct('band', b, 'bh', xxhash64(concat_ws(',', "
                f"transform(slice(sig, b * {rows_per_band} + 1, {rows_per_band}), x -> cast(x as string))), b)))"
            )
        ).alias("bb"),
    ).select("id", F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh"))

    left = banded.alias("l")
    right = banded.alias("r")
    pairs = (
        left.join(right, (F.col("l.band") == F.col("r.band")) & (F.col("l.bh") == F.col("r.bh")) & (F.col("l.id") < F.col("r.id")))
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    cand = (
        pairs.join(sig.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a")), "id_a")
        .join(sig.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b")), "id_b")
    )
    cand = cand.withColumn(
        "jaccard_est",
        F.expr(
            "aggregate(zip_with(sig_a, sig_b, (x, y) -> CASE WHEN x = y THEN 1.0D ELSE 0.0D END), 0.0D, (acc, v) -> acc + v)"
        )
        / F.lit(float(n_hashes)),
    )
    return cand.filter(F.col("jaccard_est") >= jaccard_threshold).select("id_a", "id_b", "jaccard_est")


def ngram_jaccard_pairs(
    df_pairs: DataFrame,
    text_a: str = "text_a",
    text_b: str = "text_b",
    k_shingle: int = 5,
) -> DataFrame:
    """Exact shingle-set jaccard for given candidate pairs (verification
    primitive). Adds ``jaccard``."""
    out = df_pairs.withColumn("__sa", F.array_distinct(shingle_hashes(text_a, k_shingle)))
    out = out.withColumn("__sb", F.array_distinct(shingle_hashes(text_b, k_shingle)))
    out = out.withColumn(
        "jaccard",
        F.when(
            F.size(F.array_union("__sa", "__sb")) > 0,
            F.size(F.array_intersect("__sa", "__sb")) / F.size(F.array_union("__sa", "__sb")),
        ).otherwise(F.lit(1.0)),
    )
    return out.drop("__sa", "__sb")


def simhash_token_hashes(text_col: str):
    """Full-width 64-bit token hashes computed JVM-side (xxhash64 inside
    whole-stage codegen) — the Python side only does the numpy bit-vote.
    Same fix the minhash path uses (token_hashes); replaces the old
    per-token per-byte Python FNV-1a loop."""
    toks = f"split(regexp_replace(lower(trim({text_col})), '\\\\s+', ' '), ' ')"
    return F.expr(f"transform(filter({toks}, t -> t != ''), t -> xxhash64(t))")


@F.pandas_udf(T.LongType())
def _simhash64(hash_arrays: pd.Series) -> pd.Series:
    """64-bit simhash bit-vote over precomputed token hashes: one flat
    (tokens × 64) numpy reduction per Arrow batch via segment sums —
    no per-row Python loops, no Python hashing."""
    n = len(hash_arrays)
    out = np.zeros(n, dtype=np.int64)
    lens = np.fromiter(
        (0 if h is None else len(h) for h in hash_arrays), dtype=np.int64, count=n
    )
    nz = np.flatnonzero(lens)
    if len(nz) == 0:
        return pd.Series(out)
    flat = np.concatenate(
        [np.asarray(h, dtype=np.int64) for h in hash_arrays if h is not None and len(h)]
    ).view(np.uint64)
    shifts = np.arange(64, dtype=np.uint64)
    # (total_tokens, 64) bit matrix via unpackbits on the raw little-endian
    # bytes: one uint8 allocation, no (tokens × 64) uint64 broadcast
    # intermediates (those cost ~800MB/worker of first-touch page faults)
    bits = np.unpackbits(flat.view(np.uint8).reshape(-1, 8), axis=1, bitorder="little")
    starts = np.concatenate([[0], np.cumsum(lens[nz])[:-1]]).astype(np.int64)
    ones = np.add.reduceat(bits, starts, axis=0).astype(np.int64)
    sig_bits = (2 * ones > lens[nz][:, None]).astype(np.uint64)
    sigs = np.bitwise_or.reduce(sig_bits << shifts[None, :], axis=1)
    out[nz] = sigs.view(np.int64)
    return pd.Series(out)


def simhash_near_dups(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    chunks: int = 4,
) -> DataFrame:
    """Near-dup pairs by simhash hamming distance ≤ max_hamming.

    Pigeonhole banding: split 64 bits into ``chunks`` 16-bit chunks; any
    pair within distance < chunks must share a chunk → bucket join on
    (chunk_idx, chunk_value), verify with bit_count(xor)."""
    sig = df.select(
        F.col(id_col).alias("id"),
        _simhash64(simhash_token_hashes(text_col)).alias("sig"),
    )
    width = 64 // chunks
    chunked = sig.select(
        "id",
        "sig",
        F.explode(
            F.expr(
                f"transform(sequence(0, {chunks - 1}), "
                f"c -> named_struct('c', c, 'v', (sig >> (c * {width})) & {(1 << width) - 1}))"
            )
        ).alias("ch"),
    ).select("id", "sig", "ch.c", "ch.v")
    chunked = chunked.persist()
    l, r = chunked.alias("l"), chunked.alias("r")
    cand = (
        l.join(r, (F.col("l.c") == F.col("r.c")) & (F.col("l.v") == F.col("r.v")) & (F.col("l.id") < F.col("r.id")))
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"),
                F.col("l.sig").alias("sig_a"), F.col("r.sig").alias("sig_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    cand = cand.withColumn("hamming", F.expr("bit_count(sig_a ^ sig_b)"))
    return cand.filter(F.col("hamming") <= max_hamming).select("id_a", "id_b", "hamming")


def embedding_near_dups(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cosine_threshold: float = 0.95,
    n_planes: int = 16,
    seed: int = 13,
) -> DataFrame:
    """Near-dup pairs by cosine ≥ threshold: random-hyperplane LSH bucket
    join, exact cosine verify inside buckets. Signature via the shared
    hyperplane path (operators/similarity.hyperplane_buckets): literal SQL
    for small dims, broadcast-matrix pandas_udf above dim 64."""
    from chronon_spark.operators.similarity import hyperplane_buckets

    dim_row = df.select(F.size(vec_col).alias("d")).first()
    dim = int(dim_row["d"]) if dim_row else 0
    bucket = F.element_at(
        hyperplane_buckets(df.sparkSession, vec_col, dim, n_planes, 1, seed), 1
    )
    norm = F.expr(
        f"sqrt(aggregate(transform({vec_col}, x -> cast(x as double) * cast(x as double)), 0.0D, (a, v) -> a + v))"
    )
    base = df.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v"), bucket.alias("bucket"), norm.alias("nrm")
    ).persist()
    l, r = base.alias("l"), base.alias("r")
    cand = l.join(
        r, (F.col("l.bucket") == F.col("r.bucket")) & (F.col("l.id") < F.col("r.id"))
    ).select(
        F.col("l.id").alias("id_a"),
        F.col("r.id").alias("id_b"),
        F.expr(
            "aggregate(zip_with(l.v, r.v, (x, y) -> cast(x as double) * cast(y as double)), 0.0D, (a, v) -> a + v)"
        ).alias("dot"),
        (F.col("l.nrm") * F.col("r.nrm")).alias("nn"),
    )
    cand = cand.withColumn(
        "cosine", F.when(F.col("nn") > 0, F.col("dot") / F.col("nn")).otherwise(F.lit(0.0))
    )
    return cand.filter(F.col("cosine") >= cosine_threshold).select("id_a", "id_b", "cosine")
