"""Seeded input generator for the benchmark.

A single process using numpy and pyarrow only, so no change to the engine
can change the inputs. Everything is a function of ``(seed, scale)``:

- ``pages``: Common-Crawl-style page table with the full input schema
  (url, warc_ts, html, text, lang) plus the engine columns ts (epoch ms)
  and ds (yyyy-MM-dd).
- ``pagelog``: the same page events without the payload (url, ts, ds,
  text_len, lang), the right side of the join and upload workloads.
- ``spine``: a sparse, jittered sample of page events as join queries.
- ``requests``: fetch requests over the last (serving) day.

The shape is the repository's page table (FIXTURES.md F1) at the size of
its committed flagship slice (``.oracle_data/webtext_pages_20k``:
``generate_webtext(n_rows=20_000, n_urls=500, days=60)``): 500 urls whose
popularity falls as ``url_id = floor(u**2 * n_urls)`` for uniform ``u``,
5 hot urls that take 8 % of the events on top (BENCH/BASELINE.md), crawl
times uniform over 60 days, text lengths uniform over 0..20,000
characters in steps of 10, and ``lang`` one of en (4 in 9), de, fr, es,
zh, ru, or null for 3 % of the events. Only the number of events differs
between workloads. Each url gets exactly its expected share of the
events (rounded), so seeds differ in url names, times, texts and
languages but not in how skewed the keys are. (url, ts) pairs are
unique, so every ordering the engine and the reference use is total.

Inputs are written once per (kind, seed, scale, generator hash) under the
work directory; the inputs of other seeds are removed first, so the work
directory holds one input set per workload.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

MS_DAY = 86_400_000
H = 3_600_000
T0 = 1_704_067_200_000  # 2024-01-01 00:00 UTC
DAYS = 60
N_URLS = 500
HOT_URLS = 5
HOT_SHARE = 0.08
MAX_TEXT = 20_000
LANGS = np.array(["en", "en", "en", "en", "de", "fr", "es", "zh", "ru"])
NULL_LANG_SHARE = 0.03
N_FILES = 8

# Events per workload at scale 1.0; join_sparse queries a 2 % sample of
# its events and serves ``requests`` fetches in the traced run.
SHAPES = {
    "webtext_dense": dict(rows=20_000, spine_share=0.0),
    "join_sparse": dict(rows=400_000, spine_share=0.02, requests=2_000),
}


def generator_hash() -> str:
    with open(__file__, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:12]


def shape(workload: str, scale: float) -> dict:
    s = dict(SHAPES[workload])
    for k in ("rows", "requests"):
        if k in s:
            s[k] = max(8, int(s[k] * scale))
    return s


def ds_of(ts_ms: np.ndarray) -> np.ndarray:
    return np.datetime_as_string(ts_ms.astype("datetime64[ms]"), unit="D")


def url_counts(n: int) -> np.ndarray:
    """Events per url id: the popularity law of F1 plus the hot urls, with
    the expected counts rounded by largest remainder to sum to ``n``."""
    k = np.arange(N_URLS + 1, dtype=np.float64)
    p = np.diff(np.sqrt(k / N_URLS)) * (1 - HOT_SHARE)
    p[:HOT_URLS] += HOT_SHARE / HOT_URLS
    exact = p * n
    counts = np.floor(exact).astype(np.int64)
    counts[np.argsort(counts - exact, kind="stable")[:n - counts.sum()]] += 1
    return counts


def _url_names(rng: np.random.Generator) -> np.ndarray:
    site = rng.permutation(N_URLS)
    return np.array([f"https://site{s % 500}.example/p/{s}" for s in site])


def _events(rng: np.random.Generator, n: int) -> tuple[np.ndarray, np.ndarray]:
    """(url id, ts) per event, sorted by (url, ts), (url, ts) unique."""
    url = np.repeat(np.arange(N_URLS), url_counts(n))
    ts = T0 + rng.integers(0, DAYS * MS_DAY, size=n)
    order = np.lexsort((ts, url))
    url, ts = url[order], ts[order]
    while True:  # bump same-millisecond crawls of one url apart
        dup = np.flatnonzero((url[1:] == url[:-1]) & (ts[1:] <= ts[:-1])) + 1
        if dup.size == 0:
            return url, ts
        ts[dup] = ts[dup - 1] + 1


def _lang(rng: np.random.Generator, n: int) -> pa.Array:
    lang = LANGS[rng.integers(0, len(LANGS), size=n)]
    null = rng.random(n) < NULL_LANG_SHARE
    return pa.array(lang, mask=null)


def _texts(rng: np.random.Generator, lens: np.ndarray) -> list[bytes]:
    words = [
        "".join(chr(97 + c) for c in rng.integers(0, 26, size=rng.integers(2, 10)))
        for _ in range(3_000)
    ]
    pool = " ".join(rng.choice(words, size=400_000)).encode()
    offs = rng.integers(0, len(pool) - MAX_TEXT - 1, size=len(lens))
    return [pool[o:o + n] for o, n in zip(offs.tolist(), lens.tolist())]


def make_tables(workload: str, seed: int, scale: float) -> dict[str, pa.Table]:
    s = shape(workload, scale)
    rng = np.random.default_rng([seed, sorted(SHAPES).index(workload)])
    urls = _url_names(rng)
    uidx, ts = _events(rng, s["rows"])
    n = len(ts)
    url = pa.array(urls[uidx])
    lang = _lang(rng, n)
    ds = pa.array(ds_of(ts))
    text_len = rng.integers(0, MAX_TEXT // 10 + 1, size=n) * 10
    shuffle = rng.permutation(n)  # no row order the engine could lean on
    tables = {}
    if workload == "webtext_dense":
        texts = _texts(rng, text_len)
        html = [b"<html><body>" + t + b"</body></html>" for t in texts]
        tables["pages"] = pa.table({
            "url": url,
            "warc_ts": pa.array(ts, pa.timestamp("ms", tz="UTC")),
            "html": pa.array(html, pa.binary()),
            "text": pa.array(texts, pa.string()),
            "lang": lang,
            "ts": pa.array(ts),
            "ds": ds,
        }).take(shuffle)
    else:
        tables["pagelog"] = pa.table({
            "url": url, "ts": pa.array(ts), "ds": ds,
            "text_len": pa.array(text_len), "lang": lang,
        }).take(shuffle)
    if s["spine_share"]:
        pick = np.sort(rng.choice(n, size=max(4, int(n * s["spine_share"])), replace=False))
        # as the repository's query fixture (FIXTURES.md F2): a tenth of
        # the queries land exactly on an event (the strict ts < qt edge),
        # the rest are moved forward by up to an hour
        jitter = rng.integers(0, H, size=len(pick))
        jitter[rng.random(len(pick)) < 0.1] = 0
        qts = np.minimum(ts[pick] + jitter, T0 + DAYS * MS_DAY - 1)
        tables["spine"] = pa.table({
            "query_id": pa.array(np.arange(len(pick), dtype=np.int64)),
            "url": pa.array(urls[uidx[pick]]),
            "ts": pa.array(qts),
            "ds": pa.array(ds_of(qts)),
        }).take(rng.permutation(len(pick)))
    if s.get("requests"):
        # requests follow url popularity (event share); times fall in the
        # last day, which is the streamed head after the upload boundary
        m = s["requests"]
        tables["requests"] = pa.table({
            "request_id": pa.array(np.arange(m, dtype=np.int64)),
            "url": pa.array(urls[uidx[rng.integers(0, n, size=m)]]),
            "ts": pa.array(T0 + (DAYS - 1) * MS_DAY + rng.integers(0, MS_DAY, size=m)),
        })
    return tables


def ensure_inputs(work: str, workload: str, seed: int, scale: float) -> dict[str, str]:
    """Parquet directory per table, written once per (workload, seed, scale,
    generator hash); returns table name -> directory."""
    key = f"{workload}-s{seed}-x{scale:g}-{generator_hash()}"
    base = os.path.join(work, "inputs")
    root = os.path.join(base, key)
    done = os.path.join(root, "_DONE")
    if not os.path.exists(done):
        if os.path.isdir(base):
            for old in os.listdir(base):
                if old.startswith(workload + "-"):
                    shutil.rmtree(os.path.join(base, old))
        for name, table in make_tables(workload, seed, scale).items():
            d = os.path.join(root, name)
            os.makedirs(d)
            step = -(-table.num_rows // N_FILES)
            for i in range(N_FILES):
                pq.write_table(table.slice(i * step, step), os.path.join(d, f"part-{i:03d}.parquet"),
                               compression="zstd")
        open(done, "w").close()
    return {
        name: os.path.join(root, name)
        for name in sorted(os.listdir(root)) if name != "_DONE"
    }
