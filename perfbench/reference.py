"""Independent reference for the per-op correctness check.

DuckDB over the generated parquet, restricted to a seeded sample of keys
(and, on hot keys, a seeded subset of their query rows). It applies the
sawtooth window predicate ``floor((qt - w) / hop) * hop <= ts < qt``
itself and never calls the engine. A separate strict ``ts < qt`` leakage
audit counts earlier events with numpy.
"""

from __future__ import annotations

import math

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as pads

from gen import MS_DAY

H = 3_600_000
QUERIES_PER_KEY = 150  # cap on reference query rows per sampled key


def _hop(window_ms: int) -> int:
    # the sawtooth tail-hop resolution: >12d daily, >12h hourly, else 5 min
    return MS_DAY if window_ms > 12 * MS_DAY else H if window_ms > 12 * H else 300_000


def _in_window(w_days: float, e="e.ts", q="q.ts") -> str:
    w = int(w_days * MS_DAY)
    hop = _hop(w)
    return f"{e} < {q} AND {e} >= (({q} - {w}) // {hop}) * {hop}"


def sample_keys(table: pa.Table, key: str, rng: np.random.Generator, k: int = 10) -> list[str]:
    """The two most frequent keys, the key with the densest day and ``k``
    keys drawn uniformly."""
    counts = table.group_by(key).aggregate([("ts", "count")]).sort_by([("ts_count", "descending")])
    keys = counts[key].to_pylist()
    by_day = table.group_by([key, "ds"]).aggregate([("ts", "count")]).sort_by([("ts_count", "descending")])
    picked = keys[:2] + [by_day[key][0].as_py()]
    rest = [x for x in keys if x not in picked]
    picked += [rest[i] for i in rng.choice(len(rest), size=min(k, len(rest)), replace=False)]
    return sorted(set(picked))


def _read(path: str, key: str, sample: list[str], columns: list[str] | None = None) -> pa.Table:
    ds = pads.dataset(path, format="parquet")
    return ds.to_table(columns=columns, filter=pc.field(key).isin(sample))


def _subset(q: pa.Table, key: str, rng: np.random.Generator) -> pa.Table:
    """At most QUERIES_PER_KEY query rows per key (seeded)."""
    keep = []
    kv = q[key].to_numpy(zero_copy_only=False)
    for k in np.unique(kv):
        idx = np.flatnonzero(kv == k)
        if len(idx) > QUERIES_PER_KEY:
            idx = np.sort(rng.choice(idx, size=QUERIES_PER_KEY, replace=False))
        keep.append(idx)
    return q.take(np.concatenate(keep)) if keep else q


def _strict_counts(ev: pa.Table, q: pa.Table, key: str, window_ms: int | None) -> np.ndarray:
    """Events of the same key strictly before each query time, and inside
    the sawtooth window when one is given."""
    ek = ev[key].to_numpy(zero_copy_only=False)
    et = ev["ts"].to_numpy()
    order = np.lexsort((et, ek))
    ek, et = ek[order], et[order]
    qk = q[key].to_numpy(zero_copy_only=False)
    qt = q["ts"].to_numpy()
    lo = np.searchsorted(ek, qk, side="left")
    hi = np.searchsorted(ek, qk, side="right")
    ws = np.zeros_like(qt)
    if window_ms is not None:
        hop = _hop(window_ms)
        ws = (qt - window_ms) // hop * hop
    return np.array([
        np.searchsorted(et[a:b], t, side="left") - np.searchsorted(et[a:b], w, side="left")
        for a, b, t, w in zip(lo, hi, qt, ws)
    ])


def _rows(rel: duckdb.DuckDBPyRelation, row_id: tuple[str, ...]) -> dict:
    t = rel.arrow()
    out = {}
    for r in t.to_pylist():
        out[tuple(r[c] for c in row_id)] = r
    return out


def webtext(inputs: dict[str, str], sample: list[str], rng: np.random.Generator) -> dict:
    pages = _read(inputs["pages"], "url", sample, ["url", "ts", "text", "lang"])
    con = duckdb.connect()
    con.register("pages", pages)
    q = _subset(pages.select(["url", "ts"]), "url", rng)
    con.register("qs", q)
    seq = con.sql("""
        WITH p AS (SELECT url, ts, length(text) AS text_len, lang, text FROM pages),
        b AS (SELECT url, ts, text, lag(text_len) OVER w AS lag1, lag(text_len, 2) OVER w AS lag2,
                     lead(text_len) OVER w AS lead1,
                     CASE WHEN lag(ts) OVER w IS NULL OR ts - lag(ts) OVER w > 1800000 THEN 1 ELSE 0 END AS new_s
              FROM p WINDOW w AS (PARTITION BY url ORDER BY ts)),
        s AS (SELECT *, sum(new_s) OVER (PARTITION BY url ORDER BY ts ROWS UNBOUNDED PRECEDING) - 1 AS session_id
              FROM b)
        SELECT url, ts, lag1, lag2, lead1, CAST(session_id AS BIGINT) AS session_id,
               min(ts) OVER (PARTITION BY url, session_id) AS session_ts,
               row_number() OVER (PARTITION BY url, session_id ORDER BY ts) - 1 AS session_event_idx,
               md5(text) AS text_md5
        FROM s""")
    con.register("seq", seq.arrow())
    feats = con.sql(f"""
        WITH e AS (SELECT url, ts, length(text) AS text_len, lang FROM pages)
        SELECT q.url, q.ts,
          NULLIF(count(e.text_len) FILTER (WHERE {_in_window(7)}), 0) AS count_7d,
          NULLIF(count(e.text_len) FILTER (WHERE {_in_window(30)}), 0) AS count_30d,
          NULLIF(count(e.text_len) FILTER (WHERE e.ts < q.ts), 0) AS count_all,
          avg(e.text_len) FILTER (WHERE {_in_window(30)}) AS avg_30d,
          arg_max(e.text_len, e.ts) FILTER (WHERE e.ts < q.ts) AS last_len,
          arg_max(e.lang, e.ts) FILTER (WHERE e.ts < q.ts AND e.lang IS NOT NULL) AS last_lang,
          list(e.lang) FILTER (WHERE {_in_window(30)} AND e.lang IS NOT NULL) AS langs_30d
        FROM qs q LEFT JOIN e ON e.url = q.url
        GROUP BY q.url, q.ts""")
    con.register("feats", feats.arrow())
    out = _rows(con.sql("SELECT * FROM feats JOIN seq USING (url, ts)"), ("url", "ts"))
    for r in out.values():
        langs = r.pop("langs_30d") or []
        r["lang_hist_30d"] = {x: langs.count(x) for x in set(langs)} or None
    _audit(out, pages, q, "url", ("url", "ts"), "strict_count", None)
    return out


def join_sparse(inputs: dict[str, str], sample: list[str], rng: np.random.Generator) -> dict:
    ev = _read(inputs["pagelog"], "url", sample, ["url", "ts", "text_len"])
    q = _subset(_read(inputs["spine"], "url", sample, ["query_id", "url", "ts"]), "url", rng)
    con = duckdb.connect()
    con.register("e", ev)
    con.register("q", q)
    day = f"((q.ts // {MS_DAY}) * {MS_DAY})"
    out = _rows(con.sql(f"""
        SELECT q.query_id,
          NULLIF(count(e.text_len) FILTER (WHERE {_in_window(7)}), 0) AS c7,
          sum(e.text_len) FILTER (WHERE {_in_window(7)}) AS s7,
          avg(e.text_len) FILTER (WHERE {_in_window(1)}) AS a1,
          max(e.text_len) FILTER (WHERE {_in_window(7)}) AS m7,
          NULLIF(count(e.text_len) FILTER (WHERE e.ts < {day} AND e.ts >= {day} - {3 * MS_DAY}), 0) AS sc3,
          sum(e.text_len) FILTER (WHERE e.ts < {day} AND e.ts >= {day} - {7 * MS_DAY}) AS ss7
        FROM q LEFT JOIN e ON e.url = q.url
        GROUP BY q.query_id"""), ("query_id",))
    # a tenth of the spine sits exactly on an event: the audit catches a
    # window that takes it
    _audit(out, ev, q, "url", ("query_id",), "strict_count_7d", 7 * MS_DAY)
    return out


def _audit(rows: dict, ev: pa.Table, q: pa.Table, key: str, row_id: tuple[str, ...], col: str,
           window_ms: int | None) -> None:
    counts = _strict_counts(ev, q, key, window_ms)
    ids = zip(*[q[c].to_pylist() for c in row_id])
    for rid, n in zip(ids, counts.tolist()):
        rows[tuple(rid)][col] = n


BUILD = {"webtext_dense": webtext, "join_sparse": join_sparse}


def _same(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is None and b is None
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    if isinstance(a, dict) or isinstance(b, dict):
        return (a or None) == (b or None)
    return a == b


def compare(engine_rows: list[dict], expected: dict, check: dict[str, str],
            row_id: tuple[str, ...], leak: tuple[str, str]) -> dict:
    """Mismatching and missing reference rows, and rows whose feature
    counts events at or after the query time."""
    got = {tuple(r[c] for c in row_id): r for r in engine_rows}
    bad = missing = leaks = 0
    for rid, ref in expected.items():
        r = got.get(rid)
        if r is None:
            missing += 1
            continue
        if not all(_same(r[ec], ref[rc]) for ec, rc in check.items()):
            bad += 1
        if (r[leak[0]] or 0) > ref[leak[1]]:
            leaks += 1
    return {"checked": len(expected), "mismatched": bad, "missing": missing, "leaks": leaks}
