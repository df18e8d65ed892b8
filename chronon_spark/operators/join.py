"""Point-in-time Join backfill.

Semantics (spark/Join.scala + spark/JoinBase.scala:504-636): for every
left row (keys, ts, ds), attach each JoinPart's GroupBy aggregate **as of**
that row's time, zero leakage, left duplicates preserved 1:1, left rows
with null/unmatched keys padded with null features
(padGroupByFields, spark/Join.scala:410-432).

Accuracy dispatch (JoinBase.scala:320-334):
- Events-left × Events-right × TEMPORAL → temporal as-of kernel
- Events-left × Events-right × SNAPSHOT → "yesterday's EOD aggregate for
  today's events": right computed per day, joined on (keys, date(ts)-1 →
  shifted +1) (JoinBase.scala:86-119)
- Entities-right → snapshot entities joined on (keys, ds)

Key pruning before each right computation (spark/Join.scala:306-341):
the right input is semi-filtered by the left's distinct keys — expressed
as a broadcast LEFT SEMI join, the idiomatic Catalyst form of the
reference's bloom filter (Catalyst turns it into a BroadcastHashJoin when
the key set is small; above the broadcast threshold AQE falls back to a
shuffled semi join, which is still a strict filter, never a blowup).

Scale notes: the folded left is persisted once and shared by every part
(the reference caches leftDf, spark/JoinBase.scala:423-466). Parts are
built concurrently on one thread pool, as in spark/Join.scala:292-404, so
each part's driver-side work (plan construction, small-mode key
collects, part-table writes) overlaps the others'; each source table is read once per backfill. The final fold is
a sequence of LEFT OUTER equi-joins on (keys, ts, row_uid) — co-partitioned
on the same keys, so AQE reuses the exchange.
"""

from __future__ import annotations

import contextvars
import logging
from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from chronon_spark.api.types import (
    Accuracy,
    EntitySource,
    EventSource,
    GroupBy,
    Join,
    JoinPart,
)
from chronon_spark.operators.groupby import snapshot_entities, snapshot_events
from chronon_spark.operators.temporal import temporal_events
from chronon_spark.sources.scan import (
    TS_COL,
    render_source,
    scan_table,
    shared_scans,
    shift_ds,
    skew_filter,
    union_sources,
)

ROW_UID = "__row_uid"
BS_HIT = "__bs_hit_"

# frames persisted by join_backfill whose lifetime must extend past the
# (lazy) return value — released by release_backfill_caches()
_ACTIVE_CACHES: list = []


def release_backfill_caches() -> None:
    """Unpersist every frame join_backfill cached. Call once the backfill
    output has been MATERIALIZED (written/collected) — the runner does per
    step; unpersisting earlier would re-execute the left plan 2×/part.

    A frame of a stopped session is dropped: its cache stopped with it. A
    frame that fails to unpersist does not stop the release of the rest:
    each failure is logged, then the first is raised."""
    errors = []
    while _ACTIVE_CACHES:
        df = _ACTIVE_CACHES.pop()
        if df.sparkSession.sparkContext._jsc is None:
            continue
        try:
            df.unpersist()
        except Exception as exc:
            logging.getLogger("chronon_spark").exception("unpersist of a backfill cache failed")
            errors.append(exc)
    if errors:
        raise errors[0]


def bootstrap_fold(left: DataFrame, join: Join, spark: SparkSession) -> tuple[DataFrame, list[set]]:
    """Fold bootstrap tables onto the left with per-row match markers.

    Returns (left_with_bootstrap, per-bootstrap-part covered column sets).
    The markers are the analogue of the reference's matched_hashes
    bookkeeping (spark/Join.scala:464-558): a row is COVERED for a join
    part when every one of the part's output columns was provided by a
    bootstrap table that matched the row — those rows are skipped when
    computing the part (findUnfilledRecords, spark/Join.scala:566-584)."""
    covered_sets: list[set] = []
    for i, bp in enumerate(join.bootstrap_parts):
        bdf = scan_table(spark, bp.table)
        val_cols = {c for c in bdf.columns if c not in set(bp.key_columns)}
        bdf = bdf.withColumn(f"{BS_HIT}{i}", F.lit(True))
        left = coalesced_join(left, bdf, list(bp.key_columns), "left")
        covered_sets.append(val_cols)
    return left, covered_sets


def part_covered_expr(part: JoinPart, covered_sets: list[set]):
    """Boolean column: TRUE when every output column of ``part`` is covered
    by some matched bootstrap part for this row; None when the part has
    columns no bootstrap table ever provides (never skippable)."""
    out_cols = [f"{part.full_prefix}_{p.output_column}" for p in part.group_by.unpacked()]
    conds = []
    for c in out_cols:
        providers = [i for i, cols in enumerate(covered_sets) if c in cols]
        if not providers:
            return None
        cond = None
        for i in providers:
            m = F.col(f"{BS_HIT}{i}").isNotNull() & F.col(f"{BS_HIT}{i}")
            cond = m if cond is None else (cond | m)
        conds.append(cond)
    expr = conds[0]
    for c in conds[1:]:
        expr = expr & c
    return expr


def coalesced_join(left: DataFrame, right: DataFrame, keys: list[str], how="left") -> DataFrame:
    """LEFT OUTER equi-join; shared non-key columns merged by
    coalesce(left, right) — bootstrap-wins rule (spark/JoinUtils.scala:138-169)."""
    shared = [c for c in left.columns if c in right.columns and c not in keys]
    r = right
    for c in shared:
        r = r.withColumnRenamed(c, f"__r_{c}")
    out = left.join(r, keys, how)
    for c in shared:
        out = out.withColumn(c, F.coalesce(F.col(c), F.col(f"__r_{c}"))).drop(f"__r_{c}")
    return out


def _semi_filter_events(events: DataFrame, left: DataFrame, right_keys: list[str],
                        left_keys: list[str]) -> DataFrame:
    """Prune the right scan to keys the left actually contains — the
    broadcast-semi-join realization of the reference's bloom/IN-list
    pruning (spark/JoinUtils.scala:296-351, Extensions.scala:199-226)."""
    distinct_keys = left.select(
        *[F.col(lk).alias(rk) for lk, rk in zip(left_keys, right_keys)]
    ).dropna().distinct()
    # no explicit broadcast hint: Catalyst/AQE picks broadcast-semi when the
    # distinct key set fits under autoBroadcastJoinThreshold and falls back
    # to a shuffled semi join above it — an explicit hint is never demoted
    # and would OOM the driver on high-cardinality left keys.
    return events.join(distinct_keys, right_keys, "left_semi")


def self_join_no_prune(join: Join, part: JoinPart) -> bool:
    """True when key-pruning the part's right source by the left's keys is
    a PROVABLE no-op: the part scans the same physical table as the left,
    key columns pass through unrenamed and unmapped, and neither side
    carries extra wheres — then (time range aside) every right key value
    also occurs on the left, so the semi filter / IN list would drop
    nothing while costing a distinct + broadcast build + semi join per
    part. The only asymmetry is the window-extended right range: keys
    living ONLY in the lookback days stay unpruned, aggregate, and fall
    out of the left fold join — results identical, bounded extra work,
    three fewer stages per part. skew_keys filter both sides identically,
    so they preserve the equality."""
    left = join.left
    if not isinstance(left, EventSource):
        return False
    if part.key_mapping:
        return False
    gb = part.group_by
    lq = getattr(left, "query", None)
    if lq is not None and tuple(lq.wheres or ()):
        return False
    lsel = dict(lq.selects or {}) if lq is not None and lq.selects else {}
    for s in gb.sources:
        if not isinstance(s, EventSource) or s.table != left.table:
            return False
        sq = getattr(s, "query", None)
        if sq is not None and tuple(sq.wheres or ()):
            return False
        ssel = dict(sq.selects or {}) if sq is not None and sq.selects else {}
        for k in gb.key_columns:
            if ssel and ssel.get(k) not in (None, k):
                return False
            if lsel and lsel.get(k) not in (None, k):
                return False
    return True


SMALL_MODE_CUTOFF = 5000  # spark.chronon.join.small_mode_cutoff (TableUtils.scala:348-351)


def _probe_left_small(left: DataFrame) -> bool:
    """Early-stopping row-count probe (JoinUtils.scala:300 leftRowCount).
    Split out so join_backfill can run it ONCE per backfill and share the
    verdict across parts (the reference caches leftDf's row count)."""
    return left.limit(SMALL_MODE_CUTOFF + 1).count() <= SMALL_MODE_CUTOFF


def _sql_literal(v) -> str | None:
    """Render one key value as a Spark SQL literal. Returns None for types
    with no safe literal form — the caller then falls back to the semi-join
    path instead of injecting a silently-wrong IN filter.

    Typed rendering matters: str(date) would parse as integer arithmetic
    (2024-01-15 = 2008) and unescaped backslashes corrupt string literals
    (Spark SQL strings are backslash-escaped by default)."""
    import datetime
    import decimal

    if isinstance(v, bool):  # before int: bool is an int subclass
        return "TRUE" if v else "FALSE"
    if isinstance(v, str):
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        if v != v or v in (float("inf"), float("-inf")):
            return None  # NaN/inf never equal anything useful in an IN list
        return repr(v)
    if isinstance(v, decimal.Decimal):
        return f"CAST('{v}' AS DECIMAL(38, 18))"
    if isinstance(v, datetime.datetime):
        return "TIMESTAMP '" + v.strftime("%Y-%m-%d %H:%M:%S.%f") + "'"
    if isinstance(v, datetime.date):
        return "DATE '" + v.isoformat() + "'"
    if isinstance(v, (bytes, bytearray)):
        return "X'" + bytes(v).hex() + "'"
    return None


def small_mode_key_values(
    left: DataFrame,
    left_keys: list[str],
    right_keys: list[str],
    is_small: bool | None = None,
) -> dict[str, list[str]] | None:
    """"Small mode" key collection (spark/JoinUtils.scala:296-351
    injectKeyFilter): when the left's distinct key set is under the cutoff,
    collect it to the driver as SQL literals per right key. Returns None
    above the cutoff (broadcast-semi pruning applies instead).

    The trigger matches the reference: LEFT ROW COUNT under the cutoff
    (JoinUtils.scala:300 leftRowCount) — a cheap early-stopping
    limit+count probe — NOT distinct-key cardinality; a large left with
    few keys is served better by the hash semi join than by a wide InSet
    evaluated per scanned row (measured 2× slower at sf0.1).

    ``is_small``: pre-computed probe verdict (join_backfill probes once and
    reuses it across parts); None means probe here."""
    if is_small is None:
        is_small = _probe_left_small(left)
    if not is_small:
        return None
    rows = left.select(*left_keys).dropna().distinct().collect()

    out = {}
    for lk, rk in zip(left_keys, right_keys):
        vals = set()
        for r in rows:
            lit = _sql_literal(r[lk])
            if lit is None:
                return None  # unliteralizable key type → semi-join path
            vals.add(lit)
        if not vals:
            return None
        out[rk] = sorted(vals)
    return out


def _in_filters_for_source(source, key_values: dict[str, list[str]]) -> tuple[str, ...]:
    """Render ``<key-select-expr> IN (...)`` wheres for one source: keys
    mapped through the source's selects (the key may be a DERIVED column),
    matching the reference's expression-level injection
    (spark/JoinUtils.scala:323-344). Catalyst pushes the IN into the scan
    (PushedFilters: In) when the select is a plain column."""
    query = getattr(source, "query", None)
    selects = dict(query.selects or {}) if query is not None and query.selects else {}
    wheres = []
    for rk, vals in key_values.items():
        expr = selects.get(rk) or rk
        wheres.append(f"({expr}) IN ({', '.join(vals)})")
    return tuple(wheres)


def render_any_source(
    spark: SparkSession,
    source,
    gb: GroupBy | None,
    query_start: str | None,
    query_end: str | None,
    extra_wheres: tuple[str, ...] = (),
) -> DataFrame:
    """render_source extended with JoinSource chaining: the upstream Join
    is materialized over the window-extended range, then the embedded
    Query renders over its output (spark/GroupBy.scala:406-457
    replaceJoinSource semantics)."""
    from chronon_spark.api.types import MS_PER_DAY, JoinSource
    from chronon_spark.sources.scan import render_query

    if isinstance(source, JoinSource):
        start = query_start
        if gb is not None and query_start is not None:
            max_w = gb.max_window_millis
            if max_w is not None:
                start = shift_ds(query_start, -int(-(-max_w // MS_PER_DAY)))
            else:
                start = None  # unbounded: upstream from its own beginning
        upstream = join_backfill(
            spark, source.join, start or "1970-01-01", query_end or "9999-12-31"
        )
        # needs_time: a chained query with explicit selects must still carry
        # the event time downstream (the outer GroupBy's as-of kernel reads
        # ts) — without this, selects would silently drop it and the scan
        # fails with an unresolved-column error later
        needs_time = TS_COL in upstream.columns or source.query.time_column is not None
        return render_query(
            upstream, source.query, needs_time=needs_time, extra_wheres=extra_wheres
        )
    return render_source(
        spark, source, gb, query_start=query_start, query_end=query_end,
        extra_wheres=extra_wheres,
    )


def compute_join_part(
    spark: SparkSession,
    left: DataFrame,
    part: JoinPart,
    left_start: str,
    left_end: str,
    skew_keys=None,
    small_mode: bool = True,
    left_is_small: bool | None = None,
    tile_warehouse=None,
    hot_key_threshold: "int | str | None" = None,
    temporal_mode: str = "auto",
    prune_keys: bool = True,
) -> tuple[DataFrame, list[str]]:
    """Compute one joinPart's feature frame keyed by the LEFT key names +
    (ts | ds), feature columns prefixed with the part's full prefix.
    Returns (frame, the columns to fold it onto the left with).

    Building the plan can run Spark actions (the small-mode key collect,
    a tile-range bound), which is why join_backfill builds its parts
    concurrently.

    ``temporal_mode``: forwarded to temporal_events for TEMPORAL parts.
    "auto" runs the raw kernel, or the TileStore with ``tile_warehouse``,
    and plans without a Spark action. "tiled" suits a sparse spine over a
    storm key whose 5-minute tiles compress its events several times
    over; on a dense spine (queries at ~every event of the right source,
    e.g. a self-join backfill) hop tiling degenerates (every tile holds a
    query head, so the head semi-join keeps ~all raw events on top of the
    tile build; see pipelines/webtext.py for the same reasoning).

    ``left_is_small``: shared probe verdict from join_backfill (one
    limit+count per backfill, not one per part).

    ``tile_warehouse``: route tileable temporal parts through the
    persisted TileStore. Tile builds must see the UNPRUNED right source
    (a cache built from a key-pruned scan would be wrong for every other
    left), so key pruning (small-mode IN + semi join) is disabled for
    those parts — the compact cache is what makes that affordable."""
    gb = part.group_by
    r2l = part.right_to_left()  # right key -> left col
    right_keys = list(gb.key_columns)
    left_keys = [r2l[k] for k in right_keys]

    tile_active = False
    if tile_warehouse is not None and gb.inferred_accuracy is Accuracy.TEMPORAL:
        from chronon_spark.operators.tiled import is_tileable

        # schema probe on the unfiltered source rendering is deferred —
        # config-level tileability is enough to decide pruning here
        tile_active = is_tileable(gb, None)

    key_values = (
        small_mode_key_values(left, left_keys, right_keys, is_small=left_is_small)
        if small_mode and prune_keys and not tile_active
        else None
    )
    rights = [
        render_any_source(
            spark, s, gb, query_start=left_start, query_end=left_end,
            extra_wheres=_in_filters_for_source(s, key_values) if key_values else (),
        )
        for s in gb.sources
    ]
    in_filters = key_values
    right_df = skew_filter(union_sources(rights), skew_keys)

    accuracy = gb.inferred_accuracy
    is_entity = any(isinstance(s, EntitySource) for s in gb.sources)

    if is_entity:
        # Entities snapshot join: right grouped by (keys, ds), joined on keys+ds
        # (spark/JoinBase.scala:320-328)
        feats = snapshot_entities(spark, gb, right_df)
        join_cols_left = left_keys + ["ds"]
        feats = _rename_keys(feats, right_keys, left_keys)
        out_keyed = feats
        join_cols = join_cols_left
    elif accuracy is Accuracy.TEMPORAL:
        queries = left.select(
            *[F.col(lk).alias(rk) for lk, rk in zip(left_keys, right_keys)],
            F.col(TS_COL),
            F.col("ds"),
            F.col(ROW_UID),
        )
        tile_range = None
        if tile_active and is_tileable(gb, right_df.schema):
            max_w = gb.max_window_millis
            if max_w is None:
                lo = right_df.agg(F.min("ds").alias("m")).first()["m"] or left_start
            else:
                lo = shift_ds(left_start, -int(-(-max_w // 86_400_000)))  # ceil days
            tile_range = (lo, left_end)
        elif in_filters is None and prune_keys:
            right_df = _semi_filter_events(right_df, left, right_keys, left_keys)
        # passthrough: the query frame is slim by construction (keys + ts +
        # ds + row uid), so riding it through the Arrow kernel directly
        # skips the uniqSort-distinct + join-back (3 shuffles per part).
        # Duplicate (keys, ts) query rows stay distinct via ROW_UID and
        # each computes identical features — 1:1 contract preserved.
        feats = temporal_events(
            spark, gb, queries, right_df,
            mode=temporal_mode,
            passthrough=True,
            tile_warehouse=tile_warehouse if tile_range else None,
            tile_range=tile_range,
            hot_key_threshold=hot_key_threshold,
        )
        out_keyed = _rename_keys(feats, right_keys, left_keys)
        join_cols = [ROW_UID]
        out_keyed = out_keyed.drop(*[c for c in left_keys if c in out_keyed.columns], TS_COL)
    else:
        # Events-left × events-right SNAPSHOT: features as of yesterday's EOD.
        # Right computed per ds over [left_start-1, left_end-1], then shifted
        # +1 day so today's left rows see yesterday's aggregate
        # (JoinBase.scala:86-119, 148-165).
        if in_filters is None and prune_keys:
            right_df = _semi_filter_events(right_df, left, right_keys, left_keys)
        feats = snapshot_events(
            spark, gb, right_df, shift_ds(left_start, -1), shift_ds(left_end, -1)
        )
        feats = feats.withColumn("ds", F.date_format(F.date_add(F.to_date("ds"), 1), "yyyy-MM-dd"))
        out_keyed = _rename_keys(feats, right_keys, left_keys)
        join_cols = left_keys + ["ds"]

    # prefix feature columns
    feature_cols = [c for c in out_keyed.columns if c not in set(join_cols + left_keys + ["ds", TS_COL])]
    for c in feature_cols:
        out_keyed = out_keyed.withColumnRenamed(c, f"{part.full_prefix}_{c}")
    return out_keyed, join_cols


def _rename_keys(df: DataFrame, right_keys: list[str], left_keys: list[str]) -> DataFrame:
    for rk, lk in zip(right_keys, left_keys):
        if rk != lk:
            df = df.withColumnRenamed(rk, lk)
    return df


@shared_scans()
def join_backfill(
    spark: SparkSession,
    join: Join,
    start_ds: str,
    end_ds: str,
    part_warehouse=None,
    part_parallelism: int = 4,
    tile_warehouse=None,
    hot_key_threshold: "int | str | None" = None,
    temporal_mode: str = "auto",
) -> DataFrame:
    """Full Join backfill over [start_ds, end_ds] of the left source.

    Every part is built on a pool of ``part_parallelism`` threads
    (spark/Join.scala:292-404, spark.chronon.join.part.parallelism), and
    each source table is read once per call (sources.scan.shared_scans).

    ``part_warehouse``: optional Warehouse — each joinPart is then
    materialized to its own table ``{join}__{part}`` (already-complete
    parts are reused: lineage + resume, spark/JoinBase.scala:209-213) by
    its pool task, so Spark schedules the part jobs' stages in parallel.

    ``tile_warehouse``: tileable temporal parts read/write the persisted
    5-min tile cache (operators/tilestore.py) — repeated backfills scan
    raw right history only for unmaterialized days + query-head tiles."""
    left = render_source(spark, join.left, None, query_start=start_ds, query_end=end_ds)
    left = left.filter(F.col("ds").between(start_ds, end_ds))
    left = skew_filter(left, join.skew_keys)
    # monotonic uid keeps duplicate left rows distinct through temporal parts
    left = left.withColumn(ROW_UID, F.monotonically_increasing_id())

    # onlineExternalParts (api.thrift:341; BootstrapInfo.scala:123-130):
    # online-only parts contribute SCHEMA — their ext_{source}_{col}
    # columns land on the left null-padded BEFORE the bootstrap fold, so a
    # bootstrap table carrying logged external values fills them via the
    # fold's coalesce while unlogged rows stay null (the reference's
    # exact offline contract for external features). Parts whose source
    # declares offline_group_by instead rewrite to synthetic join parts
    # (Extensions.scala:1042-1051 ExternalJoinPart) computed below under
    # the same ext_ naming.
    right_parts = list(join.right_parts)
    for ep in join.online_external_parts or ():
        if ep.source.offline_group_by is not None:
            right_parts.append(
                JoinPart(
                    group_by=ep.source.offline_group_by,
                    key_mapping=ep.key_mapping,
                    full_prefix_override=ep.full_name,
                )
            )
            continue
        from chronon_spark.api.types import CONTEXTUAL_SOURCE

        missing = [c for c in ep.left_key_columns() if c not in left.columns]
        if missing and ep.source.name != CONTEXTUAL_SOURCE:
            # the fetcher's KeyMissingException contract
            # (Extensions.scala:715-726): contextual sources null-pad
            # silently, every other source requires its keys on the left
            raise ValueError(
                f"external part {ep.full_name}: left is missing key "
                f"column(s) {missing} (key_mapping={ep.key_mapping})"
            )
        for col, typ in ep.value_columns().items():
            if col not in left.columns:
                left = left.withColumn(col, F.lit(None).cast(typ))

    # bootstrap fold BEFORE parts: precomputed values land on the left and
    # win the later coalesce against computed part columns; per-row match
    # markers enable covering-set skip-recompute below
    # (spark/Join.scala:464-558)
    left, covered_sets = bootstrap_fold(left, join, spark)

    # persist the folded left: every part probes/collects keys against it
    # and the final fold re-reads it — without a persist the whole left
    # plan (scan + bootstrap joins) re-executes 2×/part (the reference
    # caches leftDf, spark/JoinBase.scala:423-466). Registered for release:
    # the returned frame is lazy, so the cache must outlive this function —
    # callers (the runner, per step) release it after materializing via
    # release_backfill_caches(), keeping long multi-step backfills from
    # accumulating dead cached frames in executor storage.
    left = left.persist()
    _ACTIVE_CACHES.append(left)
    # per-part pruning verdicts first: a backfill whose every part is a
    # provable self-join no-prune also skips the small-mode probe action
    part_prunes = [not self_join_no_prune(join, p_) for p_ in right_parts]
    # ONE small-mode probe per backfill, shared across parts
    left_is_small = _probe_left_small(left) if any(part_prunes) else False

    def part_input(part: JoinPart) -> DataFrame:
        """Rows the part must actually compute: bootstrap-covered rows are
        skipped (findUnfilledRecords, spark/Join.scala:566-584); the fold's
        coalesce keeps their bootstrap values."""
        cov = part_covered_expr(part, covered_sets)
        if cov is None:
            return left
        return left.filter(~F.coalesce(cov, F.lit(False)))

    if part_warehouse is not None:
        from chronon_spark.plans.ranges import PartitionRange

        # materialize the left first: the row uid must be STABLE across the
        # per-part jobs and the final fold (monotonically_increasing_id is
        # plan-dependent; reading it back from disk pins it) — the analogue
        # of computeLeft (spark/JoinBase.scala:423-466)
        requested = PartitionRange(start_ds, end_ds)
        ltable = f"{join.name}__left"
        if part_warehouse.unfilled(ltable, requested):
            part_warehouse.insert_partitions(left, ltable, lineage={"config": join.name})
        # the disk copy replaces the cache from here on — release eagerly
        # (only this call's cache, not an outer chained backfill's)
        cached_left = left
        left = part_warehouse.read(ltable)
        if cached_left in _ACTIVE_CACHES:
            _ACTIVE_CACHES.remove(cached_left)
        cached_left.unpersist()

    def run_part(part: JoinPart, prune: bool) -> tuple[DataFrame, list[str]]:
        feats, join_cols = compute_join_part(
            spark, part_input(part), part, start_ds, end_ds, join.skew_keys,
            left_is_small=left_is_small, tile_warehouse=tile_warehouse,
            hot_key_threshold=hot_key_threshold, temporal_mode=temporal_mode,
            prune_keys=prune,
        )
        if part_warehouse is None:
            return feats, join_cols
        table = f"{join.name}__{part.full_prefix}"
        if "ds" not in feats.columns:
            feats = feats.withColumn(
                "ds", F.date_format(F.timestamp_millis(F.col(TS_COL)), "yyyy-MM-dd")
            ) if TS_COL in feats.columns else feats.withColumn("ds", F.lit(start_ds))
        if part_warehouse.unfilled(table, requested):
            part_warehouse.insert_partitions(
                feats, table, lineage={"config": join.name, "part": part.full_prefix}
            )
        return part_warehouse.read(table), join_cols

    # every part is built on one pool (spark/Join.scala:292-404,
    # spark.chronon.join.part.parallelism): plan construction over py4j and
    # the driver-side actions in it — the small-mode key collect, a part
    # warehouse's write — overlap across parts. Each task runs with the caller's Spark local properties, so its
    # jobs stay in the caller's job group, and in a copy of its context, so
    # it shares this backfill's table scans.
    def in_pool(fn):
        target, ctx = inheritable_thread_target(spark)(fn), contextvars.copy_context()
        return lambda *a: ctx.run(target, *a)

    with ThreadPoolExecutor(max_workers=part_parallelism) as pool:
        futures = [
            pool.submit(in_pool(run_part), part, prune)
            for part, prune in zip(right_parts, part_prunes)
        ]
        results = [f.result() for f in futures]
    out = left
    for feats, join_cols in results:
        out = coalesced_join(out, feats, join_cols, "left")

    if join.label_part is not None:
        from chronon_spark.operators.labels import attach_labels

        out = attach_labels(spark, out, join.label_part, start_ds, end_ds)

    markers = [c for c in out.columns if c.startswith(BS_HIT)]
    out = out.drop(*markers)
    if join.derivations:
        exprs = ["*"] if "*" in join.derivations else [c for c in out.columns if c != ROW_UID]
        exprs += [f"{e} AS {a}" for a, e in join.derivations.items() if a != "*"]
        out = out.selectExpr(*exprs)
    return out.drop(ROW_UID)
