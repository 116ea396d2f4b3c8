"""Incremental aggregate views: GROUP BY rollups maintained from the
changelog — the continuous-aggregate / "dynamic table" pattern
(TimescaleDB continuous aggregates, Flink dynamic tables, Materialize).

The reference has no analogue (DataX moves rows; any rollup re-reads the
whole source per sync, ``CommonRdbmsReader.java:165-214``).  Here the
rollup is a derived :class:`LakeTable` keyed by the group dimensions, and
each refresh consumes only the upstream commits since its watermark —
update_before/delete rows RETRACT (-1), insert/update_after rows ASSERT
(+1), so counts and sums maintain exactly under updates and deletes.

Aggregates: ``n_rows`` (count) and ``sum_<col>`` are self-maintainable
under retraction; ``avg`` is a read-time division.  ``min_<col>`` /
``max_<col>`` maintain the K BEST DISTINCT VALUE LEVELS per group with
their multiplicities (a hidden companion column ``__lvmin_<c>`` /
``__lvmax_<c>``: array<struct<v,k>>, best-first, K = ``levels_k``,
default 8): a retraction that empties the best level promotes the next
level IN PLACE, so the classic hot-retraction pattern — the current
extremum departs every batch — virtually never rescans the upstream
(exhaustion needs all K levels emptied in ONE refresh; at churn fraction
p that is ~p^K).  The bookkeeping is the exact "level algebra": within
the KNOWN HORIZON (the deepest stored level) the view knows the complete
value multiset of the group, every refresh nets the arriving/departing
rows against those levels, and the K best surviving levels become the
new state.  Only a group whose known levels ALL empty in one refresh
falls back to a recompute — one snapshot pass filtered to just those
groups, with their dim values pushed into the scan as per-dim IN
predicates via ``read(where=...)`` so the upstream manifest's ZONE MAPS
skip whole files before any are opened; keep a hot upstream
dim-clustered with ``compact(sort_cols=dims)`` and that rare rescan
costs O(matching files), not O(snapshot) — the refresh result reports
the pruning decision under ``"rescan"`` (None when no rescan ran).  The
level maintenance itself is pure DataFrame logic riding the merge DAG —
no extra Spark action, no collect.

Spec, watermark (``aggview_upstream_version``), bootstrap and the
exactly-once refresh commit follow the shared view protocol
(``lake/view.py``).

Scale: a refresh costs O(changed rows) + one bucket-pruned read of the
CURRENT view restricted to the touched groups (delta group keys are
collected — bounded by the batch's distinct dims, the same planning-scan
bound as COW merge) — never O(view) and never O(upstream).  The upstream
fact table is read only through its commit-log file diff; the buckets its
changed keys live in come straight from that diff's file entries
(``LakeTable.changed_buckets`` — zero Spark jobs).  Views under
``_SMALL_VIEW_FUSED_BYTES`` take a 2-action refresh (one fused planning
aggregate + the merge); bigger views keep the bucket-pruned 3-action
path.
"""

from __future__ import annotations

import json
import os

import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from datax_spark.lake.merge import merge_into
from datax_spark.lake.table import LakeTable
from datax_spark.lake.view import (
    _RESCAN_PUSHDOWN_CAP,
    _bcast,
    _pin,
    _static_planning_if_small,
    bootstrap_overwrite,
    churn,
    create_or_resume,
    in_pushdown,
    in_static_scope,
    join_on,
    lag,
    read_spec,
    watermark,
)

WATERMARK_PROP = "aggview_upstream_version"
SPEC_PROP = "aggview_spec"
_OP = "__aggview_op"
_ORDER = "__aggview_order"
# how many distinct best-value levels each min/max tracks by default; the
# depth of the retraction buffer before a rescan is ever needed
_DEFAULT_LEVELS_K = 8

# views at or under this many manifest bytes take the FUSED-STATS refresh:
# the whole (tiny) view is read unpruned and one aggregate action yields
# group count + touched buckets + level-exhausted keys together — two
# Spark actions per refresh instead of three.  Bigger views keep the
# bucket-pruned 3-action path (reading an unpruned big view would cost
# more than the extra action saves).
_SMALL_VIEW_FUSED_BYTES = 64 << 20

_SUMMABLE = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.DecimalType,
)


def _spec(view: LakeTable) -> dict:
    return read_spec(view, SPEC_PROP, "aggview", "create_agg_view")


def _sum_type(dt: T.DataType) -> T.DataType:
    """Spark's sum() widening: integral → long, fractional → double."""
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return T.DoubleType()
    if isinstance(dt, T.DecimalType):
        return T.DecimalType(38, dt.scale)
    return T.LongType()


def _lv_type(dt: T.DataType) -> T.ArrayType:
    """Level-array type for a maintained extremum over a column of ``dt``:
    array<struct<v: dt, k: long>>, best value first."""
    return T.ArrayType(T.StructType([
        T.StructField("v", dt), T.StructField("k", T.LongType()),
    ]))


def _names(agg: str, c: str) -> tuple[str, str]:
    """(public extremum column, hidden level-array column)."""
    return f"{agg}_{c}", f"__lv{agg}_{c}"


def _topk(
    df: DataFrame, dims: list[str], c: str, asc: bool, k: int,
    pub: str, arr: str,
) -> DataFrame:
    """Exact K best distinct non-null values of ``c`` per group with their
    multiplicities.  One scan: per-(group, value) counts, then a rank-K
    window — the same shape at bootstrap and in the rare rescan."""
    lv = (
        df.filter(F.col(c).isNotNull())
        .groupBy(*dims, c).agg(F.count(F.lit(1)).cast("long").alias("__k"))
    )
    order = F.col(c).asc() if asc else F.col(c).desc()
    w = Window.partitionBy(*dims).orderBy(order)
    r = lv.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") <= k)
    got = r.groupBy(*dims).agg(
        F.sort_array(
            F.collect_list(F.struct(F.col(c).alias("v"),
                                    F.col("__k").alias("k"))),
            asc=asc,
        ).alias(arr)
    )
    return got.withColumn(pub, F.element_at(F.col(arr), 1)["v"])


def _ns_join(left: DataFrame, right: DataFrame, dims: list[str],
             how: str) -> DataFrame:
    """Null-safe dim-key join; right's dim columns are dropped."""
    r = right.select(
        *[F.col(d).alias(f"__j_{d}") for d in dims],
        *[F.col(c) for c in right.columns if c not in dims],
    )
    cond = join_on((left[d], F.col(f"__j_{d}")) for d in dims)
    return left.join(r, on=cond, how=how).drop(*[f"__j_{d}" for d in dims])


def _aggregate(
    df: DataFrame, dims: list[str], sums: list[str],
    out_types: dict[str, T.DataType],
    mins: list[str] = (), maxs: list[str] = (),
    levels_k: int = _DEFAULT_LEVELS_K,
) -> DataFrame:
    """One-shot aggregate in the view's schema (bootstrap path): counts +
    sums in one pass, plus a top-K pass per maintained extremum."""
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in sums:
        t = out_types[f"sum_{c}"]
        aggs.append(
            F.coalesce(F.sum(c), F.lit(0)).cast(t).alias(f"sum_{c}")
        )
    out = df.groupBy(*dims).agg(*aggs)
    for agg, cols, asc in (("min", mins, True), ("max", maxs, False)):
        for c in cols:
            pub, arr = _names(agg, c)
            out = _ns_join(out, _topk(df, dims, c, asc, levels_k, pub, arr),
                           dims, "left")
            # exact declared type (collect_list tightens nullability)
            out = out.withColumn(arr, F.col(arr).cast(out_types[arr]))
    return out


def create_agg_view(
    upstream: LakeTable,
    location: str,
    dims: list[str],
    sums: list[str] | None = None,
    mins: list[str] | None = None,
    maxs: list[str] | None = None,
    num_buckets: int = 16,
    version: int | None = None,
    levels_k: int = _DEFAULT_LEVELS_K,
) -> LakeTable:
    """Create the view table and bootstrap it with a one-shot aggregate of
    the upstream snapshot at ``version`` (default current; 0 = empty view
    that replays the whole changelog).  Schema: dims + ``n_rows`` +
    ``sum_<col>`` / ``min_<col>`` / ``max_<col>`` per requested column,
    plus one hidden level-array companion per extremum (see the module
    docstring).  ``levels_k`` trades hidden-state size for rescan
    avoidance depth.

    Bootstrap is the shared two-commit, crash-resumable one
    (``lake/view.py``)."""
    sums = list(sums or [])
    mins = list(mins or [])
    maxs = list(maxs or [])
    if levels_k < 1:
        raise ValueError("levels_k must be >= 1")
    uschema = upstream.schema()
    by_name = {f.name: f for f in uschema.fields}
    for c in [*dims, *sums, *mins, *maxs]:
        if c not in by_name:
            raise ValueError(f"column {c!r} not in upstream schema")
    for c in [*sums, *mins, *maxs]:
        if c in dims:
            raise ValueError(f"column {c!r} cannot be both a dim and a measure")
    for c in sums:
        if not isinstance(by_name[c].dataType, _SUMMABLE):
            raise ValueError(
                f"sum column {c!r} has non-numeric type {by_name[c].dataType}"
            )
    fields = [T.StructField(c, by_name[c].dataType) for c in dims]
    fields.append(T.StructField("n_rows", T.LongType()))
    for c in sums:
        fields.append(T.StructField(f"sum_{c}", _sum_type(by_name[c].dataType)))
    for agg, cols in (("min", mins), ("max", maxs)):
        for c in cols:
            pub, arr = _names(agg, c)
            fields.append(T.StructField(pub, by_name[c].dataType))
            fields.append(T.StructField(arr, _lv_type(by_name[c].dataType)))
    view = create_or_resume(
        upstream.spark, location, SPEC_PROP, "aggregate view",
        schema=T.StructType(fields), key_cols=list(dims),
        bucket_col=dims[0], num_buckets=num_buckets,
    )
    at = upstream.current_version() if version is None else version
    if at > 0:
        out_types = {f.name: f.dataType for f in fields}
        bootstrap_overwrite(view, [(upstream, at)], lambda: _aggregate(
            upstream.read(version=at), dims, sums, out_types, mins, maxs,
            levels_k,
        ).select(*[f.name for f in fields]))
    view.set_properties(**{
        WATERMARK_PROP: int(at),
        SPEC_PROP: json.dumps(
            {"dims": dims, "sums": sums, "mins": mins, "maxs": maxs,
             "levels_k": int(levels_k)}
        ),
    })
    return view


def view_lag(upstream: LakeTable, view: LakeTable) -> dict:
    """Staleness of the view vs its upstream: watermark, versions behind,
    and seconds behind (commit-timestamp delta).  Monitoring surface for
    refresh scheduling."""
    _spec(view)  # raises on non-view tables
    wm = watermark(view, WATERMARK_PROP, "create_agg_view")
    return lag(upstream, wm, view_watermark=wm)


def _maintain_levels(
    contrib: DataFrame, cur: DataFrame, dims: list[str], c: str, asc: bool,
    k: int, arr: str,
) -> DataFrame:
    """The level algebra for one extremum (see module docstring): net the
    ±1-weighted contrib rows against the view's known levels, bounded by
    the known horizon, and emit the K best surviving levels.

    Exactness: within the horizon H (the deepest stored level) the old
    snapshot's values are exactly the stored levels, every arriving/
    departing row at-or-inside H is in contrib, so the netted counts are
    the TRUE per-value counts of the new snapshot inside H.  A group
    whose cur row is missing is brand new — ALL its rows are arrivals,
    horizon unbounded, so its top-K is exact too.  Output per group:
    ``__ta`` (sorted level array, absent/empty = no surviving known
    level — either a genuine all-null group or a rescan)."""
    # the view's known levels, as (value, +count) rows
    curlv = (
        cur.select(*dims, F.explode(F.col(arr)).alias("__lv"))
        .select(*dims, F.col("__lv.v").alias("__v"),
                F.col("__lv.k").alias("__k"))
        .filter(F.col("__v").isNotNull() & (F.col("__k") > 0))
    )
    # contrib rows inside the horizon, as (value, ±1) rows; a NULL horizon
    # (group missing from cur, or an all-null group) admits everything
    hz = cur.select(
        *[F.col(d).alias(f"__h_{d}") for d in dims],
        F.element_at(F.col(arr), -1)["v"].alias("__H"),
    )
    jc = join_on((contrib[d], F.col(f"__h_{d}")) for d in dims)
    inside = (F.col(c) <= F.col("__H")) if asc else (F.col(c) >= F.col("__H"))
    clv = (
        contrib.join(_bcast(hz), on=jc, how="left")
        .filter(F.col(c).isNotNull() & (F.col("__H").isNull() | inside))
        .select(*dims, F.col(c).alias("__v"),
                F.col("__w").cast("long").alias("__k"))
    )
    allv = (
        curlv.unionByName(clv)
        .groupBy(*dims, "__v").agg(F.sum("__k").alias("__k"))
        .filter(F.col("__k") > 0)
    )
    order = F.col("__v").asc() if asc else F.col("__v").desc()
    w = Window.partitionBy(*dims).orderBy(order)
    return (
        allv.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .groupBy(*dims).agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("__v").alias("v"),
                                        F.col("__k").alias("k"))),
                asc=asc,
            ).alias("__ta")
        )
    )


def refresh_agg_view(
    upstream: LakeTable,
    view: LakeTable,
    on_rewrite: str = "error",
    mode: str = "cow",
    auto_compact: int | None = 8,
    recompute_ratio: float | None = 0.5,
) -> dict:
    """Fold upstream commits (watermark, current] into the view; returns
    ``{"from_version", "to_version", "groups", "applied", "rescan",
    "mode"}``.

    COST-BASED refresh strategy (the Materialize/TimescaleDB full-vs-
    incremental decision): when the manifest diff shows the range's
    logical-change bytes at ≥ ``recompute_ratio`` of the from-snapshot
    bytes, incremental maintenance would touch most of the data anyway —
    a FULL RECOMPUTE (one to_v aggregate + overwrite, far fewer stages,
    and tolerant of compactions inside the range) is strictly cheaper, so
    the refresh takes it (``mode: "recompute"``).  Below the threshold —
    the 100-TB steady state, where a batch touches a sliver of the table
    — the refresh is incremental (``mode: "incremental"``), costing
    O(changed rows), never O(upstream).  ``recompute_ratio=None`` forces
    incremental.  The decision input is zero-Spark-job manifest
    arithmetic (``view.churn``), which also sizes the static planning
    scope (``view._STATIC_PLAN_MAX_BYTES``).

    Default merge mode is COW, unlike the fact-table default (MOR): a
    rollup is small and read-hot, so rewriting the touched buckets
    (bounded by the refresh's group count) buys delta-free reads for
    every consumer and every subsequent refresh — measured ~40% faster
    over a 4-refresh cycle than MOR-with-compaction on the view.

    Per touched group: ``n_rows += Σ(±1)``, ``sum_c += Σ(±c)``; a group
    whose count reaches zero is deleted from the view.  Groups with NULL
    dimension values aggregate and merge correctly (null-safe keys).
    min/max maintain via the level algebra (module docstring); only a
    group whose K known levels all empty takes the pruned rescan.

    Delta algorithm — net-state difference, not per-commit images: the
    group delta over (from_v, to_v] is ``agg(changed keys @ to_v) −
    agg(changed keys @ from_v)``.  Both sides come cheap:

    - the NEW state of every changed key is already IN the changelog —
      it is the key's winning change row (max (commit, LSN)), or absence
      if that winner is a delete — so the to_v side is one O(changed
      files) changelog scan + hash-agg, no snapshot reconstruction;
    - the OLD state is one bucket-pruned snapshot read at from_v
      semi-joined to the changed keys.

    One reconstruction per refresh TOTAL, however many commits the range
    spans, vs the ``read_changes_with_images`` path's per-commit prior
    reads (measured ~3s/commit of fixed cost at bench scale).
    Intra-range churn collapses for free: only the endpoint states
    matter."""
    spec = _spec(view)
    from_v = watermark(view, WATERMARK_PROP, "create_agg_view")
    to_v = upstream.current_version()
    if to_v <= from_v:
        return {"from_version": from_v, "to_version": from_v,
                "groups": 0, "applied": False, "rescan": None, "mode": None}
    ratio, changed = churn(upstream, from_v, to_v)
    with _static_planning_if_small(upstream.spark, changed):
        if recompute_ratio is not None and ratio >= recompute_ratio:
            return _recompute(upstream, view, spec, from_v, to_v)
        return _refresh_incremental(upstream, view, spec, from_v, to_v,
                                    on_rewrite, mode, auto_compact)


def _recompute(upstream: LakeTable, view: LakeTable, spec: dict,
               from_v: int, to_v: int) -> dict:
    """High churn: one aggregate over the to_v snapshot replaces the whole
    incremental pipeline.  Two commits (overwrite, watermark),
    crash-resumable like bootstrap: a crash between them leaves the stale
    watermark and the deterministic recompute simply re-runs."""
    fields = view.schema().fields
    out_types = {f.name: f.dataType for f in fields}
    state = _aggregate(
        upstream.read(version=to_v), spec["dims"], spec["sums"], out_types,
        spec.get("mins", []), spec.get("maxs", []),
        int(spec.get("levels_k", _DEFAULT_LEVELS_K)),
    ).select(*[f.name for f in fields])
    m = view.overwrite(state)
    # group count from the freshly written parquet footers — driver-side
    # metadata reads, no second Spark action over the aggregate
    n_groups = 0
    for es in m.files.values():
        for e in es:
            try:
                n_groups += pq.ParquetFile(
                    os.path.join(view.location, e[0])
                ).metadata.num_rows
            except OSError:
                pass
    view.set_properties(**{WATERMARK_PROP: int(to_v)})
    return {"from_version": from_v, "to_version": to_v,
            "groups": int(n_groups), "applied": True, "rescan": None,
            "mode": "recompute"}


def _refresh_incremental(
    upstream: LakeTable, view: LakeTable, spec: dict, from_v: int,
    to_v: int, on_rewrite: str, mode: str, auto_compact: int | None,
) -> dict:
    """Low churn: the net-state delta fold (see ``refresh_agg_view``)."""
    dims, sums = spec["dims"], spec["sums"]
    mins = spec.get("mins", [])
    maxs = spec.get("maxs", [])
    levels_k = int(spec.get("levels_k", _DEFAULT_LEVELS_K))
    ext = [("min", c, True) for c in mins] + [("max", c, False) for c in maxs]

    def advance_only() -> dict:
        # every group change cancelled out: advance the watermark alone
        view.set_properties(**{WATERMARK_PROP: int(to_v)})
        return {"from_version": from_v, "to_version": to_v, "groups": 0,
                "applied": False, "rescan": None, "mode": "incremental"}

    ukeys = list(upstream.manifest(to_v).key_cols)
    payload_cols = list(dict.fromkeys([*dims, *sums, *mins, *maxs]))
    order = F.struct(
        F.col("_commit_version").alias("v"),
        F.coalesce(F.col("_change_lsn"), F.lit(-1)).alias("l"),
    )
    winners = (
        upstream.read_changes(from_v, to_v, on_rewrite=on_rewrite)
        .groupBy(*ukeys)
        .agg(
            F.max_by(
                F.struct(
                    F.col("_change_type").alias("__t"),
                    *[F.col(c) for c in payload_cols],
                ),
                order,
            ).alias("__win")
        )
    )
    if not in_static_scope():
        # big change layers: materialize once — the changelog scan + agg
        # is real IO referenced by both contrib branches.  In the static
        # (small-batch) scope the double in-job recompute costs ~ms while
        # a separate eager checkpoint costs a whole job at the ~0.2s
        # scheduling floor — contrib's pin right below truncates the plan
        # for everything downstream anyway.
        winners = _pin(winners)
    changed = winners.select(*ukeys)

    new_rows = winners.filter(F.col("__win.__t") != "delete").select(
        *[F.col(f"__win.{c}").alias(c) for c in payload_cols],
        F.lit(1).alias("__w"),
    )

    deltas = None
    contrib = None
    snap_f = None
    try:
        # buckets holding the changed keys, from the MANIFEST DIFF alone
        # (zero Spark jobs): bucketed delta/append files land in their
        # keys' bucket, so the range's added-file bucket set IS the
        # changed-key bucket set; None (L0 placement / rebucket in range)
        # reads every bucket — exactly what the old key-collect pass
        # would have returned at that point anyway
        touched_b = upstream.changed_buckets(from_v, to_v)
        snap = upstream.read(version=from_v, buckets=touched_b)
        cond = join_on((snap[c], changed[c]) for c in ukeys)
        old_rows = snap.join(changed, on=cond, how="left_semi").select(
            *payload_cols, F.lit(-1).alias("__w")
        )

        contrib = new_rows.unionByName(old_rows)
        if ext:
            # referenced once by the delta aggregation and once per
            # maintained extremum's level pipeline — materialize instead
            # of re-folding the from_v snapshot per branch
            contrib = _pin(contrib)

        weight = F.col("__w")
        delta_aggs = [F.sum(weight).cast("long").alias("__d_n")]
        for c in sums:
            sum_t = view.schema()[f"sum_{c}"].dataType
            delta_aggs.append(
                F.coalesce(
                    F.sum(weight.cast(sum_t.simpleString()) * F.col(c)),
                    F.lit(0).cast(sum_t)).alias(f"__d_{c}")
            )
        # signed multiset fingerprint per maintained measure: Σ ±hash(v).
        # Zero ⟺ the group's value multiset is unchanged (up to a 2⁻⁶⁴
        # xxhash64 collision), so extremum VALUES AND MULTIPLICITIES are
        # provably unchanged and the group can be dropped as pure churn.
        # decimal(38,0) accumulation: |terms| < 2⁶³, so no ANSI overflow
        # before ~10¹⁹ rows per group.
        for c in dict.fromkeys([*mins, *maxs]):
            delta_aggs.append(
                F.sum(F.xxhash64(F.col(c)).cast("decimal(38,0)") * weight)
                .alias(f"__hs_{c}")
            )
        # all-cancelling groups (pure churn) net to all-zero rows — drop
        # them so untouched groups are not rewritten.
        keep = F.col("__d_n") != 0
        for c in sums:
            keep = keep | (F.col(f"__d_{c}") != 0)
        for c in dict.fromkeys([*mins, *maxs]):
            keep = keep | (F.col(f"__hs_{c}") != 0)
        deltas = contrib.groupBy(*dims).agg(*delta_aggs).filter(keep)
        if not (in_static_scope() and ext):
            # when contrib is already a pinned LocalRDD (static scope with
            # maintained extrema), deltas is one shallow hash-agg over it —
            # re-running it inside each downstream job costs ~ms while its
            # own eager checkpoint costs a job at the scheduling floor
            deltas = _pin(deltas)
        m_view = view.manifest()
        bexpr = view.bucket_expr(m_view.bucket_col, m_view.num_buckets)
        view_bytes = sum(
            view._entry_bytes(e)
            for entries in m_view.files.values()
            for e in entries
        )
        fused_stats = view_bytes <= _SMALL_VIEW_FUSED_BYTES
        n_groups: int | None = None
        touched: list | None = None
        if fused_stats:
            # tiny view: read it whole (the broadcast semi join below still
            # restricts the join) and defer ALL planning stats to one
            # aggregate over the merged batch — see _SMALL_VIEW_FUSED_BYTES
            cur = view.read()
        else:
            head = deltas.agg(
                F.count(F.lit(1)).alias("n"),
                F.collect_set(bexpr.cast("int")).alias("bs"),
            ).first()
            n_groups, touched = int(head["n"]), list(head["bs"])
            if n_groups == 0:
                return advance_only()
            cur = view.read(buckets=[b for b in touched if b is not None])
        keys = deltas.select(
            *[F.col(c).alias(f"__k_{c}") for c in dims]
        ).distinct()
        cond = join_on((cur[c], F.col(f"__k_{c}")) for c in dims)
        cur = cur.join(_bcast(keys), on=cond, how="left_semi")
        if in_static_scope():
            # referenced by the merged join, both level pipelines' stored-
            # level explodes AND their horizon frames — pin once so five
            # branches plan against one tiny LogicalRDD instead of five
            # re-planned view scans + semi joins.  (Measured: skipping
            # this pin ADDS a job and ~0.35s — the re-scans cost more
            # than the checkpoint, unlike the winners/deltas pins.)
            cur = _pin(cur)

        merged = deltas.join(
            cur, on=join_on((deltas[c], cur[c]) for c in dims), how="left")
        # the level algebra per maintained extremum, joined in broadcast —
        # tops are bounded by the refresh's touched groups
        for agg, c, asc in ext:
            pub, arr = _names(agg, c)
            top = _maintain_levels(contrib, cur, dims, c, asc, levels_k, arr)
            tag = f"{agg}_{c}"
            t = top.select(
                *[F.col(d).alias(f"__t{tag}_{d}") for d in dims],
                F.col("__ta").alias(f"__ta_{tag}"),
            )
            tcond = join_on((deltas[d], F.col(f"__t{tag}_{d}")) for d in dims)
            merged = merged.join(_bcast(t), on=tcond, how="left")

        new_n = F.coalesce(cur["n_rows"], F.lit(0)) + F.col("__d_n")
        cur_exists = cur["n_rows"].isNotNull()
        out_cols = [deltas[c].alias(c) for c in dims]
        out_cols.append(new_n.alias("n_rows"))
        for c in sums:
            sum_t = view.schema()[f"sum_{c}"].dataType
            out_cols.append(
                (F.coalesce(cur[f"sum_{c}"], F.lit(0).cast(sum_t))
                 + F.col(f"__d_{c}")).cast(sum_t).alias(f"sum_{c}")
            )
        # min/max from the level algebra.  An empty surviving level array
        # needs a rescan ONLY when the view previously held levels (cur
        # exists with a non-empty array): a brand-new group's contrib IS
        # its whole state, and a group with no known levels has no
        # non-null values to lose — both are exactly null, no scan.
        rescan_any = F.lit(False)
        for agg, c, asc in ext:
            pub, arr = _names(agg, c)
            tag = f"{agg}_{c}"
            ta = F.col(f"__ta_{tag}")
            flag = F.coalesce(
                (new_n > 0) & (ta.isNull() | (F.size(ta) == 0))
                & cur_exists & (F.size(cur[arr]) > 0),
                F.lit(False),
            )
            rescan_any = rescan_any | flag
            out_cols.append(F.element_at(ta, 1)["v"].alias(pub))
            # exact declared type (collect_list tightens nullability)
            out_cols.append(ta.cast(view.schema()[arr].dataType).alias(arr))
        out_cols.append(rescan_any.alias("__rescan"))
        out_cols.append(
            F.when(new_n <= 0, F.lit("delete"))
            .otherwise(F.lit("upsert")).alias(_OP)
        )
        # keys are unique within a refresh; the upstream version is a
        # monotonic LSN across refreshes for MOR last-writer-wins
        out_cols.append(F.lit(int(to_v)).alias(_ORDER))
        batch = merged.select(*out_cols)

        rescan_plan = None  # scan_plan() of the level-exhausted pass
        batch_persisted = fused_stats or bool(ext)
        if batch_persisted:
            batch = _pin(batch)
        if fused_stats:
            # ONE aggregate action yields every planning stat the refresh
            # needs: group count (early exit), the batch's view buckets
            # (merge pruning), and — when min/max are maintained — the
            # capped level-exhausted key list (batch rows are unique per
            # group, so collect_list is already distinct)
            stat_aggs = [
                F.count(F.lit(1)).alias("n"),
                F.collect_set(bexpr.cast("int")).alias("bs"),
            ]
            if ext:
                stat_aggs.append(
                    F.slice(
                        F.collect_list(
                            F.when(
                                F.col("__rescan") & (F.col(_OP) != "delete"),
                                F.struct(*[F.col(c) for c in dims]),
                            )
                        ),
                        1, _RESCAN_PUSHDOWN_CAP + 1,
                    ).alias("need")
                )
            head = batch.agg(*stat_aggs).first()
            n_groups, touched = int(head["n"]), list(head["bs"])
            if n_groups == 0:
                batch.unpersist()
                return advance_only()
        if ext:
            # groups whose known levels all emptied (bounded by the
            # refresh's group count; capped — beyond the cap the semi join
            # alone filters).  The collected keys double as an IN pushdown
            # so the snapshot scan file-skips on the dim columns.
            need = (
                batch.filter(F.col("__rescan") & (F.col(_OP) != "delete"))
                .select(*dims).distinct()
            )
            need_rows = (
                list(head["need"]) if fused_stats
                else need.limit(_RESCAN_PUSHDOWN_CAP + 1).collect()
            )
            if need_rows:
                # exact top-K recompute for ONLY those groups: one snapshot
                # pass, dim-pushdown-filtered when few groups, semi-joined
                # to the group keys either way.  The pushdown is a per-dim
                # IN conjunction handed to read(where=...) so the MANIFEST
                # ZONE MAPS skip whole files before any are opened — on an
                # upstream kept dim-clustered via compact(sort_cols=dims)
                # each file covers a narrow dim range and a hot-retraction
                # pattern rescans O(matching files), not O(snapshot).  The
                # conjunction over-approximates the exact group set
                # (dim1 IN (..) AND dim2 IN (..) admits cross products);
                # the broadcast semi join below restores exactness.
                # Un-compacted (delta-holding) snapshots skip no files
                # (non-key preds are MOR-unsafe, see _select_entries) —
                # there the residual filter still prunes rows.
                snap_where = in_pushdown(need_rows, dims)
                rescan_plan = upstream.scan_plan(
                    where=snap_where, version=to_v)
                snap2 = upstream.read(version=to_v, where=snap_where)
                nk = need.select(
                    *[F.col(c).alias(f"__n_{c}") for c in dims]
                )
                scond = join_on((snap2[c], F.col(f"__n_{c}")) for c in dims)
                snap_f = snap2.join(
                    _bcast(nk), on=scond, how="left_semi"
                )
                if len(ext) > 1:
                    # one pruned scan feeds every per-extremum top-K pass
                    snap_f = snap_f.persist()
                # root the rescan frame in the SNAP lineage (not batch's):
                # joining a batch-derived frame back onto batch is an
                # ambiguous self-join.  Every flagged group appears here —
                # its view count is > 0, so the upstream group has rows.
                rescanned = snap_f.select(*dims).distinct()
                for agg, c, asc in ext:
                    pub, arr = _names(agg, c)
                    rs = _topk(snap_f, dims, c, asc, levels_k,
                               f"__rs_{pub}", f"__rs_{arr}")
                    rescanned = _ns_join(rescanned, rs, dims, "left")
                rcond = join_on((batch[c], rescanned[c]) for c in dims)
                joined = batch.join(_bcast(rescanned), on=rcond,
                                    how="left")
                fixed = [batch[c].alias(c) for c in dims]
                fixed.append(batch["n_rows"].alias("n_rows"))
                for c in sums:
                    fixed.append(batch[f"sum_{c}"].alias(f"sum_{c}"))
                for agg, c, asc in ext:
                    pub, arr = _names(agg, c)
                    fixed.append(
                        F.when(batch["__rescan"], rescanned[f"__rs_{pub}"])
                        .otherwise(batch[pub]).alias(pub)
                    )
                    fixed.append(
                        F.when(batch["__rescan"], rescanned[f"__rs_{arr}"])
                        .otherwise(batch[arr])
                        .cast(view.schema()[arr].dataType).alias(arr)
                    )
                fixed.append(batch[_OP].alias(_OP))
                fixed.append(batch[_ORDER].alias(_ORDER))
                out = joined.select(*fixed)
            else:
                out = batch.drop("__rescan")
        else:
            out = batch.drop("__rescan")
        batch_final = out

        try:
            m = merge_into(
                view,
                batch_final,
                op_col=_OP,
                order_col=_ORDER,
                lineage={"batch_id": f"aggv{to_v}", "rows": n_groups,
                         "bytes": 0},
                mode=mode,
                auto_compact=auto_compact,
                properties_update={WATERMARK_PROP: int(to_v)},
                # one row per group key by construction (groupBy dims) →
                # the COW in-batch dedup would be a no-op shuffle; and the
                # head aggregate above already collected the batch's view
                # buckets, so the merge's planning collect is redundant
                keys_unique=True,
                known_buckets=(touched if all(b is not None for b in touched)
                               else None),
                batch_rows=n_groups,
            )
        finally:
            if batch_persisted:
                batch.unpersist()
        return {"from_version": from_v, "to_version": to_v,
                "groups": n_groups, "applied": m is not None,
                "rescan": rescan_plan, "mode": "incremental"}
    finally:
        if snap_f is not None:
            try:
                snap_f.unpersist()
            except Exception:
                pass
        if deltas is not None:
            deltas.unpersist()
        if contrib is not None:
            try:
                contrib.unpersist()
            except Exception:
                pass
        winners.unpersist()


# -------------------------------------------------- exact distinct counting
# COUNT(DISTINCT col) per group, maintained INCREMENTALLY and EXACTLY under
# retraction — the aggregate the n_rows/sum algebra cannot carry (a
# departing value only changes the distinct count if it was the group's
# LAST occurrence, which requires per-(group, value) multiplicities).  The
# classic dataflow answer (Materialize / Flink "nested rollup"): a SUPPORT
# view keyed by (dims…, col) tracks multiplicities — itself an ordinary
# incremental aggview — and the distinct count is the number of LIVE
# support groups per dims.  Support groups only ever appear (multiplicity
# 0→n: changelog `insert`) or disappear (n→0: `delete`); multiplicity
# changes that stay positive are `update_*` pairs and contribute nothing.
# So the main view folds the support CHANGELOG with ±1 per insert/delete —
# O(changed (dims, value) pairs) per refresh, never O(distinct values),
# and the multiplicity state lives distributed in the support table, never
# driver-side.  NULL values are ignored (SQL COUNT(DISTINCT) semantics).

DISTINCT_SPEC_PROP = "distinctview_spec"
DISTINCT_WATERMARK_PROP = "distinctview_support_version"


def _distinct_state(support: LakeTable, dims: list[str],
                    col: str) -> DataFrame:
    """Distinct counts from the support view's live groups, one-shot."""
    return (
        support.read()
        .filter(F.col(col).isNotNull())
        .groupBy(*[F.col(c) for c in dims])
        .agg(F.count(F.lit(1)).alias(f"n_distinct_{col}"))
    )


def create_distinct_view(
    upstream: LakeTable,
    location: str,
    dims: list[str],
    col: str,
    num_buckets: int = 16,
    support_num_buckets: int | None = None,
    version: int | None = None,
) -> LakeTable:
    """Create a ``COUNT(DISTINCT col) GROUP BY dims`` view over
    ``upstream`` plus its support table (at ``<location>__support``),
    bootstrapped from the snapshot at ``version`` (default current).
    Schema: dims + ``n_distinct_<col>`` (long).  Refresh with
    :func:`refresh_distinct_view`.

    Same two-commit, crash-resumable bootstrap as every view
    (``lake/view.py``)."""
    if col in dims:
        raise ValueError(f"column {col!r} cannot be both a dim and the "
                         "distinct-counted column")
    support_loc = location.rstrip("/") + "__support"
    support = create_agg_view(
        upstream, support_loc, dims=[*dims, col],
        num_buckets=support_num_buckets or max(num_buckets, 16),
        version=version,
    )
    uschema = upstream.schema()
    by_name = {f.name: f for f in uschema.fields}
    out = f"n_distinct_{col}"
    fields = [T.StructField(c, by_name[c].dataType) for c in dims]
    fields.append(T.StructField(out, T.LongType()))
    view = create_or_resume(
        upstream.spark, location, DISTINCT_SPEC_PROP, "distinct view",
        schema=T.StructType(fields), key_cols=list(dims),
        bucket_col=dims[0], num_buckets=num_buckets,
    )
    view.overwrite(_distinct_state(support, dims, col))
    view.set_properties(**{
        DISTINCT_WATERMARK_PROP: int(support.current_version()),
        DISTINCT_SPEC_PROP: json.dumps(
            {"dims": dims, "col": col, "support_location": support_loc}
        ),
    })
    return view


def refresh_distinct_view(
    upstream: LakeTable,
    view: LakeTable,
    support: LakeTable | None = None,
    mode: str = "mor",
    auto_compact: int | None = 8,
) -> dict:
    """Advance the support view from the upstream changelog, then fold the
    support CHANGELOG's insert/delete rows (value appeared / disappeared
    in a group) into the distinct counts — one ±1 aggregate over O(changed
    pairs) and a WHEN-clause merge touching only the affected dims groups.
    The support watermark publishes in the SAME atomic commit as the
    counts (exactly-once; a replayed refresh re-reads an already-consumed
    changelog range only if the commit itself didn't happen)."""
    from datax_spark.lake.merge import merge_builder

    spec = read_spec(view, DISTINCT_SPEC_PROP, "distinct-view",
                     "create_distinct_view")
    dims, col = spec["dims"], spec["col"]
    out = f"n_distinct_{col}"
    if support is None:
        support = LakeTable(view.spark, spec["support_location"])
    sup = refresh_agg_view(upstream, support, mode=mode,
                           auto_compact=auto_compact)
    wm = watermark(view, DISTINCT_WATERMARK_PROP, "create_distinct_view")
    to_v = support.current_version()
    if to_v <= wm:
        return {"from_version": wm, "to_version": to_v, "applied": False,
                "support": sup}
    # the support's cost-based refresh may have taken the RECOMPUTE regime
    # (an `overwrite` commit — total churn), whose file diff is a state
    # rewrite with no changelog; mirror the decision: recompute the
    # distinct counts from support state (one aggregate — the same cost
    # class as the support recompute that just ran)
    safe_ops = ("append", "merge-mor", "properties", "create")
    if any(support.manifest(v).operation not in safe_ops
           for v in range(wm + 1, to_v + 1)):
        view.overwrite(_distinct_state(support, dims, col))
        view.set_properties(**{DISTINCT_WATERMARK_PROP: int(to_v)})
        return {"from_version": wm, "to_version": to_v, "applied": True,
                "mode": "recompute", "support": sup}
    ch = support.read_changes_with_images(wm, to_v)
    deltas = (
        ch.filter(F.col(col).isNotNull()
                  & F.col("_change_type").isin("insert", "delete"))
        .groupBy(*[F.col(c) for c in dims])
        .agg(F.sum(
            F.when(F.col("_change_type") == "insert", F.lit(1))
            .otherwise(F.lit(-1))
        ).alias("__d"))
        .filter(F.col("__d") != 0)
    )
    n = (
        merge_builder(view, deltas)
        .when_matched_delete(condition=f"t.{out} + s.__d <= 0")
        .when_matched_update(set={out: f"t.{out} + s.__d"})
        .when_not_matched_insert(values={out: "s.__d"},
                                 condition="s.__d > 0")
        .execute(
            mode=mode,
            auto_compact=auto_compact,
            source_unique=True,  # groupBy output: one row per dims
            lineage={"batch_id": f"dview{wm}->{to_v}", "shard_lsns": {}},
            properties_update={DISTINCT_WATERMARK_PROP: int(to_v)},
        )
    )
    if n == 0:
        # no distinct transitions in the range: the merge committed
        # nothing, so publish the watermark as a metadata-only commit
        view.set_properties(**{DISTINCT_WATERMARK_PROP: int(to_v)})
    return {"from_version": wm, "to_version": to_v, "applied": True,
            "groups": int(n), "support": sup}
