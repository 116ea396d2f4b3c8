"""The derived-view core: what every view over a LakeTable's changelog
shares — ``lake/mirror.py``, ``lake/aggview.py`` (with its distinct-count
view), ``lake/joinview.py`` (join, star, flattened dim) and
``lake/indexview.py``.  Each of those modules keeps only its fold.

Every view is a time-varying relation derived from upstream changelogs
(*One SQL to Rule Them All*, SIGMOD 2019), so one maintenance protocol
serves all of them.  It is DataX's chain of sync jobs (reader of A →
writer of B → reader of B → …) done incrementally: the reference re-reads
the full source at every hop (``CommonRdbmsReader.java:165-214``), while a
view's hop is the upstream's own commit log.

- **Spec and watermarks.**  A view is an ordinary LakeTable.  Its manifest
  properties hold its spec (JSON, :func:`read_spec`) and the upstream
  version(s) it has folded through (:func:`watermark`).
- **Bootstrap** is two commits: the one-shot state at the upstream
  snapshot (:func:`bootstrap_overwrite`), then spec + watermark.  A crash
  between them leaves a table with no spec, and creating the view again
  resumes on it (:func:`create_or_resume`); a table that has a spec is a
  live view and re-creating it is refused.
- **Refresh — exactly-once.**  A refresh folds the upstream changes in
  ``(watermark, head]`` into ONE ``merge_into`` whose
  ``properties_update`` advances the watermark(s) in the SAME atomic
  commit as the rows, so "merged but watermark not advanced" cannot
  happen, and the merge's ``batch_id`` replay guard makes re-running a
  completed refresh a no-op.  A range that folds to no rows advances the
  watermark with a properties-only commit (no data at risk of replay).
- **Cost.**  Sizing comes from the upstream's manifest diff
  (:func:`change_bytes`, :func:`churn`) with zero Spark jobs; small change
  layers run inside :func:`_static_planning_if_small`.  Scale is O(changed
  files) per refresh, never O(upstream).
- **Lag** is the watermark plus the upstream's ``commit_lag``
  (:func:`lag`).
"""

from __future__ import annotations

import json
import os
from contextlib import contextmanager
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from datax_spark.lake.table import DELTA_KINDS, LakeTable

# key sets at or under this many rows are pushed into a scan as per-column
# IN predicates (zone-map / bloom file skipping); above it, the semi join
# alone restricts the pass
_RESCAN_PUSHDOWN_CAP = 256

# change layers at or under this size take STATIC planning (AQE off for
# the refresh's actions, restored after): AQE's runtime re-planning pays
# for itself on big shuffles, but on a small refresh batch it only
# multiplies the per-exchange job count — measured 40 vs 15 Spark jobs
# (3× wall-clock at the tiny-data job floor) on a 0.3% churn refresh.
# At 100-TB steady state a batch's change layer exceeds this and AQE
# stays on for skew splits / partition coalescing.
_STATIC_PLAN_MAX_BYTES = 64 << 20

# shuffle width for a small refresh's static plans: with AQE off every
# exchange materializes at the session's full spark.sql.shuffle.partitions
# (e.g. 32) even when the refresh moves a few thousand rows — the refresh
# pipeline has many exchanges (changelog winners, delta fold, level
# windows), so tiny-task scheduling overhead multiplies.  AQE would
# coalesce these to ~1 partition but pays its own replan jobs; a fixed
# small width is the static equivalent.  Only plans compiled inside the
# scope are affected; the session value is restored on exit.
_STATIC_PLAN_SHUFFLE_PARTITIONS = 1

# True while compiling plans inside the static scope.  Used by ``_bcast``:
# EVERY broadcast join materializes its build side as a SEPARATE Spark job
# (the broadcast-exchange job), and the refresh pipeline carries many small
# joins (delta keys, per-extremum level tops, horizons, rescan keys) — at
# the ~0.15-0.25s/job scheduling floor those build jobs, not the data,
# dominated a small refresh (measured 15 jobs ≈ 3.8s warm where the plan
# has ~2 real actions).  Inside the static scope the same joins run as
# narrow shuffle joins: extra STAGES inside the action's one job, each a
# handful of 8-partition tasks — stages are ~ms, jobs are ~250ms.  At
# production change-layer sizes the scope never engages and every hint
# stays a real broadcast.  Other modules read it through
# ``in_static_scope()``: importing the name would copy the binding.
_IN_STATIC_SCOPE = False


def in_static_scope() -> bool:
    """Whether plans built now compile inside the static small-batch scope."""
    return _IN_STATIC_SCOPE


def _bcast(df: DataFrame) -> DataFrame:
    """Broadcast hint that defers to the static small-batch scope (above)."""
    return df if _IN_STATIC_SCOPE else F.broadcast(df)


def _pin(df: DataFrame) -> DataFrame:
    """Materialization for a frame referenced by several refresh branches.

    Outside the static scope: ``persist()`` — recomputable, the right call
    when the change layer is big.  Inside it: EAGER ``localCheckpoint()``,
    which additionally TRUNCATES THE LOGICAL PLAN — measured to matter
    more than job count on small refreshes: every downstream action
    (deltas, per-extremum level pipelines, the stat aggregate, the merge)
    re-runs Catalyst analysis + whole-stage codegen over the full
    changelog-winners-snapshot tree, and because each refresh bakes new
    literals (versions, file lists) into the plan, none of that compiles
    from cache.  Rooting the branches at a LogicalRDD makes every
    downstream plan shallow.  The recompute-on-failure loss is irrelevant
    at this size (a failed refresh re-runs wholesale), and ``unpersist()``
    frees checkpoint blocks the same way."""
    return df.localCheckpoint(eager=True) if _IN_STATIC_SCOPE else df.persist()


@contextmanager
def _static_planning_if_small(spark, change_bytes: int | None):
    """Scoped AQE toggle + narrow shuffle width + no-broadcast-joins for
    small refresh batches — restored on any exit, no-op when the change
    layer is big, unknown, or AQE is already off."""
    global _IN_STATIC_SCOPE
    key = "spark.sql.adaptive.enabled"
    skey = "spark.sql.shuffle.partitions"
    bkey = "spark.sql.autoBroadcastJoinThreshold"
    if change_bytes is None or change_bytes > _STATIC_PLAN_MAX_BYTES:
        yield
        return
    old = str(spark.conf.get(key, "true")).lower()
    if old == "false":
        yield
        return
    old_sp = spark.conf.get(skey, None)
    # parse BEFORE touching any conf: a platform value like "auto" must
    # not leave AQE disabled via an exception mid-toggle — unparsable
    # widths just skip the narrowing and keep the AQE toggle alone
    try:
        sp_int = None if old_sp is None else int(old_sp)
    except ValueError:
        sp_int = None
        old_sp = "__unparsable__"
    narrow = (old_sp is None
              or (sp_int is not None
                  and sp_int > _STATIC_PLAN_SHUFFLE_PARTITIONS))
    old_bt = spark.conf.get(bkey, None)
    ckey = "spark.sql.codegen.wholeStage"
    old_cg = spark.conf.get(ckey, None)
    spark.conf.set(key, "false")
    spark.conf.set(bkey, "-1")  # no auto-broadcast: keep joins in-job
    # interpreted execution beats compiling: each refresh bakes fresh
    # literals (versions, watermarks) into every generated class, so none
    # compile from cache — at 5-row stage sizes the janino compile time
    # IS the stage time
    spark.conf.set(ckey, "false")
    if narrow:
        spark.conf.set(skey, str(_STATIC_PLAN_SHUFFLE_PARTITIONS))
    prev_scope = _IN_STATIC_SCOPE
    _IN_STATIC_SCOPE = True
    try:
        yield
    finally:
        _IN_STATIC_SCOPE = prev_scope
        spark.conf.set(key, old)
        if old_bt is not None:
            spark.conf.set(bkey, old_bt)
        else:
            spark.conf.unset(bkey)
        if old_cg is not None:
            spark.conf.set(ckey, old_cg)
        else:
            spark.conf.unset(ckey)
        if narrow:
            if old_sp is not None:
                spark.conf.set(skey, old_sp)
            else:
                spark.conf.unset(skey)


# ------------------------------------------------------ spec and watermarks
def read_spec(view: LakeTable, prop: str, kind: str, creator: str) -> dict:
    """The view's spec, JSON under manifest property ``prop``."""
    raw = view.manifest().properties.get(prop)
    if raw is None:
        raise ValueError(
            f"table has no {kind} spec — create it with {creator}()"
        )
    return json.loads(raw)


def watermark(view: LakeTable, prop: str, creator: str) -> int:
    """The upstream version the view has folded through."""
    wm = view.manifest().properties.get(prop)
    if wm is None:
        raise ValueError(
            f"table has no watermark — create it with {creator}()"
        )
    return int(wm)


def lag(upstream: LakeTable, wm: int, **head) -> dict:
    """Staleness of a view against one upstream: ``head`` (the watermark
    under its report name), then versions and seconds behind."""
    return {**head, **upstream.commit_lag(wm)}


def check_tables(spec: dict, left: LakeTable,
                 rights: list[LakeTable]) -> None:
    """Identity pin: refuse upstreams that are not the tables the view was
    created over, in spec order.  Watermark COUNT alone can't catch two
    dims passed swapped (or the wrong tables) whose key column names
    coincide — that would silently fold dim A's changelog through dim B's
    join mapping.  Paths compare after resolving symlinks, so a lake
    opened through a link is the same table.  Specs written before
    locations were recorded skip the check."""
    def same(pinned, t):
        return (pinned is None
                or os.path.realpath(t.location) == os.path.realpath(pinned))

    exp = spec.get("left_location")
    if not same(exp, left):
        raise ValueError(
            f"view was created over fact table {exp!r} but "
            f"{left.location!r} was passed as the fact"
        )
    for i, (r, rt) in enumerate(zip(spec["rights"], rights)):
        if not same(r.get("location"), rt):
            raise ValueError(
                f"rights[{i}] is {rt.location!r} but the view was created "
                f"over {r['location']!r} — pass the SAME dim tables, in "
                "spec order"
            )


# --------------------------------------------------------------- bootstrap
def create_or_resume(spark, location: str, spec_prop: str, what: str,
                     **create_kw) -> LakeTable:
    """Create the view table, or resume a bootstrap that crashed between
    its overwrite and its spec/watermark commit (the table exists but
    carries no spec).  A table WITH a spec is a live view: refused."""
    try:
        return LakeTable.create(spark, location, **create_kw)
    except FileExistsError:
        view = LakeTable(spark, location)
        if view.manifest().properties.get(spec_prop) is not None:
            raise FileExistsError(
                f"{what} already exists at {location}"
            ) from None
        return view


def bootstrap_overwrite(view: LakeTable, snapshots, build) -> None:
    """Overwrite the view with ``build()`` — its one-shot state — under the
    same static planning as a small refresh, sized on the manifest bytes
    of the ``(table, version)`` snapshots it reads: on a small upstream
    the one-shot plan is a handful of tiny shuffles where AQE's
    per-exchange jobs dominate wall-clock."""
    snap_bytes = sum(
        t._entry_bytes(e)
        for t, v in snapshots
        for es in t.manifest(v).files.values() for e in es
    )
    with _static_planning_if_small(view.spark, snap_bytes):
        view.overwrite(build())


# ------------------------------------------------------------ plan helpers
def join_on(pairs, null_safe: bool = True) -> Column:
    """Multi-column equi-join condition over ``(left, right)`` column
    pairs; null-safe (NULL keys match) unless ``null_safe=False``."""
    return reduce(
        lambda a, b: a & b,
        (lc.eqNullSafe(rc) if null_safe else lc == rc for lc, rc in pairs),
    )


def in_pushdown(rows, cols: list[str]) -> list | None:
    """``read(where=...)`` predicates for a collected key set: one IN per
    column (``rows`` positional in ``cols`` order), so zone maps and
    blooms skip files before any are opened.  The conjunction
    over-approximates multi-column key sets; callers keep a semi join for
    exactness.  None — no pushdown — beyond ``_RESCAN_PUSHDOWN_CAP`` rows
    (collect at most cap + 1) or when a key holds NULL."""
    if (len(rows) > _RESCAN_PUSHDOWN_CAP
            or any(v is None for r in rows for v in r)):
        return None
    return [(c, "in", sorted({r[i] for r in rows}))
            for i, c in enumerate(cols)]


# -------------------------------------------------------------- cost model
def _added_bytes(table: LakeTable, added: dict) -> int:
    return sum(table._entry_bytes(e) for es in added.values() for e in es)


def change_bytes(table: LakeTable, from_v: int, to_v: int) -> int:
    """Bytes of logical-change files added in ``(from_v, to_v]`` — the
    static-planning size of a refresh, from manifests alone (zero Spark
    jobs)."""
    return sum(_added_bytes(table, added)
               for _, _, added in table._logical_commits(from_v, to_v))


def churn(table: LakeTable, from_v: int, to_v: int) -> tuple[float, int]:
    """``(ratio, changed_bytes)``: the logical-change bytes of
    ``(from_v, to_v]`` over the table's live size at ``from_v`` — the
    full-vs-incremental refresh cost model's input, from manifests alone
    (zero Spark jobs), in one walk.

    The denominator is a LIVE-SIZE FLOOR: base-kind bytes plus the largest
    single change layer in the table's retained history.  Summing every
    delta layer would inflate the denominator on an un-compacted MOR
    history where the same keys churn layer after layer (live rows ≈ one
    layer, file bytes ≈ n layers) and starve the recompute path exactly
    where it wins; the max single layer is immune to that re-churn
    inflation, and for append-heavy histories the biggest layer (the
    bootstrap load) still anchors the estimate.  The history walk reads
    only versions ``expire_snapshots`` kept."""
    kept = set(table.catalog.list_versions())
    start = from_v
    while start - 1 in kept:
        start -= 1
    layers = {v: _added_bytes(table, added)
              for v, _, added in table._logical_commits(start, to_v)}
    changed = sum(b for v, b in layers.items() if v > from_v)
    hist_max = max((b for v, b in layers.items() if v <= from_v), default=0)
    base_bytes = sum(
        table._entry_bytes(e)
        for es in table.manifest(from_v).files.values() for e in es
        if not (len(e) > 2 and e[2] in (*DELTA_KINDS, "dv"))
    )
    # max, not sum: after compaction the biggest layer's rows live in the
    # base — adding them would double-count
    snap_bytes = max(base_bytes, hist_max)
    if snap_bytes <= 0:
        return float("inf"), changed
    return changed / snap_bytes, changed
