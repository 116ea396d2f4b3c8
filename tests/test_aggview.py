"""Incremental aggregate views (lake/aggview.py): count/sum rollups
maintained from the changelog must equal a direct aggregate of the
upstream snapshot after every refresh, through inserts, updates (retract
old + assert new), deletes (groups vanishing), and replays."""

import json

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datax_spark.lake.aggview import (
    WATERMARK_PROP,
    create_agg_view,
)
from datax_spark.lake.aggview import refresh_agg_view as _refresh_any


def refresh_agg_view(up, view, **kw):
    kw.setdefault("recompute_ratio", None)  # pin the incremental path
    return _refresh_any(up, view, **kw)
from datax_spark.lake.merge import merge_into
from datax_spark.lake.table import LakeTable

SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType()),
        T.StructField("grp", T.StringType()),
        T.StructField("v", T.LongType()),
    ]
)


def _mk(spark, tmp_path, name="up"):
    return LakeTable.create(
        spark, str(tmp_path / name), schema=SCHEMA, key_cols=["k"],
        bucket_col="k", num_buckets=4,
    )


def _apply(spark, t, rows):
    df = spark.createDataFrame(
        [Row(k=k, grp=g, v=v, lsn=lsn, op=op) for (k, g, v, lsn, op) in rows],
        "k long, grp string, v long, lsn long, op string",
    )
    merge_into(t, df, op_col="op", order_col="lsn", mode="mor")


def _direct(t):
    return {
        r["grp"]: (r["n"], r["s"])
        for r in t.read().groupBy("grp")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
        .collect()
    }


def _view_state(view):
    return {
        r["grp"]: (r["n_rows"], r["sum_v"]) for r in view.read().collect()
    }


def test_bootstrap_then_incremental_matches_direct(spark, tmp_path):
    up = _mk(spark, tmp_path)
    _apply(spark, up, [(1, "a", 10, 1, "insert"), (2, "a", 20, 2, "insert"),
                       (3, "b", 5, 3, "insert")])
    view = create_agg_view(up, str(tmp_path / "vw"), dims=["grp"], sums=["v"])
    assert _view_state(view) == _direct(up) == {"a": (2, 30), "b": (1, 5)}

    # update moves key 2 from group a → b; delete empties nothing yet
    _apply(spark, up, [(2, "b", 21, 4, "insert"), (4, "c", 7, 5, "insert")])
    r = refresh_agg_view(up, view)
    assert r["applied"] and r["groups"] == 3  # a (retract), b, c
    assert _view_state(view) == _direct(up) == {
        "a": (1, 10), "b": (2, 26), "c": (1, 7),
    }


def test_group_reaching_zero_is_deleted(spark, tmp_path):
    up = _mk(spark, tmp_path)
    _apply(spark, up, [(1, "a", 10, 1, "insert"), (2, "b", 20, 2, "insert")])
    view = create_agg_view(up, str(tmp_path / "vw"), dims=["grp"], sums=["v"])
    _apply(spark, up, [(2, "b", 0, 3, "delete")])
    refresh_agg_view(up, view)
    st = _view_state(view)
    assert st == {"a": (1, 10)}
    assert "b" not in st  # zero-count group physically removed


def test_empty_bootstrap_replays_whole_changelog(spark, tmp_path):
    up = _mk(spark, tmp_path)
    _apply(spark, up, [(1, "a", 10, 1, "insert")])
    _apply(spark, up, [(1, "a", 11, 2, "insert"), (2, "b", 3, 3, "insert")])
    _apply(spark, up, [(2, "b", 0, 4, "delete")])
    view = create_agg_view(
        up, str(tmp_path / "vw"), dims=["grp"], sums=["v"], version=0
    )
    refresh_agg_view(up, view)
    assert _view_state(view) == _direct(up) == {"a": (1, 11)}


def test_refresh_idempotent_and_watermark_advances(spark, tmp_path):
    up = _mk(spark, tmp_path)
    _apply(spark, up, [(1, "a", 10, 1, "insert")])
    view = create_agg_view(up, str(tmp_path / "vw"), dims=["grp"], sums=["v"])
    _apply(spark, up, [(2, "a", 5, 2, "insert")])
    r1 = refresh_agg_view(up, view)
    assert r1["applied"]
    wm = int(view.manifest().properties[WATERMARK_PROP])
    assert wm == up.current_version()
    r2 = refresh_agg_view(up, view)
    assert not r2["applied"] and r2["groups"] == 0
    assert _view_state(view) == {"a": (2, 15)}


def test_null_dim_group_maintained(spark, tmp_path):
    up = _mk(spark, tmp_path)
    _apply(spark, up, [(1, None, 10, 1, "insert"), (2, "a", 4, 2, "insert")])
    view = create_agg_view(up, str(tmp_path / "vw"), dims=["grp"], sums=["v"])
    _apply(spark, up, [(3, None, 7, 3, "insert"), (1, None, 0, 4, "delete")])
    refresh_agg_view(up, view)
    assert _view_state(view) == _direct(up) == {None: (1, 7), "a": (1, 4)}


def test_multi_dim_and_count_only_view(spark, tmp_path):
    up = _mk(spark, tmp_path)
    _apply(spark, up, [(1, "a", 10, 1, "insert"), (2, "a", 10, 2, "insert"),
                       (3, "a", 20, 3, "insert")])
    view = create_agg_view(up, str(tmp_path / "vw"), dims=["grp", "v"])
    _apply(spark, up, [(3, "a", 10, 4, "insert")])  # (a,20)→0, (a,10)→3
    refresh_agg_view(up, view)
    got = {(r["grp"], r["v"]): r["n_rows"] for r in view.read().collect()}
    assert got == {("a", 10): 3}


def _direct_mm(t):
    return {
        r["grp"]: (r["n"], r["mn"], r["mx"])
        for r in t.read().groupBy("grp")
        .agg(F.count(F.lit(1)).alias("n"), F.min("v").alias("mn"),
             F.max("v").alias("mx"))
        .collect()
    }


def _view_mm(view):
    return {
        r["grp"]: (r["n_rows"], r["min_v"], r["max_v"])
        for r in view.read().collect()
    }


def test_min_max_direct_update_when_arrival_dominates(spark, tmp_path):
    up = _mk(spark, tmp_path)
    _apply(spark, up, [(1, "a", 10, 1, "insert"), (2, "a", 20, 2, "insert")])
    view = create_agg_view(up, str(tmp_path / "vw"), dims=["grp"],
                           mins=["v"], maxs=["v"])
    _apply(spark, up, [(3, "a", 5, 3, "insert"), (4, "a", 30, 4, "insert")])
    refresh_agg_view(up, view)
    assert _view_mm(view) == _direct_mm(up) == {"a": (4, 5, 30)}


def test_min_max_runner_up_promoted_without_rescan(spark, tmp_path):
    up = _mk(spark, tmp_path)
    _apply(spark, up, [(1, "a", 10, 1, "insert"), (2, "a", 20, 2, "insert"),
                       (3, "a", 30, 3, "insert")])
    view = create_agg_view(up, str(tmp_path / "vw"), dims=["grp"],
                           mins=["v"], maxs=["v"])
    # delete the max holder AND the min holder in one batch: both best
    # levels depart but the stored runner-ups (20 on each side) survive —
    # promoted in place, NO upstream rescan
    _apply(spark, up, [(3, "a", 0, 4, "delete"), (1, "a", 0, 5, "delete")])
    r = refresh_agg_view(up, view)
    assert r["rescan"] is None
    assert _view_mm(view) == _direct_mm(up) == {"a": (1, 20, 20)}


def test_min_max_rescan_when_both_levels_exhaust(spark, tmp_path):
    up = _mk(spark, tmp_path)
    _apply(spark, up, [(1, "a", 10, 1, "insert"), (2, "a", 20, 2, "insert"),
                       (3, "a", 30, 3, "insert"), (4, "a", 40, 4, "insert")])
    view = create_agg_view(up, str(tmp_path / "vw"), dims=["grp"],
                           mins=["v"], maxs=["v"], levels_k=2)
    # delete BOTH tracked min levels (10 and 20): the known horizon is
    # exhausted and only a pruned upstream rescan can find the new min
    _apply(spark, up, [(1, "a", 0, 5, "delete"), (2, "a", 0, 6, "delete")])
    r = refresh_agg_view(up, view)
    assert r["rescan"] is not None
    assert _view_mm(view) == _direct_mm(up) == {"a": (2, 30, 40)}


def test_min_max_multiplicity_survives_tied_extremum_churn(spark, tmp_path):
    """The pure-churn drop filter must see MULTIPLICITY changes, not just
    extremum values: remove {0, 0, 7}, add {0, 3, 4} keeps count, sum and
    both extremum VALUES identical while the multiplicity at 0 drops from
    3 to 1 — a later delete of the last 0-holder must still promote
    correctly (regression for the signed-hash multiset fingerprint)."""
    up = _mk(spark, tmp_path)
    _apply(spark, up, [(1, "a", 0, 1, "insert"), (2, "a", 0, 2, "insert"),
                       (3, "a", 0, 3, "insert"), (4, "a", 7, 4, "insert"),
                       (5, "a", 9, 5, "insert")])
    view = create_agg_view(up, str(tmp_path / "vw"), dims=["grp"],
                           sums=["v"], mins=["v"])
    # churn: two 0-holders and the 7 leave; one 0 and {3,4} arrive
    _apply(spark, up, [(1, "a", 0, 6, "delete"), (2, "a", 0, 7, "delete"),
                       (4, "a", 0, 8, "delete"),
                       (6, "a", 0, 9, "insert"), (7, "a", 3, 10, "insert"),
                       (8, "a", 4, 11, "insert")])
    refresh_agg_view(up, view)
    # now delete the last 0-holders: min must promote to 3
    _apply(spark, up, [(3, "a", 0, 12, "delete"), (6, "a", 0, 13, "delete")])
    refresh_agg_view(up, view)
    got = {r["grp"]: (r["n_rows"], r["sum_v"], r["min_v"])
           for r in view.read().collect()}
    direct = {
        r["grp"]: (r["n"], r["s"], r["mn"])
        for r in up.read().groupBy("grp")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"),
             F.min("v").alias("mn")).collect()
    }
    assert got == direct == {"a": (3, 16, 3)}


def test_min_max_duplicate_extremum_survives_one_delete(spark, tmp_path):
    up = _mk(spark, tmp_path)
    _apply(spark, up, [(1, "a", 30, 1, "insert"), (2, "a", 30, 2, "insert"),
                       (3, "a", 10, 3, "insert")])
    view = create_agg_view(up, str(tmp_path / "vw"), dims=["grp"],
                           maxs=["v"])
    _apply(spark, up, [(1, "a", 0, 4, "delete")])
    refresh_agg_view(up, view)
    got = {r["grp"]: (r["n_rows"], r["max_v"]) for r in view.read().collect()}
    assert got == {"a": (2, 30)}  # the twin still holds the max


def test_min_max_randomized_parity(spark, tmp_path):
    """Random op sequences over keys/groups/values: after every refresh the
    view equals the direct aggregate — counts, sums, mins, maxs."""
    import random

    rnd = random.Random(23)
    up = _mk(spark, tmp_path)
    view = None
    lsn = 0
    live = {}
    for batch_i in range(6):
        rows = []
        for _ in range(25):
            lsn += 1
            k = rnd.randrange(12)
            if live.get(k) is not None and rnd.random() < 0.3:
                rows.append((k, "x", 0, lsn, "delete"))
                live[k] = None
            else:
                g = rnd.choice(["a", "b", "c"])
                v = rnd.randrange(100)
                rows.append((k, g, v, lsn, "insert"))
                live[k] = (g, v)
        _apply(spark, up, rows)
        if view is None:
            view = create_agg_view(
                up, str(tmp_path / "vw"), dims=["grp"], sums=["v"],
                mins=["v"], maxs=["v"],
            )
        else:
            refresh_agg_view(up, view)
        direct = {
            r["grp"]: (r["n"], r["s"], r["mn"], r["mx"])
            for r in up.read().groupBy("grp")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"),
                 F.min("v").alias("mn"), F.max("v").alias("mx"))
            .collect()
        }
        got = {
            r["grp"]: (r["n_rows"], r["sum_v"], r["min_v"], r["max_v"])
            for r in view.read().collect()
        }
        assert got == direct, f"diverged at batch {batch_i}"


def test_spec_validation(spark, tmp_path):
    up = _mk(spark, tmp_path)
    with pytest.raises(ValueError, match="not in upstream"):
        create_agg_view(up, str(tmp_path / "v1"), dims=["nope"])
    with pytest.raises(ValueError, match="non-numeric"):
        create_agg_view(up, str(tmp_path / "v2"), dims=["k"], sums=["grp"])
    with pytest.raises(ValueError, match="both a dim and a measure"):
        create_agg_view(up, str(tmp_path / "v3"), dims=["v"], sums=["v"])
    plain = _mk(spark, tmp_path, "plain")
    with pytest.raises(ValueError, match="no aggview spec"):
        refresh_agg_view(up, plain)


def test_view_lag_reports_staleness(spark, tmp_path):
    from datax_spark.lake.aggview import view_lag

    up = _mk(spark, tmp_path)
    _apply(spark, up, [(1, "a", 10, 1, "insert")])
    view = create_agg_view(up, str(tmp_path / "vw"), dims=["grp"], sums=["v"])
    assert view_lag(up, view)["versions_behind"] == 0
    _apply(spark, up, [(2, "b", 5, 2, "insert")])
    lag = view_lag(up, view)
    assert lag["versions_behind"] == 1 and lag["seconds_behind"] >= 0.0
    refresh_agg_view(up, view)
    assert view_lag(up, view)["versions_behind"] == 0
    plain = _mk(spark, tmp_path, "plain2")
    with pytest.raises(ValueError, match="no aggview spec"):
        view_lag(up, plain)


def test_crashed_bootstrap_is_resumable(spark, tmp_path):
    """A crash between the bootstrap overwrite and the spec/watermark
    commit leaves a spec-less table; re-running create_agg_view resumes
    the bootstrap.  A table WITH a spec refuses re-creation."""
    up = _mk(spark, tmp_path)
    _apply(spark, up, [(1, "a", 10, 1, "insert")])
    # simulate the crash: table exists, bootstrap data maybe written, but
    # no spec/watermark properties ever committed
    LakeTable.create(
        spark, str(tmp_path / "vw"),
        schema=T.StructType([
            T.StructField("grp", T.StringType()),
            T.StructField("n_rows", T.LongType()),
            T.StructField("sum_v", T.LongType()),
        ]),
        key_cols=["grp"], bucket_col="grp", num_buckets=4,
    )
    view = create_agg_view(up, str(tmp_path / "vw"), dims=["grp"], sums=["v"])
    assert _view_state(view) == {"a": (1, 10)}
    with pytest.raises(FileExistsError, match="already exists"):
        create_agg_view(up, str(tmp_path / "vw"), dims=["grp"], sums=["v"])


def test_view_survives_restart_spec_in_properties(spark, tmp_path):
    up = _mk(spark, tmp_path)
    _apply(spark, up, [(1, "a", 10, 1, "insert")])
    view = create_agg_view(up, str(tmp_path / "vw"), dims=["grp"], sums=["v"])
    # reopen cold, as a separate process would
    reopened = LakeTable(spark, str(tmp_path / "vw"))
    spec = json.loads(reopened.manifest().properties["aggview_spec"])
    assert spec == {"dims": ["grp"], "sums": ["v"], "mins": [], "maxs": [],
                    "levels_k": 8}
    _apply(spark, up, [(2, "b", 1, 2, "insert")])
    refresh_agg_view(up, reopened)
    assert _view_state(reopened) == {"a": (1, 10), "b": (1, 1)}


def test_rescan_prunes_files_on_dim_clustered_upstream(spark, tmp_path):
    """Departed-extremum rescan over an upstream kept dim-clustered with
    compact(sort_cols=dims): the per-dim IN pushdown reaches
    read(where=...) and the manifest zone maps skip files — even though
    the retraction itself just landed as a MOR delta (base files are
    non-key-prunable, see lake/table._select_entries).  The refresh
    reports the pruning decision under "rescan"."""
    up = _mk(spark, tmp_path)
    # 32 groups × 8 rows, dims scattered across hash buckets
    rows = [(g * 8 + i, f"g{g:02d}", (g * 8 + i) % 100, g * 8 + i, "insert")
            for g in range(32) for i in range(8)]
    _apply(spark, up, rows)
    # maintenance: dim-clustered rewrite → each file covers a narrow grp
    # range and the view's rescan can zone-map-prune
    up.compact(sort_cols=["grp"], files_per_bucket=8)
    view = create_agg_view(up, str(tmp_path / "vw"), dims=["grp"],
                           sums=["v"], maxs=["v"], levels_k=2)
    # retract the max holder AND the runner-up of ONE group: both tracked
    # levels exhaust → a rescan for just that group
    _apply(spark, up, [(5 * 8 + 7, "g05", 0, 10_000, "delete"),   # v=47
                       (5 * 8 + 6, "g05", 0, 10_001, "delete")])  # v=46
    out = refresh_agg_view(up, view)
    assert out["applied"]
    assert out["rescan"] is not None
    assert out["rescan"]["files_skipped"] >= 1, out["rescan"]
    got = {r["grp"]: (r["n_rows"], r["max_v"])
           for r in view.read().filter(F.col("grp") == "g05").collect()}
    assert got == {"g05": (6, 45)}
    # full view still matches a direct aggregate
    direct = {
        r["grp"]: (r["n"], r["mx"])
        for r in up.read().groupBy("grp")
        .agg(F.count(F.lit(1)).alias("n"), F.max("v").alias("mx")).collect()
    }
    view_state = {r["grp"]: (r["n_rows"], r["max_v"])
                  for r in view.read().collect()}
    assert view_state == direct


def test_multi_dim_min_max_rescan(spark, tmp_path):
    """Departed extremum on a view with >=2 dims: the rescan pushdown must
    build literal predicates per dim (struct(...).isin(tuple) is not a
    supported literal in PySpark and crashed mid-refresh)."""
    schema = T.StructType([
        T.StructField("k", T.LongType()),
        T.StructField("g1", T.StringType()),
        T.StructField("g2", T.StringType()),
        T.StructField("v", T.LongType()),
    ])
    up = LakeTable.create(
        spark, str(tmp_path / "up2"), schema=schema, key_cols=["k"],
        bucket_col="k", num_buckets=4,
    )

    def ap(rows):
        df = spark.createDataFrame(
            [Row(k=k, g1=a, g2=b, v=v, lsn=lsn, op=op)
             for (k, a, b, v, lsn, op) in rows],
            "k long, g1 string, g2 string, v long, lsn long, op string",
        )
        merge_into(up, df, op_col="op", order_col="lsn", mode="mor")

    ap([(1, "a", "x", 10, 1, "insert"), (2, "a", "x", 30, 2, "insert"),
        (5, "a", "x", 20, 3, "insert"),
        (3, "a", "y", 7, 4, "insert"), (4, "b", "x", 50, 5, "insert")])
    view = create_agg_view(up, str(tmp_path / "vw2"), dims=["g1", "g2"],
                           mins=["v"], maxs=["v"], levels_k=2)
    # delete the (a,x) max holder AND its runner-up, plus the (b,x) only
    # row: one group needs a two-dim rescan, the other is deleted outright
    ap([(2, "a", "x", 0, 6, "delete"), (5, "a", "x", 0, 7, "delete"),
        (4, "b", "x", 0, 8, "delete")])
    refresh_agg_view(up, view)
    got = {(r["g1"], r["g2"]): (r["n_rows"], r["min_v"], r["max_v"])
           for r in view.read().collect()}
    assert got == {("a", "x"): (1, 10, 10), ("a", "y"): (1, 7, 7)}


def test_high_churn_takes_recompute_path(spark, tmp_path):
    """Cost-based refresh: when the range's change bytes rival the
    snapshot bytes (here: every key rewritten), the refresh recomputes
    the view wholesale instead of incremental folding — same values."""
    up = _mk(spark, tmp_path)
    _apply(spark, up, [(1, "a", 10, 1, "insert"), (2, "b", 20, 2, "insert")])
    view = create_agg_view(up, str(tmp_path / "vw"), dims=["grp"], sums=["v"])
    _apply(spark, up, [(1, "b", 11, 3, "insert"), (2, "b", 0, 4, "delete"),
                       (3, "c", 5, 5, "insert")])
    r = _refresh_any(up, view)  # default recompute_ratio
    assert r["mode"] == "recompute" and r["applied"] and r["groups"] == 2
    assert _view_state(view) == _direct(up) == {"b": (1, 11), "c": (1, 5)}
    # idempotent: nothing new → no-op
    r2 = _refresh_any(up, view)
    assert not r2["applied"] and r2["mode"] is None


def test_low_churn_stays_incremental_by_default(spark, tmp_path):
    """A small change against a big base keeps the default refresh on the
    incremental path (manifest-bytes churn ratio below the threshold)."""
    up = _mk(spark, tmp_path)
    base = [(k, "a" if k % 2 else "b", k % 97, k, "insert")
            for k in range(1, 4001)]
    _apply(spark, up, base)
    view = create_agg_view(up, str(tmp_path / "vw"), dims=["grp"], sums=["v"])
    _apply(spark, up, [(1, "a", 500, 5001, "insert")])
    r = _refresh_any(up, view)  # default recompute_ratio
    assert r["mode"] == "incremental" and r["applied"]
    assert _view_state(view) == _direct(up)


def test_recompute_matches_incremental_with_min_max(spark, tmp_path):
    """Both refresh strategies produce identical public state, including
    the maintained extrema and their hidden level arrays' head."""
    up = _mk(spark, tmp_path)
    _apply(spark, up, [(k, "a" if k % 2 else "b", (k * 7) % 50, k, "insert")
                       for k in range(1, 41)])
    v1 = create_agg_view(up, str(tmp_path / "v1"), dims=["grp"], sums=["v"],
                         mins=["v"], maxs=["v"])
    v2 = create_agg_view(up, str(tmp_path / "v2"), dims=["grp"], sums=["v"],
                         mins=["v"], maxs=["v"])
    _apply(spark, up, [(k, "b", (k * 13) % 60, 100 + k, "insert")
                       for k in range(1, 31)] +
                      [(35, "a", 0, 200, "delete")])
    ri = refresh_agg_view(up, v1)               # pinned incremental
    rr = _refresh_any(up, v2, recompute_ratio=0.0)  # forced recompute
    assert ri["mode"] == "incremental" and rr["mode"] == "recompute"
    cols = ["grp", "n_rows", "sum_v", "min_v", "max_v"]
    got1 = {r["grp"]: tuple(r[c] for c in cols) for r in v1.read().collect()}
    got2 = {r["grp"]: tuple(r[c] for c in cols) for r in v2.read().collect()}
    assert got1 == got2
    direct = {
        r["grp"]: (r["grp"], r["n"], r["s"], r["mn"], r["mx"])
        for r in up.read().groupBy("grp")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"),
             F.min("v").alias("mn"), F.max("v").alias("mx")).collect()
    }
    assert got1 == direct


def test_static_planning_toggle_scoped(spark):
    """Small change layers run under AQE-off planning, restored on ANY
    exit (including exceptions); big/unknown layers leave AQE alone."""
    from datax_spark.lake.view import (
        _STATIC_PLAN_MAX_BYTES,
        _static_planning_if_small,
    )

    key = "spark.sql.adaptive.enabled"
    before = spark.conf.get(key)
    with _static_planning_if_small(spark, 1024):
        assert spark.conf.get(key) == "false"
    assert spark.conf.get(key) == before

    try:
        with _static_planning_if_small(spark, 1024):
            assert spark.conf.get(key) == "false"
            raise RuntimeError("boom")
    except RuntimeError:
        pass
    assert spark.conf.get(key) == before

    with _static_planning_if_small(spark, _STATIC_PLAN_MAX_BYTES + 1):
        assert spark.conf.get(key) == before
    with _static_planning_if_small(spark, None):
        assert spark.conf.get(key) == before


def test_minor_compaction_is_not_churn(spark, tmp_path):
    """compact_minor rewrites delta files without changing logical state:
    the cost model must not count the rewrite as churn, so a small batch
    followed by a minor compaction still refreshes incrementally."""
    up = _mk(spark, tmp_path)
    merge_into(up, spark.range(20000).select(
        F.col("id").alias("k"),
        F.concat(F.lit("g"), (F.col("id") % 10).cast("string")).alias("grp"),
        F.col("id").alias("v"),
        (F.col("id") + 1).alias("lsn"),
        F.lit("insert").alias("op"),
    ), op_col="op", order_col="lsn", mode="mor", auto_compact=None)
    view = create_agg_view(up, str(tmp_path / "vw"), dims=["grp"], sums=["v"])
    _apply(spark, up, [(k, "g0" if k % 2 else "h", -k, 30000 + k, "insert")
                       for k in range(0, 500, 10)])
    assert up.compact_minor() is not None
    r = _refresh_any(up, view)
    assert r["mode"] == "incremental"
    assert _view_state(view) == _direct(up)



def test_refresh_after_snapshot_expiry(spark, tmp_path):
    """expire_snapshots drops old manifests: the churn floor's history
    walk reads only the versions kept, so an agg refresh still works
    wherever a mirror over the same upstream syncs."""
    from datax_spark.lake.mirror import bootstrap_mirror, sync_mirror

    up = _mk(spark, tmp_path)
    for b in range(4):
        _apply(spark, up, [(k, f"g{k % 3}", k + b, 10 * b + k, "insert")
                           for k in range(b, 8 + b)])
    view = create_agg_view(up, str(tmp_path / "vw"), dims=["grp"], sums=["v"])
    mirror = bootstrap_mirror(up, str(tmp_path / "mir"))
    _apply(spark, up, [(1, "g2", 100, 100, "insert"),
                       (2, "", 0, 101, "delete")])
    up.expire_snapshots(keep_versions=2)
    assert int(view.manifest().properties[WATERMARK_PROP]) == 4
    assert up.current_version() == 5
    assert sync_mirror(up, mirror)["applied"]
    assert _refresh_any(up, view)["applied"]
    assert _view_state(view) == _direct(up)
    # the forced-incremental path too, on the next batch
    _apply(spark, up, [(3, "g0", 7, 102, "insert")])
    assert refresh_agg_view(up, view)["mode"] == "incremental"
    assert _view_state(view) == _direct(up)
