"""CDC relay: maintain a downstream mirror of a LakeTable from its changelog.

This closes the loop on ``LakeTable.read_changes`` (CDC *out*): the mirror
consumes the upstream table AS a change feed — the lakehouse analogue of
chaining two DataX sync jobs (reader of system A → writer of system B →
reader of B → writer of C), except the intermediate hop is the table's own
commit log, so no second extraction pass over the source is needed
(reference contrast: DataX re-reads the full source per hop,
``plugin-rdbms-util/.../reader/CommonRdbmsReader.java:165-214``; its only
incremental hop is the TableStore change stream,
``otsstreamreader/internal/core/RecordProcessor.java:186-248``).

Exactly-once by the shared view protocol (``lake/view.py``): the mirror
stores ``mirror_upstream_version`` in its own manifest properties and each
sync advances it in the same atomic commit as the merged data.

Scale: each sync is O(changed files) — ``read_changes`` selects files by
manifest diff (no upstream snapshot scan), and the MOR merge into the
mirror is O(batch).  A 100-TB upstream with a 1 GB/day change rate costs
1 GB/day to mirror, not 100 TB.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from datax_spark.lake.merge import merge_into
from datax_spark.lake.table import LakeTable
from datax_spark.lake.view import lag, watermark

WATERMARK_PROP = "mirror_upstream_version"
_OP = "__mirror_op"
_ORDER = "__mirror_order"


def bootstrap_mirror(
    upstream: LakeTable,
    location: str,
    version: int | None = None,
    num_buckets: int | None = None,
) -> LakeTable:
    """Create the mirror and load the upstream snapshot at ``version``
    (default: current) — the full-sync phase.  Subsequent deltas flow via
    :func:`sync_mirror`.

    Bootstrap is two commits (overwrite, then watermark) — if a crash lands
    between them the mirror has no watermark and bootstrap is simply re-run;
    only :func:`sync_mirror` needs (and has) single-commit atomicity.
    ``version=0`` starts an empty mirror that replays the ENTIRE changelog —
    useful when every upstream commit since create is changelog-readable."""
    um = upstream.manifest(version)
    mirror = LakeTable.create(
        upstream.spark,
        location,
        schema=um.schema,
        key_cols=list(um.key_cols),
        bucket_col=um.bucket_col,
        num_buckets=num_buckets or um.num_buckets,
    )
    at = upstream.current_version() if version is None else version
    if at > 0:
        mirror.overwrite(upstream.read(version=at))
    mirror.set_properties(**{WATERMARK_PROP: int(at)})
    return mirror


def mirror_lag(upstream: LakeTable, mirror: LakeTable) -> dict:
    """Staleness of the mirror vs its upstream: watermark, versions
    behind, and seconds behind (commit-timestamp delta)."""
    wm = watermark(mirror, WATERMARK_PROP, "bootstrap_mirror")
    return lag(upstream, wm, mirror_watermark=wm)


def sync_mirror(
    upstream: LakeTable,
    mirror: LakeTable,
    on_rewrite: str = "error",
    mode: str = "mor",
    auto_compact: int | None = 8,
) -> dict:
    """Apply upstream commits (watermark, current] to the mirror; returns
    ``{"from_version", "to_version", "rows", "applied"}``.

    Change rows are merged last-writer-wins ordered by ``(_commit_version,
    _change_lsn)`` — commit order first, so a commit that follows a
    compaction always outranks tombstones the mirror retained from BEFORE
    that compaction.  (Ordering by raw LSN alone diverges on the sequence
    MOR delete(k) → compact → append re-inserting k: the append carries no
    LSN while the mirror's retained tombstone carries a real one, so k
    would stay deleted in the mirror while live upstream.)  The per-key
    winner over the sync range is folded here with one hash-agg and the
    stored order value is the winning commit version — monotone across
    syncs, so cross-sync LWW in the mirror's own MOR reconstruction stays
    correct.  Deletes propagate as tombstones.  Re-running after success
    is a no-op (replay guard); a concurrent upstream commit simply shifts
    to the next sync."""
    from_v = watermark(mirror, WATERMARK_PROP, "bootstrap_mirror")
    to_v = upstream.current_version()
    if to_v <= from_v:
        return {"from_version": from_v, "to_version": from_v,
                "rows": 0, "applied": False}
    changes = upstream.read_changes(from_v, to_v, on_rewrite=on_rewrite)
    um = upstream.manifest(to_v)
    payload = [f.name for f in um.schema.fields]
    order = F.struct(
        F.col("_commit_version").alias("v"),
        F.coalesce(F.col("_change_lsn"), F.lit(-1)).alias("l"),
    )
    win = changes.groupBy(*[F.col(c) for c in um.key_cols]).agg(
        F.max_by(
            F.struct(
                *[F.col(c).alias(c) for c in payload],
                F.col("_change_type").alias("__t"),
                F.col("_commit_version").alias("__v"),
            ),
            order,
        ).alias("__w")
    )
    batch = win.select(
        *[F.col(f"__w.{c}").alias(c) for c in payload],
        F.when(F.col("__w.__t") == "delete", F.lit("delete"))
        .otherwise(F.lit("upsert"))
        .alias(_OP),
        F.col("__w.__v").alias(_ORDER),
    )
    n = batch.count()
    if n == 0:
        # the range held only physical/no-op commits — nothing to merge, so
        # advance the watermark on its own (no data at risk of replay)
        mirror.set_properties(**{WATERMARK_PROP: int(to_v)})
        return {"from_version": from_v, "to_version": to_v,
                "rows": 0, "applied": False}
    m = merge_into(
        mirror,
        batch,
        op_col=_OP,
        order_col=_ORDER,
        payload_cols=payload,
        lineage={"batch_id": f"mirror{to_v}", "rows": n, "bytes": 0},
        mode=mode,
        auto_compact=auto_compact,
        dedup_batch=False,  # batch is already one winner per key
        keys_unique=True,   # … so COW/DV modes may skip the forced dedup too
        properties_update={WATERMARK_PROP: int(to_v)},
    )
    return {"from_version": from_v, "to_version": to_v,
            "rows": n, "applied": m is not None}
