"""LakeTable — a minimal ACID snapshot table over parquet (Iceberg-shaped).

The reference achieves atomic publish with HDFS temp-dir + rename
(hdfswriter/src/main/java/com/alibaba/datax/plugin/writer/hdfswriter/HdfsWriter.java:195-196,293-326)
and idempotent block commit on ODPS upload sessions
(odpswriter/.../OdpsWriter.java:379-381; OdpsWriterProxy.java:193-195).  The
Spark-native equivalent is an Iceberg table with atomic snapshot commits; this
container ships no Iceberg runtime jars, so this module implements the same
contract directly over parquet + JSON manifests:

- **Snapshot isolation / atomic commit** — every commit writes an immutable
  manifest ``meta/v{N}.json`` (created with O_EXCL, so two racing writers
  cannot both claim version N) listing every live data file, then atomically
  swaps the ``meta/current`` pointer.  Readers resolve the pointer once and
  see a consistent snapshot; a crash mid-commit leaves the table at version
  N-1 with only orphan data files (cleaned by ``vacuum``).
- **Bucketed layout** — data files live under ``data/b=<k>/``; the bucket of a
  row is ``pmod(hash(bucket_col), num_buckets)`` computed with Spark's own
  ``hash`` so MERGE only rewrites the buckets a batch touches (the analogue of
  Iceberg ``bucket(N, col)`` partition + copy-on-write).  At 100 TB this is
  what keeps an incremental batch from rewriting the world: cost is
  O(touched buckets), not O(table).
- **Schema evolution** — manifests carry the full schema history; column-add
  and int→long / float→double widening update the current schema without
  rewriting old files (old files are read with their write-time schema and
  cast/padded on scan).
- **Lineage / exactly-once** — each commit can embed ``applied_batch``
  lineage (batch id, per-partition last-applied LSN, rows/bytes/wall_ms) in
  the SAME manifest write as the data, so "data visible" and "batch recorded"
  are one atomic event.  Replay after kill/resume consults
  ``is_batch_applied`` / ``last_lsn`` and becomes a no-op (SURVEY.md §7.4).

On a real cluster with Iceberg available, ``datax_spark.cdc.apply`` can target
``MERGE INTO`` instead; the semantics here are deliberately identical.

Concurrency model: single writer per table (like Iceberg's HadoopCatalog,
which also relies on atomic rename); concurrent commit attempts fail cleanly
on the O_EXCL manifest create.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from dataclasses import dataclass, field
from typing import Any

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datax_spark.lake.catalog import (  # noqa: F401 (re-exported)
    CommitConflict,
    FileCatalog,
    ManifestCatalog,
)

_BUCKET_COL = "__dx_bucket"
_SALT_COL = "__dx_salt"
# Hidden merge-on-read columns carried in delta files only: the event's LSN
# (ordering authority) and the tombstone flag.  Base files never carry them.
LSN_COL = "__lsn"
DELETED_COL = "__deleted"
# Pseudo-bucket for unbucketed L0 delta files (LSM level-0): written with
# NO shuffle (map-side append), holding rows of any bucket; every bucket
# selection must include them until compaction re-buckets.
L0_BUCKET = "L0"
# Deletion-vector columns (Iceberg v2 positional deletes): a "dv" file lists
# (data-file relpath, row position) pairs whose base rows are dead.  The scan
# anti-joins them away; compaction/rebucket rewrites drop them naturally.
DV_FILE_COL = "__file"
DV_POS_COL = "__pos"
# Partial-update deltas (kind "pdelta"): the DataX writeMode=update analogue
# (`INSERT … ON DUPLICATE KEY UPDATE col=VALUES(col)` over the job's MAPPED
# column subset, WriterUtil.java:110-167) — columns listed in __present are
# SET (explicit NULLs win); unlisted columns keep their previous value.
# __present is constant per batch (the batch's column set), so parquet
# dictionary-encodes it to ~nothing.
PRESENT_COL = "__present"
# File kinds whose rows defer key-merge work to read time.
DELTA_KINDS = ("delta", "pdelta")
# Commit operations that rewrite files without changing logical state: the
# changelog, the changed-bucket set and the view cost model skip them.
PHYSICAL_OPS = ("create", "properties", "compact", "compact-minor", "rebucket")
# While a purge (lake/purge.py) rewrites history, this property fences data
# commits: a racing writer could commit entries referencing pre-purge files
# that the purge is about to delete.  Property-only commits stay allowed
# (the fence itself, and purge's audit+clear commit).
PURGE_ACTIVE_PROP = "purge_active"


class PurgeActive(RuntimeError):
    """A purge is rewriting this table's history; data commits are fenced.

    Raised at the commit point, so a writer that read its base manifest
    before the fence landed is still refused (its first commit attempt
    rebases onto the fenced manifest).  Re-running the purge to completion
    clears the fence; after a crashed purge, a re-run is idempotent and
    also clears it."""

# Safe implicit widenings (DataX analogue: LongColumn stores BigInteger and
# DoubleColumn keeps the string form until cast — common/src/main/java/com/
# alibaba/datax/common/element/{LongColumn.java:20-39,DoubleColumn.java:12-38}).
_WIDEN_RANK: dict[str, int] = {
    "byte": 0,
    "short": 1,
    "integer": 2,
    "long": 3,
    "float": 10,
    "double": 11,
}
_WIDEN_FAMILY: dict[str, str] = {
    "byte": "int",
    "short": "int",
    "integer": "int",
    "long": "int",
    "float": "fp",
    "double": "fp",
}


def merge_schemas(current: T.StructType, incoming: T.StructType) -> T.StructType:
    """Merged schema: current columns (possibly widened) + new incoming columns.

    Mirrors DataX's config-driven column mapping growth; incompatible type
    changes raise (→ dirty/quarantine path, not silent corruption).
    """
    cur_fields = {f.name: f for f in current.fields}
    out: list[T.StructField] = []
    for f in current.fields:
        inc = next((g for g in incoming.fields if g.name == f.name), None)
        if inc is None or inc.dataType == f.dataType:
            out.append(f)
            continue
        a, b = f.dataType.typeName(), inc.dataType.typeName()
        if (
            a in _WIDEN_RANK
            and b in _WIDEN_RANK
            and _WIDEN_FAMILY[a] == _WIDEN_FAMILY[b]
        ):
            wide = f.dataType if _WIDEN_RANK[a] >= _WIDEN_RANK[b] else inc.dataType
            out.append(T.StructField(f.name, wide, True))
        elif a in _WIDEN_RANK and b in _WIDEN_RANK:
            # cross family: int-family → fp-family widens to double
            out.append(T.StructField(f.name, T.DoubleType(), True))
        else:
            raise ValueError(
                f"incompatible schema change for column {f.name!r}: {a} -> {b}"
            )
    for g in incoming.fields:
        if g.name not in cur_fields:
            out.append(T.StructField(g.name, g.dataType, True))  # column-add
    return T.StructType(out)


def _split_batch_id(batch_id: str) -> tuple[str, int | None]:
    """Split a batch id into (namespace prefix, numeric tail) — e.g.
    "s12" → ("s", 12), "7" → ("", 7).  Non-numeric-tailed ids → (id, None)."""
    i = len(batch_id)
    while i > 0 and batch_id[i - 1].isdigit():
        i -= 1
    if i == len(batch_id):
        return batch_id, None
    return batch_id[:i], int(batch_id[i:])


# File-level zone maps (Iceberg manifest lower_bounds/upper_bounds analogue):
# per-file column min/max recorded at commit time from the parquet footer the
# stage write already reads.  String bounds are truncated to this many chars —
# lower bounds by plain prefix (still a valid lower bound), upper bounds by
# prefix + last-char increment (still a valid upper bound); an upper bound
# that cannot be incremented is dropped (= unbounded above).
STATS_TRUNC_CHARS = 64
# Predicate ops understood by the manifest-level file pruner.
_PRUNE_OPS = {"=", "==", "<", "<=", ">", ">=", "in", "between"}


def _trunc_lower(s: str, n: int = STATS_TRUNC_CHARS) -> str:
    return s if len(s) <= n else s[:n]


def _trunc_upper(s: str, n: int = STATS_TRUNC_CHARS) -> str | None:
    """A valid upper bound for every string prefixed by ``s[:n]``: the prefix
    with its last incrementable char bumped.  None = unbounded above."""
    if len(s) <= n:
        return s
    prefix = s[:n]
    for i in range(len(prefix) - 1, -1, -1):
        o = ord(prefix[i])
        # skip chars whose successor is invalid or in the surrogate range
        if o < 0xD7FF or 0xE000 <= o < 0x10FFFF:
            return prefix[:i] + chr(o + 1)
    return None


def _file_column_stats(md, n: int = STATS_TRUNC_CHARS) -> dict[str, list]:
    """Aggregate per-column [min, max] across a parquet file's row groups,
    from footer statistics (no data read).  Only JSON-safe scalar types are
    kept (int/float/bool/str); a bound of None means unbounded on that side.
    Columns with no usable stats are omitted — the pruner keeps such files."""
    mins: dict[str, Any] = {}
    maxs: dict[str, Any] = {}
    seen_all: dict[str, bool] = {}
    for rg in range(md.num_row_groups):
        group = md.row_group(rg)
        for ci in range(group.num_columns):
            col = group.column(ci)
            name = col.path_in_schema
            if "." in name:  # nested columns: no top-level bounds
                continue
            st = col.statistics
            if st is None or not st.has_min_max:
                seen_all[name] = False
                continue
            lo, hi = st.min, st.max
            if isinstance(lo, bytes) or isinstance(hi, bytes):
                try:
                    lo, hi = lo.decode("utf-8"), hi.decode("utf-8")
                except (UnicodeDecodeError, AttributeError):
                    seen_all[name] = False
                    continue
            if not isinstance(lo, (bool, int, float, str)) or not isinstance(
                hi, (bool, int, float, str)
            ):
                seen_all[name] = False
                continue
            seen_all.setdefault(name, True)
            mins[name] = lo if name not in mins else min(mins[name], lo)
            maxs[name] = hi if name not in maxs else max(maxs[name], hi)
    out: dict[str, list] = {}
    for name, ok in seen_all.items():
        if not ok or name not in mins:
            continue  # some row group lacked stats: bounds would be partial
        lo, hi = mins[name], maxs[name]
        if isinstance(lo, str):
            lo, hi = _trunc_lower(lo, n), _trunc_upper(hi, n)
        if lo is None and hi is None:
            continue
        out[name] = [lo, hi]
    return out


def _normalize_preds(where) -> list[tuple[str, str, Any]]:
    preds = []
    for col, op, val in where or []:
        if op not in _PRUNE_OPS:
            raise ValueError(
                f"unsupported predicate op {op!r} (supported: {sorted(_PRUNE_OPS)})"
            )
        preds.append((col, "=" if op == "==" else op, val))
    return preds


def _file_may_match(stats: dict | None, preds: list[tuple[str, str, Any]]) -> bool:
    """Conservative overlap test: False only when the file's [min,max] proves
    no row can satisfy the conjunction.  Missing stats → must keep.  Rows
    with NULL in a predicate column can never satisfy these ops (SQL 3VL),
    so null counts are irrelevant to the decision."""
    if not stats:
        return True
    for col, op, val in preds:
        b = stats.get(col)
        if b is None:
            continue
        lo, hi = b
        try:
            if op == "=" and not (
                (lo is None or lo <= val) and (hi is None or val <= hi)
            ):
                return False
            if op == "<" and lo is not None and lo >= val:
                return False
            if op == "<=" and lo is not None and lo > val:
                return False
            if op == ">" and hi is not None and hi <= val:
                return False
            if op == ">=" and hi is not None and hi < val:
                return False
            if op == "in" and not any(
                (lo is None or lo <= v) and (hi is None or v <= hi) for v in val
            ):
                return False
            if op == "between":
                vlo, vhi = val
                if (hi is not None and vlo > hi) or (lo is not None and vhi < lo):
                    return False
        except TypeError:
            continue  # cross-type compare (schema widened): keep the file
    return True


# ------------------------------------------------------------ bloom filters
# Per-file bloom filters on configured columns (Iceberg/Delta file-skipping
# for EQUALITY lookups where zone maps are useless — high-cardinality
# columns in unclustered files whose [min,max] spans everything).  The
# bitmap rides in the manifest entry, so a point lookup tests membership
# DRIVER-SIDE with zero Spark jobs and zero file opens, like the zone maps.
# Bit positions are pmod(F.hash(col, lit(i)), m) for i in 0..k-1 — the
# chained Murmur3 the driver mirrors exactly via lake/hashing.py (parity
# pinned in tests/test_bloom_pruning.py).
BLOOM_PROP = "bloom_filters"
BLOOM_DEFAULT_M = 32768  # bits per file per column (4 KiB bitmap)
BLOOM_DEFAULT_K = 3
# above this fill ratio of distinct set bits the filter's false-positive
# rate stops paying for its manifest bytes — store None (no pruning)
_BLOOM_MAX_FILL = 0.5
# Spark types whose F.hash the driver mirror supports (lake/hashing.py)
_BLOOM_TYPES = (
    "int", "integer", "smallint", "tinyint", "date", "bigint", "long",
    "string",
)


def _bloom_positions_py(value, dtype: str, k: int, m: int) -> list[int] | None:
    """Driver-side mirror of ``pmod(F.hash(col, lit(i)), m)`` for
    i in 0..k-1: Spark's Murmur3Hash chains children, so the second child
    (the literal int i) hashes with the first child's hash as its seed."""
    from datax_spark.lake import hashing

    h1 = hashing.spark_hash(value, dtype)
    if h1 is None:
        return None
    return [hashing.hash_int(i, seed=h1) % m for i in range(k)]


def _bloom_may_match(
    blooms: dict | None, preds: list[tuple[str, str, Any]], schema
) -> bool:
    """False only when a bloom filter PROVES no =/in predicate value can
    be present in the file.  Saturated (None) records, missing columns,
    type-widened columns (the hash changes with the type), and unmirrored
    types all keep the file — correctness never depends on pruning."""
    if not blooms:
        return True
    import base64

    for col, op, val in preds:
        if op not in ("=", "in"):
            continue
        rec = blooms.get(col)
        if not rec:
            continue
        try:
            cur_t = schema[col].dataType.simpleString()
        except KeyError:
            continue
        if cur_t != rec.get("t"):
            continue  # widened/changed type: recorded bits used the old hash
        bits = base64.b64decode(rec["b"])
        m_bits, k = int(rec["m"]), int(rec["k"])
        vals = [val] if op == "=" else list(val)
        possible = False
        for v in vals:
            if v is None:
                continue  # NULL never satisfies = / in (3VL)
            pos = _bloom_positions_py(v, cur_t, k, m_bits)
            if pos is None or all(
                bits[p >> 3] & (1 << (p & 7)) for p in pos
            ):
                possible = True
                break
        if not possible:
            return False
    return True


def _preds_to_column(preds: list[tuple[str, str, Any]]):
    """The same predicate conjunction as a Column — read() applies it as the
    residual filter so results are exact regardless of pruning decisions."""
    expr = None
    for col, op, val in preds:
        c = F.col(col)
        if op == "=":
            e = c == F.lit(val)
        elif op == "<":
            e = c < F.lit(val)
        elif op == "<=":
            e = c <= F.lit(val)
        elif op == ">":
            e = c > F.lit(val)
        elif op == ">=":
            e = c >= F.lit(val)
        elif op == "in":
            e = c.isin(list(val))
        else:  # between
            e = c.between(F.lit(val[0]), F.lit(val[1]))
        expr = e if expr is None else (expr & e)
    return expr


def zorder_key(df: DataFrame, cols: list[str]) -> "Column":
    """Interleaved-bit Z-order key over ``cols`` (Iceberg/Delta ZORDER
    analogue) as a pure Column expression — no UDF, stays in codegen.

    Numeric/date/timestamp columns are bucketed into 2^bits uniform ranks
    between their observed min/max (one aggregate over ``df``); string and
    other columns rank by ``xxhash64`` (equality locality only — equal
    values co-locate, ranges don't).  Bits per column = min(16, 63//k), so
    the key always fits a long.  Nulls rank 0 (co-located first).

    Why interleave instead of lexicographic sort: sorting by (a, b) gives
    file-level min/max that prune on ``a`` but leave ``b`` spanning its
    whole domain in every file; interleaving alternates the bits so BOTH
    columns' zone maps stay narrow — multi-dimensional data skipping."""
    from pyspark.sql import Column  # noqa: F401 (typing only)

    k = len(cols)
    if k == 0:
        raise ValueError("zorder needs at least one column")
    bits = min(16, 63 // k)
    n = 2 ** bits
    numeric = (T.NumericType, T.DateType, T.TimestampType)
    stats_cols = [
        c for c in cols
        if isinstance(df.schema[c].dataType, numeric)
    ]
    aggs = []
    for c in stats_cols:
        aggs += [F.min(F.col(c).cast("double")).alias(f"__lo_{c}"),
                 F.max(F.col(c).cast("double")).alias(f"__hi_{c}")]
    bounds = df.agg(*aggs).collect()[0].asDict() if aggs else {}
    ranks = []
    for c in cols:
        if c in stats_cols and bounds.get(f"__lo_{c}") is not None:
            lo, hi = bounds[f"__lo_{c}"], bounds[f"__hi_{c}"]
            if hi <= lo:
                r = F.lit(0).cast("long")
            else:
                # width_bucket: 1..n in range; clamp + shift to 0..n-1
                r = F.least(
                    F.greatest(
                        F.width_bucket(
                            F.col(c).cast("double"),
                            F.lit(float(lo)), F.lit(float(hi)), F.lit(n),
                        ) - 1,
                        F.lit(0),
                    ),
                    F.lit(n - 1),
                ).cast("long")
        else:
            r = F.pmod(F.xxhash64(F.col(c)), F.lit(n)).cast("long")
        ranks.append(F.coalesce(r, F.lit(0)))
    z = F.lit(0).cast("long")
    for bit in range(bits - 1, -1, -1):
        for r in ranks:
            z = F.shiftleft(z, 1).bitwiseOR(
                F.shiftright(r, bit).bitwiseAND(F.lit(1))
            )
    return z


# Default number of applied-batch lineage entries retained verbatim in the
# manifest.  Older entries are pruned to a per-namespace retired-id frontier
# + aggregate totals, so a 10^5-batch stream keeps commits O(K), not
# O(history) — the round-1 scale-killer (manifest grew with every batch).
LINEAGE_RETENTION_DEFAULT = 512


@dataclass
class Manifest:
    version: int
    schema: T.StructType
    num_buckets: int
    bucket_col: str
    key_cols: list[str]
    # bucket id (str) -> list of data files; each entry is
    # [relpath, schema_id] (base, back-compat) or [relpath, schema_id, kind]
    # with kind ∈ {"base", "delta"} — delta = merge-on-read upsert/tombstone
    # file carrying the hidden (__lsn, __deleted) columns.
    files: dict[str, list[list[Any]]]
    # schema_id -> schema json (history for reading old files)
    schemas: dict[str, dict]
    current_schema_id: int
    applied_batches: dict[str, dict] = field(default_factory=dict)
    # shard/partition id (str) -> last applied LSN
    shard_lsns: dict[str, int] = field(default_factory=dict)
    properties: dict[str, Any] = field(default_factory=dict)
    # what produced this snapshot (Iceberg snapshot summary.operation
    # analogue): create | overwrite | append | merge-cow | merge-mor |
    # merge-dv | compact | rebucket | properties.  read_changes() uses it to
    # distinguish logical changes (append/merge-mor) from physical rewrites.
    operation: str = "unknown"
    # wall-clock commit time (epoch seconds), stamped by _write_manifest —
    # the Iceberg snapshot timestamp analogue; drives read(as_of=...)
    committed_at: float | None = None

    def is_applied(self, batch_id: int | str) -> bool:
        """Replay guard: retained lineage entry, or at/below the pruned
        (retired) id frontier of its namespace.  Valid because batch ids are
        assigned monotonically per namespace (lsn//batch_lsns in
        run_incremental; streaming epoch ids) and pruning is oldest-first."""
        sid = str(batch_id)
        if sid in self.applied_batches:
            return True
        retired = self.properties.get("lineage_retired") or {}
        ns, num = _split_batch_id(sid)
        return num is not None and ns in retired and num <= int(retired[ns])

    def to_json(self) -> str:
        return json.dumps(
            {
                "format": "datax-spark-laketable/1",
                "version": self.version,
                "schema": self.schema.jsonValue(),
                "num_buckets": self.num_buckets,
                "bucket_col": self.bucket_col,
                "key_cols": self.key_cols,
                "files": self.files,
                "schemas": self.schemas,
                "current_schema_id": self.current_schema_id,
                "applied_batches": self.applied_batches,
                "shard_lsns": self.shard_lsns,
                "properties": self.properties,
                "operation": self.operation,
                "committed_at": self.committed_at,
            },
            indent=1,
        )

    @staticmethod
    def from_json(text: str) -> "Manifest":
        d = json.loads(text)
        return Manifest(
            version=d["version"],
            schema=T.StructType.fromJson(d["schema"]),
            num_buckets=d["num_buckets"],
            bucket_col=d["bucket_col"],
            key_cols=d["key_cols"],
            files=d["files"],
            schemas=d["schemas"],
            current_schema_id=d["current_schema_id"],
            applied_batches=d.get("applied_batches", {}),
            shard_lsns={k: int(v) for k, v in d.get("shard_lsns", {}).items()},
            properties=d.get("properties", {}),
            operation=d.get("operation", "unknown"),
            committed_at=d.get("committed_at"),
        )


class LakeTable:
    """Bucketed ACID parquet table with manifest-tracked snapshots.

    The commit protocol lives behind the ``ManifestCatalog`` seam
    (lake/catalog.py): default ``FileCatalog`` (O_EXCL + pointer rename —
    today's behavior, byte-identical layout); pass ``catalog=`` to target
    another backend (the contract test runs the full fold on
    ``MemoryCatalog``; a real deployment maps the same five methods onto
    an Iceberg/Nessie/Glue commit-if-version-matches)."""

    # planning-payload bookkeeping for the latest bloom-bitmap build on
    # this handle (tests/bench assert the executor-side packing bound);
    # class default so handles that never wrote blooms read 0
    _last_bloom_payload_bytes: int = 0

    def __init__(self, spark: SparkSession, location: str,
                 catalog: "ManifestCatalog | None" = None):
        self.spark = spark
        self.location = os.path.abspath(location)
        self.meta_dir = os.path.join(self.location, "meta")
        self.data_dir = os.path.join(self.location, "data")
        self.catalog = catalog or FileCatalog(self.meta_dir)

    # ---------------------------------------------------------------- create
    @staticmethod
    def create(
        spark: SparkSession,
        location: str,
        schema: T.StructType,
        key_cols: list[str],
        bucket_col: str | None = None,
        num_buckets: int = 16,
        properties: dict | None = None,
        catalog: "ManifestCatalog | None" = None,
    ) -> "LakeTable":
        t = LakeTable(spark, location, catalog=catalog)
        os.makedirs(t.meta_dir, exist_ok=True)
        os.makedirs(t.data_dir, exist_ok=True)
        try:
            t.catalog.read_pointer()
            raise FileExistsError(f"table already exists at {location}")
        except FileNotFoundError:
            pass
        m = Manifest(
            version=0,
            schema=schema,
            num_buckets=num_buckets,
            bucket_col=bucket_col or key_cols[0],
            key_cols=list(key_cols),
            files={},
            schemas={"0": schema.jsonValue()},
            current_schema_id=0,
            operation="create",
        )
        t._write_manifest(m)
        return t

    @staticmethod
    def exists(location: str) -> bool:
        return os.path.exists(os.path.join(location, "meta", "current"))

    # ------------------------------------------------------------- manifests
    def current_version(self) -> int:
        return self.catalog.read_pointer()

    def manifest(self, version: int | None = None) -> Manifest:
        v = self.current_version() if version is None else version
        return Manifest.from_json(self.catalog.read_manifest(v))

    def _write_manifest(self, m: Manifest) -> None:
        if m.properties.get(PURGE_ACTIVE_PROP) and m.operation != "properties":
            raise PurgeActive(
                f"table {self.location} is fenced by an active purge "
                f"({m.properties[PURGE_ACTIVE_PROP]}); retry after it "
                "completes, or re-run purge_rows (idempotent) to finish a "
                "crashed one and clear the fence"
            )
        m.committed_at = time.time()
        # the catalog's atomic claim IS the commit point: data visible and
        # lineage recorded in one event (CommitConflict = rebase + retry)
        self.catalog.commit(m.version, m.to_json())

    # ----------------------------------------------------------------- reads
    def schema(self) -> T.StructType:
        return self.manifest().schema

    def bucket_expr(self, col: str, num_buckets: int):
        """Spark-side bucket id — identical everywhere (write & merge prune)."""
        return F.pmod(F.hash(F.col(col)), F.lit(num_buckets)).cast("int")

    def _select_entries(
        self, m: Manifest, buckets: list[int] | None, where=None
    ) -> tuple[list[list], list[str], dict]:
        """Resolve the file selection for a scan: bucket pruning, then
        zone-map (per-file min/max) predicate skipping.  Returns
        (kept data-file entries, dv paths, plan info).

        MOR safety — which predicates may skip which files:

        - KEY-column predicates skip ANY file.  Key values are immutable
          per logical row, so a file whose key range can't match holds no
          needed version of any matching key.
        - Non-key predicates never skip DELTA files: a key's versions are
          spread across deltas, and skipping the file holding its NEWEST
          version while an older one elsewhere still matches would
          resurrect stale state through the LWW reconstruction.
        - Non-key predicates MAY skip BASE files (Iceberg's rule: data
          predicates prune data files, never delete files).  Base rows
          carry ``__lsn = -1`` and always lose the reconstruction to any
          delta row of the same key, so dropping a base row can never flip
          a winner — it only removes rows the residual filter would drop
          anyway.  Exception: pdelta (partial-update) selections fold
          COLUMN-WISE from the base row, so there base files are as
          LWW-sensitive as deltas and only key predicates skip.

        This is what makes a dim-clustered table's zone maps useful MID
        ingest: a selective non-key read right after a delta commit still
        skips the clustered base mass."""
        preds = _normalize_preds(where)
        want = None if buckets is None else {str(b) for b in buckets}
        derived = None
        if want is None and preds:
            derived = self._derive_buckets(m, preds)
            if derived is not None:
                want = {str(b) for b in derived}
        candidates: list[list] = []
        dv_paths: list[str] = []
        for b, entries in m.files.items():
            # L0 deltas are bucket-agnostic: included in every selection
            if want is not None and b not in want and b != L0_BUCKET:
                continue
            for entry in entries:
                kind = entry[2] if len(entry) > 2 else "base"
                if kind == "dv":
                    dv_paths.append(os.path.join(self.location, entry[0]))
                    continue
                candidates.append(entry)
        any_delta = any(
            len(e) > 2 and e[2] in DELTA_KINDS for e in candidates
        )
        any_pdelta = any(
            len(e) > 2 and e[2] == "pdelta" for e in candidates
        )
        key_preds = [p for p in preds if p[0] in m.key_cols]
        kept = []
        bloom_skipped = 0
        for e in candidates:
            kind = e[2] if len(e) > 2 else "base"
            usable = (
                key_preds if (kind in DELTA_KINDS or any_pdelta) else preds
            )
            if usable:
                if not _file_may_match(e[5] if len(e) > 5 else None, usable):
                    continue
                if not _bloom_may_match(
                    e[6] if len(e) > 6 else None, usable, m.schema
                ):
                    bloom_skipped += 1
                    continue
            kept.append(e)
        info = {
            "files_total": len(candidates),
            "files_kept": len(kept),
            "files_skipped": len(candidates) - len(kept),
            "bloom_skipped": bloom_skipped,
            "dv_files": len(dv_paths),
            "any_delta": any_delta,
            "preds_used": len(key_preds if any_pdelta else preds),
            "buckets_derived": sorted(derived) if derived is not None else None,
        }
        return kept, dv_paths, info

    def _derive_buckets(
        self, m: Manifest, preds: list[tuple[str, str, Any]]
    ) -> list[int] | None:
        """Bucket ids a ``=``/``in`` predicate on the bucket column confines
        the scan to, computed DRIVER-SIDE (zero Spark jobs) with the
        Murmur3 mirror in lake/hashing.py — the Iceberg bucket-transform
        partition-pruning analogue.  At 100 TB this turns a point lookup
        into an O(files-per-bucket) read: 1/num_buckets of the table plus
        the always-kept L0 tail.

        None = no pruning possible.  Safety rules:
        - only when the bucket column is a KEY column: key values are
          immutable per logical row, so every version of a matching key
          lives in the derived buckets (or the always-kept L0); a mutable
          bucket column could strand a key's newest version in another
          bucket and resurrect stale state through LWW reconstruction;
        - only when every historical schema agrees on the bucket column's
          type — widening int→long changes Murmur3, so a widened table's
          old files sit in buckets hashed under the OLD type;
        - only for types whose Spark hash is mirrored (int/long/string);
        - NULL predicate values match no row (3VL) and derive no bucket;
        - multiple bucket-col predicates intersect."""
        from datax_spark.lake import hashing

        if m.bucket_col not in m.key_cols:
            return None
        try:
            dtype = m.schema[m.bucket_col].dataType.simpleString()
        except KeyError:
            return None
        for sc in m.schemas.values():
            hist = T.StructType.fromJson(sc) if isinstance(sc, dict) else sc
            for f in hist.fields:
                if f.name == m.bucket_col and f.dataType.simpleString() != dtype:
                    return None
        out: set[int] | None = None
        for col, op, val in preds:
            if col != m.bucket_col or op not in ("=", "in"):
                continue
            vals = [val] if op == "=" else list(val)
            bs: set[int] = set()
            for v in vals:
                if v is None:
                    continue  # NULL never satisfies = / in
                b = hashing.bucket_of(v, dtype, m.num_buckets)
                if b is None:
                    return None  # unmirrored type: no driver-side pruning
                bs.add(b)
            out = bs if out is None else out & bs
        return sorted(out) if out is not None else None

    def scan_plan(
        self,
        where=None,
        version: int | None = None,
        buckets: list[int] | None = None,
    ) -> dict:
        """The pruning decision read(where=...) would make, without running
        it — O(manifest), zero filesystem or Spark work."""
        _, _, info = self._select_entries(self.manifest(version), buckets, where)
        return info

    def _scan_raw(
        self,
        m: Manifest,
        buckets: list[int] | None,
        expose_pos: bool = False,
        where=None,
    ) -> tuple[DataFrame | None, bool]:
        """Union all snapshot files projected to (current schema + hidden
        MOR columns).  Base files get (__lsn=-1, __deleted=false); delta
        files carry their own.  Deletion-vector ("dv") files in the
        selection are anti-joined away from the base rows on (file, pos).
        ``expose_pos`` keeps (__file, __pos) on the returned rows (base
        rows; null for delta rows) — the dv-merge write path uses this to
        locate the positions of matched keys.  ``where`` skips files via
        manifest zone maps (see _select_entries) — callers must still apply
        the predicate as a residual filter.  Returns (frame | None,
        any_delta)."""
        selected, dv_paths, _ = self._select_entries(m, buckets, where)
        groups: dict[tuple[str, str], list[str]] = {}
        for entry in selected:
            rel, schema_id = entry[0], entry[1]
            kind = entry[2] if len(entry) > 2 else "base"
            groups.setdefault((str(schema_id), kind), []).append(
                os.path.join(self.location, rel)
            )
        if not groups:
            return None, False
        target = m.schema
        any_delta = any(kind in DELTA_KINDS for _, kind in groups)
        any_partial = any(kind == "pdelta" for _, kind in groups)
        with_pos = bool(dv_paths) or expose_pos
        # _metadata.file_path is an absolute file:// URI; dv entries store
        # location-relative paths so the table survives a move/copy
        prefix = f"file://{self.location}/"
        base_parts: list[DataFrame] = []
        delta_parts: list[DataFrame] = []
        for (schema_id, kind), paths in groups.items():
            file_schema = T.StructType.fromJson(m.schemas[schema_id])
            if kind in DELTA_KINDS:
                file_schema = T.StructType(
                    file_schema.fields
                    + [
                        T.StructField(LSN_COL, T.LongType()),
                        T.StructField(DELETED_COL, T.BooleanType()),
                    ]
                    + (
                        [T.StructField(
                            PRESENT_COL, T.ArrayType(T.StringType())
                        )]
                        if kind == "pdelta" else []
                    )
                )
            df = self.spark.read.schema(file_schema).parquet(*paths)
            # project/cast up to the current schema: missing columns → null,
            # widened columns → cast (reads stay JVM-side, no Python).
            have = {f.name for f in file_schema.fields}
            cols = [
                (F.col(f.name).cast(f.dataType) if f.name in have
                 else F.lit(None).cast(f.dataType)).alias(f.name)
                for f in target.fields
            ]
            if kind in DELTA_KINDS:
                cols += [F.col(LSN_COL), F.col(DELETED_COL)]
                if any_partial:
                    # null __present = full-row event (covers every column)
                    cols += [
                        (F.col(PRESENT_COL) if kind == "pdelta"
                         else F.lit(None).cast("array<string>"))
                        .alias(PRESENT_COL)
                    ]
                if with_pos:
                    cols += [
                        F.lit(None).cast("string").alias(DV_FILE_COL),
                        F.lit(None).cast("long").alias(DV_POS_COL),
                    ]
                delta_parts.append(df.select(*cols))
            else:
                cols += [
                    F.lit(-1).cast("long").alias(LSN_COL),
                    F.lit(False).alias(DELETED_COL),
                ]
                if any_partial:
                    cols += [
                        F.lit(None).cast("array<string>").alias(PRESENT_COL)
                    ]
                if with_pos:
                    cols += [
                        F.expr("substring(_metadata.file_path, "
                               f"{len(prefix) + 1})").alias(DV_FILE_COL),
                        F.col("_metadata.row_index").alias(DV_POS_COL),
                    ]
                base_parts.append(df.select(*cols))
        out: DataFrame | None = None
        for p in base_parts:
            out = p if out is None else out.unionByName(p)
        if out is not None and dv_paths:
            dv = self.spark.read.schema(
                T.StructType([
                    T.StructField(DV_FILE_COL, T.StringType()),
                    T.StructField(DV_POS_COL, T.LongType()),
                ])
            ).parquet(*dv_paths).select(
                F.col(DV_FILE_COL).alias("__dvf"),
                F.col(DV_POS_COL).alias("__dvp"),
            )
            out = out.join(
                dv,
                on=(F.col(DV_FILE_COL) == F.col("__dvf"))
                & (F.col(DV_POS_COL) == F.col("__dvp")),
                how="left_anti",
            )
        for p in delta_parts:
            out = p if out is None else out.unionByName(p)
        if with_pos and not expose_pos:
            out = out.drop(DV_FILE_COL, DV_POS_COL)
        return out, any_delta

    def commit_lag(self, from_version: int) -> dict:
        """How far ``from_version`` trails the current head: versions
        behind and wall-clock seconds between the two commits (0 when
        caught up).  The freshness/staleness metric for anything keyed to
        a version watermark — mirrors, aggregate views, external CDC
        consumers.  O(2 manifest reads), no data touched."""
        head = self.current_version()
        behind = head - int(from_version)
        if behind <= 0:
            return {"head_version": head, "versions_behind": 0,
                    "seconds_behind": 0.0}
        t_head = self.manifest(head).committed_at
        t_from = self.manifest(int(from_version)).committed_at
        sec = (t_head - t_from) if (t_head is not None
                                    and t_from is not None) else None
        return {
            "head_version": head,
            "versions_behind": behind,
            "seconds_behind": (round(max(0.0, sec), 3)
                               if sec is not None else None),
        }

    def version_as_of(self, ts: float) -> int:
        """Newest version committed at or before epoch-seconds ``ts``
        (Iceberg snapshot-as-of-timestamp analogue).  Expired (deleted)
        manifests are skipped; raises if every retained snapshot is newer
        than ``ts``."""
        best = None
        for v in range(self.current_version(), -1, -1):
            try:
                m = self.manifest(v)
            except FileNotFoundError:
                continue  # expired
            if m.committed_at is not None and m.committed_at <= ts:
                best = v
                break
        if best is None:
            raise ValueError(
                f"no retained snapshot committed at or before {ts} "
                f"(oldest retained is newer, or history was expired)"
            )
        return best

    def read(
        self,
        version: int | None = None,
        buckets: list[int] | None = None,
        where: list[tuple] | None = None,
        as_of: float | None = None,
        _manifest: "Manifest | None" = None,
    ) -> DataFrame:
        """Scan the snapshot; ``buckets`` prunes to a bucket subset (the MERGE
        fast path — Iceberg partition pruning analogue).  ``where`` is a list
        of (col, op, value) conjuncts (op ∈ =, <, <=, >, >=, in, between):
        files whose manifest zone maps prove no row can match are never
        opened (Iceberg data-skipping analogue — at 100 TB this turns a
        selective key-range read from O(table) into O(matching files)), and
        the predicate is then applied exactly as a residual filter, so the
        result always equals ``read().filter(pred)``.

        Merge-on-read: if the selected buckets contain delta files, the scan
        reconstructs last-writer-wins state — one hash-aggregate
        (``max_by(row, __lsn)`` per key, map-side partial) then tombstone
        filter — and only key-column predicates may skip files (see
        _select_entries).  Pure-base snapshots skip reconstruction entirely
        (the post-compaction fast path).

        ``as_of`` (epoch seconds) time-travels to the newest snapshot
        committed at or before that instant (mutually exclusive with
        ``version``); ``_manifest`` scans a synthetic manifest instead of a
        committed one — internal hook for staged-commit previews
        (lake/wap.py)."""
        if as_of is not None:
            if version is not None:
                raise ValueError("pass at most one of version / as_of")
            version = self.version_as_of(as_of)
        m = _manifest if _manifest is not None else self.manifest(version)
        raw, any_delta = self._scan_raw(m, buckets, where=where)
        residual = _preds_to_column(_normalize_preds(where))
        if raw is None:
            out = self.spark.createDataFrame([], m.schema)
            return out.filter(residual) if residual is not None else out
        if buckets is not None and L0_BUCKET in m.files:
            # L0 files hold rows of any bucket — restrict to the selection
            bexpr = self.bucket_expr(m.bucket_col, m.num_buckets)
            raw = raw.filter(bexpr.isin([int(b) for b in buckets]))
        data_cols = [f.name for f in m.schema.fields]
        if not any_delta:
            out = raw.select(*data_cols)
            return out.filter(residual) if residual is not None else out
        if PRESENT_COL in raw.columns:
            out = self._reconstruct_partial(raw, m)
            return out.filter(residual) if residual is not None else out
        # Last-writer-wins via hash-agg + join rather than
        # max_by(struct(...)): a struct-valued aggregate buffer forces
        # SortAggregate (no codegen, sorts whole wide rows); max(long) is a
        # primitive-buffer HashAggregate and the equi-join stays in
        # WholeStageCodegen — measurably faster on wide content rows.
        # Assumes at most one row per (key, lsn) — guaranteed by the
        # exactly-once lineage guard (an event is applied once).
        # NULL key columns: groupBy puts them in one group, so the join back
        # must be null-safe (<=>) or those rows silently vanish from every
        # delta-bearing read while surviving pure-base snapshots.
        wins = raw.groupBy(*[F.col(c) for c in m.key_cols]).agg(
            F.max(F.col(LSN_COL)).alias("__max_lsn")
        )
        wins = wins.select(
            *[F.col(c).alias(f"__k_{c}") for c in m.key_cols], "__max_lsn"
        )
        cond = None
        for c in m.key_cols:
            e = raw[c].eqNullSafe(F.col(f"__k_{c}"))
            cond = e if cond is None else (cond & e)
        last = raw.join(wins, on=cond, how="inner").filter(
            F.col(LSN_COL) == F.col("__max_lsn")
        )
        out = last.filter(~F.col(DELETED_COL)).select(*data_cols)
        # residual AFTER reconstruction: the predicate selects rows of the
        # CURRENT state, not of any historical version
        return out.filter(residual) if residual is not None else out

    def _reconstruct_partial(self, raw: DataFrame, m: "Manifest") -> DataFrame:
        """Column-wise last-writer-wins fold for selections holding
        partial-update ("pdelta") files — DataX writeMode=update semantics
        (WriterUtil.java:110-167): each event SETS the columns it covers
        (null ``__present`` = full row; explicit NULLs in covered columns
        win) and preserves the rest, while a delete resets the key so later
        events rebuild it from scratch.

        Two hash-aggregates on the key, both map-side partial:
        1. per key: last delete LSN + last live LSN (key exists iff a live
           event follows the last delete);
        2. over post-delete live events: ``max_by(col, covered-lsn)`` per
           column — primitive buffers, so the plan stays HashAggregate /
           WholeStageCodegen (no struct buffers, no window sort).
        Cost is O(selected rows), same asymptotic as the whole-row fold —
        partial deltas never force a snapshot scan."""
        key_cols = m.key_cols
        data_cols = [f.name for f in m.schema.fields]
        marks = raw.groupBy(*[F.col(c) for c in key_cols]).agg(
            F.max(F.when(F.col(DELETED_COL), F.col(LSN_COL)))
            .alias("__del_lsn"),
            F.max(F.when(~F.col(DELETED_COL), F.col(LSN_COL)))
            .alias("__live_lsn"),
        )
        marks = marks.filter(
            F.col("__live_lsn") > F.coalesce(F.col("__del_lsn"), F.lit(-2))
        ).select(
            *[F.col(c).alias(f"__k_{c}") for c in key_cols],
            F.coalesce(F.col("__del_lsn"), F.lit(-2)).alias("__del_lsn"),
        )
        cond = None
        for c in key_cols:
            e = raw[c].eqNullSafe(F.col(f"__k_{c}"))
            cond = e if cond is None else (cond & e)
        live = raw.join(marks, on=cond, how="inner").filter(
            ~F.col(DELETED_COL) & (F.col(LSN_COL) > F.col("__del_lsn"))
        )

        def covered_lsn(c: str):
            return F.when(
                F.col(PRESENT_COL).isNull()
                | F.array_contains(F.col(PRESENT_COL), c),
                F.col(LSN_COL),
            )

        folded = live.groupBy(*[F.col(c) for c in key_cols]).agg(
            *[
                F.max_by(F.col(c), covered_lsn(c)).alias(c)
                for c in data_cols if c not in key_cols
            ]
        )
        return folded.select(*data_cols)

    # ---------------------------------------------------------------- writes
    def _bucketed_lww_frame(
        self, selected: DataFrame, m: Manifest, files_per_bucket: int
    ) -> DataFrame:
        """Fuse in-batch last-writer-wins dedup INTO the bucketed write's
        exchange — one shuffle where the naive plan (dedup hash-agg, then
        repartition on the bucket id) costs two full-batch shuffles.

        How: partition on (bucket[, salt]) — both pure functions of the key
        columns, so every event of a key lands in one task — then hash-agg
        ``max_by(whole_row, __lsn)`` grouped by (bucket[, salt], *key_cols).
        The grouping is a superset of the partitioning expressions, so
        Catalyst plans the aggregate with NO second exchange (verified by
        tests/test_fused_dedup_write.py), and the write downstream sees each
        bucket co-located exactly as the plain repartition would deliver it.
        Requires ``bucket_col ∈ key_cols`` (callers gate on it): otherwise
        the bucket id is not key-functional and the groupBy would split keys.
        """
        bexpr = self.bucket_expr(m.bucket_col, m.num_buckets)
        staged = selected.withColumn(_BUCKET_COL, bexpr)
        shuffle_n = max(1, m.num_buckets * files_per_bucket)
        parts = [F.col(_BUCKET_COL)]
        if files_per_bucket > 1:
            salt = F.pmod(
                F.hash(*[F.col(c) for c in m.key_cols]),
                F.lit(files_per_bucket),
            )
            staged = staged.withColumn(_SALT_COL, salt)
            parts.append(F.col(_SALT_COL))
        staged = staged.repartition(shuffle_n, *parts)
        payload = F.struct(
            *[F.col(c) for c in staged.columns if c != _SALT_COL]
        )
        return (
            staged.groupBy(*parts, *[F.col(k) for k in m.key_cols])
            .agg(F.max_by(payload, F.col(LSN_COL)).alias("__row"))
            .select("__row.*")
        )

    def _stage_write(
        self,
        df: DataFrame,
        m: Manifest,
        files_per_bucket: int = 1,
        kind: str = "base",
        extra_cols: list[str] | None = None,
        bucketed: bool = True,
        sort_cols: list[str] | None = None,
        dedup_lww: bool = False,
    ) -> dict[str, list[list[Any]]]:
        """Write df into per-bucket parquet files; returns files map fragment.

        The frame is hash-repartitioned on the bucket id so each bucket's rows
        land in files under ``data/b=<k>/`` — co-located exactly like Iceberg
        ``bucket(N, col)`` write distribution.  File row-counts come from
        parquet footers (no extra Spark job).

        ``sort_cols`` (Iceberg SORT ORDER analogue): range-partition by
        (bucket, *sort_cols) and sort within files, so each file covers a
        narrow sort-key range and its manifest zone maps become selective —
        the write-side half of predicate file-skipping.  Costs one range
        shuffle + local sort; meant for compaction, not the ingest hot path.

        ``dedup_lww``: collapse the batch to the last event per key (by
        ``LSN_COL``) inside the bucket exchange itself — see
        ``_bucketed_lww_frame``.  Only meaningful with ``bucketed=True`` and
        no ``sort_cols``; the caller must guarantee ``bucket_col ∈ key_cols``.
        """
        staging = os.path.join(self.location, f".staging-{uuid.uuid4().hex}")
        selected = df.select(
            *[F.col(f.name) for f in m.schema.fields],
            *[F.col(c) for c in (extra_cols or [])],
        )
        if not bucketed:
            # L0 append: NO shuffle — each input partition writes straight
            # out (LSM level-0).  Bucketing happens at compaction.
            selected.write.mode("overwrite").parquet(staging)
            frag: dict[str, list[list[Any]]] = {}
            bdir = os.path.join(self.data_dir, f"b={L0_BUCKET}")
            os.makedirs(bdir, exist_ok=True)
            for fn in sorted(os.listdir(staging)):
                if not fn.endswith(".parquet"):
                    continue
                src = os.path.join(staging, fn)
                md = pq.read_metadata(src)
                if md.num_rows == 0:
                    continue  # empty batch/partition — nothing to register
                new_name = f"{uuid.uuid4().hex}.parquet"
                dst = os.path.join(bdir, new_name)
                os.rename(src, dst)
                frag.setdefault(L0_BUCKET, []).append(
                    [os.path.join("data", f"b={L0_BUCKET}", new_name),
                     m.current_schema_id, kind,
                     os.path.getsize(dst), md.num_rows, _file_column_stats(md)]
                )
            shutil.rmtree(staging, ignore_errors=True)
            return self._attach_blooms(frag, m)
        if dedup_lww and not sort_cols:
            staged = self._bucketed_lww_frame(selected, m, files_per_bucket)
            (
                staged.write.mode("overwrite")
                .partitionBy(_BUCKET_COL)
                .parquet(staging)
            )
            return self._attach_blooms(
                self._collect_staged(staging, m.current_schema_id, kind), m
            )
        bexpr = self.bucket_expr(m.bucket_col, m.num_buckets)
        staged = selected.withColumn(_BUCKET_COL, bexpr)
        shuffle_n = max(1, m.num_buckets * files_per_bucket)
        if sort_cols:
            # contiguous (bucket, sort-key) ranges per task → one tight-range
            # file per (bucket × range-slice); partitionBy still splits dirs.
            # Entries may be column names or computed Columns (e.g. the
            # z-order key) — computed keys order the layout without being
            # persisted.
            sort_exprs = [
                F.col(c) if isinstance(c, str) else c for c in sort_cols
            ]
            staged = staged.repartitionByRange(
                shuffle_n, F.col(_BUCKET_COL), *sort_exprs,
            ).sortWithinPartitions(F.col(_BUCKET_COL), *sort_exprs)
        elif files_per_bucket == 1:
            staged = staged.repartition(m.num_buckets, F.col(_BUCKET_COL))
        else:
            salt = (F.pmod(F.hash(*[F.col(c) for c in m.key_cols]),
                           F.lit(files_per_bucket)))
            staged = staged.repartition(shuffle_n, F.col(_BUCKET_COL), salt)
        (
            staged.write.mode("overwrite")
            .partitionBy(_BUCKET_COL)
            .parquet(staging)
        )
        return self._attach_blooms(
            self._collect_staged(staging, m.current_schema_id, kind), m
        )

    def set_bloom_filters(
        self,
        cols: list[str],
        m_bits: int = BLOOM_DEFAULT_M,
        k: int = BLOOM_DEFAULT_K,
    ) -> "Manifest":
        """Enable per-file bloom filters on ``cols`` for every FUTURE data
        file (run :meth:`compact` to backfill existing files).  Costs one
        extra Spark aggregation per write (over just-written files, bloom
        columns only); buys driver-side file skipping for ``=``/``in``
        lookups on columns zone maps can't serve.  Size ``m_bits`` ≳ 10×
        the expected distinct values per file — filters that would exceed
        50% fill are stored as None (honest no-pruning fallback)."""
        if k < 1 or m_bits < 64 or m_bits % 8:
            raise ValueError("need k >= 1 and m_bits >= 64 divisible by 8")
        schema = self.schema()
        by_name = {f.name: f.dataType.simpleString() for f in schema.fields}
        for c in cols:
            if c not in by_name:
                raise ValueError(f"bloom column {c!r} not in schema")
            if by_name[c] not in _BLOOM_TYPES:
                raise ValueError(
                    f"bloom column {c!r} has type {by_name[c]} — only "
                    f"{sorted(set(_BLOOM_TYPES))} have the driver-side "
                    "hash mirror pruning needs"
                )
        return self.set_properties(
            **{BLOOM_PROP: {"cols": list(cols), "m": int(m_bits),
                            "k": int(k)}}
        )

    def _attach_blooms(
        self, frag: dict[str, list[list[Any]]], m: "Manifest"
    ) -> dict[str, list[list[Any]]]:
        """Compute and attach per-file bloom bitmaps for the configured
        columns to a just-written files-map fragment.  One Spark job over
        the new files (bloom columns + ``_metadata.file_path`` only —
        column-pruned, map-side-combined ≤ m distinct positions per file);
        the driver packs bitmaps.  No-op unless ``BLOOM_PROP`` is set."""
        conf = m.properties.get(BLOOM_PROP)
        if not conf:
            return frag
        import base64

        paths = {
            os.path.join(self.location, e[0]): e
            for es in frag.values()
            for e in es
            if len(e) > 2 and e[2] != "dv"
        }
        if not paths:
            return frag
        df = self.spark.read.parquet(*paths)
        m_bits, k = int(conf.get("m", BLOOM_DEFAULT_M)), int(conf.get("k", 3))
        usable: list[tuple[int, str, str]] = []
        for c in conf["cols"]:
            if c not in df.columns:
                continue  # partial-update files may omit the column
            dtype = df.schema[c].dataType.simpleString()
            if dtype in _BLOOM_TYPES:
                usable.append((len(usable), c, dtype))
        if not usable:
            return frag
        arrays = [
            F.when(
                F.col(c).isNotNull(),
                F.array(*[
                    F.struct(
                        F.lit(ci).alias("c"),
                        F.pmod(F.hash(F.col(c), F.lit(i)), F.lit(m_bits))
                        .alias("p"),
                    )
                    for i in range(k)
                ]),
            ).otherwise(F.array().cast(
                "array<struct<c:int,p:int>>"
            ))
            for ci, c, _ in usable
        ]
        # pack bitmaps EXECUTOR-side: distinct (file, col, pos) first — the
        # map-side partial aggregate bounds every group at ≤ m positions —
        # then one Arrow grouped aggregate builds each (file, col)'s
        # fixed-width bitmap on the executor.  The driver receives
        # O(files × cols) blobs of m/8 bytes (a few MB even at a
        # 10⁴–10⁵-file backfill with several bloom columns) instead of
        # O(files × cols × m/2) position ints — the difference between a
        # bounded planning collect and a multi-GB driver materialization
        # at 100-TB file counts.
        # explode_OUTER: a file whose every row has NULL in all bloom
        # columns still yields one (file, c=NULL) group, so "scanned but
        # no positions" (→ legitimately empty bitmap, prunes everything)
        # is distinguishable from "file missing from the result" (path
        # normalization mismatch → store None, never prune).  Without
        # the distinction a symlinked table dir would silently bloom-prune
        # EVERY lookup to zero rows.
        from pyspark.sql.functions import PandasUDFType, pandas_udf

        nbytes = m_bits // 8

        # explicit GROUPED_AGG (hint inference can't see the method-local
        # pandas import under `from __future__ import annotations`)
        @pandas_udf("binary", PandasUDFType.GROUPED_AGG)
        def _pack_bitmap(ps):
            import numpy as np

            pos = ps.dropna().to_numpy(dtype="int64")
            bits = np.zeros(nbytes, dtype=np.uint8)
            if pos.size:
                np.bitwise_or.at(
                    bits, pos >> 3,
                    np.left_shift(1, pos & 7).astype(np.uint8),
                )
            return bits.tobytes()

        rows = (
            df.select(
                F.col("_metadata.file_path").alias("__f"),
                F.explode_outer(F.flatten(F.array(*arrays))).alias("cp"),
            )
            .select("__f", F.col("cp.c").alias("c"),
                    F.col("cp.p").alias("p"))
            .distinct()
            .groupBy("__f", "c")
            .agg(_pack_bitmap(F.col("p")).alias("bm"))
            .collect()
        )
        # planning-payload bookkeeping (pinned by tests/test_bloom_pruning):
        # total driver bytes stays files × cols × m/8 + small row overhead
        self._last_bloom_payload_bytes = sum(
            len(r["bm"]) for r in rows if r["bm"] is not None
        )
        from urllib.parse import unquote, urlparse

        per_file: dict[str, dict[int, bytes]] = {}
        for r in rows:
            # Spark reports "file:/abs/path" (or file:///): take the path;
            # realpath both sides so symlinked locations still match
            local = os.path.realpath(unquote(urlparse(r["__f"]).path))
            bycol = per_file.setdefault(local, {})
            if r["c"] is not None:
                bycol[r["c"]] = r["bm"]
        max_fill = m_bits * _BLOOM_MAX_FILL
        for p, e in paths.items():
            got = per_file.get(os.path.realpath(p))
            rec: dict[str, Any] = {}
            if got is None:
                # the scan never reported this file under a path we can
                # match — record None for every column (no pruning) rather
                # than an all-zero bitmap that would prune everything
                for _, c, _t in usable:
                    rec[c] = None
                while len(e) < 6:
                    e.append(None)
                e.append(rec)
                continue
            for ci, c, dtype in usable:
                # absent group = scanned but every row NULL in this column
                # → legitimately empty bitmap
                blob = got.get(ci, bytes(nbytes))
                if int.from_bytes(blob, "big").bit_count() > max_fill:
                    rec[c] = None  # saturated: fpp too high to be worth it
                    continue
                rec[c] = {
                    "b": base64.b64encode(blob).decode(),
                    "t": dtype, "m": m_bits, "k": k,
                }
            while len(e) < 6:
                e.append(None)
            e.append(rec)
        return frag

    def _collect_staged(
        self, staging: str, schema_id: int, kind: str
    ) -> dict[str, list[list[Any]]]:
        """Move ``<staging>/__dx_bucket=<k>/*.parquet`` into the table's
        per-bucket data dirs and return the files-map fragment.  Size, row
        count, and column min/max zone maps ride in the manifest (Iceberg's
        file_size_in_bytes / record_count / lower_bounds / upper_bounds):
        compaction planning and predicate file-skipping never re-list or
        re-read footers."""
        frag: dict[str, list[list[Any]]] = {}
        for entry in sorted(os.listdir(staging)):
            if not entry.startswith(f"{_BUCKET_COL}="):
                continue
            bucket = entry.split("=", 1)[1]
            bdir = os.path.join(self.data_dir, f"b={bucket}")
            os.makedirs(bdir, exist_ok=True)
            for fn in sorted(os.listdir(os.path.join(staging, entry))):
                if not fn.endswith(".parquet"):
                    continue
                src = os.path.join(staging, entry, fn)
                md = pq.read_metadata(src)
                if md.num_rows == 0:
                    continue  # empty partition — nothing to register
                new_name = f"{uuid.uuid4().hex}.parquet"
                dst = os.path.join(bdir, new_name)
                os.rename(src, dst)
                frag.setdefault(bucket, []).append(
                    [os.path.join("data", f"b={bucket}", new_name), schema_id,
                     kind, os.path.getsize(dst), md.num_rows,
                     _file_column_stats(md)]
                )
        shutil.rmtree(staging, ignore_errors=True)
        return frag

    def _stage_dv_write(self, positions: DataFrame) -> dict[str, list[list[Any]]]:
        """Write a (file, pos) deletion-vector frame as per-bucket dv files;
        returns a files-map fragment.  The target bucket is parsed from the
        data file's relpath (``data/b=<k>/...``) so each dv file lands next
        to — and is pruned with — the bucket it masks.  Zero-row partitions
        are dropped (a pure-insert batch produces no dv entries)."""
        staging = os.path.join(self.location, f".staging-{uuid.uuid4().hex}")
        staged = positions.select(
            F.col(DV_FILE_COL), F.col(DV_POS_COL),
            F.regexp_extract(F.col(DV_FILE_COL), r"b=([^/]+)/", 1).alias("__dvb"),
        )
        staged.write.mode("overwrite").partitionBy("__dvb").parquet(staging)
        frag: dict[str, list[list[Any]]] = {}
        for entry in sorted(os.listdir(staging)):
            if not entry.startswith("__dvb="):
                continue
            bucket = entry.split("=", 1)[1]
            bdir = os.path.join(self.data_dir, f"b={bucket}")
            os.makedirs(bdir, exist_ok=True)
            for fn in sorted(os.listdir(os.path.join(staging, entry))):
                if not fn.endswith(".parquet"):
                    continue
                src = os.path.join(staging, entry, fn)
                n_rows = pq.read_metadata(src).num_rows
                if n_rows == 0:
                    continue
                new_name = f"dv-{uuid.uuid4().hex}.parquet"
                dst = os.path.join(bdir, new_name)
                os.rename(src, dst)
                frag.setdefault(bucket, []).append(
                    [os.path.join("data", f"b={bucket}", new_name), 0, "dv",
                     os.path.getsize(dst), n_rows]
                )
        shutil.rmtree(staging, ignore_errors=True)
        return frag

    def _commit(
        self,
        base: Manifest,
        new_files: dict[str, list[list[Any]]],
        replaced_buckets: set[str],
        lineage: dict | None = None,
        schema: T.StructType | None = None,
        num_buckets: int | None = None,
        operation: str = "unknown",
        properties_update: dict | None = None,
    ) -> Manifest:
        files = {b: list(v) for b, v in base.files.items() if b not in replaced_buckets}
        for b, v in new_files.items():
            files.setdefault(b, []).extend(v)
        schemas = dict(base.schemas)
        schema_id = base.current_schema_id
        new_schema = schema or base.schema
        if schema is not None and schema.jsonValue() != base.schema.jsonValue():
            schema_id = base.current_schema_id + 1
            schemas[str(schema_id)] = schema.jsonValue()
        applied = dict(base.applied_batches)
        shard_lsns = dict(base.shard_lsns)
        properties = dict(base.properties)
        if properties_update:
            # published in the SAME manifest write as the data — callers use
            # this for watermarks that must advance atomically with a merge
            # (e.g. mirror_upstream_version in lake/mirror.py)
            properties.update(properties_update)
        if lineage:
            applied[str(lineage["batch_id"])] = lineage
            for shard, lsn in lineage.get("shard_lsns", {}).items():
                shard_lsns[str(shard)] = max(int(lsn), shard_lsns.get(str(shard), -1))
        # bound lineage growth: retain only the newest K full entries; fold
        # older ones into a per-namespace retired-id frontier + totals (the
        # per-shard LSN watermark already subsumes their replay protection)
        retention = int(properties.get("lineage_retention",
                                       LINEAGE_RETENTION_DEFAULT))
        if len(applied) > retention:
            retired = dict(properties.get("lineage_retired") or {})
            totals = dict(properties.get("lineage_totals")
                          or {"batches": 0, "rows": 0, "bytes": 0})
            excess = len(applied) - retention
            for bid in list(applied.keys())[:excess]:
                info = applied.pop(bid)
                ns, num = _split_batch_id(bid)
                if num is None:
                    applied[bid] = info  # unparsable id: keep forever
                    continue
                retired[ns] = max(int(retired.get(ns, num)), num)
                totals["batches"] += 1
                totals["rows"] += int(info.get("rows", 0))
                totals["bytes"] += int(info.get("bytes", 0))
            properties["lineage_retired"] = retired
            properties["lineage_totals"] = totals
        m = Manifest(
            version=base.version + 1,
            schema=new_schema,
            num_buckets=num_buckets or base.num_buckets,
            bucket_col=base.bucket_col,
            key_cols=base.key_cols,
            files=files,
            schemas=schemas,
            current_schema_id=schema_id,
            applied_batches=applied,
            shard_lsns=shard_lsns,
            properties=properties,
            operation=operation,
        )
        self._write_manifest(m)
        return m

    def overwrite(self, df: DataFrame, files_per_bucket: int = 1) -> Manifest:
        """Full replace (the initial full-sync load; DataX writeMode=truncate)."""
        base = self.manifest()
        schema = merge_schemas(base.schema, df.schema)
        staged_base = Manifest(**{**base.__dict__, "schema": schema})
        if schema.jsonValue() != base.schema.jsonValue():
            staged_base.current_schema_id = base.current_schema_id + 1
            staged_base.schemas = {
                **base.schemas,
                str(staged_base.current_schema_id): schema.jsonValue(),
            }
        frag = self._stage_write(
            df.select(*[F.col(f.name) for f in schema.fields
                        if f.name in df.columns] +
                      [F.lit(None).cast(f.dataType).alias(f.name)
                       for f in schema.fields if f.name not in df.columns]),
            staged_base,
            files_per_bucket,
        )
        return self._commit(
            base, frag, replaced_buckets=set(base.files.keys()), schema=schema,
            operation="overwrite",
        )

    def append(self, df: DataFrame, files_per_bucket: int = 1) -> Manifest:
        base = self.manifest()
        frag = self._stage_write(df, base, files_per_bucket)
        return self._commit(base, frag, replaced_buckets=set(),
                            operation="append")

    def set_properties(self, **props: Any) -> Manifest:
        """Commit a properties-only manifest update (no data change)."""
        base = self.manifest()
        m = Manifest(
            **{
                **base.__dict__,
                "version": base.version + 1,
                "properties": {**base.properties, **props},
                "operation": "properties",
            }
        )
        self._write_manifest(m)
        return m

    def _logical_commits(self, from_version: int, to_version: int):
        """Yield ``(v, manifest, added)`` for every logical-change commit in
        ``(from_version, to_version]``, oldest first — the one manifest-diff
        walk behind the changelog, ``changed_buckets`` and the view cost
        model.  ``added`` maps bucket id → the entries version ``v`` added,
        deletion vectors excluded; ``PHYSICAL_OPS`` commits are skipped.
        Each manifest in the range is parsed once, and ``from_version``
        only when the first commit after it is logical."""
        prev: set | None = None
        for v in range(from_version + 1, to_version + 1):
            m = self.manifest(v)
            if m.operation not in PHYSICAL_OPS:
                if prev is None:
                    prev = {e[0] for es in self.manifest(v - 1).files.values()
                            for e in es}
                added: dict[str, list] = {}
                for b, entries in m.files.items():
                    for e in entries:
                        if e[0] not in prev and not (len(e) > 2
                                                     and e[2] == "dv"):
                            added.setdefault(b, []).append(e)
                yield v, m, added
            prev = {e[0] for es in m.files.values() for e in es}

    def changed_buckets(
        self, from_version: int, to_version: int | None = None
    ) -> list[int] | None:
        """Bucket ids whose logical state may have changed in
        ``(from_version, to_version]`` — derived purely from the manifest
        diff, ZERO Spark jobs (the metadata-side mate of ``read_changes``:
        bucketed delta/append files land in their keys' bucket, so the
        added-file bucket set IS the changed-key bucket set).  Ids are in
        ``from_version``'s bucket layout.

        Returns None ("all buckets") when placement is unknown: a change
        landed in an unbucketed L0 file, or in a different bucket count
        (a rebucket inside the range) so its ids don't map to that layout.
        Physical rewrites add no logical change and are skipped, as in
        ``read_changes``."""
        to_v = self.current_version() if to_version is None else to_version
        n_buckets = self.manifest(from_version).num_buckets
        out: set[int] = set()
        for _, m, added in self._logical_commits(from_version, to_v):
            if m.num_buckets != n_buckets:
                return None  # layout changed mid-range — ids don't map
            if L0_BUCKET in added:
                return None  # unbucketed placement — no pruning
            out.update(int(b) for b in added)
        return sorted(out)

    # --------------------------------------------------------------- lineage
    def is_batch_applied(self, batch_id: int | str) -> bool:
        return self.manifest().is_applied(batch_id)

    def last_lsn(self, shard: int | str | None = None) -> int:
        m = self.manifest()
        if shard is not None:
            return m.shard_lsns.get(str(shard), -1)
        return max(m.shard_lsns.values(), default=-1)

    def lineage_df(self) -> DataFrame:
        """Per-batch, per-partition lineage as a DataFrame (FIXTURES.md §4).

        ``batch_id`` is the verbatim (possibly namespaced, e.g. streaming
        "s3") id as a string — digit-stripping it to a long would collide
        batch-mode id 3 with streaming id "s3" on the same table.  ``source``
        disambiguates; ``seq`` is the manifest commit order (monotone), the
        sort key for per-partition watermark-monotonicity checks."""
        m = self.manifest()
        rows = []
        for seq, (bid, info) in enumerate(m.applied_batches.items()):
            sid = str(bid)
            for p in info.get("partitions", []):
                rows.append(
                    (
                        sid,
                        "stream" if sid.startswith("s") else "batch",
                        seq,
                        int(p["partition_id"]),
                        int(p["last_lsn"]),
                        int(p["rows"]),
                        int(p["bytes"]),
                        int(info.get("wall_ms", 0)),
                    )
                )
        schema = T.StructType(
            [
                T.StructField("batch_id", T.StringType()),
                T.StructField("source", T.StringType()),
                T.StructField("seq", T.LongType()),
                T.StructField("partition_id", T.IntegerType()),
                T.StructField("last_lsn", T.LongType()),
                T.StructField("rows", T.LongType()),
                T.StructField("bytes", T.LongType()),
                T.StructField("wall_ms", T.LongType()),
            ]
        )
        return self.spark.createDataFrame(rows, schema)

    def read_changes(
        self,
        from_version: int,
        to_version: int | None = None,
        on_rewrite: str = "error",
    ) -> DataFrame:
        """Changelog scan (CDC *out* — Iceberg incremental read analogue):
        the logical change rows committed in versions (from_version,
        to_version], so a downstream pipeline can consume this table as a
        change feed instead of re-reading snapshots.

        Emitted columns: the current schema plus ``_change_type``
        ('insert' from plain appends; 'upsert'/'delete' from MOR merge
        deltas, tombstones included), ``_change_lsn`` (the event's LSN;
        null for appends) and ``_commit_version``.

        Only commits whose added files ARE the change rows qualify:
        ``append`` and ``merge-mor``.  ``compact``/``rebucket``/
        ``properties`` commits are physical rewrites with no logical change
        and are skipped.  ``overwrite``/``merge-cow``/``merge-dv`` rewrite
        state in place, so their file diff is not a change stream — they
        raise (or are skipped with ``on_rewrite="skip"``), exactly like
        Iceberg's incremental append scan.

        Cost is O(files added in the range) — the manifest diff selects
        files; no snapshot scan, no reconstruction."""
        if on_rewrite not in ("error", "skip"):
            raise ValueError("on_rewrite must be 'error' or 'skip'")
        to_v = self.current_version() if to_version is None else to_version
        target = self.manifest(to_v).schema
        parts: list[DataFrame] = []
        for v, m, added in self._logical_commits(from_version, to_v):
            parts += self._commit_changes(v, m, added, target, on_rewrite)
        return self._union_changes(parts, target)

    def _commit_changes(
        self, v: int, m: Manifest, added: dict, target: T.StructType,
        on_rewrite: str,
    ) -> list[DataFrame]:
        """Change-row frames of one logical commit, in the ``target`` schema
        (one frame per added (schema, file kind); none when skipped)."""
        if m.operation not in ("append", "merge-mor"):
            if on_rewrite == "skip":
                return []
            raise ValueError(
                f"version {v} is a {m.operation!r} commit: its file diff "
                "is a state rewrite, not a change stream. Pass "
                "on_rewrite='skip' to ignore such commits, or use "
                "mode='mor' merges for changelog-readable history."
            )
        paths: dict[tuple[str, str], list[str]] = {}
        for entries in added.values():
            for e in entries:
                kind = e[2] if len(e) > 2 else "base"
                if kind == "pdelta":
                    if on_rewrite == "skip":
                        continue
                    raise ValueError(
                        f"version {v} holds partial-update deltas: a "
                        "partial row is not a whole-row change record, "
                        "so emitting it would make downstream mergers "
                        "null-overwrite preserved columns. compact() "
                        "first, or pass on_rewrite='skip'."
                    )
                paths.setdefault((str(e[1]), kind), []).append(
                    os.path.join(self.location, e[0])
                )
        parts = []
        for (schema_id, kind), files in paths.items():
            fs = T.StructType.fromJson(m.schemas[schema_id])
            if kind == "delta":
                fs = T.StructType(
                    fs.fields
                    + [
                        T.StructField(LSN_COL, T.LongType()),
                        T.StructField(DELETED_COL, T.BooleanType()),
                    ]
                )
            df = self.spark.read.schema(fs).parquet(*files)
            have = {f.name for f in fs.fields}
            cols = [
                (F.col(f.name).cast(f.dataType) if f.name in have
                 else F.lit(None).cast(f.dataType)).alias(f.name)
                for f in target.fields
            ]
            if kind == "delta":
                cols += [
                    F.when(F.col(DELETED_COL), F.lit("delete"))
                    .otherwise(F.lit("upsert"))
                    .alias("_change_type"),
                    F.col(LSN_COL).alias("_change_lsn"),
                ]
            else:
                cols += [
                    F.lit("insert").alias("_change_type"),
                    F.lit(None).cast("long").alias("_change_lsn"),
                ]
            cols.append(F.lit(v).cast("long").alias("_commit_version"))
            parts.append(df.select(*cols))
        return parts

    def _union_changes(
        self, parts: list[DataFrame], target: T.StructType
    ) -> DataFrame:
        if not parts:
            return self.spark.createDataFrame([], T.StructType(
                list(target.fields) + [
                    T.StructField("_change_type", T.StringType()),
                    T.StructField("_change_lsn", T.LongType()),
                    T.StructField("_commit_version", T.LongType()),
                ]))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def read_changes_with_images(
        self,
        from_version: int,
        to_version: int | None = None,
        on_rewrite: str = "error",
    ) -> DataFrame:
        """Changelog with BEFORE images (Iceberg changelog-view / Debezium
        envelope shape): per commit, each key's net change classified
        against the prior snapshot —

        - ``insert``: key absent before, upserted now (after values);
        - ``update_before`` / ``update_after``: key existed and was
          upserted — a retraction/assertion pair sharing ``_change_lsn``,
          so downstream incremental aggregates can subtract the old row;
        - ``delete``: key existed and was tombstoned — carries the BEFORE
          values (the row being deleted), like Iceberg's delete rows.

        A delete of a key that never existed, and intra-commit churn (a key
        upserted twice in one commit), collapse to the per-commit NET
        change — commit granularity, the same contract as
        :meth:`read_changes`.

        Cost: per commit, the plain changelog scan PLUS one bucket-pruned
        read of the PRIOR snapshot joined against the commit's (broadcast)
        key set — O(touched buckets of v-1) per commit, never O(table
        history).  For long ranges prefer consuming incrementally (one sync
        per few commits), exactly like the mirror does."""
        if on_rewrite not in ("error", "skip"):
            raise ValueError("on_rewrite must be 'error' or 'skip'")
        to_v = self.current_version() if to_version is None else to_version
        mt = self.manifest(to_v)
        target = mt.schema
        data_cols = [f.name for f in target.fields]
        key_cols = mt.key_cols
        parts: list[DataFrame] = []
        for v, m, added in self._logical_commits(from_version, to_v):
            frames = self._commit_changes(v, m, added, target, on_rewrite)
            if not frames:
                continue
            raw = self._union_changes(frames, target)
            # net change per key in this commit: the max-LSN event wins
            # (appends carry no LSN → -1; a commit is append- or
            # merge-typed, never mixed)
            order = F.coalesce(F.col("_change_lsn"), F.lit(-1))
            wins = raw.groupBy(*[F.col(c) for c in key_cols]).agg(
                F.max(order).alias("__o")
            ).select(
                *[F.col(c).alias(f"__k_{c}") for c in key_cols], "__o"
            )
            cond = None
            for c in key_cols:
                e = raw[c].eqNullSafe(F.col(f"__k_{c}"))
                cond = e if cond is None else (cond & e)
            w = raw.join(F.broadcast(wins), on=cond, how="inner") \
                .filter(order == F.col("__o")) \
                .select(*data_cols, "_change_type", "_change_lsn")

            # prior state of the touched buckets only
            bks = (None if L0_BUCKET in added
                   else [int(b) for b in added])
            prev = self.read(version=v - 1, buckets=bks)
            prev_m = prev.select(
                *[F.col(c).alias(f"__b_{c}") for c in prev.columns],
                F.lit(True).alias("__b_exists"),
            )
            cond2 = None
            for c in key_cols:
                e = w[c].eqNullSafe(F.col(f"__b_{c}"))
                cond2 = e if cond2 is None else (cond2 & e)
            j = w.join(prev_m, on=cond2, how="left")

            exists = F.col("__b_exists").isNotNull()
            is_del = F.col("_change_type") == "delete"
            after = [F.col(c) for c in data_cols]
            before = [
                (F.col(f"__b_{c}") if c in prev.columns
                 else F.lit(None)).cast(target[c].dataType).alias(c)
                for c in data_cols
            ]
            lsn = F.col("_change_lsn")
            ver = F.lit(v).cast("long").alias("_commit_version")

            def emit(cols, flt, ctype):
                return j.filter(flt).select(
                    *cols, F.lit(ctype).alias("_change_type"),
                    lsn.alias("_change_lsn"), ver,
                )

            parts += [
                emit(after, ~is_del & ~exists, "insert"),
                emit(before, ~is_del & exists, "update_before"),
                emit(after, ~is_del & exists, "update_after"),
                emit(before, is_del & exists, "delete"),
            ]
        return self._union_changes(parts, target)

    def create_view(self, name: str, version: int | None = None) -> None:
        """Register the (reconstructed) snapshot as a temp view so users
        query the lake table with plain ``spark.sql`` — the SQL surface of
        the engine (filters/projections still push down to the scan)."""
        self.read(version=version).createOrReplaceTempView(name)

    # ------------------------------------------------------------ maintenance
    def snapshots_df(self) -> DataFrame:
        """Commit history as a DataFrame (Iceberg ``table.snapshots``
        metadata-table analogue): one row per retained manifest version with
        its operation and file/byte/row totals.  O(manifest history), no
        data files opened — all numbers were recorded at commit time."""
        rows = []
        for v in range(self.current_version() + 1):
            try:
                m = self.manifest(v)
            except FileNotFoundError:
                continue  # expired snapshot
            n_files = n_bytes = n_rows = n_delta = n_dv = 0
            for entries in m.files.values():
                for e in entries:
                    n_files += 1
                    if len(e) > 4:
                        n_bytes += int(e[3])
                        n_rows += int(e[4])
                    if len(e) > 2 and e[2] in DELTA_KINDS:
                        n_delta += 1
                    if len(e) > 2 and e[2] == "dv":
                        n_dv += 1
            rows.append((v, m.operation, m.committed_at, n_files, n_delta,
                         n_dv, n_bytes, n_rows, m.current_schema_id,
                         m.num_buckets))
        schema = T.StructType([
            T.StructField("version", T.LongType()),
            T.StructField("operation", T.StringType()),
            T.StructField("committed_at", T.DoubleType()),
            T.StructField("files", T.LongType()),
            T.StructField("delta_files", T.LongType()),
            T.StructField("dv_files", T.LongType()),
            T.StructField("bytes", T.LongType()),
            T.StructField("rows", T.LongType()),
            T.StructField("schema_id", T.LongType()),
            T.StructField("num_buckets", T.LongType()),
        ])
        return self.spark.createDataFrame(rows, schema)

    def files_df(self, version: int | None = None) -> DataFrame:
        """Per-file inventory of a snapshot as a DataFrame (Iceberg
        ``table.files`` analogue): bucket, relative path, kind
        (base/delta/dv), bytes, rows, schema id, and the recorded zone-map
        bounds as a ``map<string, array<string>>`` (stringified [min, max]
        per column).  Drives external maintenance tooling the way
        compaction planning uses the manifest internally."""
        m = self.manifest(version)
        rows = []
        for b, entries in m.files.items():
            for e in entries:
                kind = e[2] if len(e) > 2 else "base"
                nbytes = int(e[3]) if len(e) > 3 else None
                nrows = int(e[4]) if len(e) > 4 else None
                stats = e[5] if len(e) > 5 else None
                bounds = (
                    {c: [str(lo), str(hi)] for c, (lo, hi) in stats.items()}
                    if stats else None
                )
                # schema id is a string: numeric for evolution history, or a
                # "wap-<id>" key for published staged commits (lake/wap.py)
                rows.append((b, e[0], kind, nbytes, nrows, str(e[1]), bounds))
        schema = T.StructType([
            T.StructField("bucket", T.StringType()),
            T.StructField("path", T.StringType()),
            T.StructField("kind", T.StringType()),
            T.StructField("bytes", T.LongType()),
            T.StructField("rows", T.LongType()),
            T.StructField("schema_id", T.StringType()),
            T.StructField("bounds",
                          T.MapType(T.StringType(),
                                    T.ArrayType(T.StringType()))),
        ])
        return self.spark.createDataFrame(rows, schema)

    def file_stats(self) -> dict:
        m = self.manifest()
        n_files, n_bytes, n_rows, n_delta, n_dv = 0, 0, 0, 0, 0
        for entries in m.files.values():
            for entry in entries:
                n_files += 1
                if len(entry) > 4:  # stats recorded at commit time
                    n_bytes += int(entry[3])
                    n_rows += int(entry[4])
                else:  # pre-stats manifest: fall back to FS + footer
                    p = os.path.join(self.location, entry[0])
                    n_bytes += os.path.getsize(p)
                    n_rows += pq.read_metadata(p).num_rows
                if len(entry) > 2 and entry[2] in DELTA_KINDS:
                    n_delta += 1
                if len(entry) > 2 and entry[2] == "dv":
                    n_dv += 1
        return {
            "version": m.version,
            "files": n_files,
            "delta_files": n_delta,
            "dv_files": n_dv,
            "bytes": n_bytes,
            "rows": n_rows,
            "buckets": len(m.files),
        }

    def delta_heavy_buckets(self, max_delta_files: int) -> list:
        """Buckets whose delta-file count exceeds the read-amplification
        budget — the compaction candidates.  L0 files amplify EVERY read,
        so the L0 pseudo-bucket appears (as the string "L0") once its own
        count exceeds the budget; passing it to compact() triggers a full
        rewrite."""
        m = self.manifest()
        out: list = []
        n_l0 = sum(
            1 for e in m.files.get(L0_BUCKET, [])
            if len(e) > 2 and e[2] in DELTA_KINDS
        )
        if n_l0 > max_delta_files:
            out.append(L0_BUCKET)
        for b, entries in m.files.items():
            if b == L0_BUCKET:
                continue
            n = sum(1 for e in entries if len(e) > 2 and e[2] in DELTA_KINDS)
            if n + n_l0 > max_delta_files:
                out.append(int(b))
        return out

    def _entry_bytes(self, entry: list) -> int:
        if len(entry) > 3:
            return int(entry[3])
        try:  # pre-stats manifest
            return os.path.getsize(os.path.join(self.location, entry[0]))
        except OSError:
            return 0

    def compaction_candidates(
        self,
        max_delta_files: int | None = None,
        delta_ratio: float | None = 0.3,
    ) -> list:
        """Cost-based compaction pick (vs the pure file-count heuristic of
        ``delta_heavy_buckets``): a bucket is worth compacting when its
        accumulated delta BYTES exceed ``delta_ratio`` of its base bytes —
        i.e. when the read-amplification being paid per scan rivals the
        one-time rewrite cost.  A tiny base under a steady drip of deltas
        compacts early (cheap rewrite, big relative win); a huge base with a
        few small deltas is left alone (expensive rewrite, negligible win —
        the case the file-count rule gets wrong in both directions).

        File sizes come from the manifest (recorded at commit), so planning
        is O(manifest) with zero filesystem calls.  L0 deltas amplify every
        bucket's read, so L0 bytes are charged against TOTAL base bytes."""
        m = self.manifest()
        out: list = []
        l0_entries = m.files.get(L0_BUCKET, [])
        l0_bytes = sum(self._entry_bytes(e) for e in l0_entries)
        total_base = sum(
            self._entry_bytes(e)
            for b, entries in m.files.items() if b != L0_BUCKET
            for e in entries
            if not (len(e) > 2 and e[2] in DELTA_KINDS)
        )
        if l0_entries and (
            (delta_ratio is not None and l0_bytes > delta_ratio * max(total_base, 1))
            or (max_delta_files is not None and len(l0_entries) > max_delta_files)
        ):
            out.append(L0_BUCKET)
        for b, entries in m.files.items():
            if b == L0_BUCKET:
                continue
            d_bytes, d_files, b_bytes = 0, 0, 0
            for e in entries:
                # dv files amplify reads exactly like deltas (anti-join per
                # scan) — same cost model
                if len(e) > 2 and e[2] in (*DELTA_KINDS, "dv"):
                    d_bytes += self._entry_bytes(e)
                    d_files += 1
                else:
                    b_bytes += self._entry_bytes(e)
            if d_files == 0:
                continue
            if (
                (delta_ratio is not None and d_bytes > delta_ratio * max(b_bytes, 1))
                or (max_delta_files is not None and d_files > max_delta_files)
            ):
                out.append(int(b))
        return out

    def compact(
        self,
        buckets: list[int] | None = None,
        files_per_bucket: int = 1,
        sort_cols: list[str] | None = None,
        zorder_cols: list[str] | None = None,
    ) -> "Manifest | None":
        """Collapse delta files into base for the given buckets (default:
        every bucket holding deltas).  Reconstructed last-writer-wins state
        is rewritten as pure base files; tombstones vanish.  One atomic
        commit; read amplification returns to 1 for those buckets.

        ``sort_cols`` clusters the rewritten files by sort-key range
        (Iceberg rewrite with SORT ORDER), making the recorded zone maps
        selective for later ``read(where=...)`` file-skipping; pair with
        ``files_per_bucket > 1`` so each bucket yields several narrow-range
        files rather than one wide one.  ``zorder_cols`` clusters by an
        interleaved-bit key instead (see :func:`zorder_key`) so predicates
        on ANY of the listed columns prune — lexicographic sort only serves
        its leading column.

        The Iceberg analogue is rewrite_data_files / minor compaction; at
        scale this runs out-of-band (separate job), amortized across many
        micro-batches."""
        if sort_cols and zorder_cols:
            raise ValueError("pass sort_cols OR zorder_cols, not both")
        m = self.manifest()
        if m.properties.get("bootstrap_active"):
            # an incremental-snapshot bootstrap is draining into this table
            # (sources/debezium.emit_incremental_snapshot): compaction
            # rewrites winners as __lsn=-1 base rows and drops tombstones,
            # erasing exactly the LSN ordering the sentinel chunk fold
            # relies on — a late chunk row could tie a compacted winner or
            # resurrect a compacted-away delete.  Defer until the consumer
            # clears the property (set_properties(bootstrap_active=None)).
            raise RuntimeError(
                "compaction is disabled while table property "
                "'bootstrap_active' is set (incremental-snapshot bootstrap "
                "in flight): compacting erases the __lsn/tombstone history "
                "that orders sentinel snapshot chunks against live events; "
                "finish the bootstrap and clear the property first"
            )
        if L0_BUCKET in m.files or (buckets and L0_BUCKET in {str(b) for b in buckets}):
            # L0 rows span every bucket: partial compaction would either
            # drop or duplicate them — compact the whole table
            if not m.files:
                return None
            state = self.read()
            sc = [zorder_key(state, zorder_cols)] if zorder_cols else sort_cols
            frag = self._stage_write(state, m, files_per_bucket, kind="base",
                                     sort_cols=sc)
            return self._commit(m, frag, replaced_buckets=set(m.files.keys()),
                                operation="compact")
        if buckets is None:
            buckets = [
                int(b)
                for b, entries in m.files.items()
                if any(len(e) > 2 and e[2] in (*DELTA_KINDS, "dv")
                       for e in entries)
            ]
            if not buckets and (sort_cols or zorder_cols):
                # re-clustering rewrite: no deltas needed, touch every bucket
                buckets = [int(b) for b in m.files]
        if not buckets:
            return None
        state = self.read(buckets=buckets)
        sc = [zorder_key(state, zorder_cols)] if zorder_cols else sort_cols
        frag = self._stage_write(state, m, files_per_bucket, kind="base",
                                 sort_cols=sc)
        # a compacted-to-empty bucket must still drop its old files
        return self._commit(m, frag, replaced_buckets={str(b) for b in buckets},
                            operation="compact")

    def compact_minor(
        self,
        buckets: list | None = None,
        min_files: int = 2,
        files_per_bucket: int = 1,
    ) -> "Manifest | None":
        """HISTORY-PRESERVING delta consolidation (Iceberg/LSM minor
        compaction): collapse each selected bucket's full-row delta files
        into one delta file per bucket — keeping ``__lsn``/``__deleted`` —
        and L0's into fewer L0 files, pre-folded to the last writer per key
        (tombstones kept as ``__deleted`` rows, exactly what the read-time
        fold would pick; dropping a key's non-winning versions can never
        change the ``max_by(__lsn)`` winner, and base rows at ``__lsn=-1``
        still lose to any surviving delta row).

        Unlike :meth:`compact`, this is SAFE while an incremental-snapshot
        bootstrap is in flight (``bootstrap_active``): the LSN/tombstone
        ordering evidence the sentinel chunk fold relies on survives the
        rewrite, so it is the file-count bound for the bootstrap window —
        the merge path's auto-compaction falls back to it while full
        compaction defers (lake/merge.py).

        Buckets holding pdelta (partial-update) files are skipped: their
        column-wise fold consumes every row, so only a pure union (no
        fold) would be valid and the win would be marginal.  ``min_files``
        bounds pointless rewrites (a single delta file gains nothing)."""
        m = self.manifest()
        todo: list[str] = []
        kept: dict[str, list[list[Any]]] = {}
        deltas: dict[str, list[list[Any]]] = {}
        want = None if buckets is None else {str(b) for b in buckets}
        for b, entries in m.files.items():
            if want is not None and b not in want:
                continue
            if any(len(e) > 2 and e[2] == "pdelta" for e in entries):
                continue
            d = [e for e in entries if len(e) > 2 and e[2] == "delta"]
            if len(d) < min_files:
                continue
            todo.append(b)
            deltas[b] = d
            kept[b] = [e for e in entries if not (len(e) > 2 and e[2] == "delta")]
        if not todo:
            return None
        hidden = [LSN_COL, DELETED_COL]
        frag: dict[str, list[list[Any]]] = {}
        numbered = [b for b in todo if b != L0_BUCKET]
        if numbered:
            sub = Manifest(**{**m.__dict__,
                              "files": {b: deltas[b] for b in numbered}})
            rows, _ = self._scan_raw(sub, None)
            # bucket_col ∈ key_cols → the in-exchange LWW prefold (the
            # merge write's own shuffle shape); otherwise consolidate
            # without folding — same read result, just fewer files
            frag = self._stage_write(
                rows, m, files_per_bucket, kind="delta", extra_cols=hidden,
                dedup_lww=m.bucket_col in m.key_cols,
            )
        if L0_BUCKET in todo:
            sub = Manifest(**{**m.__dict__,
                              "files": {L0_BUCKET: deltas[L0_BUCKET]}})
            rows, _ = self._scan_raw(sub, None)
            win = F.max_by(
                F.struct(*[F.col(c) for c in rows.columns]), F.col(LSN_COL)
            ).alias("__w")
            folded = (
                rows.groupBy(*[F.col(c) for c in m.key_cols])
                .agg(win).select("__w.*")
            )
            for b, es in self._stage_write(
                folded, m, files_per_bucket, kind="delta",
                extra_cols=hidden, bucketed=False,
            ).items():
                frag.setdefault(b, []).extend(es)
        for b in todo:  # base/dv/pdelta-free survivors re-register verbatim
            frag.setdefault(b, []).extend(kept[b])
        return self._commit(m, frag, replaced_buckets=set(todo),
                            operation="compact-minor")

    def suggest_num_buckets(self, target_bucket_bytes: int) -> int | None:
        """Bucket-count evolution advice: when the average bucket's base
        bytes exceed the target, return the next power-of-2 multiple of the
        current count that brings it back under (None = layout is fine).
        Planning is O(manifest) — sizes are recorded at commit."""
        m = self.manifest()
        if not m.files:
            return None
        # BASE bytes only (matching compaction_candidates' accounting): a
        # delta/dv-heavy table wants compaction, not a premature full-table
        # rebucket rewrite triggered by transient delta mass.
        total = sum(
            self._entry_bytes(e)
            for entries in m.files.values()
            for e in entries
            if not (len(e) > 2 and e[2] in (*DELTA_KINDS, "dv"))
        )
        if total == 0:
            return None
        n = m.num_buckets
        while total / n > target_bucket_bytes:
            n *= 2
        return n if n != m.num_buckets else None

    def rebucket(
        self, num_buckets: int | None = None, factor: int = 2
    ) -> "Manifest | None":
        """Bucket-count evolution: rewrite the table into ``num_buckets``
        (default ``factor`` x current) buckets in one atomic commit.

        Needed when a table outgrows its creation-time layout: MERGE cost is
        O(touched buckets), so buckets that each hold many GB make every
        incremental batch rewrite GB-scale files.  The manifest versions the
        layout per commit — readers of old snapshots keep the old bucket
        count, new commits use the new one; lineage/watermarks/schema
        history carry over untouched.  Collapses MOR deltas as a side
        effect (the rewrite IS a compaction).  Iceberg analogue: changing a
        bucket(N, col) partition spec + rewrite_data_files."""
        m = self.manifest()
        if m.properties.get("bootstrap_active"):
            raise RuntimeError(
                "rebucket is disabled while table property "
                "'bootstrap_active' is set (incremental-snapshot bootstrap "
                "in flight): the rewrite erases the __lsn/tombstone history "
                "that orders sentinel snapshot chunks against live events"
            )
        new_n = int(num_buckets) if num_buckets else m.num_buckets * factor
        if new_n == m.num_buckets or not m.files:
            return None
        state = self.read()
        staged = Manifest(**{**m.__dict__, "num_buckets": new_n})
        frag = self._stage_write(state, staged, kind="base")
        return self._commit(
            m, frag, replaced_buckets=set(m.files.keys()), num_buckets=new_n,
            operation="rebucket",
        )

    # ------------------------------------------------------------------ tags
    def create_tag(self, name: str, version: int | None = None) -> None:
        """Name a snapshot (Iceberg tag analogue): ``read(version=
        tag_version(name))`` time-travels to it, and ``expire_snapshots``
        never deletes a tagged manifest — tags pin audit/rollback points
        through retention.  Stored in table properties (a properties-only
        commit), so tags survive restarts and are visible to every reader."""
        v = self.current_version() if version is None else int(version)
        if not self.catalog.exists_version(v):
            raise FileNotFoundError(f"no snapshot v{v} to tag")
        tags = dict(self.manifest().properties.get("tags") or {})
        if name in tags:
            raise ValueError(f"tag {name!r} already exists (at v{tags[name]})")
        tags[name] = v
        self.set_properties(tags=tags)

    def drop_tag(self, name: str) -> None:
        tags = dict(self.manifest().properties.get("tags") or {})
        if name not in tags:
            raise KeyError(f"no tag {name!r}")
        del tags[name]
        self.set_properties(tags=tags)

    def tags(self) -> dict[str, int]:
        return {
            k: int(v)
            for k, v in (self.manifest().properties.get("tags") or {}).items()
        }

    def tag_version(self, name: str) -> int:
        tags = self.tags()
        if name not in tags:
            raise KeyError(f"no tag {name!r}")
        return tags[name]

    def rollback(self, version: int | None = None, tag: str | None = None) -> Manifest:
        """Restore the table to an earlier snapshot as a NEW commit (Iceberg
        rollback analogue): current state, lineage replay guards, and
        per-shard LSN watermarks all revert, so a CDC run resumed after the
        rollback legitimately re-applies the rolled-back batches.  History
        is preserved — the bad versions stay time-travelable until expired.
        Pass a version or a tag name."""
        if (version is None) == (tag is None):
            raise ValueError("pass exactly one of version / tag")
        v = self.tag_version(tag) if tag is not None else int(version)
        cur = self.current_version()
        if v == cur:
            return self.manifest()
        target = self.manifest(v)
        missing = [
            e[0]
            for entries in target.files.values()
            for e in entries
            if not os.path.exists(os.path.join(self.location, e[0]))
        ]
        if missing:
            raise FileNotFoundError(
                f"cannot roll back to v{v}: {len(missing)} data file(s) "
                f"already vacuumed (first: {missing[0]}) — tag snapshots "
                "you may need to restore"
            )
        m = Manifest(**{
            **target.__dict__,
            "version": cur + 1,
            "properties": {
                **target.properties,
                # tags index the whole history: keep the CURRENT tag map,
                # not the (stale) one frozen into the old manifest
                "tags": self.manifest().properties.get("tags") or {},
            },
            "operation": "rollback",
        })
        self._write_manifest(m)
        return m

    def expire_snapshots(
        self, keep_versions: int = 2, older_than: float | None = None
    ) -> int:
        """Delete manifest files older than the newest ``keep_versions``
        (Iceberg expire_snapshots analogue).  ``older_than`` (epoch seconds)
        additionally REQUIRES a snapshot to be committed before that instant
        to expire — the Iceberg retention-age knob; the newest
        ``keep_versions`` survive regardless of age.  Tagged versions are
        always kept.  Time travel to expired versions stops working; pair
        with ``vacuum`` to reclaim their data files.  Without this, a
        long-running stream accumulates one manifest JSON per commit
        forever."""
        cutoff = self.current_version() - keep_versions + 1
        pinned = set(self.tags().values())
        removed = 0
        for v in self.catalog.list_versions():
            if v >= cutoff or v in pinned:
                continue
            if older_than is not None:
                try:
                    ts = self.manifest(v).committed_at
                except FileNotFoundError:
                    continue
                if ts is not None and ts >= older_than:
                    continue  # too recent to expire
            self.catalog.delete_version(v)
            removed += 1
        return removed

    def vacuum(self, keep_versions: int = 2) -> int:
        """Delete data files unreferenced by the latest ``keep_versions``
        manifests (crash-orphans and rewritten buckets).  Files belonging to
        staged-but-unpublished commits (lake/wap.py) and to tagged
        snapshots are live too."""
        cur = self.current_version()
        keep = set(range(max(0, cur - keep_versions + 1), cur + 1))
        keep.update(self.tags().values())
        live: set[str] = set()
        for v in sorted(keep):
            try:
                m = self.manifest(v)
            except FileNotFoundError:
                continue  # already-expired version
            for entries in m.files.values():
                live.update(entry[0] for entry in entries)
        for fn in os.listdir(self.meta_dir):
            if fn.startswith("staged-") and fn.endswith(".json"):
                with open(os.path.join(self.meta_dir, fn), encoding="utf-8") as f:
                    rec = json.load(f)
                for entries in rec.get("frag", {}).values():
                    live.update(e[0] for e in entries)
        removed = 0
        for bdir in os.listdir(self.data_dir):
            full = os.path.join(self.data_dir, bdir)
            for fn in os.listdir(full):
                rel = os.path.join("data", bdir, fn)
                if rel not in live:
                    os.remove(os.path.join(full, fn))
                    removed += 1
        return removed

    def verify_files(self, version: int | None = None) -> list[dict]:
        """Audit the snapshot's data files against the manifest: every
        referenced file must exist with exactly its recorded byte size.

        Catches the corruption classes a read cannot: missing files,
        truncation, and whole-file swaps (an external process replacing a
        data file).  BIT FLIPS inside a file keep its size — those are
        caught at scan time by parquet page CRC verification, which every
        session enables (``parquet.page.verify-checksum.enabled``,
        session.py) because published files carry no filesystem sidecar
        checksums after the staging rename.  Manifest-recorded sizes make
        this a pure metadata pass — zero Spark jobs, zero data reads — so
        it is cheap enough to run before any irreversible maintenance
        (vacuum, retention, rebucket).

        Returns a list of findings (empty = clean); each finding is
        ``{"path", "problem": "missing"|"size", "expected", "actual"}``."""
        m = self.manifest(version)
        findings: list[dict] = []
        for entries in m.files.values():
            for e in entries:
                full = os.path.join(self.location, e[0])
                expected = int(e[3]) if len(e) > 3 else None
                try:
                    actual = os.path.getsize(full)
                except OSError:
                    findings.append({"path": e[0], "problem": "missing",
                                     "expected": expected, "actual": None})
                    continue
                if expected is not None and actual != expected:
                    findings.append({"path": e[0], "problem": "size",
                                     "expected": expected, "actual": actual})
        return findings
