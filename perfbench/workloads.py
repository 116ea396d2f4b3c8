"""The two workloads.  Each drives the engine only through its public
functions and records a span around every such call.

Both have the same shape: inputs generated from the seed, a set-up (base
table created and loaded, the workload's other tables created, warm-up
done), one
timed window of fixed work sized from ``--seconds``, and an oracle check
after the window.  The work in a window is a fixed function of
``(seed, seconds)``, so two runs of one seed do the same work.  Both report
every end-to-end metric: each ends its window with point lookups, one full
merge-on-read scan and a compaction of the table it maintained.
"""

from __future__ import annotations

import bisect
import hashlib
import json
import os
import random
import shutil
import sys
import threading
import time
import traceback
from contextlib import contextmanager

from pyspark.sql import functions as F
from pyspark.sql import types as T

from perfbench import inputs
from perfbench.spans import median

# ------------------------------------------------------------------ sizes
# Sized on a 4-core host.
BV_SNAPSHOT_ROWS = 20_000
BV_BATCH_EVENTS = 10_000
# applied before the views exist: a refresh folding all of them would
# cross the agg view's recompute threshold and skip incremental maintenance
BV_INGEST_BATCHES = 4
BV_SECONDS_PER_ROUND = 10         # one round per 10 s of --seconds, at least 1
BV_LOOKUPS_PER_ROUND = 5
TAIL_SNAPSHOT_ROWS = 20_000
TAIL_EVENTS_PER_FILE = 100
TAIL_FILES_PER_S = 10             # 1,000 events/s: well below saturation
TAIL_WARMUP_FILES = 10
# a fixed 2 s cadence, longer than a micro-batch: each batch takes the files
# of one interval, so batch size does not feed back on batch time
TAIL_TRIGGER = "2 seconds"
TAIL_DEADLINE_S = 30.0            # a file not committed by then has failed
TAIL_LOOKUPS = 5
N_REPOS = 500                     # fixtures default repo count
BUCKETS = 4                       # ~5,000 base rows per bucket
SCAN_COLS = ("repo", "path", "commit", "lang", "content")

LANG_FAMILY = {
    "python": "scripting", "js": "scripting", "java": "compiled",
    "go": "compiled", "rust": "compiled", "md": "docs", "yaml": "docs",
    "other": "docs",
}
L0_APPLIER = dict(mode="mor", dedup_batch=False, lineage_detail="global",
                  bucket_deltas=False, auto_compact=None)


class Run:
    """State of one benchmark process: session, tracer, counters, results."""

    def __init__(self, spark, tracer, work: str, seed: int, seconds: int):
        self.spark = spark
        self.tracer = tracer
        self.traced = tracer.traced
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.attempted = 0
        self.failed = 0
        self.checks: dict[str, bool] = {}
        self.e2e: dict[str, tuple[float, str, int]] = {}
        self.extra: dict[str, tuple[float, str, int]] = {}
        self.layer: dict[str, tuple[float, str]] = {}
        self.window = None
        self.setup_span = None
        self.events_applied = 0
        self.stream_batches: set[str] = set()  # live_tail's window batches
        self.stages = None        # spans.StageMetrics, traced run only
        self.after_stop: list = []  # traced: metrics that need the event log
        self.oracle = None
        self.read_rss = None
        self.peak_rss = 0.0
        self.session_start_s = 0.0

    @contextmanager
    def op(self, name: str, **attrs):
        """A timed call that counts as one attempted operation; an exception
        counts as a failed one and the run goes on."""
        self.attempted += 1
        with self.tracer.span(name, **attrs) as rec:
            try:
                yield rec
            except Exception:  # noqa: BLE001 - counted, reported, run goes on
                self.failed += 1
                rec["failed"] = True
                traceback.print_exc(file=sys.stderr)

    def check(self, name: str, ok: bool) -> None:
        """An oracle check; a mismatch counts as a failed operation."""
        self.checks[name] = bool(ok)
        if not ok:
            self.failed += 1
            print(f"perfbench: oracle check {name} FAILED", file=sys.stderr)

    def metric(self, name: str, value: float, unit: str, n: int = 1) -> None:
        self.e2e[name] = (float(value), unit, int(n))

    def per_layer(self, name: str, value: float, unit: str) -> None:
        self.layer[name] = (float(value), unit)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


def _p90(values: list[float]) -> float:
    """Nearest-rank 90th percentile."""
    v = sorted(values)
    return v[min(len(v) - 1, int(0.9 * len(v)))] if v else 0.0


def _lookup_repos(seed: int, n: int) -> list[str]:
    """Repos for point lookups, drawn with the fixture's hot-repo skew."""
    rng = random.Random(seed)
    out = []
    for _ in range(n):
        idx = int(N_REPOS * rng.random() ** 3)
        out.append(f"org{idx % 97}/repo{idx}")
    return out


def _file_bytes(m) -> dict[str, int]:
    """relpath -> bytes of every data file in a manifest."""
    return {e[0]: int(e[3]) for es in m.files.values() for e in es
            if len(e) > 4}


class Table:
    """The table a workload maintains, with the calls every workload makes
    on it: loads, point lookups, full scan and compaction."""

    def __init__(self, run: Run, snapshot, schema):
        self.run, self.snapshot, self.schema = run, snapshot, schema
        self.t = None
        self.lookups: dict[str, list] = {}
        self.shares: list[float] = []

    def load(self) -> None:
        """Create the table and full-sync the snapshot into it."""
        from datax_spark.cdc.runner import create_repo_table, full_sync

        with self.run.op("table.create"):
            self.t = create_repo_table(self.run.spark, self.run.path("base"),
                                       num_buckets=BUCKETS, schema=self.schema)
        with self.run.op("cdc.full_sync"):
            full_sync(self.t, self.snapshot)

    def lookup(self, repo: str, keep: bool) -> None:
        t = self.t
        if self.run.traced:
            plan = t.scan_plan(where=[("repo", "=", repo)])
            self.shares.append(plan["files_kept"] / max(1, sum(
                len(v) for v in t.manifest().files.values())))
        rows = []
        with self.run.op("table.read", kind="lookup", repo=repo):
            rows = t.read(where=[("repo", "=", repo)]).collect()
        if keep:
            self.lookups[repo] = rows

    def full_scan(self, kind: str) -> dict:
        with self.run.op("table.read", kind=kind) as scan:
            # every column reaches the result: the scan cannot be pruned
            scan["result"] = tuple(self.t.read().agg(
                F.count(F.lit(1)), *[F.sum(F.length(c)) for c in SCAN_COLS]
            ).collect()[0])
        return scan

    def warm_reads(self) -> None:
        """Set-up: one untimed point lookup and full scan of a table that
        already holds deltas, so the timed reads do not pay the JVM's first
        run of the merge-on-read path."""
        repo = _lookup_repos(-1 - self.run.seed, 1)[0]
        with self.run.op("table.read", kind="warmup", repo=repo):
            self.t.read(where=[("repo", "=", repo)]).collect()
        self.full_scan("warmup")

    def scan_and_compact(self) -> None:
        t, run = self.t, self.run
        self.stats_before = t.file_stats()
        self.v_before = t.current_version()
        self.scan = self.full_scan("full_scan")
        with run.op("table.compact") as self.comp:
            t.compact()
        self.stats_after = t.file_stats()

    def check(self) -> None:
        """Oracle checks of the final table, the scan and the kept lookups;
        the oracle must already hold the folded state."""
        run, oracle = self.run, self.run.oracle
        run.check("table_state", oracle.check_table(self.t.read().toArrow()))
        run.check("full_scan", self.scan.get("result")
                  == oracle.column_lengths(SCAN_COLS))
        for repo, rows in self.lookups.items():
            got = sorted((x["repo"], x["path"], x["commit"], hashlib.sha256(
                (x["content"] or "").encode()).hexdigest()) for x in rows)
            run.check(f"lookup:{repo}", got == oracle.lookup_rows(repo))
        self.live = oracle.live_row_bytes()

    def metrics(self) -> None:
        run, tr = self.run, self.run.tracer
        syncs = tr.durations("cdc.full_sync")
        run.metric("full_sync_s", median(syncs), "s", len(syncs))
        run.metric("bytes_per_user_byte",
                   self.stats_before["bytes"] / self.live, "ratio")
        d = [s["end"] - s["start"] for s in tr.named("table.read")
             if s.get("kind") == "lookup"]
        run.metric("lookup_p50_s", median(d), "s", len(d))
        run.metric("scan_mor_s", self.scan["end"] - self.scan["start"], "s")
        run.metric("compact_s", self.comp["end"] - self.comp["start"], "s")

    def layers(self, v_from: int) -> None:
        """Traced run: metadata, catalog and MOR-layer metrics of the table
        as the window left it, before compaction."""
        from datax_spark.lake.table import DELTA_KINDS, Manifest

        run, t, v_to = self.run, self.t, self.v_before
        text = t.catalog.read_manifest(v_to)
        parse, ser = [], []
        for _ in range(5):
            t0 = time.perf_counter()
            m = Manifest.from_json(text)
            parse.append(time.perf_counter() - t0)
            t0 = time.perf_counter()
            m.to_json()
            ser.append(time.perf_counter() - t0)
        run.per_layer("table.manifest_parse_s", median(parse), "s")
        run.per_layer("table.manifest_serialize_s", median(ser), "s")
        run.per_layer("table.manifest_bytes", len(text.encode()), "bytes")
        run.per_layer("table.files", sum(len(v) for v in m.files.values()),
                      "count")
        run.per_layer("catalog.commits", v_to - v_from, "count")
        run.per_layer("catalog.meta_bytes_written", sum(
            os.path.getsize(os.path.join(t.meta_dir, f"v{v:08d}.json"))
            for v in range(v_from + 1, v_to + 1)), "bytes")
        per = [sum(int(e[3]) for e in es if len(e) > 4 and e[2] in DELTA_KINDS)
               for es in m.files.values()]
        per = [b for b in per if b > 0]
        run.per_layer("merge.bucket_bytes_skew",
                      max(per) / median(per) if per else 0.0, "ratio")
        before = _file_bytes(m)
        run.per_layer("table.compact_bytes_rewritten", sum(
            b for p, b in _file_bytes(t.manifest()).items()
            if p not in before), "bytes")
        run.per_layer("table.space_amp_after_compact",
                      self.stats_after["bytes"] / self.live, "ratio")
        run.per_layer("table.files_scanned_share", median(self.shares),
                      "ratio")


# ---------------------------------------------------- layers from the log
def span_layers(run: Run) -> None:
    """Per-layer metrics from the spans and the event log (traced run,
    after the session stopped).  A layer the workload does not drive reads
    0; metrics a workload set itself are kept."""
    tr, st = run.tracer, run.stages
    setp = run.layer.setdefault
    setp("session.start_s", (run.session_start_s, "s"))
    setp("session.warmup_s", (run.setup_span["end"]
                              - run.setup_span["start"], "s"))
    applies = [s for s in tr.named("cdc.apply_batch") if not s.get("warmup")]
    setp("cdc.apply_batch_s", (median(tr.self_time(s) for s in applies), "s"))
    setp("cdc.apply_batch_jobs", (median(tr.jobs(s) for s in applies),
                                  "count"))
    setp("cdc.full_sync_jobs", (median(
        tr.jobs(s) for s in tr.named("cdc.full_sync")), "count"))
    lookups = [s for s in tr.named("table.read") if s.get("kind") == "lookup"]
    setp("table.read_s", (median(tr.self_time(s) for s in lookups), "s"))
    setp("table.read_jobs", (median(tr.jobs(s) for s in lookups), "count"))
    setp("table.compact_jobs", (median(
        tr.jobs(s) for s in tr.named("table.compact")), "count"))
    for layer in ("aggview", "joinview"):
        spans = tr.named(f"{layer}.refresh")
        setp(f"{layer}.refresh_s", (median(
            s["end"] - s["start"] for s in spans), "s"))
        setp(f"{layer}.refresh_jobs", (median(tr.jobs(s) for s in spans),
                                       "count"))
        stages = st.for_groups(tr.groups(spans))
        setp(f"{layer}.shuffle_bytes", (
            st.total(stages, "shuffle_write") / max(1, len(spans)), "bytes"))
    changed = sum(s.get("changed_bytes", 0)
                  for s in tr.named("joinview.refresh"))
    join_stages = st.for_groups(tr.groups(tr.named("joinview.refresh")))
    setp("joinview.input_bytes_per_changed_byte", (
        st.total(join_stages, "input") / changed if changed else 0.0,
        "ratio"))
    # merge layer: executor work under the apply calls (dedup, bucket
    # shuffle, parquet write); on live_tail, the stream's micro-batches
    stages = (st.for_groups(tr.groups(applies)) if applies
              else [s for s in st.streaming()
                    if f"s{s['batch']}" in run.stream_batches])
    events = run.events_applied
    setp("merge.shuffle_write_bytes_per_event", (
        st.total(stages, "shuffle_write") / events if events else 0.0,
        "B/event"))
    setp("merge.spill_bytes", (st.total(stages, "spill"), "bytes"))
    setp("merge.executor_cpu_s", (st.total(stages, "cpu_ns") / 1e9, "s"))
    setp("merge.gc_s", (st.total(stages, "gc_ms") / 1e3, "s"))
    setp("merge.task_skew", (st.task_skew(stages), "ratio"))


# --------------------------------------------------------- backfill_views
def backfill_views(run: Run) -> None:
    """Closed loop over one base table: a bulk ingest of change batches
    through the CdcApplier defaults, then an incremental agg view and a join
    view are created; per round one more change batch, both view refreshes
    and point lookups on the base; then one full merge-on-read scan and a
    compaction."""
    from datax_spark.cdc.apply import CdcApplier
    from datax_spark.cdc.runner import REPO_SCHEMA
    from datax_spark.lake import aggview, joinview
    from datax_spark.lake.table import LakeTable

    spark, tr = run.spark, run.tracer
    n_rounds = max(1, run.seconds // BV_SECONDS_PER_ROUND)
    n_batches = BV_INGEST_BATCHES + n_rounds
    entry = run.path("inputs")
    inputs.write_snapshot(spark, entry, BV_SNAPSHOT_ROWS, run.seed, True)
    # batch 0 is the untimed warm-up apply
    inputs.write_feed(spark, entry, n_batches + 1, BV_BATCH_EVENTS,
                      BV_SNAPSHOT_ROWS, run.seed)
    batches = [spark.read.parquet(os.path.join(entry, "feed", f"b={b}"))
               for b in range(n_batches + 1)]
    lookups = _lookup_repos(run.seed, n_rounds * BV_LOOKUPS_PER_ROUND)
    schema = T.StructType(list(REPO_SCHEMA.fields)
                          + [T.StructField("size", T.IntegerType())])
    dim_schema = T.StructType([T.StructField("lang", T.StringType()),
                               T.StructField("family", T.StringType())])
    table = Table(run, spark.read.parquet(os.path.join(entry, "snapshot")),
                  schema)

    with tr.span("setup") as run.setup_span:
        table.load()
        base = table.t
        applier = CdcApplier(base, auto_compact=None)
        with run.op("cdc.apply_batch", warmup=True):
            applier.apply_batch(batches[0], 0)
        with run.op("table.create"):
            dim = LakeTable.create(spark, run.path("dim"), schema=dim_schema,
                                   key_cols=["lang"], num_buckets=1)
            dim.overwrite(spark.createDataFrame(
                sorted(LANG_FAMILY.items()), dim_schema))
        table.warm_reads()

    v0 = base.current_version()
    agg_modes, fresh = [], []
    with tr.span("window") as run.window:
        for b in range(1, BV_INGEST_BATCHES + 1):
            with run.op("cdc.apply_batch"):
                applier.apply_batch(batches[b], b)
        with run.op("aggview.create"):
            av = aggview.create_agg_view(base, run.path("agg"), dims=["lang"],
                                         sums=["size"], maxs=["size"],
                                         num_buckets=BUCKETS)
        with run.op("joinview.create"):
            jv = joinview.create_join_view(base, dim, run.path("join"),
                                           on={"lang": "lang"},
                                           num_buckets=BUCKETS)
        for r in range(n_rounds):
            b = BV_INGEST_BATCHES + 1 + r
            v_before = base.current_version()
            with run.op("cdc.apply_batch", round=r) as ap:
                applier.apply_batch(batches[b], b)
            added = {}
            if run.traced:
                old = _file_bytes(base.manifest(v_before))
                added = {p: b for p, b in _file_bytes(base.manifest()).items()
                         if p not in old}
            with run.op("aggview.refresh", round=r):
                agg_modes.append(aggview.refresh_agg_view(base, av)
                                 .get("mode"))
            with run.op("joinview.refresh", round=r,
                        changed_bytes=sum(added.values())) as jr:
                joinview.refresh_join_view(base, dim, jv)
            # the round's changes are now visible in both views
            fresh.append(jr["end"] - ap["start"])
            for repo in lookups[r * BV_LOOKUPS_PER_ROUND:
                                (r + 1) * BV_LOOKUPS_PER_ROUND]:
                table.lookup(repo, keep=r == n_rounds - 1)
        table.scan_and_compact()
    run.peak_rss = run.read_rss()

    oracle = run.oracle
    oracle.fold(entry)
    table.check()
    run.check("agg_view", oracle.check_agg_view(av.read().toArrow()))
    run.check("join_view", oracle.check_join_view(jv.read().toArrow(),
                                                  LANG_FAMILY))

    applies = [s["end"] - s["start"] for s in tr.named("cdc.apply_batch")
               if not s.get("warmup")]
    run.events_applied = n_batches * BV_BATCH_EVENTS
    # per-batch medians: one slow call on a shared host does not move them
    run.metric("ingest_events_per_s", BV_BATCH_EVENTS / median(applies),
               "events/s", len(applies))
    run.metric("apply_p50_s", median(applies), "s", len(applies))
    run.metric("freshness_p50_s", median(fresh), "s", len(fresh))
    run.metric("freshness_p90_s", _p90(fresh), "s", len(fresh))
    table.metrics()
    for layer, name in (("aggview", "agg_refresh_p50_s"),
                        ("joinview", "join_refresh_p50_s")):
        d = tr.durations(f"{layer}.refresh")
        run.extra[name] = (median(d), "s", len(d))

    if run.traced:
        table.layers(v0)
        run.per_layer("aggview.recompute_share", sum(
            m == "recompute" for m in agg_modes) / len(agg_modes), "ratio")


# --------------------------------------------------------------- live_tail
def live_tail(run: Run) -> None:
    """Open loop: a generator thread lands LSN-ordered Debezium JSON files
    on a fixed schedule; ``run_continuous`` applies them with the L0 applier
    into a full-synced table.  Freshness runs from a file's scheduled landing
    time to the commit whose watermark covers its last LSN.  After the tail
    stops: point lookups, a full scan and a compaction of the L0 table."""
    from datax_spark.cdc.runner import REPO_SCHEMA
    from datax_spark.streaming.runner import run_continuous

    spark, tr = run.spark, run.tracer
    n_timed = TAIL_FILES_PER_S * run.seconds
    n_files = TAIL_WARMUP_FILES + n_timed
    entry = run.path("inputs")
    n = n_files * TAIL_EVENTS_PER_FILE
    inputs.write_snapshot(spark, entry, TAIL_SNAPSHOT_ROWS, run.seed, False)
    inputs.write_feed(spark, entry, 1, n, n // 3, run.seed)
    inputs.write_debezium_files(entry, TAIL_EVENTS_PER_FILE)
    dbz = os.path.join(entry, "dbz")
    with open(os.path.join(dbz, "index.json"), encoding="utf-8") as f:
        last_lsn = json.load(f)
    table = Table(run, spark.read.parquet(os.path.join(entry, "snapshot")),
                  REPO_SCHEMA)
    tail_dir, staging = run.path("tail"), run.path("staging")
    os.makedirs(tail_dir)
    os.makedirs(staging)

    commits: list[tuple[float, int, str]] = []   # (time, watermark, batch id)
    lock = threading.Lock()

    def on_batch(lineage: dict) -> None:
        wm = lineage.get("shard_lsns", {}).get(-1, -1)
        with lock:
            commits.append((time.monotonic(), int(wm), lineage["batch_id"]))

    def covered() -> int:
        """Files whose last LSN is at or below the latest watermark."""
        with lock:
            wm = commits[-1][1] if commits else -1
        return bisect.bisect_right(last_lsn, wm)

    def land(i: int) -> float:
        name = f"{i:06d}.json"
        shutil.copyfile(os.path.join(dbz, name), os.path.join(staging, name))
        os.rename(os.path.join(staging, name), os.path.join(tail_dir, name))
        return time.monotonic()

    def wait_covered(n: int, deadline: float) -> None:
        while covered() < n and time.monotonic() < deadline:
            if not tail.is_active:
                raise RuntimeError("tail query stopped")
            time.sleep(0.02)

    progress: list[dict] = []
    if run.traced:
        from perfbench.spans import stream_listener

        spark.streams.addListener(stream_listener(progress))

    with tr.span("setup") as run.setup_span:
        table.load()
        with run.op("streaming.start"):
            tail = run_continuous(
                spark, tail_dir, table.t,
                checkpoint_dir=run.path("checkpoint"),
                trigger_interval=TAIL_TRIGGER, feed_format="debezium-json",
                payload=REPO_SCHEMA, on_batch=on_batch, **L0_APPLIER,
            )
            query = spark.streams.active[0]
        with tr.span("streaming.warmup"):
            for i in range(TAIL_WARMUP_FILES):
                land(i)
            wait_covered(TAIL_WARMUP_FILES, time.monotonic() + 120)
        table.warm_reads()
    run.attempted += TAIL_WARMUP_FILES
    run.failed += TAIL_WARMUP_FILES - min(TAIL_WARMUP_FILES, covered())

    sched: list[float] = []
    landed: list[float] = []
    backlog_max = [0]

    def generator(t_start: float) -> None:
        for k in range(n_timed):
            due = t_start + k / TAIL_FILES_PER_S
            delay = due - time.monotonic()
            if delay > 0:
                time.sleep(delay)
            sched.append(due)
            landed.append(land(TAIL_WARMUP_FILES + k))
            backlog_max[0] = max(backlog_max[0],
                                 TAIL_WARMUP_FILES + k + 1 - covered())

    v0 = table.t.current_version()
    n_commits0 = len(commits)
    with tr.span("window") as run.window:
        with tr.span("streaming.tail", files=n_timed):
            gen = threading.Thread(target=generator,
                                   args=(time.monotonic() + 0.05,))
            gen.start()
            gen.join()
            wait_covered(n_files, sched[-1] + TAIL_DEADLINE_S)
        with run.op("streaming.stop"):
            tail.stop()
        for repo in _lookup_repos(run.seed, TAIL_LOOKUPS):
            table.lookup(repo, keep=True)
        table.scan_and_compact()
    run.peak_rss = run.read_rss()

    # ------------------------------------------------------------ freshness
    with lock:
        done = list(commits)
    wms = [wm for _, wm, _ in done]
    fresh = []
    for k in range(n_timed):
        i = bisect.bisect_left(wms, last_lsn[TAIL_WARMUP_FILES + k])
        if i < len(done):
            fresh.append(done[i][0] - sched[k])
    run.attempted += n_timed
    run.failed += n_timed - len(fresh)
    run.metric("freshness_p50_s", median(fresh), "s", len(fresh))
    run.metric("freshness_p90_s", _p90(fresh), "s", len(fresh))
    # engine busy time applying the window's micro-batches
    window_batches = run.stream_batches = {b for _, _, b in done[n_commits0:]}
    prog = [p for p in query.recentProgress
            if f"s{p.batchId}" in window_batches]
    applies = [p.durationMs.get("addBatch", 0) / 1e3 for p in prog]
    run.events_applied = sum(p.numInputRows for p in prog)
    run.metric("ingest_events_per_s", run.events_applied / sum(applies),
               "events/s", len(applies))
    run.metric("apply_p50_s", median(applies), "s", len(applies))

    run.oracle.fold(entry, max_lsn=last_lsn[n_files - 1])
    table.check()
    table.metrics()

    if run.traced:
        from datax_spark.sources.debezium import from_json_lines

        ms = [p["ms"] for p in progress
              if f"s{p['batch']}" in window_batches]
        run.per_layer("streaming.trigger_s", median(
            m.get("triggerExecution", 0) for m in ms) / 1e3, "s")
        run.per_layer("streaming.plan_s", median(
            m.get("latestOffset", 0) + m.get("getBatch", 0)
            + m.get("queryPlanning", 0) for m in ms) / 1e3, "s")
        run.per_layer("streaming.wal_commit_s", median(
            m.get("walCommit", 0) + m.get("commitOffsets", 0)
            for m in ms) / 1e3, "s")
        run.per_layer("streaming.files_per_batch", median(
            p.numInputRows / TAIL_EVENTS_PER_FILE for p in prog), "count")
        run.per_layer("streaming.backlog_files_max", backlog_max[0], "count")
        run.per_layer("streaming.generator_late_max_s", max(
            (a - s for a, s in zip(landed, sched)), default=0.0), "s")
        run.per_layer("cdc.apply_batch_s", median(applies), "s")
        table.layers(v0)
        with tr.span("sources.parse"):
            from_json_lines(spark, tail_dir, REPO_SCHEMA).write.format(
                "noop").mode("overwrite").save()
        tail_bytes = sum(os.path.getsize(os.path.join(tail_dir, f))
                         for f in os.listdir(tail_dir))
        run.per_layer("sources.input_bytes_per_event", tail_bytes / n,
                      "B/event")
        run.after_stop.append(lambda: _tail_stages(run))


def _tail_stages(run: Run) -> None:
    """Event-log metrics of the tail: parse CPU, jobs per micro-batch."""
    st, tr = run.stages, run.tracer
    parse = st.for_groups(tr.groups(tr.named("sources.parse")))
    run.per_layer("sources.parse_cpu_s", st.total(parse, "cpu_ns") / 1e9, "s")
    run.per_layer("cdc.apply_batch_jobs", median(
        n for b, n in st.jobs_per_batch().items()
        if f"s{b}" in run.stream_batches), "count")


WORKLOADS = {
    "backfill_views": backfill_views,
    "live_tail": live_tail,
}
