"""Seeded inputs, generated in every run before its set-up.

All inputs come from the engine's own load generator (``fixtures.repo_files``
and ``fixtures.change_events``); the engine later receives only the files
written here.  Generation runs before any span is opened, so it is never
timed as part of the system.  Inputs are not reused across runs: the
generator's Spark jobs also warm the JVM, so a run that skipped them would
report a slower set-up than one that did not.

Layout of the inputs directory::

    snapshot/            parquet: repo, path, commit, lang, content[, size]
    feed/b=<i>/          parquet change events of batch (or round) i
    dbz/<n>.json         Debezium JSON lines, one landing file each
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timezone

import pyarrow.parquet as pq
from pyspark.sql import functions as F

_OPS = {"insert": "c", "update": "u", "delete": "d"}
_PAYLOAD = ("repo", "path", "commit", "lang", "content")


def write_snapshot(spark, out: str, n_rows: int, seed: int,
                   with_size: bool) -> None:
    from datax_spark import fixtures

    df = fixtures.repo_files(spark, n_rows, seed=seed)
    if with_size:
        df = df.withColumn("size", F.length("content").cast("int"))
    df.coalesce(4).write.parquet(os.path.join(out, "snapshot"))


def write_feed(spark, out: str, n_batches: int, batch_events: int,
               n_keys: int, seed: int) -> None:
    """``n_batches`` LSN-contiguous batches of ``batch_events`` events,
    one parquet directory per batch.  The generator's range partitions are
    LSN-contiguous, so each batch lands as four files without a shuffle
    and its scan uses every core."""
    from datax_spark import fixtures

    (
        fixtures.change_events(spark, n_batches * batch_events,
                               n_keys=n_keys, seed=seed,
                               partitions=4 * n_batches)
        .withColumn("b", (F.col("lsn") / F.lit(batch_events)).cast("int"))
        .write.partitionBy("b")
        .parquet(os.path.join(out, "feed"))
    )


def write_debezium_files(out: str, events_per_file: int) -> None:
    """Re-encode the parquet feed as Debezium JSON lines, LSN-ordered, one
    file per ``events_per_file`` events, plus ``dbz/index.json``: the last
    LSN of every file, in landing order."""
    rows = pq.read_table(os.path.join(out, "feed")).sort_by("lsn").to_pylist()
    dbz = os.path.join(out, "dbz")
    os.makedirs(dbz)
    last_lsns = []
    for lo in range(0, len(rows), events_per_file):
        with open(os.path.join(dbz, f"{len(last_lsns):06d}.json"), "w",
                  encoding="utf-8") as f:
            for r in rows[lo:lo + events_per_file]:
                image = {c: r[c] for c in _PAYLOAD}
                ts_ms = int(r["ts"].replace(tzinfo=timezone.utc).timestamp()
                            * 1000) if isinstance(r["ts"], datetime) else None
                op = _OPS[r["op"]]
                f.write(json.dumps({
                    "op": op,
                    "before": image if op == "d" else None,
                    "after": None if op == "d" else image,
                    "source": {"lsn": r["lsn"], "ts_ms": ts_ms,
                               "db": "repo", "table": "files"},
                    "ts_ms": ts_ms,
                }) + "\n")
        last_lsns.append(rows[lo:lo + events_per_file][-1]["lsn"])
    with open(os.path.join(dbz, "index.json"), "w", encoding="utf-8") as f:
        json.dump(last_lsns, f)
