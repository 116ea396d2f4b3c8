"""Observability — the rebuild of DataX's Communication/PerfRecord layer.

Reference semantics (SURVEY.md §2.9): a thread-safe counter bag merged
task → taskGroup → job (core/.../statistics/communication/
Communication.java:21-253), canonical counters for read/write records+bytes
and speeds (CommunicationTool.java:17-53), end-of-job totals
(JobContainer.java:538-592).

Spark-native shape:
- per-batch counters already live in the lineage table (rows/bytes/
  last-LSN per partition, committed atomically with the data —
  LakeTable.lineage_df());
- this module adds the RUNTIME view: a StreamingQueryListener collecting
  micro-batch progress (input rate, process rate, duration) and a
  report() that merges lineage into the DataX-style job summary.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQueryListener

from datax_spark.lake.table import LakeTable


@dataclass
class BatchProgress:
    query_id: str
    batch_id: int
    num_input_rows: int
    process_rate: float
    duration_ms: int


@dataclass
class ProgressCollector(StreamingQueryListener):
    """Collects per-micro-batch progress events (≈ DataX's 10s report loop,
    AbstractTaskGroupScheduler.java:66-106)."""

    batches: list[BatchProgress] = field(default_factory=list)

    def onQueryStarted(self, event) -> None:  # noqa: N802 (Spark API)
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        self.batches.append(
            BatchProgress(
                query_id=str(p.id),
                batch_id=p.batchId,
                num_input_rows=p.numInputRows,
                process_rate=p.processedRowsPerSecond or 0.0,
                duration_ms=int(p.durationMs.get("triggerExecution", 0)),
            )
        )

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    def attach(self, spark: SparkSession) -> "ProgressCollector":
        spark.streams.addListener(self)
        return self

    def detach(self, spark: SparkSession) -> None:
        spark.streams.removeListener(self)


def job_report(table: LakeTable) -> dict:
    """DataX end-of-job summary from the lineage records
    (≈ JobContainer.logStatistics, core/.../job/JobContainer.java:538-592)."""
    m = table.manifest()
    total_rows = sum(int(b.get("rows", 0)) for b in m.applied_batches.values())
    total_bytes = sum(int(b.get("bytes", 0)) for b in m.applied_batches.values())
    total_ms = sum(int(b.get("wall_ms", 0)) for b in m.applied_batches.values())
    per_partition: dict[int, dict] = {}
    for b in m.applied_batches.values():
        for p in b.get("partitions", []):
            agg = per_partition.setdefault(
                int(p["partition_id"]), {"rows": 0, "bytes": 0, "last_lsn": -1}
            )
            agg["rows"] += int(p["rows"])
            agg["bytes"] += int(p["bytes"])
            agg["last_lsn"] = max(agg["last_lsn"], int(p["last_lsn"]))
    return {
        "batches": len(m.applied_batches),
        "total_rows": total_rows,
        "total_bytes": total_bytes,
        "total_wall_ms": total_ms,
        "rows_per_sec": round(total_rows / (total_ms / 1000), 1) if total_ms else None,
        "bytes_per_sec": round(total_bytes / (total_ms / 1000), 1) if total_ms else None,
        "partitions": per_partition,
        "table_version": m.version,
        "table_rows": None,  # filled by caller if a count is affordable
    }

