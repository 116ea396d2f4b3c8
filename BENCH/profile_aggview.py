"""Per-phase wall-clock + Spark-job-count breakdown of cdc_agg_view_incr.

Round-3 verdict item #4: the query's 11.9s median is the most expensive
gated entry; the suspected cost is job-count x the ~0.15-0.25s/job
scheduling floor on the merge+refresh cycle.  This script re-runs the
exact suite shape with a job-counting listener and per-phase timers so
the next lever targets the measured dominant term.  The per-layer
breakdown of a single refresh (``aggview.refresh_s``,
``aggview.refresh_jobs``) comes from the traced perfbench run
(``perfbench/run.py --trace 1``).

Usage: python BENCH/profile_aggview.py [sf_dir]
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql import types as T  # noqa: E402

from datax_spark.lake.aggview import create_agg_view, refresh_agg_view  # noqa: E402
from datax_spark.lake.merge import merge_into  # noqa: E402
from datax_spark.lake.table import LakeTable  # noqa: E402
from datax_spark.session import get_session  # noqa: E402


class JobCounter:
    def __init__(self, sc):
        self.sc = sc

    def snap(self) -> int:
        # statusTracker: all job ids seen so far
        return len(self.sc.statusTracker().getJobIdsForGroup(None) or [])


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_session("dx-profile-aggview",
                        cores=os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext

    def jobs() -> int:
        tr = sc.statusTracker()
        ids = []
        for g in (None,):
            ids.extend(tr.getJobIdsForGroup(g) or [])
        return max(ids) + 1 if ids else 0

    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    _cents = lambda c: F.round(F.col(c) * 100).cast("long")  # noqa: E731

    def phase(label, fn):
        j0, t0 = jobs(), time.monotonic()
        out = fn()
        dt, dj = time.monotonic() - t0, jobs() - j0
        print(f"{label:<28} {dt:7.2f}s  {dj:3d} jobs", flush=True)
        return out

    minmax = os.environ.get("DX_PROFILE_MINMAX", "1") == "1"
    # warmup pass (codegen/scan caches) then the measured pass
    for tag in ("warmup", "measured"):
        print(f"--- {tag} (minmax={minmax}) ---")
        loc = tempfile.mkdtemp(prefix="dx_pa_t_")
        os.rmdir(loc)
        vloc = tempfile.mkdtemp(prefix="dx_pa_v_")
        os.rmdir(vloc)
        schema = T.StructType([
            T.StructField("k", T.LongType()),
            T.StructField("prio", T.StringType()),
            T.StructField("total_cents", T.LongType()),
        ])
        table = LakeTable.create(spark, loc, schema=schema, key_cols=["k"],
                                 bucket_col="k", num_buckets=8)
        base = orders.select(
            F.col("o_orderkey").cast("long").alias("k"),
            F.col("o_orderpriority").alias("prio"),
            _cents("o_totalprice").alias("total_cents"),
            F.col("o_orderkey").cast("long").alias("lsn"),
            F.lit("insert").alias("op"),
        )
        phase("base merge (150k)", lambda: merge_into(
            table, base, op_col="op", order_col="lsn", mode="mor",
            auto_compact=None, keys_unique=True))
        view = phase("create_agg_view", lambda: create_agg_view(
            table, vloc, dims=["prio"], sums=["total_cents"],
            mins=["total_cents"] if minmax else [],
            maxs=["total_cents"] if minmax else [], num_buckets=4))
        changes = orders.filter(F.col("o_orderkey") % 97 == 0).select(
            F.col("o_orderkey").cast("long").alias("k"),
            F.col("o_orderpriority").alias("prio"),
            (_cents("o_totalprice") + 1000).alias("total_cents"),
            (F.col("o_orderkey").cast("long") + F.lit(10**9)).alias("lsn"),
            F.when(F.col("o_orderkey") % 291 == 0, F.lit("delete"))
            .otherwise(F.lit("insert")).alias("op"),
        )
        for i in range(3):
            phase(f"merge changes [{i}]", lambda i=i: merge_into(
                table, changes.filter(F.col("k") % 3 == i),
                op_col="op", order_col="lsn", mode="mor",
                auto_compact=None, keys_unique=True))
            r = phase(f"refresh [{i}]", lambda: refresh_agg_view(table, view))
            print(f"    refresh mode={r['mode']} groups={r['groups']} "
                  f"rescan={'yes' if r['rescan'] else 'no'}")
        phase("final view read", lambda: view.read().collect())
    spark.stop()


if __name__ == "__main__":
    main()
