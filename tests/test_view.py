"""The shared derived-view core (lake/view.py): Spark job-count floors of
small incremental refreshes, which only the static planning scope holds."""

from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datax_spark.lake.aggview import create_agg_view, refresh_agg_view
from datax_spark.lake.joinview import create_join_view, refresh_join_view
from datax_spark.lake.merge import merge_into
from datax_spark.lake.table import LakeTable

# measured on the code before lake/view.py existed (local[4], 8 shuffle
# partitions); the shared core must not raise them
AGG_REFRESH_JOBS = 6
JOIN_REFRESH_JOBS = 4


def _table(spark, path, ddl, key):
    return LakeTable.create(spark, path, schema=T._parse_datatype_string(ddl),
                            key_cols=[key], bucket_col=key, num_buckets=4)


def _merge(t, ddl, rows):
    df = t.spark.createDataFrame([Row(*r) for r in rows],
                                 f"{ddl}, lsn long, op string")
    merge_into(t, df, op_col="op", order_col="lsn", mode="mor",
               auto_compact=None)


def _jobs(spark, group, fn):
    """(fn(), number of Spark jobs fn launched)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_small_refresh_job_floor(spark, tmp_path):
    """A small incremental agg refresh maintaining a max (level pins, fused
    stats) and a join refresh run at their job floors.  Plans built
    outside the static scope add broadcast and persist jobs while
    computing the same values, so only a job count catches that."""
    fdl, ddl = "k long, grp string, v long", "grp string, label string"
    fact = _table(spark, str(tmp_path / "fact"), fdl, "k")
    dim = _table(spark, str(tmp_path / "dim"), ddl, "grp")
    _merge(fact, fdl, [(k, f"g{k % 4}", k, k, "insert") for k in range(40)])
    _merge(dim, ddl, [(f"g{i}", f"L{i}", i, "insert") for i in range(4)])
    agg = create_agg_view(fact, str(tmp_path / "agg"), dims=["grp"],
                          sums=["v"], maxs=["v"])
    join = create_join_view(fact, dim, str(tmp_path / "join"),
                            on={"grp": "grp"})
    _merge(fact, fdl, [(1, "g2", 100, 100, "insert"),
                       (5, "g1", 3, 101, "insert"),
                       (7, None, None, 102, "delete")])
    _merge(dim, ddl, [("g1", "L1x", 100, "insert")])

    r, n_agg = _jobs(spark, "agg-refresh", lambda: refresh_agg_view(
        fact, agg, recompute_ratio=None))
    assert r["mode"] == "incremental" and r["applied"]
    r, n_join = _jobs(spark, "join-refresh",
                      lambda: refresh_join_view(fact, dim, join))
    assert r["applied"]
    assert (n_agg, n_join) == (AGG_REFRESH_JOBS, JOIN_REFRESH_JOBS)

    def rows(df):
        return sorted(tuple(x) for x in df.collect())

    assert rows(agg.read().select("grp", "n_rows", "sum_v", "max_v")) == rows(
        fact.read().groupBy("grp").agg(
            F.count(F.lit(1)), F.sum("v"), F.max("v")))
    assert rows(join.read().select("k", "label")) == rows(
        fact.read().join(dim.read(), "grp").select("k", "label"))
