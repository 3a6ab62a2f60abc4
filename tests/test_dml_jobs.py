"""Spark jobs per snapshot DML shape, pinned as ceilings.

Every row-level DML builds one positional change set and publishes it
copy-on-write (COW) or merge-on-read (MOR).  Job count is the dominant
fixed cost of a small commit, and a plan diff cannot show a shape that
runs the same plans more often, so this file counts the jobs each shape
launches (``setJobGroup`` + ``statusTracker().getJobIdsForGroup``) on a
fixed, Spark-built two-file table and holds them at or below the counts
measured before the COW and MOR paths shared one planner.  Both modes
must also end with identical contents.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from aliyun_maxcompute_data_collectors_spark.snapshots import (
    SnapshotTable,
    cdc_apply_merge,
)

N = 15_000

# shape -> (COW ceiling, MOR ceiling), the counts of the two-stack
# implementation on this table
CEILINGS = {
    "delete_1_file": (3, 2),
    "delete_2_files": (3, 2),
    "update": (3, 4),
    "merge_update_insert": (10, 13),
    "cdc_apply_merge": (8, 12),
}


def _jobs(spark, group: str, fn) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setJobGroup("", "")
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _run_shapes(spark, path: str, mor: bool) -> tuple[dict, tuple]:
    base = spark.range(N).select(F.col("id").alias("k"),
                                 (F.col("id") * 0.5).alias("v"))
    m10 = F.col("k") % 10
    tab = SnapshotTable.init(spark, path)
    tab.append(base.where(m10 < 5).coalesce(1))
    tab.append(base.where((m10 >= 5) & (m10 < 8)).coalesce(1))
    tag = "mor" if mor else "cow"
    got = {}
    got["delete_1_file"] = _jobs(
        spark, f"{tag}-del1", lambda: tab.delete("k % 10 = 1", mor=mor))
    got["delete_2_files"] = _jobs(
        spark, f"{tag}-del2",
        lambda: tab.delete("k % 10 IN (2, 7)", mor=mor))
    got["update"] = _jobs(
        spark, f"{tag}-upd",
        lambda: tab.update({"v": "v * 2"}, "k % 10 = 3", mor=mor))
    src = base.where(m10.isin(4, 9)).withColumn("v", F.col("v") + 1)
    got["merge_update_insert"] = _jobs(
        spark, f"{tag}-merge",
        lambda: tab.merge(src, "t.k = s.k",
                          matched=[(None, {"v": "s.v"})],
                          not_matched=(None, "*"), mor=mor))
    # one CDC batch: updates of k % 10 == 0, deletes of k % 10 == 5,
    # inserts of fresh keys; two ops per updated key (newest wins)
    ops = (spark.range(0, N, 10)
           .select(F.col("id").alias("k"), F.lit(-1.0).alias("v"),
                   F.lit("U").alias("op"), F.lit(1).alias("seq"))
           .unionByName(spark.range(0, N, 10).select(
               F.col("id").alias("k"), F.lit(7.0).alias("v"),
               F.lit("U").alias("op"), F.lit(2).alias("seq")))
           .unionByName(spark.range(5, N, 10).select(
               F.col("id").alias("k"), F.lit(0.0).alias("v"),
               F.lit("D").alias("op"), F.lit(1).alias("seq")))
           .unionByName(spark.range(N, N + 50).select(
               F.col("id").alias("k"), F.lit(3.0).alias("v"),
               F.lit("I").alias("op"), F.lit(1).alias("seq"))))
    got["cdc_apply_merge"] = _jobs(
        spark, f"{tag}-cdc",
        lambda: cdc_apply_merge(tab, ops, ["k"], ["seq"], mor=mor))
    r = tab.read().agg(F.count(F.lit(1)).alias("n"),
                       F.sum("k").alias("s"),
                       F.sum("v").alias("sv")).collect()[0]
    assert r["n"] == tab.manifest()["rows"]
    return got, (r["n"], r["s"], r["sv"])


@pytest.fixture(scope="module")
def shapes(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("dml_jobs")
    return {mor: _run_shapes(spark, str(root / f"t_{mor}"), mor)
            for mor in (False, True)}


@pytest.mark.parametrize("mor", [False, True], ids=["cow", "mor"])
@pytest.mark.parametrize("shape", sorted(CEILINGS))
def test_dml_jobs_at_or_below_ceiling(shapes, shape, mor):
    got = shapes[mor][0][shape]
    ceiling = CEILINGS[shape][int(mor)]
    assert got <= ceiling, (shape, "mor" if mor else "cow", got, ceiling)


def test_dml_shapes_cow_and_mor_end_equal(shapes):
    # live keys: k % 10 in {0, 3, 4, 6} survive the deletes, k % 10 == 9
    # came in through the merge, plus the 50 CDC inserts
    keys = [k for k in range(N) if k % 10 in (0, 3, 4, 6, 9)]
    keys += list(range(N, N + 50))
    assert shapes[False][1][:2] == (len(keys), sum(keys))
    assert shapes[False][1] == shapes[True][1]
