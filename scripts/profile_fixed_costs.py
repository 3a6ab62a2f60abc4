"""Phase profiler for the fixed-cost-dominated bench rows (r13).

The r13 round-start measurement showed the sf0.001 bench total is ~89%
of the sf0.1 total: at the driver's scale most rows are dominated by
per-commit / per-iteration FIXED costs (Spark job launches, py4j round
trips, manifest fsyncs, localCheckpoint jobs), not data.  This script
breaks the expensive rows into phases so the optimization targets the
right fixed cost.  Usage:

    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 python scripts/profile_fixed_costs.py [mor|dedup|commit|all]
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from aliyun_maxcompute_data_collectors_spark.session import get_spark, load_tables
from aliyun_maxcompute_data_collectors_spark.snapshots import SnapshotTable

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


class T:
    def __init__(self):
        self.t0 = time.perf_counter()
        self.marks: list[tuple[str, float]] = []

    def mark(self, label: str):
        t = time.perf_counter()
        self.marks.append((label, t - self.t0))
        self.t0 = t

    def dump(self, title: str):
        total = sum(d for _, d in self.marks)
        print(f"--- {title} (total {total:.3f}s) ---")
        for label, d in self.marks:
            print(f"  {label:42s} {d:7.3f}s  {100*d/total:5.1f}%")


def prof_mor(spark, reps: int = 3):
    """snapshot_dv_heavy_read phase breakdown (append + 4 MOR deletes +
    read + compact + read)."""
    for rep in range(reps):
        root = tempfile.mkdtemp(prefix="prof_dvh_")
        t = T()
        try:
            li = load_tables(spark, SF_DIR, ["lineitem"])["lineitem"].select(
                "l_orderkey", "l_linenumber", "l_extendedprice")
            t.mark("load_tables+select")
            tab = SnapshotTable.init(spark, root)
            t.mark("init")
            tab.append(li.coalesce(2))
            t.mark("append")
            for i in range(4):
                tab.delete(f"l_orderkey % 100 BETWEEN {4*i} AND {4*i+3}",
                           mor=True)
                t.mark(f"delete_mor_{i}")
            m = tab.manifest()
            t.mark("manifest")
            (tab.read().agg(F.count(F.lit(1)), F.sum("l_orderkey"))
             .write.format("noop").mode("overwrite").save())
            t.mark("dv_read_agg")
            tab.compact()
            t.mark("compact")
            (tab.read().agg(F.count(F.lit(1)), F.sum("l_orderkey"))
             .write.format("noop").mode("overwrite").save())
            t.mark("clean_read_agg")
            t.dump(f"dv_heavy rep{rep}")
        finally:
            shutil.rmtree(root, ignore_errors=True)


def prof_delete_mor_phases(spark, reps: int = 3):
    """Inside ONE MOR delete: planning the (lazy) change set vs its
    merge-on-read publish (sidecar write + footer counts + commit)."""
    for rep in range(reps):
        root = tempfile.mkdtemp(prefix="prof_dmor_")
        try:
            li = load_tables(spark, SF_DIR, ["lineitem"])["lineitem"].select(
                "l_orderkey", "l_linenumber", "l_extendedprice")
            tab = SnapshotTable.init(spark, root)
            tab.append(li.coalesce(2))
            m, pred, candidates = tab._dml_target(
                "l_orderkey % 100 BETWEEN 0 AND 3")
            t = T()
            cs = tab._change_set(m, candidates, [(None, "delete")],
                                 where=pred, keep_dead=True)
            t.mark("plan change set (lazy, no job)")
            tab._publish_mor(cs, "delete", None, None)
            t.mark("publish: sidecar write + footer counts + commit")
            t.dump(f"delete_mor phases rep{rep}")
        finally:
            shutil.rmtree(root, ignore_errors=True)


def prof_commit(spark, reps: int = 3):
    """Bare append commit phases: write files vs stats vs manifest."""
    for rep in range(reps):
        root = tempfile.mkdtemp(prefix="prof_app_")
        try:
            o = load_tables(spark, SF_DIR, ["orders"])["orders"].select(
                "o_orderkey", "o_totalprice")
            t = T()
            tab = SnapshotTable.init(spark, root)
            t.mark("init")
            tab.append(o.where(F.col("o_orderkey") % 10 < 4))
            t.mark("append1")
            tab.append(o.where((F.col("o_orderkey") % 10 >= 4)
                               & (F.col("o_orderkey") % 10 < 7)))
            t.mark("append2")
            (tab.read().agg(F.count(F.lit(1)))
             .write.format("noop").mode("overwrite").save())
            t.mark("read_agg")
            t.dump(f"append commits rep{rep}")
        finally:
            shutil.rmtree(root, ignore_errors=True)


def prof_dedup(spark, reps: int = 3):
    """semantic_dedup phase breakdown: assignment, pairs, CC (with
    iteration count), anti-join."""
    import aliyun_maxcompute_data_collectors_spark.operators.graph as G
    from aliyun_maxcompute_data_collectors_spark.operators.dedup import (
        embedding_dup_pairs)
    from aliyun_maxcompute_data_collectors_spark.operators.similarity import (
        det_kmeans)
    from aliyun_maxcompute_data_collectors_spark.queries_llm import _coarse_centers

    for rep in range(reps):
        t = T()
        emb = load_tables(spark, SF_DIR, ["embeddings"])["embeddings"]
        centers = _coarse_centers(spark, SF_DIR)
        t.mark("load+centers")
        cells, _ = det_kmeans(emb, "vec_id", "embedding", 64, 8, 2,
                              centers=centers)
        cells = cells.localCheckpoint(eager=True)
        t.mark("assign+checkpoint")
        pairs = embedding_dup_pairs(cells, "neighbor_id", "cv", 0.40,
                                    block_col="cell")
        n_pairs = pairs.count()
        t.mark(f"pairs count (n={n_pairs})")
        comp = G.connected_components(pairs, "id1", "id2")
        n_comp = comp.count()
        t.mark(f"connected_components (rows={n_comp})")
        drop = (comp.where(F.col("node") != F.col("component"))
                .select(F.col("node").alias("_drop_id")))
        out = emb.join(F.broadcast(drop),
                       emb["vec_id"] == F.col("_drop_id"), "left_anti")
        out.select("vec_id").write.format("noop").mode("overwrite").save()
        t.mark("anti-join+noop")
        t.dump(f"semantic_dedup rep{rep}")


def prof_mv(spark, reps: int = 3):
    """mv_refresh phase breakdown: the row is 3 source commits + 3
    incremental refreshes (each = CDF delta agg + full-outer state merge
    + state OVERWRITE commit) - how much is commit protocol vs compute?"""
    import os as _os

    from aliyun_maxcompute_data_collectors_spark.mv import MaterializedAggView

    for rep in range(reps):
        root = tempfile.mkdtemp(prefix="prof_mv_")
        t = T()
        try:
            o = load_tables(spark, SF_DIR, ["orders"])["orders"].select(
                "o_orderkey", "o_totalprice",
                (F.col("o_orderkey") % 10).cast("int").alias("bucket"))
            b = F.col("bucket")
            src = SnapshotTable.init(spark, _os.path.join(root, "src"))
            mv = MaterializedAggView.init(
                spark, src, _os.path.join(root, "state"), keys=["bucket"],
                aggs={"n": ("count", ""),
                      "total": ("sum",
                                "CAST(o_totalprice AS DECIMAL(18,6))")})
            t.mark("init src+mv")
            src.append(o.where(b < 4))
            t.mark("src append 1")
            mv.refresh()
            t.mark("mv refresh 1 (delta agg + overwrite)")
            src.append(o.where((b >= 4) & (b < 7)))
            t.mark("src append 2")
            mv.refresh()
            t.mark("mv refresh 2 (merge + overwrite)")
            src.overwrite(src.read().where(
                (b != 0) & ~((b == 1) & (F.col("o_orderkey") % 20 == 1))))
            t.mark("src overwrite")
            mv.refresh()
            t.mark("mv refresh 3 (signed merge + overwrite)")
            mv.read().write.format("noop").mode("overwrite").save()
            t.mark("mv read+noop")
            t.dump(f"mv_refresh rep{rep}")
        finally:
            shutil.rmtree(root, ignore_errors=True)


def prof_pyds(spark, reps: int = 3):
    """pyds_snapshot_read phase breakdown: 3 DSv2 python-writer commits
    + a pushdown read - is the floor the Python Data Source surface?"""
    import os as _os

    from aliyun_maxcompute_data_collectors_spark.sources.pyds import (
        GraftSnapshotDataSource, register_python_datasources)

    for rep in range(reps):
        root = tempfile.mkdtemp(prefix="prof_pyds_")
        t = T()
        try:
            o = load_tables(spark, SF_DIR, ["orders"])["orders"].select(
                "o_orderkey", "o_totalprice")
            mx = o.agg(F.max("o_orderkey")).collect()[0][0]
            b1, b2 = mx // 3, (2 * mx) // 3
            lo, hi = b1 // 2, b1 - 1
            SnapshotTable.init(spark, root)
            register_python_datasources(spark)
            t.mark("init+register+max")
            k = F.col("o_orderkey")
            for i, sl in enumerate((o.where(k <= b1),
                                    o.where((k > b1) & (k <= b2)),
                                    o.where(k > b2))):
                (sl.coalesce(1).write.format("graft_snapshot")
                 .option("path", root).mode("append").save())
                t.mark(f"DSv2 python write {i}")
            ds = GraftSnapshotDataSource({"path": root})
            rdr = ds.reader(ds.schema())
            t.mark("reader plan")
            (spark.read.format("graft_snapshot").option("path", root)
             .load().where(k.between(int(lo), int(hi)))
             .agg(F.count(F.lit(1)), F.sum("o_orderkey"))
             .write.format("noop").mode("overwrite").save())
            t.mark("pushdown read+agg")
            t.dump(f"pyds_snapshot rep{rep}")
        finally:
            shutil.rmtree(root, ignore_errors=True)


def main():
    which = sys.argv[1] if len(sys.argv) > 1 else "all"
    spark = get_spark("profile_fixed_costs")
    spark.sparkContext.setLogLevel("ERROR")
    if which in ("mor", "all"):
        prof_mor(spark)
    if which in ("morphases", "all"):
        prof_delete_mor_phases(spark)
    if which in ("commit", "all"):
        prof_commit(spark)
    if which in ("dedup", "all"):
        prof_dedup(spark)
    if which in ("mv", "all"):
        prof_mv(spark)
    if which in ("pyds", "all"):
        prof_pyds(spark)
    spark.stop()


if __name__ == "__main__":
    main()
