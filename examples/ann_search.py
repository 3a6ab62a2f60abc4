"""ANN search over an embedding column, the amortized way: build the IVF
index ONCE (deterministic k-means cells + centroids, `det_kmeans`), persist
the cells table partitioned by cell, then serve query batches against the
prebuilt index with `ivf_query`.

At 100 TB the k-means fit dominates; a single-call API would re-pay it per
query batch.  The cells table written bucketed by `cell` makes each probe a
bucket-pruned read: a query batch touches only its n_probe cells.

Run: python examples/ann_search.py [sf_dir]
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from aliyun_maxcompute_data_collectors_spark.operators.similarity import (
    cosine_topk, det_assign_fast, det_kmeans, ivf_query)
from aliyun_maxcompute_data_collectors_spark.session import get_spark, load_tables


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("ann-search")
    spark.sparkContext.setLogLevel("ERROR")
    out = tempfile.mkdtemp(prefix="ivf_")
    try:
        emb = load_tables(spark, sf_dir, ["embeddings"])["embeddings"]

        # ---- offline: build + persist the index ------------------------
        cells, centers = det_kmeans(emb, "vec_id", "embedding", dim=64,
                                    n_clusters=16)
        cells.write.mode("overwrite").partitionBy("cell") \
            .parquet(os.path.join(out, "cells"))
        # centers are tiny - park them next to the cells
        spark.createDataFrame(
            [(i, c) for i, c in enumerate(centers)], "cell int, center array<double>"
        ).write.mode("overwrite").parquet(os.path.join(out, "centers"))

        # ---- online: serve a query batch from the persisted index ------
        cells_r = spark.read.parquet(os.path.join(out, "cells"))
        centers_r = [r["center"] for r in spark.read.parquet(
            os.path.join(out, "centers")).orderBy("cell").collect()]
        queries = emb.where(F.col("vec_id") < 5)
        approx = ivf_query(cells_r, centers_r, queries, k=5, n_probe=8)

        exact = cosine_topk(queries, emb, k=5)
        ex = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
        ap = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
        print(f"queries: 5  k: 5  recall vs exact: {len(ex & ap) / len(ex):.2f}")

        # ---- maintenance: assign an arriving batch WITHOUT refitting ----
        # (the streaming twin is streaming/cdc.ivf_assign_ingest_writer)
        arriving = emb.where(F.col("vec_id") % 97 == 0) \
            .select(F.col("vec_id").alias("neighbor_id"),
                    F.col("embedding").alias("cv"))
        best = det_assign_fast(F.col("cv"), centers_r)
        assigned = arriving.select("neighbor_id", "cv", best["c"].alias("cell"))
        assigned.write.mode("append").partitionBy("cell") \
            .parquet(os.path.join(out, "cells"))
        print("incrementally assigned:", assigned.count(), "vectors")
    finally:
        spark.stop()
        import shutil
        shutil.rmtree(out, ignore_errors=True)


if __name__ == "__main__":
    main()
