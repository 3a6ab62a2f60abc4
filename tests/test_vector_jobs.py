"""Spark jobs per vector-search call, pinned as ceilings.

Job count is the dominant fixed cost of a small vector-search call, and a
plan diff cannot show a shape that runs the same plans more often, so this
file counts the jobs each call launches (``setJobGroup`` +
``statusTracker().getJobIdsForGroup``, the ``test_dml_jobs.py`` method) on
the suite's embeddings and holds them at or below the counts measured
while the layer still had a Spark-ML fit and expression twins beside the
Arrow kernels.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from aliyun_maxcompute_data_collectors_spark.operators import similarity as S
from aliyun_maxcompute_data_collectors_spark.operators.dedup import (
    embedding_dup_pairs)
from aliyun_maxcompute_data_collectors_spark.operators.pq import pq_train
from aliyun_maxcompute_data_collectors_spark.session import load_tables

# call -> ceiling (the jobs of the two-fit, two-kernel layer)
CEILINGS = {
    "det_semantic_dedup": 10,
    # the old layer fitted a one-cell k-means here (4 of its 10 jobs)
    "det_semantic_dedup_one_cell": 10,
    "det_ivf_topk": 8,
    "cosine_topk": 4,
    "lsh_topk": 5,
    "embedding_dup_pairs": 2,
    "pq_train": 4,
}


def _jobs(spark, group: str, fn) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setJobGroup("", "")
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _calls(e):
    q = e.where(F.col("vec_id") < 8)
    return {
        "det_semantic_dedup": lambda: S.det_semantic_dedup(
            e, dim=64, threshold=0.4).collect(),
        "det_semantic_dedup_one_cell": lambda: S.det_semantic_dedup(
            e, dim=64, threshold=0.4, n_clusters=1).collect(),
        "det_ivf_topk": lambda: S.det_ivf_topk(q, e, dim=64).collect(),
        "cosine_topk": lambda: S.cosine_topk(q, e).collect(),
        "lsh_topk": lambda: S.lsh_topk(q, e, bits=4, dim=64).collect(),
        "embedding_dup_pairs": lambda: embedding_dup_pairs(
            e, "vec_id", "embedding", 0.35, block_col="label").collect(),
        "pq_train": lambda: pq_train(e, "embedding", dim=64, m=8, ksub=16),
    }


@pytest.fixture(scope="module")
def counts(spark, sf_dir):
    e = load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
    got = {}
    for name, fn in _calls(e).items():
        fn()  # warm: a first call may pay one-off planning jobs
        got[name] = _jobs(spark, f"vec-{name}", fn)
    return got


@pytest.mark.parametrize("call", sorted(CEILINGS))
def test_jobs_at_or_below_ceiling(counts, call):
    assert counts[call] <= CEILINGS[call], (call, counts[call])


def test_one_cell_dedup_launches_no_fit_job(spark, sf_dir, counts):
    """``n_clusters=1`` is one cell and no fit: it launches exactly the
    jobs of the same dedup served from a given quantizer, which skips
    the fit by construction."""
    e = load_tables(spark, sf_dir, ["embeddings"])["embeddings"]

    def reuse():
        S.det_semantic_dedup(e, dim=64, threshold=0.4,
                             centers=[[0.0] * 64]).collect()

    reuse()
    assert counts["det_semantic_dedup_one_cell"] == _jobs(
        spark, "vec-reuse", reuse)
