"""Similarity search over embedding columns (array<float>).

One core serves every index family.  A family supplies only its candidate
rule - all rows (``cosine_topk``), a shared LSH bucket (``lsh_topk``) or
the probed IVF cells (``ivf_query``) - and one re-rank (:func:`_rerank`)
scores the candidates by exact cosine and keeps the top k per query.
Semantic dedup blocks the same way: one cosine pair join
(``dedup.embedding_dup_pairs``) runs inside the k-means cells.

Every number is reproducible in a second engine:

- kernels (``cosine_fast``, ``det_assign_fast``) are Arrow-batched numpy
  that accumulates in DOUBLE, one dimension at a time from 0.0 - the same
  sequential left fold a DuckDB ``list_reduce`` writes, so the unrounded
  doubles hash-match the oracle;
- the one k-means fit is the deterministic Lloyd's of ``pq.pq_train`` at
  one subspace (seeded literal init, decimal-exact centroid sums);
- the probe over query rows and the LSH signatures stay JVM fold
  expressions (``dot_expr``): they touch only a few rows or one narrow
  projection.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def dot_expr(a: Column, b: Column) -> Column:
    """Sequential double-precision dot product of two float arrays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm_expr(a: Column) -> Column:
    return F.sqrt(F.aggregate(
        a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
    ))


def topk_per_query(scored: DataFrame, k: int, salt: int = 0,
                   tiebreak_col: str = "neighbor_id") -> DataFrame:
    """Rank (query_id, ..., cos) rows to top-k per query.  ``salt`` > 0
    inserts a per-(query, salt-bucket) pre-pass so reducer parallelism is
    n_queries * salt instead of n_queries - the scale path when the scored
    set is much larger than k per query."""
    order = [F.desc("cos"), F.asc(tiebreak_col)]
    if salt:
        w_local = Window.partitionBy(
            "query_id", F.pmod(F.xxhash64(tiebreak_col), F.lit(salt))).orderBy(*order)
        scored = (scored.withColumn("__r", F.row_number().over(w_local))
                  .where(F.col("__r") <= k).drop("__r"))
    w = Window.partitionBy("query_id").orderBy(*order)
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k))


def _rerank(cand: DataFrame, k: int, salt: int = 0) -> DataFrame:
    """The re-rank every exact family shares: candidate pairs
    (query_id, neighbor_id, qv, cv) -> exact cosine rounded to 6 decimals
    -> top-k per query (rank ties break by neighbor id)."""
    scored = cand.select(
        "query_id", "neighbor_id",
        F.round(cosine_fast(F.col("qv"), F.col("cv")), 6).alias("cos"))
    return topk_per_query(scored, k, salt=salt)


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    same_id_excluded: bool = True,
    salt: int | None = None,
) -> DataFrame:
    """Exact top-k neighbors per query: (query_id, neighbor_id, cos, rank).

    queries is expected to be small (it is broadcast); corpus scans once.
    Rank ties (at 6-decimal cosine) break by neighbor id - deterministic.

    A single window partitioned by query_id alone funnels the ENTIRE scored
    corpus into n_queries reducer tasks - with 8 queries and a 100 TB
    corpus that is 8 straggler tasks.  On a wide corpus scan the top-k is
    therefore two-phase: a salted per-(query, salt-bucket) window first
    (reducer parallelism = n_queries * salt), then the global window over
    only k*salt survivors per query - identical output.  ``salt=None``
    auto-enables at >=128 estimated scan splits (a narrow local corpus
    keeps the cheaper single-window plan); pass an int to force a width,
    0 to disable."""
    from aliyun_maxcompute_data_collectors_spark.session import (
        ensure_parallelism, estimated_scan_splits)
    if salt is None:
        n_parts = estimated_scan_splits(corpus)
        if n_parts is None:
            n_parts = corpus.rdd.getNumPartitions()
        salt = 32 if n_parts >= 128 else 0
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    c = ensure_parallelism(
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
    )
    pairs = c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id")
                   if same_id_excluded else F.lit(True))
    return _rerank(pairs, k, salt=salt)


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN over the deterministic k-means coarse quantizer
# ---------------------------------------------------------------------------

def _probe_cells(vec: Column, centers: list[list[float]],
                 n_probe: int) -> Column:
    """Array of the ``n_probe`` cells whose centroids score the highest
    dot product with ``vec`` (ties to the lower cell) - the probe rule of
    IVF and IVF-PQ.  A fold expression over broadcast literals: it runs
    over query rows only."""
    scored = F.array(*[
        F.struct((-dot_expr(vec, F.array(*[F.lit(float(x)) for x in c])))
                 .alias("negdot"), F.lit(ci).alias("cell"))
        for ci, c in enumerate(centers)])
    return F.slice(F.array_sort(scored), 1, n_probe).getField("cell")


def ivf_query(
    cells: DataFrame,
    centers: list[list[float]],
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Query a prebuilt IVF index - ``cells`` (neighbor_id, cv, cell) and
    ``centers`` from :func:`det_kmeans`: each query probes its ``n_probe``
    nearest cells, and the exact re-rank scores only the rows in them.
    Each corpus row sits in one cell and a query's probed cells are
    distinct, so the candidate pairs are unique without a distinct."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"),
        F.explode(_probe_cells(F.col(vec_col), centers, n_probe)).alias("cell"),
    )
    cand = cells.join(F.broadcast(q), "cell").where(
        F.col("query_id") != F.col("neighbor_id"))
    return _rerank(cand, k)


# ---------------------------------------------------------------------------
# random-hyperplane LSH
# ---------------------------------------------------------------------------

def hyperplanes(dim: int, bits: int, seed: int = 42) -> list[list[float]]:
    """Deterministic Gaussian hyperplanes (fixed seed -> reproducible plans)."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((bits, dim)).tolist()


def lsh_bucket_expr(vec: Column, planes: list[list[float]]) -> Column:
    """Signature bucket id: bit i = sign(dot(vec, plane_i)).  Pure built-ins:
    one aggregate per plane over a literal array."""
    bit_cols = []
    for i, p in enumerate(planes):
        plane = F.array(*[F.lit(float(x)) for x in p])
        d = F.aggregate(
            F.zip_with(vec, plane, lambda x, y: x.cast("double") * y),
            F.lit(0.0), lambda acc, x: acc + x,
        )
        bit_cols.append(F.when(d >= 0, F.lit(1 << i)).otherwise(F.lit(0)))
    out = bit_cols[0]
    for c in bit_cols[1:]:
        out = out + c
    return out


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    bits: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probe_planes: int = 1,
    seed: int = 42,
) -> DataFrame:
    """ANN top-k: candidates = corpus rows sharing the query's LSH bucket
    (multi-probe via ``n_probe_planes`` independent plane sets widens recall),
    exact cosine re-rank within candidates.

    At scale: corpus bucketing is one narrow projection; the join is
    bucket-equi (shuffle ~ corpus), never a cross product."""
    probes = []
    for p in range(n_probe_planes):
        planes = hyperplanes(dim, bits, seed + p)
        probes.append((f"b{p}", planes))
    from aliyun_maxcompute_data_collectors_spark.session import ensure_parallelism
    qsel = [F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")]
    csel = [F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")]
    for name, planes in probes:
        qsel.append(lsh_bucket_expr(F.col(vec_col), planes).alias(f"q_{name}"))
        csel.append(lsh_bucket_expr(F.col(vec_col), planes).alias(f"c_{name}"))
    q = queries.select(*qsel)
    c = ensure_parallelism(corpus).select(*csel)
    cond = F.col("query_id") != F.col("neighbor_id")
    probe_match = None
    for name, _ in probes:
        m = F.col(f"q_{name}") == F.col(f"c_{name}")
        probe_match = m if probe_match is None else (probe_match | m)
    cand = c.join(F.broadcast(q), cond & probe_match).dropDuplicates(
        ["query_id", "neighbor_id"]
    )
    # candidates are bucket-bounded (~n/2^bits per probe) so no salt pass
    return _rerank(cand, k)


# ---------------------------------------------------------------------------
# deterministic seeded Lloyd's k-means (engine-reproducible)
# ---------------------------------------------------------------------------
#
# The fit trades convergence speed for CROSS-ENGINE determinism, making
# ivf_topk / semantic_dedup hash-match a DuckDB oracle:
#   - initial centroids: seeded Gaussian literals (host numpy, like the LSH
#     hyperplanes) - identical constants on both engines;
#   - assignment: argmin of sequential-fold squared L2 distance, ties to the
#     lower cell id - identical IEEE doubles on identical inputs;
#   - update: per-dimension sums in DECIMAL(38,15) (exact, order-independent
#     - a double sum would depend on partition order and never match a
#     second engine), then one double division by the count.  Empty cells
#     keep their previous centroid.
# The per-iteration driver collect is k x dim decimals - metadata-scale.
# Fixed n_iter (no convergence test) keeps both engines on the same plan.
# The loop itself is pq.pq_train's: a k-means fit is PQ at one subspace.


def det_kmeans_init(dim: int, n_clusters: int, seed: int = 42,
                    scale: float = 0.1) -> list[list[float]]:
    """Seeded initial centroids, rounded to 6 decimals so they embed as
    short SQL literals bit-identically."""
    rng = np.random.default_rng(seed)
    return [[round(float(x), 6) for x in row]
            for row in rng.standard_normal((n_clusters, dim)) * scale]


def det_kmeans(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    n_clusters: int,
    n_iter: int = 2,
    seed: int = 42,
    centers: list[list[float]] | None = None,
) -> tuple[DataFrame, list[list[float]]]:
    """Deterministic Lloyd's: returns ``(cells, centers)`` with cells =
    (neighbor_id, cv, cell) under the final centers, the index
    :func:`ivf_query` serves.  The fit is ``pq.pq_train`` at ``m=1``, so
    its input contract is the same: every vector non-NULL with exactly
    ``dim`` elements, else ValueError.

    ``centers`` skips the fit entirely and assigns under the given
    centroids - the train-once/assign-many reuse path (a session-cached
    or persisted index).  The fit's dirty-input validation ran when those
    centers were produced; assignment alone tolerates what the kernel
    tolerates (NULL/ragged -> cell 0)."""
    # (id, vec) projection shared by every Lloyd's iteration and the final
    # assignment; kept lazy - measured at sf0.1, an eager localCheckpoint
    # here costs more than the repeated two-column parquet scan it saves
    src = df.select(F.col(id_col).alias("neighbor_id"),
                    F.col(vec_col).alias("cv"))
    if centers is None:
        from .pq import pq_train
        centers = pq_train(src, "cv", dim, m=1, ksub=n_clusters,
                           n_iter=n_iter, seed=seed)[0]
    cells = src.select(
        "neighbor_id", "cv",
        det_assign_fast(F.col("cv"), centers)["c"].alias("cell"))
    return cells, centers


def det_ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int,
    k: int = 5,
    n_clusters: int = 8,
    n_probe: int = 4,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    centers: list[list[float]] | None = None,
) -> DataFrame:
    """IVF ANN in one call (det_kmeans + ivf_query): probe n_probe cells by
    centroid dot, exact re-rank within them; every number is reproducible
    in a second engine.  ``centers`` reuses a trained quantizer (skips the
    fit - the production index shape); amortizing callers build once with
    det_kmeans and call ivf_query per batch."""
    cells, centers = det_kmeans(corpus, id_col, vec_col, dim, n_clusters,
                                n_iter, seed, centers=centers)
    return ivf_query(cells, centers, queries, k, n_probe, id_col, vec_col)


def det_semantic_dedup(
    df: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_clusters: int = 8,
    n_iter: int = 2,
    seed: int = 42,
    centers: list[list[float]] | None = None,
) -> DataFrame:
    """SemDeDup: rows of ``df`` minus semantic near-duplicates.  Cosine
    pairs >= ``threshold`` are compared only WITHIN k-means cells, their
    transitive closure forms the duplicate groups, and each group keeps
    its MIN id.  ``n_clusters <= 1`` is one cell and no fit - exact
    brute force.  ``centers`` reuses a trained quantizer (skips the fit).

    Scale: pair work is the sum over cells of |cell|^2 - bounded by making
    ``n_clusters`` proportional to corpus size, versus the |corpus|^2 of
    a naive cross join.  Near-dups split across a cell boundary are the
    recall loss SemDeDup accepts."""
    from .dedup import embedding_dup_pairs
    from .graph import connected_components

    if centers is None and n_clusters <= 1:
        cells = df.select(F.col(id_col).alias("neighbor_id"),
                          F.col(vec_col).alias("cv"), F.lit(0).alias("cell"))
    else:
        cells, _ = det_kmeans(df, id_col, vec_col, dim, n_clusters, n_iter,
                              seed, centers=centers)
    # both sides of the within-cell self-join reference cells; without a
    # lineage cut each side re-runs the full assignment pass (the dominant
    # cost) - identical to the signature checkpoint in minhash_lsh_pairs
    cells = cells.localCheckpoint(eager=True)
    pairs = embedding_dup_pairs(cells, "neighbor_id", "cv", threshold,
                                block_col="cell")
    comp = connected_components(pairs, "id1", "id2")
    drop = (comp.where(F.col("node") != F.col("component"))
            .select(F.col("node").alias("_drop_id")))
    return df.join(F.broadcast(drop), df[id_col] == F.col("_drop_id"),
                   "left_anti")


# ---------------------------------------------------------------------------
# embedding-column health audit
# ---------------------------------------------------------------------------

def embedding_quality(
    df: DataFrame,
    vec_col: str = "embedding",
    group_cols: list[str] | None = None,
    expected_dim: int | None = None,
) -> DataFrame:
    """Vector-column health report per group: null vectors, dimension
    mismatches, non-finite elements, zero-norm vectors, and norm stats -
    the audit run before any ANN/dedup pass trusts an embedding column.

    All pure fold expressions over the array; the norm MEAN uses a
    decimal-exact sum of 12-rounded norms (a double sum is aggregation-
    order-dependent and would never hash-match another engine).  One hash
    aggregate; nothing data-sized leaves the executors."""
    vec = F.col(vec_col)
    norm = norm_expr(vec)
    inf = F.lit(float("inf"))
    nonfinite = F.exists(vec, lambda x: F.isnan(x.cast("double"))
                         | (F.abs(x.cast("double")) == inf))
    bad_dim = (F.lit(False) if expected_dim is None
               else F.size(vec) != F.lit(expected_dim))
    rows = df.select(
        *(group_cols or []),
        vec.isNull().cast("int").alias("__null"),
        F.when(vec.isNull(), 0).otherwise(bad_dim.cast("int")).alias("__baddim"),
        F.when(vec.isNull(), 0).otherwise(nonfinite.cast("int")).alias("__nonfin"),
        F.when(vec.isNull() | nonfinite, 0)
         .otherwise((norm < 1e-12).cast("int")).alias("__zero"),
        F.when(vec.isNull() | nonfinite, None)
         .otherwise(F.round(norm, 12)).alias("__norm"),
    )
    aggs = [
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum("__null").cast("long").alias("n_null"),
        F.sum("__baddim").cast("long").alias("n_bad_dim"),
        F.sum("__nonfin").cast("long").alias("n_nonfinite"),
        F.sum("__zero").cast("long").alias("n_zero_norm"),
        F.round(F.min("__norm"), 6).alias("min_norm"),
        F.round(F.max("__norm"), 6).alias("max_norm"),
        F.round(F.sum(F.col("__norm").cast("decimal(38,15)")).cast("double")
                / F.count("__norm"), 6).alias("mean_norm"),
    ]
    if group_cols:
        return rows.groupBy(*group_cols).agg(*aggs)
    return rows.agg(*aggs)


# ---------------------------------------------------------------------------
# Arrow-vectorized fold kernels
# ---------------------------------------------------------------------------
#
# A higher-order-function fold (aggregate/zip_with) is interpreted per
# element - its lambdas never enter whole-stage codegen.  These kernels run
# the fold's arithmetic - float32 widened to float64, then a strictly
# sequential accumulation over dimensions - but vectorized across ROWS in
# numpy, so every per-row operation sequence (and therefore every IEEE
# rounding step) is identical to the fold's: acc starts at 0.0 and adds one
# dimension term at a time.  The unrounded doubles therefore match a DuckDB
# ``list_reduce`` oracle bit-for-bit (rounding stays JVM-side).

def _arrow_list_parts(arr):
    """(null_mask, starts, lens, flat_float64) views of an arrow list array
    - the zero-Python-object decomposition the arrow_udf kernels gather
    from.  Element nulls surface as NaN in ``flat`` (Arrow -> float64
    materializes a null element as NaN, documented on cosine_fast)."""
    # ``ListArray.offsets`` is already slice-compensated in pyarrow >= 9
    # (verified on 16.1.0: ``arr.slice(2, 3).offsets`` returns exactly
    # n+1 entries starting at the slice, absolute into the FULL child
    # ``values`` buffer).  Do NOT re-apply ``arr.offset`` here - that
    # double-compensates and truncates the offsets for any sliced input.
    # ``values``/``is_null`` pair with these absolute offsets: ``values``
    # is the full child; ``is_null`` is per-slice.
    offs = arr.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    flat = np.asarray(
        arr.values.to_numpy(zero_copy_only=False), dtype=np.float64)
    null = arr.is_null().to_numpy(zero_copy_only=False)
    lens = offs[1:] - offs[:-1]
    return null, offs[:-1], lens, flat


def _dim_rows(arr, dim: int):
    """(idx, X): the row indices of ``arr`` holding a non-NULL vector of
    exactly ``dim`` elements, and those vectors gathered into an
    (len(idx), dim) float64 matrix with one fancy index."""
    null, starts, lens, flat = _arrow_list_parts(arr)
    idx = np.nonzero((~null) & (lens == dim))[0]
    return idx, flat[starts[idx][:, None] + np.arange(dim)]


def _argmin_sq(X, C):
    """(best_d, best_c): per row of X (n, d), the squared L2 distance to
    the nearest of the centers C (k, d) and that center's index.  Each
    distance is the sequential per-dimension fold; ties go to the lower
    center (strict < keeps the earlier one)."""
    best_d = None
    best_c = np.zeros(X.shape[0], dtype=np.int32)
    for ci in range(C.shape[0]):
        acc = np.zeros(X.shape[0])
        for i in range(C.shape[1]):
            t = X[:, i] - C[ci, i]
            acc += t * t
        if best_d is None:
            best_d = acc
        else:
            better = acc < best_d
            best_d = np.where(better, acc, best_d)
            best_c = np.where(better, np.int32(ci), best_c)
    return best_d, best_c


def cosine_fast(a: Column, b: Column) -> Column:
    """Cosine of two float arrays, bit-equal to the sequential fold
    ``dot / (sqrt(sum a*a) * sqrt(sum b*b))``, INCLUDING the fold's null
    semantics: a NULL vector, a length-mismatched pair, or a zero norm
    (double 0/0 is NULL in Spark, not NaN) all yield NULL.
    Known divergence: a NULL *element* inside a vector arrives through
    Arrow as NaN, so such rows yield NaN where the fold yields NULL -
    per-element nulls in an embedding column are data corruption
    (embedding_quality counts whole-vector defects; fix upstream).

    Both list columns decompose into (offsets, flat float64) buffers and
    each same-length row group gathers into an (m, len) matrix with ONE
    fancy index; rows never materialize as Python objects."""
    from pyspark.sql.functions import arrow_udf

    @arrow_udf("double")
    def _cos(aa, bb):
        import pyarrow as pa

        n = len(aa)
        nula, sa, la, fa = _arrow_list_parts(aa)
        nulb, sb, lb, fb = _arrow_list_parts(bb)
        out = np.zeros(n, dtype=np.float64)
        isnull = np.ones(n, dtype=bool)  # NULL vec / len mismatch / den==0
        ok = (~nula) & (~nulb) & (la == lb) & (la > 0)
        for ln in np.unique(la[ok]):
            idxs = np.nonzero(ok & (la == ln))[0]
            span = np.arange(ln)
            A = fa[sa[idxs][:, None] + span]
            B = fb[sb[idxs][:, None] + span]
            m = len(idxs)
            dot = np.zeros(m)
            na = np.zeros(m)
            nb = np.zeros(m)
            for i in range(ln):  # sequential over dims == the fold
                dot += A[:, i] * B[:, i]
                na += A[:, i] * A[:, i]
                nb += B[:, i] * B[:, i]
            den = np.sqrt(na) * np.sqrt(nb)
            nz = den != 0.0  # x/0.0 is NULL in Spark doubles - mirror it
            with np.errstate(invalid="ignore", divide="ignore"):
                out[idxs[nz]] = dot[nz] / den[nz]
            isnull[idxs[nz]] = False
        return pa.array(out, type=pa.float64(), mask=isnull)

    return _cos(a, b)


def det_assign_fast(vec: Column, centers: list[list[float]]) -> Column:
    """Argmin cell assignment: struct (d: squared distance of the winner,
    c: cell id), ties to the lower cell.  NULL vectors and dimension
    mismatches yield (d NULL, c 0).  Used by det_kmeans and for
    incremental assignment of new vectors against a FROZEN index (build
    once with det_kmeans, assign each arriving batch without refitting)."""
    from pyspark.sql.functions import arrow_udf

    C = np.asarray(centers, dtype=np.float64)
    dim = C.shape[1]

    @arrow_udf("d double, c int")
    def _assign(arr):
        import pyarrow as pa

        n = len(arr)
        out_d = np.zeros(n, dtype=np.float64)
        d_null = np.ones(n, dtype=bool)
        out_c = np.zeros(n, dtype=np.int32)
        idx, X = _dim_rows(arr, dim)
        if idx.size:
            out_d[idx], out_c[idx] = _argmin_sq(X, C)
            d_null[idx] = False
        return pa.StructArray.from_arrays(
            [pa.array(out_d, type=pa.float64(), mask=d_null),
             pa.array(out_c, type=pa.int32())], ["d", "c"])

    return _assign(vec)
