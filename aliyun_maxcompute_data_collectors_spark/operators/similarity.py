"""Similarity search over embedding columns (array<float>).

- brute-force cosine top-k: the exactness baseline - cross join bounded by a
  query subset and/or block column, all math in built-in higher-order
  functions (aggregate/zip_with - JVM side, no Python);
- LSH-bucketed ANN: random-hyperplane signatures -> candidates share a
  bucket -> exact re-rank within candidates.  The scale path: shuffle is
  keyed by bucket, candidate count ~ n/2^bits per probe.

Accumulation is sequential-left-fold in DOUBLE (F.aggregate), which a DuckDB
``list_reduce`` mirrors exactly - that is what makes cosine values
bit-comparable for the oracle.
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


def cosine_expr(a: Column, b: Column) -> Column:
    return dot_expr(a, b) / (norm_expr(a) * norm_expr(b))


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
    scored = pairs.select(
        "query_id", "neighbor_id",
        F.round(cosine_expr(F.col("qv"), F.col("cv")), 6).alias("cos"),
    )
    return topk_per_query(scored, k, salt=salt)


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN via k-means coarse quantizer
# ---------------------------------------------------------------------------

def ivf_build(
    corpus: DataFrame,
    n_clusters: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> tuple[DataFrame, list[list[float]]]:
    """Build the IVF index once: k-means partitions the corpus into
    ``n_clusters`` cells.  Returns ``(cells, centers)`` where ``cells`` is
    (neighbor_id, cv, cell) and ``centers`` the centroid list.

    At scale, WRITE ``cells`` out partitioned/bucketed by ``cell`` (and the
    centers as a tiny side table) - the fit is one distributed KMeans job
    and every subsequent query batch reuses it; re-fitting per query batch
    (what a single-call API forces) wastes the dominant cost."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    corpus_v = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"),
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("features"),
    )
    km = KMeans(k=n_clusters, seed=seed, featuresCol="features", predictionCol="cell")
    model = km.fit(corpus_v)
    cells = model.transform(corpus_v).select("neighbor_id", "cv", "cell")
    centers = [list(map(float, c)) for c in model.clusterCenters()]
    return cells, centers


def ivf_query(
    cells: DataFrame,
    centers: list[list[float]],
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Query a prebuilt IVF index: each query probes its ``n_probe``
    nearest cells (centroid scoring is a pure expression over broadcast
    literals), exact cosine re-rank within the probed cells only."""
    center_lits = [
        (ci, F.array(*[F.lit(x) for x in c])) for ci, c in enumerate(centers)
    ]

    def query_cells(vec: Column) -> Column:
        """Array of the n_probe nearest cell ids by centroid dot distance."""
        scored = F.array(*[
            F.struct(
                (-dot_expr(vec, arr)).alias("negdot"), F.lit(ci).alias("cell"),
            )
            for ci, arr in center_lits
        ])
        return F.slice(F.array_sort(scored), 1, n_probe).getField("cell")

    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"),
        F.explode(query_cells(F.col(vec_col))).alias("cell"),
    )
    cand = cells.join(F.broadcast(q), "cell").where(
        F.col("query_id") != F.col("neighbor_id"))
    scored = cand.select(
        "query_id", "neighbor_id",
        F.round(cosine_fast(F.col("qv"), F.col("cv")), 6).alias("cos"),
    ).dropDuplicates(["query_id", "neighbor_id"])
    return topk_per_query(scored, k)


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_clusters: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """IVF ANN in one call (ivf_build + ivf_query): the scale path when LSH
    recall is poor on low-structure vectors - cells follow the data
    distribution instead of random hyperplanes.  Amortizing callers should
    use ivf_build once and ivf_query per batch."""
    cells, centers = ivf_build(corpus, n_clusters, id_col, vec_col, seed)
    return ivf_query(cells, centers, queries, k, n_probe, id_col, vec_col)


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
    scored = cand.select(
        "query_id", "neighbor_id",
        F.round(cosine_expr(F.col("qv"), F.col("cv")), 6).alias("cos"),
    )
    # candidates are bucket-bounded (~n/2^bits per probe) so no salt pass
    return topk_per_query(scored, k)


# ---------------------------------------------------------------------------
# SemDeDup-style semantic deduplication
# ---------------------------------------------------------------------------

def semantic_dedup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_clusters: int = 16,
    seed: int = 42,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine, blocked through a k-means
    coarse quantizer (SemDeDup recipe: cluster, then compare only WITHIN each
    cluster).  Returns ``(id1, id2, cos)`` with ``id1 < id2``.

    Scale: pair work is sum over cells of |cell|^2 - bounded by making
    ``n_clusters`` proportional to corpus size (cells stay ~constant-sized),
    versus the |corpus|^2 of a naive cross join.  Cross-cluster near-dups at
    the cell boundary are the recall loss the paper accepts; raise recall by
    lowering n_clusters or re-running on cluster medoids.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    v = df.select(
        F.col(id_col).alias("_sd_id"), F.col(vec_col).alias("_sd_v"),
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("features"),
    )
    if n_clusters <= 1:  # brute force: one cell (Spark ML KMeans needs k>=2)
        cells = v.select("_sd_id", "_sd_v", F.lit(0).alias("cell"))
    else:
        model = KMeans(k=n_clusters, seed=seed, featuresCol="features",
                       predictionCol="cell").fit(v)
        cells = model.transform(v).select("_sd_id", "_sd_v", "cell")
    # lineage cut: the self-join below references cells twice, and the two
    # sides project differently so Spark cannot reuse the exchange - each
    # would re-run the model.transform (or re-scan) pass
    cells = cells.localCheckpoint(eager=True)
    a = cells.select(F.col("cell"), F.col("_sd_id").alias("id1"), F.col("_sd_v").alias("v1"))
    b = cells.select(F.col("cell"), F.col("_sd_id").alias("id2"), F.col("_sd_v").alias("v2"))
    return (
        a.join(b, "cell")
        .where(F.col("id1") < F.col("id2"))
        .select(
            "id1", "id2",
            F.round(cosine_fast(F.col("v1"), F.col("v2")), 6).alias("cos"),
        )
        .where(F.col("cos") >= threshold)
    )


def semantic_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_clusters: int = 16,
    seed: int = 42,
) -> DataFrame:
    """SemDeDup end-to-end: rows of ``df`` minus semantic near-duplicates.
    Duplicate groups are the transitive closure of the pair graph; the
    representative kept per group is the MIN id (deterministic)."""
    from aliyun_maxcompute_data_collectors_spark.operators.graph import connected_components

    pairs = semantic_dedup_pairs(df, id_col, vec_col, threshold, n_clusters, seed)
    comp = connected_components(pairs, "id1", "id2")
    drop = (comp.where(F.col("node") != F.col("component"))
            .select(F.col("node").alias("_drop_id")))
    return df.join(
        F.broadcast(drop) if _small(drop) else drop,
        df[id_col] == F.col("_drop_id"), "left_anti")


def _small(df: DataFrame) -> bool:
    """Near-dup drop lists are usually a small fraction of the corpus; treat
    as broadcastable unless provably huge (heuristic only - the anti-join is
    correct either way, AQE re-plans on the real size)."""
    return True


# ---------------------------------------------------------------------------
# deterministic seeded Lloyd's k-means (engine-reproducible)
# ---------------------------------------------------------------------------
#
# Spark-ML KMeans is the production fit (kmeans|| init, convergence checks),
# but its centroids depend on run internals, so queries built on it can only
# be rows-only checked.  This variant trades convergence speed for CROSS-
# ENGINE determinism, making ivf_topk / semantic_dedup hash-match a DuckDB
# oracle:
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

_KM_DEC = "decimal(38,15)"


def det_kmeans_init(dim: int, n_clusters: int, seed: int = 42,
                    scale: float = 0.1) -> list[list[float]]:
    """Seeded initial centroids, rounded to 6 decimals so they embed as
    short SQL literals bit-identically."""
    rng = np.random.default_rng(seed)
    return [[round(float(x), 6) for x in row]
            for row in rng.standard_normal((n_clusters, dim)) * scale]


def _sq_dist_expr(vec: Column, center: list[float]) -> Column:
    lits = F.array(*[F.lit(float(x)) for x in center])
    return F.aggregate(
        F.zip_with(vec, lits,
                   lambda x, c: (x.cast("double") - c) * (x.cast("double") - c)),
        F.lit(0.0), lambda acc, x: acc + x)


def det_kmeans_assign_expr(vec: Column, centers: list[list[float]]) -> Column:
    """Cell id = argmin squared distance, tie -> lower cell (struct sort on
    (dist, cell) - same ordering a ROW_NUMBER() OVER (ORDER BY d, cell)
    oracle uses).  Thin view over det_kmeans_assign_best so there is ONE
    copy of the argmin expression to keep bit-identical."""
    return det_kmeans_assign_best(vec, centers)["c"]


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
    """Deterministic Lloyd's: returns (cells, centers) like ivf_build, with
    cells = (neighbor_id, cv, cell) under the final centers.

    ``centers`` (r7) skips the fit entirely and assigns under the given
    centroids - the train-once/assign-many reuse path (a session-cached
    or persisted index).  The fit's dirty-input validation ran when those
    centers were produced; assignment alone tolerates what the fold
    tolerates (NULL/ragged -> cell 0 with NULL distance)."""
    if centers is not None:
        src = df.select(F.col(id_col).alias("neighbor_id"),
                        F.col(vec_col).alias("cv"))
        cells = src.select(
            "neighbor_id", "cv",
            det_assign_fast(F.col("cv"), centers)["c"].alias("cell"))
        return cells, centers
    centers = det_kmeans_init(dim, n_clusters, seed)
    # (id, vec) projection shared by every Lloyd's iteration and the final
    # assignment; kept lazy - measured at sf0.1, an eager localCheckpoint
    # here costs more than the repeated two-column parquet scan it saves
    # (column pruning makes the re-scan cheap; the per-iteration UDF pass
    # is inherent either way)
    src = df.select(F.col(id_col).alias("neighbor_id"),
                    F.col(vec_col).alias("cv"))
    vec = F.col("cv")
    for _ in range(n_iter):
        a = src.select(vec.alias("__v"),
                       det_assign_fast(vec, centers)["c"].alias("cell"))
        # per-dimension decimal sums via posexplode + ONE decimal sum keyed
        # by (cell, pos) rather than `dim` wide aggregate columns: on clean
        # fixed-dim input the sums are bit-identical (decimal addition is
        # exact and order-free either way) and the narrow form measured
        # 2.7x faster at sf0.1 (0.69s vs 1.87s warm) - `dim` compiled
        # decimal agg expressions cost more in codegen than one generic
        # loop.  Scale shape is unchanged: the explode pipelines into the
        # hash aggregate's map-side combine, so only k*dim partial rows
        # per partition reach the shuffle.
        # Input contract (ADVICE r5): every vector must be non-NULL with
        # exactly `dim` elements - anything else raises ValueError rather
        # than silently skewing centroids.  posexplode_OUTER keeps NULL /
        # empty vectors visible as a (pos=NULL) aggregate row, so the
        # validation rides the same job as the centroid sums (no extra
        # pre-scan pass at 100 TB).
        ex = a.select("cell", F.posexplode_outer("__v").alias("pos", "x"))
        g = (ex.groupBy("cell", "pos")
             .agg(F.sum(F.col("x").cast("double").cast(_KM_DEC)).alias("s"),
                  F.count(F.lit(1)).alias("n"))
             .collect())
        stats: dict[int, dict] = {}
        for r in g:
            if r["pos"] is None:
                # posexplode_outer emits (pos NULL, x NULL) for NULL and
                # empty arrays - those rows have no per-dimension value and
                # the old wide form silently counted them in the denominator
                raise ValueError(
                    f"det_kmeans: {r['n']} NULL or empty vector(s) "
                    f"(cell {r['cell']}); fixed dim={dim} input is "
                    "required - audit with embedding_quality first")
            d = stats.setdefault(r["cell"], {"n": r["n"], "s": {}})
            d["s"][r["pos"]] = r["s"]
            if r["n"] != d["n"] or r["pos"] >= dim:
                # per-pos counts unequal (or extra positions) = ragged
                # vectors; the wide form would silently divide by the row
                # count while the oracle's COUNT(*) diverges - fail loudly
                # instead (audit inputs with embedding_quality first)
                raise ValueError(
                    f"det_kmeans: ragged vectors in cell {r['cell']} "
                    f"(pos {r['pos']}: {r['n']} vs {d['n']} rows); fixed "
                    f"dim={dim} input is required")
        for ci, d in stats.items():
            # uniformly-short vectors pass the per-row checks (equal counts,
            # every pos < dim) but leave positions missing - verify each
            # cell saw exactly positions 0..dim-1 (ADVICE r5: this used to
            # escape as a raw KeyError below)
            if len(d["s"]) != dim:
                missing = sorted(set(range(dim)) - set(d["s"]))[:3]
                raise ValueError(
                    f"det_kmeans: ragged vectors in cell {ci} (positions "
                    f"{missing}... absent, got {len(d['s'])} of dim={dim}); "
                    "fixed-dim input is required")
        centers = [
            [float(stats[ci]["s"][i]) / stats[ci]["n"] for i in range(dim)]
            if ci in stats else centers[ci]
            for ci in range(n_clusters)]
    cells = src.select(
        "neighbor_id", "cv", det_assign_fast(vec, centers)["c"].alias("cell"))
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
    """ivf_topk on the deterministic quantizer - identical plan shape
    (probe n_probe cells by centroid dot, exact re-rank within cells), but
    every number is reproducible in a second engine.  ``centers`` reuses a
    trained quantizer (skips the fit - the production index shape)."""
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
    """semantic_dedup (SemDeDup: cluster-blocked cosine pairs -> transitive
    closure -> keep min-id representative) on the deterministic quantizer.
    ``centers`` reuses a trained quantizer (skips the fit)."""
    from aliyun_maxcompute_data_collectors_spark.operators.graph import connected_components

    cells, _ = det_kmeans(df, id_col, vec_col, dim, n_clusters, n_iter, seed,
                          centers=centers)
    # both sides of the within-cell self-join reference cells; without a
    # lineage cut each side re-runs the full assignment pass (the dominant
    # cost) - identical to the signature checkpoint in minhash_lsh_pairs
    cells = cells.localCheckpoint(eager=True)
    a = cells.select("cell", F.col("neighbor_id").alias("id1"),
                     F.col("cv").alias("v1"))
    b = cells.select("cell", F.col("neighbor_id").alias("id2"),
                     F.col("cv").alias("v2"))
    pairs = (
        a.join(b, "cell")
        .where(F.col("id1") < F.col("id2"))
        .select("id1", "id2",
                F.round(cosine_fast(F.col("v1"), F.col("v2")), 6).alias("cos"))
        .where(F.col("cos") >= threshold))
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


def det_kmeans_assign_best(vec: Column, centers: list[list[float]]) -> Column:
    """Struct (d: squared distance, c: cell) of the argmin assignment -
    select ``["c"]`` / ``["d"]`` off it.  Used for incremental assignment
    of new vectors against a FROZEN index (build once with det_kmeans /
    ivf_build, assign each arriving batch without refitting)."""
    scored = F.array(*[
        F.struct(_sq_dist_expr(vec, c).alias("d"), F.lit(ci).alias("c"))
        for ci, c in enumerate(centers)])
    return F.array_sort(scored)[0]


# ---------------------------------------------------------------------------
# Arrow-vectorized fold kernels (bit-identical to the HOF expressions)
# ---------------------------------------------------------------------------
#
# The aggregate/zip_with folds above are interpreted per element (HOF
# lambdas never enter whole-stage codegen) - measured ~2ms/row for an
# 8-center x 64-dim assignment.  These kernels run the SAME arithmetic -
# float32 widened to float64, then a strictly sequential accumulation over
# dimensions - but vectorized across ROWS in numpy, so every per-row
# operation sequence (and therefore every IEEE rounding step) is identical
# to the fold's: acc starts at 0.0 and adds one dimension term at a time.
# That makes them drop-in replacements for oracle-checked queries: the
# unrounded doubles match the JVM fold bit-for-bit (rounding stays
# JVM-side).  ~20x faster on the det-kmeans query family at sf0.1.

import pandas as _pd  # noqa: E402  (kept local to avoid top-level rename)


def _arrow_list_parts(arr):
    """(null_mask, starts, lens, flat_float64) views of an arrow list array
    - the zero-Python-object decomposition the arrow_udf kernels gather
    from.  Element nulls surface as NaN in ``flat`` (the same artifact the
    pandas path had: Arrow -> float64 materializes a null element as NaN,
    documented on cosine_fast)."""
    # ``ListArray.offsets`` is already slice-compensated in pyarrow >= 9
    # (verified on 16.1.0: ``arr.slice(2, 3).offsets`` returns exactly
    # n+1 entries starting at the slice, absolute into the FULL child
    # ``values`` buffer).  Do NOT re-apply ``arr.offset`` here - that
    # double-compensates and truncates the offsets for any sliced input
    # (ADVICE r6).  ``values``/``is_null`` pair with these absolute
    # offsets: ``values`` is the full child; ``is_null`` is per-slice.
    offs = arr.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    flat = np.asarray(
        arr.values.to_numpy(zero_copy_only=False), dtype=np.float64)
    null = arr.is_null().to_numpy(zero_copy_only=False)
    lens = offs[1:] - offs[:-1]
    return null, offs[:-1], lens, flat


def cosine_fast(a: Column, b: Column) -> Column:
    """Vectorized cosine, bit-equal to cosine_expr (unrounded) INCLUDING
    the fold's null semantics: a NULL vector, a length-mismatched pair,
    or a zero norm (double 0/0 is NULL in Spark, not NaN) all yield NULL.
    Known divergence: a NULL *element* inside a vector arrives through
    Arrow as NaN, so such rows yield NaN here where the fold yields NULL
    - per-element nulls in an embedding column are data corruption
    (embedding_quality counts whole-vector defects; fix upstream).

    Round 6: arrow_udf - rows never materialize as Python objects.  Both
    list columns decompose into (offsets, flat float64) buffers and each
    same-length row group gathers into an (m, len) matrix with ONE fancy
    index; the per-dimension accumulation loop is unchanged, so every IEEE
    rounding step still matches the JVM fold bit-for-bit.  The pair-join
    consumers (semantic_dedup, cosine top-k) spend their time here - at
    sf0.1 semantic_dedup evaluates ~2M candidate pairs per run."""
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
    """Vectorized argmin cell assignment, bit-equal to
    det_kmeans_assign_best: returns struct (d: squared distance of the
    winner, c: cell id), ties to the lower cell (strict < keeps the
    earlier center, exactly the struct-sort order).  NULL vectors and
    dimension mismatches reproduce the fold's outcome: (d NULL, c 0).

    Round 6: arrow_udf - the batch gathers into an (m, dim) float64 matrix
    straight from the arrow buffers (no per-row Python objects); the
    center/dimension accumulation loops are unchanged, so the winning
    distances stay bit-identical to the fold."""
    from pyspark.sql.functions import arrow_udf

    C = np.asarray(centers, dtype=np.float64)
    dim = C.shape[1]

    @arrow_udf("d double, c int")
    def _assign(arr):
        import pyarrow as pa

        n = len(arr)
        null, starts, lens, flat = _arrow_list_parts(arr)
        out_d = np.zeros(n, dtype=np.float64)
        d_null = np.ones(n, dtype=bool)
        out_c = np.zeros(n, dtype=np.int32)
        idx = np.nonzero((~null) & (lens == dim))[0]
        if idx.size:
            X = flat[starts[idx][:, None] + np.arange(dim)]
            m = idx.size
            best_d = None
            best_c = np.zeros(m, dtype=np.int32)
            for ci in range(C.shape[0]):
                acc = np.zeros(m)
                for i in range(dim):
                    t = X[:, i] - C[ci, i]
                    acc += t * t
                if best_d is None:
                    best_d = acc
                else:
                    better = acc < best_d
                    best_d = np.where(better, acc, best_d)
                    best_c = np.where(better, np.int32(ci), best_c)
            out_d[idx] = best_d
            d_null[idx] = False
            out_c[idx] = best_c
        return pa.StructArray.from_arrays(
            [pa.array(out_d, type=pa.float64(), mask=d_null),
             pa.array(out_c, type=pa.int32())], ["d", "c"])

    return _assign(vec)
