"""Training-data-pipeline queries (dedup / similarity / text analysis /
multimodal plumbing) for the driver registry.

Oracles are *generated from the same constants* as the Spark implementations
(minhash permutations, language markers, stopwords) so the two sides cannot
drift.  SimHash and LSH-ANN are genuinely non-SQL-expressible; they ship
without oracles (driver records rows-only checks) and get pytest parity
tests against pure-Python references instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aliyun_maxcompute_data_collectors_spark.operators import dedup as D
from aliyun_maxcompute_data_collectors_spark.operators import text as X
from aliyun_maxcompute_data_collectors_spark.operators.similarity import cosine_topk, lsh_topk
from aliyun_maxcompute_data_collectors_spark.session import ensure_parallelism, load_tables

# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------

def text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    c = F.col("text")
    return (
        ensure_parallelism(t["documents"])  # regex-heavy per-row compute
        .select(
            "doc_id",
            X.token_count(c).alias("n_tokens"),
            X.bpe_ish_token_count(c).alias("n_bpe_tokens"),
            F.round(X.punct_ratio(c), 4).alias("punct_ratio"),
            F.round(X.stopword_ratio(c), 4).alias("stopword_ratio"),
            F.round(X.mean_word_length(c), 4).alias("mean_word_len"),
            X.quality_score(c).alias("quality"),
        )
    )


def _sw_pattern() -> str:
    return r"\b(" + "|".join(X.STOPWORDS) + r")\b"


def _text_profile_sql() -> str:
    ntok = "len(string_split_regex(trim(text), '\\s+'))"
    nbpe = "len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]'))"
    npunct = "length(regexp_replace(text, '[^.,!?;:]', '', 'g'))"
    sw_hits = f"len(regexp_extract_all(lower(text), '{_sw_pattern()}'))"
    nonspace = "length(regexp_replace(text, '\\s+', '', 'g'))"
    sw_ratio = f"(CASE WHEN {ntok} > 0 THEN CAST({sw_hits} AS DOUBLE) / {ntok} ELSE 0.0 END)"
    mwl = f"(CASE WHEN {ntok} > 0 THEN CAST({nonspace} AS DOUBLE) / {ntok} ELSE 0.0 END)"
    len_ok = f"(CASE WHEN {ntok} >= 10 AND {ntok} <= 100000 THEN 1.0 ELSE 0.0 END)"
    sw_ok = f"(CASE WHEN {sw_ratio} > 0.0 AND {sw_ratio} < 0.7 THEN 1.0 ELSE 0.0 END)"
    mwl_ok = f"(CASE WHEN {mwl} >= 2.0 AND {mwl} <= 12.0 THEN 1.0 ELSE 0.0 END)"
    return f"""
SELECT doc_id,
  {ntok} AS n_tokens,
  {nbpe} AS n_bpe_tokens,
  ROUND(CASE WHEN length(text) > 0 THEN CAST({npunct} AS DOUBLE)/length(text) ELSE 0.0 END, 4) AS punct_ratio,
  ROUND({sw_ratio}, 4) AS stopword_ratio,
  ROUND({mwl}, 4) AS mean_word_len,
  ROUND(({len_ok} + {sw_ok} + {mwl_ok}) / 3.0, 4) AS quality
FROM documents ORDER BY doc_id
"""


def lang_id_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    return (
        t["documents"]
        .select("doc_id", "lang", X.lang_id("text").alias("pred_lang"))
    )


def _lang_id_sql() -> str:
    return f"SELECT doc_id, lang, {X.lang_id_sql('text')} AS pred_lang FROM documents ORDER BY doc_id"


def lang_quality_calibrated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language quality calibration summary: each signal judged against
    its own language's distribution (z-band), not a global threshold."""
    t = load_tables(spark, sf_dir, ["documents"])
    cal = X.calibrated_quality(ensure_parallelism(t["documents"]), "text")
    return (
        cal.groupBy(F.col("cal_lang").alias("pred_lang"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("n_ok") == 3, 1).otherwise(0)).alias("n_typical"),
            F.sum(F.when(F.col("n_ok") == 2, 1).otherwise(0)).alias("n_marginal"),
            F.sum(F.when(F.col("n_ok") <= 1, 1).otherwise(0)).alias("n_outlier"),
            F.round(F.sum("n_ok") / (F.lit(3.0) * F.count(F.lit(1))), 4).alias("cal_mean"),
        )
        .orderBy("pred_lang")
    )


def _lang_cal_sql(z_cut: float = 2.0) -> str:
    """Oracle for ``lang_quality_calibrated`` — same signals, same exact
    decimal moments, same double formulas as operators/text.calibrated_quality."""
    ntok = "len(string_split_regex(trim(text), '\\s+'))"
    sw_hits = f"len(regexp_extract_all(lower(text), '{_sw_pattern()}'))"
    nonspace = "length(regexp_replace(text, '\\s+', '', 'g'))"
    sw_ratio = f"(CASE WHEN {ntok} > 0 THEN CAST({sw_hits} AS DOUBLE) / {ntok} ELSE 0.0 END)"
    mwl = f"(CASE WHEN {ntok} > 0 THEN CAST({nonspace} AS DOUBLE) / {ntok} ELSE 0.0 END)"
    oks = []
    for k in X.CAL_SIGNALS:
        mean = f"(CAST(sum_{k} AS DOUBLE) / n_lang)"
        var = (f"(CASE WHEN n_lang > 1 THEN GREATEST((CAST(ssq_{k} AS DOUBLE)"
               f" - CAST(sum_{k} AS DOUBLE) * CAST(sum_{k} AS DOUBLE) / n_lang)"
               f" / (n_lang - 1), 0.0) ELSE 0.0 END)")
        sd = f"sqrt({var})"
        oks.append(f"(CASE WHEN {sd} = 0.0 OR ABS(CAST(sig_{k} AS DOUBLE) - {mean})"
                   f" <= {z_cut} * {sd} THEN 1 ELSE 0 END)")
    return f"""
WITH sig AS (
  SELECT {X.lang_id_sql('text')} AS cal_lang,
         CAST(ROUND({sw_ratio}, 4) AS DECIMAL(14,4)) AS sig_sw,
         CAST(ROUND({mwl}, 4) AS DECIMAL(14,4)) AS sig_mwl,
         CAST({ntok} AS DECIMAL(14,4)) AS sig_ntok
  FROM documents),
stats AS (
  SELECT cal_lang, COUNT(*) AS n_lang,
         SUM(sig_sw) AS sum_sw, SUM(sig_sw * sig_sw) AS ssq_sw,
         SUM(sig_mwl) AS sum_mwl, SUM(sig_mwl * sig_mwl) AS ssq_mwl,
         SUM(sig_ntok) AS sum_ntok, SUM(sig_ntok * sig_ntok) AS ssq_ntok
  FROM sig GROUP BY cal_lang),
scored AS (
  SELECT sig.cal_lang, {oks[0]} + {oks[1]} + {oks[2]} AS n_ok
  FROM sig JOIN stats USING (cal_lang))
SELECT cal_lang AS pred_lang, COUNT(*) AS n_docs,
  CAST(SUM(CASE WHEN n_ok = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_typical,
  CAST(SUM(CASE WHEN n_ok = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_marginal,
  CAST(SUM(CASE WHEN n_ok <= 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_outlier,
  ROUND(CAST(SUM(n_ok) AS BIGINT) / (3.0 * COUNT(*)), 4) AS cal_mean
FROM scored GROUP BY cal_lang ORDER BY pred_lang
"""


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    return (
        t["documents"]
        .select("doc_id", X.fingerprint("text").alias("fp"))
    )


_FP_SQL = """
SELECT doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
FROM documents ORDER BY doc_id
"""


def doc_rolling_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive rolling-hash fingerprints (text.rolling_fingerprint)."""
    t = load_tables(spark, sf_dir, ["documents"])
    return (
        ensure_parallelism(t["documents"])
        .select("doc_id", X.rolling_fingerprint("text").alias("rfp"))
    )


_ROLLING_FP_SQL = f"""
SELECT doc_id,
  list_reduce(
    list_prepend(CAST(0 AS BIGINT),
      list_transform(
        string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '),
        w -> CAST(('0x' || substr(md5(w), 1, 8)) AS BIGINT))),
    (a, h) -> (a * {X.ROLL_B} + h) % {X.ROLL_M}) AS rfp
FROM documents ORDER BY doc_id
"""


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level exact-dedup summary (hash-groupBy, one shuffle)."""
    t = load_tables(spark, sf_dir, ["documents"])
    g = D.exact_dedup_groups(t["documents"], "doc_id", "text")
    return g.agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum("n_members").alias("n_docs"),
        F.sum(F.when(F.col("n_members") > 1, 1).otherwise(0)).alias("n_dup_groups"),
        F.min("keep_id").alias("min_keep_id"),
    )


_DEDUP_EXACT_SQL = """
SELECT COUNT(*) AS n_groups, CAST(SUM(n) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_groups,
       MIN(keep_id) AS min_keep_id
FROM (
  SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
         MIN(doc_id) AS keep_id, COUNT(*) AS n
  FROM documents GROUP BY 1
)
"""


# shared SQL fragment: distinct word-5-shingles per doc
def _shingle_cte(n: int = 5) -> str:
    return f"""
shingles AS (
  SELECT DISTINCT id, shingle FROM (
    SELECT id, unnest(CASE WHEN len(w) >= {n}
      THEN list_transform(range(1, len(w)-{n}+2), i -> array_to_string(w[i:i+{n - 1}], ' '))
      ELSE [array_to_string(w, ' ')] END) AS shingle
    FROM (SELECT doc_id AS id,
                 string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS w
          FROM documents)
  )
)"""


def ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    return (
        D.ngram_jaccard_pairs(t["documents"], "doc_id", "text", n=5, threshold=0.8)
    )


_JACCARD_SQL = f"""
WITH {_shingle_cte(5)},
counts AS (SELECT id, COUNT(*) AS n_sh FROM shingles GROUP BY id),
inter AS (
  SELECT a.id AS id1, b.id AS id2, COUNT(*) AS i
  FROM shingles a JOIN shingles b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY 1, 2)
SELECT id1, id2, ROUND(CAST(i AS DOUBLE) / (c1.n_sh + c2.n_sh - i), 4) AS jaccard
FROM inter JOIN counts c1 ON c1.id = id1 JOIN counts c2 ON c2.id = id2
WHERE ROUND(CAST(i AS DOUBLE) / (c1.n_sh + c2.n_sh - i), 4) >= 0.8
ORDER BY id1, id2
"""


def minhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    return (
        D.minhash_signature(t["documents"], "doc_id", "text", k=D.DEFAULT_K)
    )


def _minhash_sql(k: int = D.DEFAULT_K) -> str:
    shingles, mins = D.minhash_sql_parts("text", k=k, n=5)
    return f"""
WITH _src AS (SELECT doc_id AS id, text FROM documents),
sh AS ({shingles})
SELECT id, {", ".join(mins)}
FROM sh GROUP BY id ORDER BY id
"""


def minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    return (
        D.minhash_lsh_pairs(t["documents"], "doc_id", "text",
                            k=D.DEFAULT_K, bands=D.DEFAULT_BANDS, threshold=0.8)
    )


def _minhash_lsh_sql(k: int = D.DEFAULT_K, bands: int = D.DEFAULT_BANDS,
                     threshold: float = 0.8,
                     max_bucket: int = D.DEFAULT_MAX_BUCKET) -> str:
    rows = k // bands
    shingles, mins = D.minhash_sql_parts("text", k=k, n=5)
    band_selects = []
    for bi in range(bands):
        cols = ", ".join(f"sig_{bi * rows + r}" for r in range(rows))
        band_selects.append(
            f"SELECT id, {', '.join(f'sig_{i}' for i in range(k))}, "
            f"{bi} AS band, md5(concat_ws(',', {cols})) AS bucket FROM sig"
        )
    return f"""
WITH _src AS (SELECT doc_id AS id, text FROM documents),
sh AS ({shingles}),
sig AS (SELECT id, {", ".join(mins)} FROM sh GROUP BY id),
bands_all AS (
  {" UNION ALL ".join(band_selects)}
),
bands AS (
  -- mirror of the engine's default max_bucket cap: (band,bucket) families
  -- above the cap are dropped before pairing
  SELECT * FROM (
    SELECT *, COUNT(*) OVER (PARTITION BY band, bucket) AS __bn
    FROM bands_all) WHERE __bn <= {max_bucket}
),
cand AS (
  SELECT DISTINCT a.id AS id1, b.id AS id2,
    {", ".join(f"a.sig_{i} AS a{i}, b.sig_{i} AS b{i}" for i in range(k))}
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
)
SELECT id1, id2, ROUND(({" + ".join(f"(CASE WHEN a{i} = b{i} THEN 1 ELSE 0 END)" for i in range(k))}) / {float(k)}, 4) AS sig_sim
FROM cand
WHERE ROUND(({" + ".join(f"(CASE WHEN a{i} = b{i} THEN 1 ELSE 0 END)" for i in range(k))}) / {float(k)}, 4) >= {threshold}
ORDER BY id1, id2
"""


def _dedup_transitive_sql() -> str:
    """Oracle for transitive dedup groups: the minhash-LSH pair query (same
    SQL the `minhash_lsh` oracle uses) feeds a recursive transitive closure;
    each doc's group is MIN(reachable doc_id), singletons reach only
    themselves.  UNION (not UNION ALL) in the recursive step is the fixpoint
    terminator."""
    return f"""
WITH RECURSIVE pairs AS (
  SELECT id1, id2 FROM ({_minhash_lsh_sql()}) t
),
edges AS (
  SELECT id1 AS a, id2 AS b FROM pairs
  UNION
  SELECT id2 AS a, id1 AS b FROM pairs
),
reach AS (
  SELECT doc_id AS src, doc_id AS dst FROM documents
  UNION
  SELECT r.src, e.b AS dst FROM reach r JOIN edges e ON r.dst = e.a
),
comp AS (SELECT src AS doc_id, MIN(dst) AS group_id FROM reach GROUP BY src)
SELECT group_id, CAST(COUNT(*) AS BIGINT) AS n_members
FROM comp GROUP BY group_id ORDER BY group_id
"""


def simhash_sig(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash chunk-blocked near-dup pairs.  Oracle-checked: DuckDB
    recomputes the signatures with UBIGINT bit ops (same md5-first-8-bytes
    token hashes, per-bit sign votes, two's-complement reassembly) and
    verifies ALL pairs by bit_count(xor) - the blocking is pigeonhole-exact,
    so the blocked Spark plan and the brute-force oracle must agree
    exactly."""
    t = load_tables(spark, sf_dir, ["documents"])
    return (
        D.simhash_dup_pairs(t["documents"], "doc_id", "text", max_hamming=12)
    )


def _simhash64_sql(max_hamming: int = 12) -> str:
    """All-pairs oracle for ``simhash_sig``: exact 64-bit SimHash in SQL.

    Signature reassembly emits a signed BIGINT directly (bits 0..62 as
    powers of two, bit 63 as -2^63) so no unsigned->signed cast can
    overflow; xor/bit_count operate on the identical two's-complement bit
    pattern in both engines.

    Documented precondition (same class as the interp_gapfill NULL-anchor
    rule in SCALE.md): the Spark-side pandas UDF tokenizes with Python
    ``str.split()`` (all Unicode whitespace) while this oracle uses the
    regex ``\\s+`` class - texts whose only separators are exotic
    whitespace (vertical tab, unicode spaces) would tokenize differently.
    The synthetic corpus is space-separated only (verified: zero such
    rows at every SF), so the oracle is exact on the driver's data."""
    votes = ", ".join(
        f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(64))
    bits_lo = " + ".join(
        f"(CASE WHEN v{b} > 0 THEN CAST({1 << b} AS BIGINT) ELSE 0 END)"
        for b in range(63))
    signed = (f"({bits_lo}) + (CASE WHEN v63 > 0 THEN "
              f"CAST(-9223372036854775808 AS BIGINT) ELSE 0 END)")
    return f"""
WITH src AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
tok AS (
  SELECT doc_id, {_NORM_TOKS} AS w
  FROM src WHERE trim(text) <> ''),
h AS (SELECT doc_id, CAST(('0x' || substr(md5(w), 1, 16)) AS UBIGINT) AS h FROM tok),
v AS (SELECT doc_id, {votes} FROM h GROUP BY doc_id),
sig AS (
  SELECT doc_id, {signed} AS sh FROM v
  UNION ALL
  SELECT doc_id, CAST(0 AS BIGINT) AS sh FROM src WHERE trim(text) = '')
SELECT a.doc_id AS id1, b.doc_id AS id2,
       CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.sh, b.sh)) <= {max_hamming}
"""


def simhash32_sig(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash signatures — the oracle-checkable SimHash: pure
    built-in expressions on both sides (operators/dedup.simhash32)."""
    t = load_tables(spark, sf_dir, ["documents"])
    return (
        ensure_parallelism(t["documents"])
        .select("doc_id", D.simhash32("text").alias("sh32"))
    )


_SIMHASH32_SQL = f"""
WITH tok AS (
  SELECT doc_id,
         unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS w
  FROM documents),
th AS (SELECT doc_id, CAST(('0x' || substr(md5(w), 1, 8)) AS BIGINT) AS h FROM tok),
votes AS (
  SELECT doc_id, bb.b AS b, SUM(2 * ((h >> bb.b) & 1) - 1) AS v
  FROM th CROSS JOIN (SELECT unnest(range({D.SIMHASH32_BITS})) AS b) bb
  GROUP BY doc_id, bb.b)
SELECT doc_id,
       CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS sh32
FROM votes GROUP BY doc_id ORDER BY doc_id
"""


def dedup_transitive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive dedup groups: minhash pairs -> connected components ->
    one representative per group.  Spark side is iterative min-label
    propagation (operators/graph.py); the oracle expresses the SAME
    fixpoint as a DuckDB recursive CTE (transitive closure, then
    MIN(reachable) per node) - tractable at oracle scale because dedup
    clusters are tiny."""
    from aliyun_maxcompute_data_collectors_spark.operators.graph import dedup_groups_transitive
    t = load_tables(spark, sf_dir, ["documents"])
    docs = t["documents"]
    pairs = D.minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.8)
    grouped = dedup_groups_transitive(docs.select("doc_id"), pairs, "doc_id")
    return (
        grouped.groupBy("group_id")
        .agg(F.count(F.lit(1)).alias("n_members"))
    )


def ivf_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-5 on the deterministic seeded-Lloyd's quantizer
    (similarity.det_kmeans): seeded-literal init, fixed iterations,
    decimal-exact centroid sums, argmin ties to the lower cell - every
    number reproducible in DuckDB, so this query is hash-match
    oracle-checked (upgraded from rows-only in round 4).  It is the
    package's only k-means fit."""
    from aliyun_maxcompute_data_collectors_spark.operators.similarity import det_ivf_topk
    t = load_tables(spark, sf_dir, ["embeddings"])
    e = t["embeddings"]
    return det_ivf_topk(e.where(F.col("vec_id") < 8), e, dim=64, k=5,
                        n_clusters=8, n_probe=4, n_iter=2,
                        centers=_coarse_centers(spark, sf_dir)) \
        .orderBy("query_id", "rank")


# ---------------------------------------------------------------------------
# deterministic-Lloyd's SQL mirror (shared by ivf_topk / semantic_dedup)
# ---------------------------------------------------------------------------

def _cos_sql2(av: str, bv: str) -> str:
    """Generic cosine fragment (same fold shape as _COS, parametrized)."""
    return (
        f"list_reduce(list_transform(list_zip({av}, {bv}),"
        " x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (s, x) -> s + x)"
        f" / (sqrt(list_reduce(list_transform({av}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (s, x) -> s + x))"
        f" * sqrt(list_reduce(list_transform({bv}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (s, x) -> s + x)))"
    )


def _km_dist_sql(ev: str, cv: str) -> str:
    """Squared L2 between a FLOAT[] and a DOUBLE[] - the same sequential
    fold the similarity._argmin_sq kernel runs, so distances are
    IEEE-identical."""
    return (
        f"list_reduce(list_transform(list_zip({ev}, {cv}),"
        " x -> (CAST(x[1] AS DOUBLE) - x[2]) * (CAST(x[1] AS DOUBLE) - x[2])),"
        " (s, x) -> s + x)"
    )


def _km_dot_sql(ev: str, cv: str) -> str:
    return (
        f"list_reduce(list_transform(list_zip({ev}, {cv}),"
        " x -> CAST(x[1] AS DOUBLE) * x[2]), (s, x) -> s + x)"
    )


def _det_kmeans_cte(dim: int = 64, k: int = 8, n_iter: int = 2,
                    seed: int = 42, where: str = "") -> str:
    """CTE chain mirroring similarity.det_kmeans: k0 = seeded literals,
    a{i}/s{i}/k{i+1} = assignment / decimal-exact sums / mean update per
    iteration (empty cells keep the previous centroid), af = final
    assignment.  Ends with the final-centers CTE named kf.  ``where``
    restricts the fit corpus (frozen-index / incremental-assign oracles)."""
    from aliyun_maxcompute_data_collectors_spark.operators.similarity import det_kmeans_init
    init = det_kmeans_init(dim, k, seed)
    vals = ", ".join(
        f"({ci}, CAST([{', '.join(repr(x) for x in c)}] AS DOUBLE[]))"
        for ci, c in enumerate(init))
    parts = [
        f"e AS (SELECT vec_id, embedding FROM embeddings{where})",
        f"k0 AS (SELECT * FROM (VALUES {vals}) AS t(cell, c))",
    ]
    for it in range(n_iter):
        dist = _km_dist_sql("e.embedding", f"k{it}.c")
        parts.append(f"""a{it} AS (
  SELECT vec_id, embedding, cell FROM (
    SELECT e.vec_id, e.embedding, k{it}.cell,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY {dist}, k{it}.cell) AS rn
    FROM e CROSS JOIN k{it}) WHERE rn = 1)""")
        sums = ", ".join(
            f"SUM(CAST(CAST(embedding[{i + 1}] AS DOUBLE) AS DECIMAL(38,15))) AS s{i}"
            for i in range(dim))
        parts.append(
            f"s{it} AS (SELECT cell, COUNT(*) AS n, {sums} FROM a{it} GROUP BY cell)")
        means = ", ".join(f"CAST(s{it}.s{i} AS DOUBLE) / s{it}.n"
                          for i in range(dim))
        parts.append(f"""k{it + 1} AS (
  SELECT k{it}.cell, CASE WHEN s{it}.n IS NULL THEN k{it}.c ELSE [{means}] END AS c
  FROM k{it} LEFT JOIN s{it} USING (cell))""")
    distf = _km_dist_sql("e.embedding", "kf.c")
    parts.append(f"kf AS (SELECT * FROM k{n_iter})")
    parts.append(f"""af AS (
  SELECT vec_id, embedding, cell FROM (
    SELECT e.vec_id, e.embedding, kf.cell,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY {distf}, kf.cell) AS rn
    FROM e CROSS JOIN kf) WHERE rn = 1)""")
    return ",\n".join(parts)


def _ivf_topk_sql(dim: int = 64, k: int = 8, n_iter: int = 2,
                  n_probe: int = 4, topk: int = 5) -> str:
    negdot = f"-({_km_dot_sql('q.embedding', 'kf.c')})"
    cos = _cos_sql2("p.qv", "a.embedding")
    return f"""
WITH {_det_kmeans_cte(dim, k, n_iter)},
probes AS (
  SELECT query_id, qv, cell FROM (
    SELECT q.vec_id AS query_id, q.embedding AS qv, kf.cell,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY {negdot}, kf.cell) AS rn
    FROM (SELECT * FROM e WHERE vec_id < 8) q CROSS JOIN kf) WHERE rn <= {n_probe}),
scored AS (
  SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id, ROUND({cos}, 6) AS cos
  FROM probes p JOIN af a USING (cell)
  WHERE a.vec_id <> p.query_id),
ranked AS (
  SELECT query_id, neighbor_id, cos,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
  FROM scored)
SELECT query_id, neighbor_id, cos, rank FROM ranked WHERE rank <= {topk}
ORDER BY query_id, rank
"""


def ivf_assign_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental assignment against a FROZEN IVF index: centers fit once
    on the historical corpus (vec_id < 400, deterministic Lloyd's), each
    new vector (vec_id >= 400) assigned to its nearest cell without a
    refit - the arriving-batch half of the build-once/assign-many ANN
    maintenance cycle."""
    from aliyun_maxcompute_data_collectors_spark.operators.similarity import (
        det_assign_fast, det_kmeans)
    t = load_tables(spark, sf_dir, ["embeddings"])
    e = t["embeddings"]
    _, centers = det_kmeans(e.where(F.col("vec_id") < 400), "vec_id",
                            "embedding", dim=64, n_clusters=8, n_iter=2)
    best = det_assign_fast(F.col("embedding"), centers)
    return (
        e.where(F.col("vec_id") >= 400)
        .select("vec_id", best.alias("__b"))
        .select("vec_id", F.col("__b")["c"].alias("cell"),
                F.round(F.col("__b")["d"], 6).alias("dist"))
        .orderBy("vec_id"))


def _ivf_assign_sql(dim: int = 64, k: int = 8, n_iter: int = 2,
                    split: int = 400) -> str:
    dist = _km_dist_sql("n.embedding", "kf.c")
    return f"""
WITH {_det_kmeans_cte(dim, k, n_iter, where=f" WHERE vec_id < {split}")},
newv AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= {split}),
a AS (
  SELECT vec_id, cell, dist FROM (
    SELECT n.vec_id, kf.cell, {dist} AS dist,
           ROW_NUMBER() OVER (PARTITION BY n.vec_id ORDER BY {dist}, kf.cell) AS rn
    FROM newv n CROSS JOIN kf) WHERE rn = 1)
SELECT vec_id, cell, ROUND(dist, 6) AS dist FROM a ORDER BY vec_id
"""


# ---------------------------------------------------------------------------
# Product quantization (operators/pq.py) - compressed-scan ANN
# ---------------------------------------------------------------------------

_PQ_DIM, _PQ_M, _PQ_KSUB, _PQ_ITER = 64, 8, 16, 2

# Trained-index artifacts (PQ codebooks, coarse IVF centroids) are
# deterministic functions of (session, sf_dir, hyperparams) and are the
# expensive eager part of every PQ/IVF-PQ query - train once per session
# and reuse, exactly the operator contract ("built once and reused
# across query batches", pq.py ivfpq_topk docstring) and the same
# per-(session, path) memoization session.load_tables applies to scans.
# The first PQ query in a session pays the fit; the rest pay only their
# own scoring.  Codebooks/centroids are driver-side lists (m*ksub*dsub
# floats - metadata, not data).
_PQ_TRAIN_CACHE: dict = {}
_COARSE_CACHE: dict = {}


def _session_token(spark: SparkSession) -> str:
    """Stable cache key for a session: ``id(spark)`` is unsafe (CPython
    reuses ids after GC, serving a NEW session stale artifacts - ADVICE
    r7); the application id is unique per SparkContext lifetime."""
    return spark.sparkContext.applicationId


def _pq_books(spark: SparkSession, sf_dir: str):
    from aliyun_maxcompute_data_collectors_spark.operators.pq import pq_encode, pq_train
    t = load_tables(spark, sf_dir, ["embeddings"])
    e = t["embeddings"]
    key = (_session_token(spark), sf_dir, _PQ_DIM, _PQ_M, _PQ_KSUB,
           _PQ_ITER)
    books = _PQ_TRAIN_CACHE.get(key)
    if books is None:
        books = pq_train(e, "embedding", dim=_PQ_DIM, m=_PQ_M,
                         ksub=_PQ_KSUB, n_iter=_PQ_ITER)
        _PQ_TRAIN_CACHE[key] = books
    return e, pq_encode(e, "vec_id", "embedding", books), books


def _coarse_centers(spark: SparkSession, sf_dir: str, n_clusters: int = 8,
                    n_iter: int = 2) -> list[list[float]]:
    """Session-cached coarse det_kmeans centroids over the full embeddings
    table - the shared quantizer behind ivf_topk / ivfpq_topk /
    semantic_dedup (same dim/k/iters/seed)."""
    from aliyun_maxcompute_data_collectors_spark.operators.similarity import det_kmeans
    e = load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
    key = (_session_token(spark), sf_dir, n_clusters, n_iter)
    centers = _COARSE_CACHE.get(key)
    if centers is None:
        _, centers = det_kmeans(e, "vec_id", "embedding", dim=_PQ_DIM,
                                n_clusters=n_clusters, n_iter=n_iter)
        _COARSE_CACHE[key] = centers
    return centers


def _coarse_kmeans(spark: SparkSession, sf_dir: str, n_clusters: int = 8,
                   n_iter: int = 2):
    """(cells, centers) under the session-cached centroids; ``cells`` is
    the lazy assignment pass (train-once/assign-many)."""
    from aliyun_maxcompute_data_collectors_spark.operators.similarity import det_kmeans
    e = load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
    centers = _coarse_centers(spark, sf_dir, n_clusters, n_iter)
    cells, _ = det_kmeans(e, "vec_id", "embedding", dim=_PQ_DIM,
                          n_clusters=n_clusters, n_iter=n_iter,
                          centers=centers)
    return cells.select("neighbor_id", "cell"), centers


def pq_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ asymmetric-distance top-5: codebooks trained by the fused
    deterministic per-subspace Lloyd's (operators/pq.pq_train), corpus
    compressed to m=8 codes/vector, queries scored by m distance-table
    lookups added in fixed order - every code and total reproducible in
    DuckDB, so this is a full hash-checked oracle, not rows-only."""
    from aliyun_maxcompute_data_collectors_spark.operators.pq import pq_topk
    e, codes, books = _pq_books(spark, sf_dir)
    return pq_topk(e.where(F.col("vec_id") < 8), codes, books, k=5) \
        .orderBy("query_id", "rank")


def pq_code_hist_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-subspace PQ code occupancy - the index-health audit and the
    cheapest end-to-end proof that both engines assign every code
    identically."""
    from aliyun_maxcompute_data_collectors_spark.operators.pq import pq_code_hist
    _, codes, _ = _pq_books(spark, sf_dir)
    return pq_code_hist(codes).orderBy("j", "code")


def _pq_cte(dim: int = _PQ_DIM, m: int = _PQ_M, ksub: int = _PQ_KSUB,
            n_iter: int = _PQ_ITER, seed: int = 42,
            emit_base: bool = True) -> str:
    """Per-subspace deterministic-Lloyd's CTE chains mirroring pq_train:
    subspace j fits on embedding[j*dsub+1:(j+1)*dsub] with seeded init
    det_kmeans_init(dsub, ksub, seed + j); ends with p{j}kf (centers) and
    p{j}af (final assignments) per subspace.  ``emit_base=False`` skips
    the leading ``e`` CTE when the caller already defined it (the IVF-PQ
    oracle composes this after _det_kmeans_cte, which emits its own)."""
    from aliyun_maxcompute_data_collectors_spark.operators.similarity import det_kmeans_init
    dsub = dim // m
    parts = (["e AS (SELECT vec_id, embedding FROM embeddings)"]
             if emit_base else [])
    for j in range(m):
        lo, hi = j * dsub + 1, (j + 1) * dsub
        init = det_kmeans_init(dsub, ksub, seed + j)
        vals = ", ".join(
            f"({ci}, CAST([{', '.join(repr(x) for x in c)}] AS DOUBLE[]))"
            for ci, c in enumerate(init))
        parts.append(
            f"e{j} AS (SELECT vec_id, embedding[{lo}:{hi}] AS sv FROM e)")
        parts.append(f"p{j}k0 AS (SELECT * FROM (VALUES {vals}) AS t(cell, c))")
        for it in range(n_iter):
            dist = _km_dist_sql("e.sv", f"k.c")
            parts.append(f"""p{j}a{it} AS (
  SELECT vec_id, sv, cell FROM (
    SELECT e.vec_id, e.sv, k.cell,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY {dist}, k.cell) AS rn
    FROM e{j} e CROSS JOIN p{j}k{it} k) WHERE rn = 1)""")
            sums = ", ".join(
                f"SUM(CAST(CAST(sv[{i + 1}] AS DOUBLE) AS DECIMAL(38,15))) AS s{i}"
                for i in range(dsub))
            parts.append(
                f"p{j}s{it} AS (SELECT cell, COUNT(*) AS n, {sums} "
                f"FROM p{j}a{it} GROUP BY cell)")
            means = ", ".join(f"CAST(s.s{i} AS DOUBLE) / s.n"
                              for i in range(dsub))
            parts.append(f"""p{j}k{it + 1} AS (
  SELECT k.cell, CASE WHEN s.n IS NULL THEN k.c ELSE [{means}] END AS c
  FROM p{j}k{it} k LEFT JOIN p{j}s{it} s USING (cell))""")
        parts.append(f"p{j}kf AS (SELECT * FROM p{j}k{n_iter})")
        distf = _km_dist_sql("e.sv", "k.c")
        parts.append(f"""p{j}af AS (
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, k.cell,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY {distf}, k.cell) AS rn
    FROM e{j} e CROSS JOIN p{j}kf k) WHERE rn = 1)""")
    return ",\n".join(parts)


def _pq_hist_sql(m: int = _PQ_M) -> str:
    union = "\n  UNION ALL ".join(
        f"SELECT {j} AS j, cell AS code, COUNT(*) AS n FROM p{j}af GROUP BY cell"
        for j in range(m))
    return f"""
WITH {_pq_cte()}
SELECT j, code, n FROM ({union}) ORDER BY j, code
"""


def _pq_topk_sql(dim: int = _PQ_DIM, m: int = _PQ_M, topk: int = 5,
                 n_query: int = 8) -> str:
    dsub = dim // m
    dts, scs = [], []
    for j in range(m):
        lo, hi = j * dsub + 1, (j + 1) * dsub
        dist = _km_dist_sql(f"q.qv[{lo}:{hi}]", "k.c")
        dts.append(f"""dt{j} AS (
  SELECT q.query_id, k.cell AS code, {dist} AS dd
  FROM q CROSS JOIN p{j}kf k)""")
        scs.append(f"SELECT a.vec_id AS neighbor_id, d.query_id, {j} AS j, d.dd"
                   f" FROM p{j}af a JOIN dt{j} d ON d.code = a.cell")
    union = "\n  UNION ALL ".join(scs)
    pivots = ", ".join(
        f"MAX(CASE WHEN j = {j} THEN dd END) AS d{j}" for j in range(m))
    adc = "d0"
    for j in range(1, m):
        adc = f"({adc} + d{j})"
    return f"""
WITH {_pq_cte()},
q AS (SELECT vec_id AS query_id, embedding AS qv FROM e WHERE vec_id < {n_query}),
{", ".join(dts)},
su AS ({union}),
piv AS (
  SELECT query_id, neighbor_id, {pivots}
  FROM su WHERE neighbor_id <> query_id
  GROUP BY query_id, neighbor_id),
sc AS (SELECT query_id, neighbor_id, ROUND({adc}, 6) AS adc_dist FROM piv),
ranked AS (
  SELECT query_id, neighbor_id, adc_dist,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY adc_dist ASC, neighbor_id ASC) AS rank
  FROM sc)
SELECT query_id, neighbor_id, adc_dist, rank FROM ranked WHERE rank <= {topk}
ORDER BY query_id, rank
"""


def ivfpq_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ top-5: coarse deterministic-Lloyd's cells prefilter
    candidates (n_probe=4 of 8 cells per query), PQ-ADC scores only the
    survivors - the unbounded-corpus composition, fully hash-checked
    because every stage (coarse fit, PQ fit, probe ranking, ADC sum) is
    deterministic in both engines."""
    from aliyun_maxcompute_data_collectors_spark.operators.pq import ivfpq_topk
    e, codes, books = _pq_books(spark, sf_dir)
    cells, centers = _coarse_kmeans(spark, sf_dir, n_clusters=8, n_iter=2)
    return ivfpq_topk(e.where(F.col("vec_id") < 8),
                      cells, codes, books,
                      centers, k=5, n_probe=4) \
        .orderBy("query_id", "rank")


def _ivfpq_topk_sql(dim: int = _PQ_DIM, m: int = _PQ_M, topk: int = 5,
                    n_query: int = 8, n_coarse: int = 8, n_probe: int = 4,
                    coarse_iter: int = 2) -> str:
    dsub = dim // m
    negdot = f"-({_km_dot_sql('q.qv', 'k.c')})"
    dts, scs = [], []
    for j in range(m):
        lo, hi = j * dsub + 1, (j + 1) * dsub
        dist = _km_dist_sql(f"q.qv[{lo}:{hi}]", "k.c")
        dts.append(f"""dt{j} AS (
  SELECT q.query_id, k.cell AS code, {dist} AS dd
  FROM q CROSS JOIN p{j}kf k)""")
        scs.append(
            f"SELECT c.query_id, c.neighbor_id, {j} AS j, d.dd"
            f" FROM cand c JOIN p{j}af a ON a.vec_id = c.neighbor_id"
            f" JOIN dt{j} d ON d.query_id = c.query_id AND d.code = a.cell")
    union = "\n  UNION ALL ".join(scs)
    pivots = ", ".join(
        f"MAX(CASE WHEN j = {j} THEN dd END) AS d{j}" for j in range(m))
    adc = "d0"
    for j in range(1, m):
        adc = f"({adc} + d{j})"
    return f"""
WITH {_det_kmeans_cte(dim, n_coarse, coarse_iter)},
{_pq_cte(emit_base=False)},
q AS (SELECT vec_id AS query_id, embedding AS qv FROM e WHERE vec_id < {n_query}),
probes AS (
  SELECT query_id, qv, cell FROM (
    SELECT q.query_id, q.qv, k.cell,
           ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY {negdot}, k.cell) AS rn
    FROM q CROSS JOIN kf k) WHERE rn <= {n_probe}),
cand AS (
  SELECT p.query_id, a.vec_id AS neighbor_id
  FROM probes p JOIN af a USING (cell)
  WHERE a.vec_id <> p.query_id),
{", ".join(dts)},
su AS ({union}),
piv AS (
  SELECT query_id, neighbor_id, {pivots}
  FROM su GROUP BY query_id, neighbor_id),
sc AS (SELECT query_id, neighbor_id, ROUND({adc}, 6) AS adc_dist FROM piv),
ranked AS (
  SELECT query_id, neighbor_id, adc_dist,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY adc_dist ASC, neighbor_id ASC) AS rank
  FROM sc)
SELECT query_id, neighbor_id, adc_dist, rank FROM ranked WHERE rank <= {topk}
ORDER BY query_id, rank
"""


def embedding_quality_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding-column health report (similarity.embedding_quality)."""
    from aliyun_maxcompute_data_collectors_spark.operators.similarity import embedding_quality
    t = load_tables(spark, sf_dir, ["embeddings"])
    return embedding_quality(t["embeddings"], "embedding", ["label"],
                             expected_dim=64).orderBy("label")


_EMB_NORM = ("sqrt(list_reduce(list_transform(embedding,"
             " x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (s, x) -> s + x))")

_EMB_QUALITY_SQL = f"""
WITH rows_ AS (
  SELECT label,
    CASE WHEN embedding IS NULL THEN 1 ELSE 0 END AS nul,
    CASE WHEN embedding IS NULL THEN 0
         WHEN len(embedding) <> 64 THEN 1 ELSE 0 END AS baddim,
    CASE WHEN embedding IS NULL THEN 0
         WHEN list_reduce(list_transform(embedding,
              x -> CASE WHEN isnan(CAST(x AS DOUBLE))
                        OR abs(CAST(x AS DOUBLE)) = CAST('inf' AS DOUBLE)
                   THEN 1 ELSE 0 END), (s, x) -> s + x) > 0 THEN 1 ELSE 0
         END AS nonfin,
    CASE WHEN embedding IS NULL THEN NULL ELSE {_EMB_NORM} END AS rawnorm
  FROM embeddings),
r2 AS (
  SELECT label, nul, baddim, nonfin,
    CASE WHEN nonfin = 1 OR rawnorm IS NULL THEN 0
         WHEN rawnorm < 1e-12 THEN 1 ELSE 0 END AS zero_,
    CASE WHEN nonfin = 1 THEN NULL ELSE ROUND(rawnorm, 12) END AS nrm
  FROM rows_)
SELECT label, COUNT(*) AS n_vecs,
  CAST(SUM(nul) AS BIGINT) AS n_null,
  CAST(SUM(baddim) AS BIGINT) AS n_bad_dim,
  CAST(SUM(nonfin) AS BIGINT) AS n_nonfinite,
  CAST(SUM(zero_) AS BIGINT) AS n_zero_norm,
  ROUND(MIN(nrm), 6) AS min_norm,
  ROUND(MAX(nrm), 6) AS max_norm,
  ROUND(CAST(SUM(CAST(nrm AS DECIMAL(38,15))) AS DOUBLE) / COUNT(nrm), 6)
    AS mean_norm
FROM r2 GROUP BY label ORDER BY label
"""


def _det_semdedup_sql(dim: int = 64, k: int = 8, n_iter: int = 2,
                      threshold: float = 0.40) -> str:
    cos = _cos_sql2("a.embedding", "b.embedding")
    return f"""
WITH RECURSIVE {_det_kmeans_cte(dim, k, n_iter)},
pairs AS (
  SELECT a.vec_id AS id1, b.vec_id AS id2
  FROM af a JOIN af b ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE ROUND({cos}, 6) >= {threshold}
),
edges AS (
  SELECT id1 AS a, id2 AS b FROM pairs
  UNION
  SELECT id2 AS a, id1 AS b FROM pairs
),
reach AS (
  SELECT vec_id AS src, vec_id AS dst FROM embeddings
  UNION
  SELECT r.src, e2.b AS dst FROM reach r JOIN edges e2 ON r.dst = e2.a
),
comp AS (SELECT src AS vec_id, MIN(dst) AS rep FROM reach GROUP BY src)
SELECT vec_id FROM comp WHERE vec_id = rep ORDER BY vec_id
"""


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------

_COS = (
    "list_reduce(list_transform(list_zip(a.embedding, b.embedding),"
    " x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (s, x) -> s + x)"
    " / (sqrt(list_reduce(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (s, x) -> s + x))"
    " * sqrt(list_reduce(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (s, x) -> s + x)))"
)


def embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for 8 query vectors - the exactness baseline."""
    t = load_tables(spark, sf_dir, ["embeddings"])
    e = t["embeddings"]
    return (
        cosine_topk(e.where(F.col("vec_id") < 8), e, k=5)
        .orderBy("query_id", "rank")
    )


def ann_recall_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the IVF ANN path against the brute-force exact top-5 -
    the audit every approximate index needs before it replaces the exact
    scan.  Pure composition: both sides are the already-oracled queries
    (ivf_topk / embedding_topk), so the metric itself is hash-checked
    end-to-end.  Scale shape: both inputs are top-k-per-query frames
    (queries x k rows, corpus-independent), so the semi-join and the
    per-query count are metadata-sized no matter the corpus."""
    ivf = ivf_topk_q(spark, sf_dir).select("query_id", "neighbor_id")
    exact = embedding_topk(spark, sf_dir).select("query_id", "neighbor_id")
    hits = (exact.join(ivf, ["query_id", "neighbor_id"], "left_semi")
            .groupBy("query_id").agg(F.count(F.lit(1)).alias("h")))
    return (exact.select("query_id").distinct()
            .join(hits, "query_id", "left")
            .select("query_id",
                    F.coalesce("h", F.lit(0)).cast("int").alias("hits"),
                    F.round(F.coalesce("h", F.lit(0)) / 5.0, 4)
                    .alias("recall_at_5"))
            .orderBy("query_id"))


def _ann_recall_sql() -> str:
    # both component oracles carry their own WITH chains, so they compose
    # as parenthesized subqueries rather than CTEs
    return f"""
SELECT q.query_id,
       CAST(COALESCE(h.h, 0) AS INT) AS hits,
       ROUND(COALESCE(h.h, 0) / 5.0, 4) AS recall_at_5
FROM (SELECT DISTINCT query_id FROM ({_TOPK_EMB_SQL}) x) q
LEFT JOIN (
  SELECT e.query_id, COUNT(*) AS h
  FROM ({_TOPK_EMB_SQL}) e
  JOIN ({_ivf_topk_sql()}) i USING (query_id, neighbor_id)
  GROUP BY e.query_id) h USING (query_id)
ORDER BY query_id
"""


_TOPK_EMB_SQL = f"""
WITH scored AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         ROUND({_COS}, 6) AS cos
  FROM embeddings a JOIN embeddings b ON a.vec_id < 8 AND b.vec_id <> a.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id, cos,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cos, rank FROM ranked WHERE rank <= 5
ORDER BY query_id, rank
"""


_EMB_DUPS_MAX_BLOCK = 5000


def embedding_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-blocked cosine near-dup pairs (blocking bounds the pair space -
    the same role an IVF/LSH bucket plays at scale).  Blocks larger than
    max_block are dropped before the pair join (the oracle mirrors the
    cap): at correctness SFs every label is far under the cap so results
    are identical, while at sf10 a label holds ~50k vectors and an
    uncapped run is 1.25e9 comparisons per label (measured hang, round 6
    - see embedding_dup_pairs docstring)."""
    t = load_tables(spark, sf_dir, ["embeddings"])
    return (
        D.embedding_dup_pairs(t["embeddings"], "vec_id", "embedding",
                              threshold=0.35, block_col="label",
                              max_block=_EMB_DUPS_MAX_BLOCK)
    )


_EMB_DUPS_SQL = f"""
WITH ok AS (
  SELECT label FROM embeddings GROUP BY label
  HAVING COUNT(*) <= {_EMB_DUPS_MAX_BLOCK})
SELECT a.vec_id AS id1, b.vec_id AS id2, ROUND({_COS}, 6) AS cos
FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE a.label IN (SELECT label FROM ok) AND ROUND({_COS}, 6) >= 0.35
ORDER BY id1, id2
"""


def semantic_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup semantics, exact: brute-force cosine pairs (n_clusters=1 =
    one cell, no quantizer fit) -> transitive closure -> keep MIN-id
    representative per group.  The unblocked twin of `semantic_dedup`
    (k-means blocked); the DuckDB oracle mirrors the full pipeline with a
    recursive CTE."""
    from aliyun_maxcompute_data_collectors_spark.operators.similarity import det_semantic_dedup
    t = load_tables(spark, sf_dir, ["embeddings"])
    kept = det_semantic_dedup(t["embeddings"], dim=64, threshold=0.40,
                              n_clusters=1)
    return kept.select("vec_id")


_SEMDEDUP_EXACT_SQL = f"""
WITH RECURSIVE pairs AS (
  SELECT a.vec_id AS id1, b.vec_id AS id2
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
  WHERE ROUND({_COS}, 6) >= 0.40
),
edges AS (
  SELECT id1 AS a, id2 AS b FROM pairs
  UNION
  SELECT id2 AS a, id1 AS b FROM pairs
),
reach AS (
  SELECT vec_id AS src, vec_id AS dst FROM embeddings
  UNION
  SELECT r.src, e.b AS dst FROM reach r JOIN edges e ON r.dst = e.a
),
comp AS (SELECT src AS vec_id, MIN(dst) AS rep FROM reach GROUP BY src)
SELECT vec_id FROM comp WHERE vec_id = rep ORDER BY vec_id
"""


def ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN top-5 (the 100TB path: bucket join, no cross
    product).  "Approximate" means approximate vs BRUTE FORCE - the
    algorithm itself is deterministic (seeded hyperplanes, d >= 0 sign
    rule, exact re-rank), so the oracle regenerates the same planes from
    the shared constants and must match hash-exactly."""
    t = load_tables(spark, sf_dir, ["embeddings"])
    e = t["embeddings"]
    return (
        lsh_topk(e.where(F.col("vec_id") < 8), e, k=5, bits=4, dim=64,
                 n_probe_planes=8)
        .orderBy("query_id", "rank")
    )


def _ann_lsh_sql(k: int = 5, bits: int = 4, dim: int = 64,
                 n_probe_planes: int = 8, seed: int = 42, nq: int = 8) -> str:
    """Oracle for ``ann_lsh_topk``: regenerate the SAME seeded hyperplanes
    (operators/similarity.hyperplanes - shared constants, so the two sides
    cannot drift) as SQL list literals; bucket bit i = (dot >= 0), candidate
    = any probe bucket equal, exact re-rank on the fold-identical cosine.
    Both engines left-fold the dot from 0.0, so the sign tests see
    bit-identical doubles."""
    from aliyun_maxcompute_data_collectors_spark.operators.similarity import hyperplanes

    def dot(vec_expr: str, plane) -> str:
        lit = "[" + ", ".join(repr(float(x)) for x in plane) + "]"
        return (f"list_reduce(list_transform(list_zip({vec_expr}, {lit}),"
                " x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)),"
                " (s, x) -> s + x)")

    bucket_exprs = []
    for p in range(n_probe_planes):
        planes = hyperplanes(dim, bits, seed + p)
        terms = " + ".join(
            f"(CASE WHEN {dot('embedding', pl)} >= 0 THEN {1 << i} ELSE 0 END)"
            for i, pl in enumerate(planes))
        bucket_exprs.append(f"({terms}) AS b{p}")
    match = " OR ".join(f"qa.b{p} = ca.b{p}" for p in range(n_probe_planes))
    return f"""
WITH sig AS (
  SELECT vec_id, {", ".join(bucket_exprs)} FROM embeddings),
q AS (SELECT * FROM sig WHERE vec_id < {nq}),
cand AS (
  SELECT DISTINCT qa.vec_id AS query_id, ca.vec_id AS neighbor_id
  FROM q qa JOIN sig ca ON qa.vec_id <> ca.vec_id AND ({match})),
scored AS (
  SELECT c.query_id, c.neighbor_id, ROUND({_COS}, 6) AS cos
  FROM cand c JOIN embeddings a ON a.vec_id = c.query_id
              JOIN embeddings b ON b.vec_id = c.neighbor_id),
ranked AS (
  SELECT query_id, neighbor_id, cos,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY cos DESC, neighbor_id ASC) AS INT) AS rank
  FROM scored)
SELECT query_id, neighbor_id, cos, rank FROM ranked WHERE rank <= {k}
ORDER BY query_id, rank
"""


# ---------------------------------------------------------------------------
# multimodal plumbing
# ---------------------------------------------------------------------------

def blob_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column plumbing: text -> blob -> byte-size + content hash
    (decode-free metadata path of operators.multimodal)."""
    from aliyun_maxcompute_data_collectors_spark.operators.multimodal import with_blob_meta
    t = load_tables(spark, sf_dir, ["documents"])
    blobs = t["documents"].select(
        "doc_id", F.encode("text", "utf-8").alias("blob")
    )
    return (
        with_blob_meta(blobs, "blob")
        .select("doc_id", "n_bytes", "content_hash")
    )


_BLOB_SQL = """
SELECT doc_id, octet_length(encode(text)) AS n_bytes, md5(text) AS content_hash
FROM documents ORDER BY doc_id
"""


def frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plumbing end-to-end: blob -> mapInPandas decode
    (deterministic fake video decoder) -> per-frame task explode.  The fake
    decoder derives duration from octet_length, so the oracle can recompute
    the identical fan-out in SQL while Spark genuinely runs the Arrow-batched
    decode path."""
    from aliyun_maxcompute_data_collectors_spark.operators.multimodal import (
        decode_media, fake_decode_video, frame_sample_plan)
    t = load_tables(spark, sf_dir, ["documents"])
    blobs = t["documents"].select("doc_id", F.encode("text", "utf-8").alias("blob"))
    decoded = decode_media(blobs, "blob", decode_fn=fake_decode_video)
    return (
        frame_sample_plan(decoded, every_ms=500)
        .select("doc_id", F.col("meta.duration_ms").alias("duration_ms"),
                "frame_idx", "frame_ts_ms")
    )


_FRAME_SAMPLE_SQL = """
WITH vids AS (
  SELECT doc_id, 1000 + (octet_length(encode(text)) % 10000) AS duration_ms
  FROM documents
)
SELECT doc_id, duration_ms,
  unnest(range(0, greatest(CAST(duration_ms // 500 AS BIGINT), 1))) AS frame_idx,
  unnest(range(0, greatest(CAST(duration_ms // 500 AS BIGINT), 1))) * 500 AS frame_ts_ms
FROM vids
ORDER BY doc_id, frame_idx
"""


# ---------------------------------------------------------------------------
# corpus preparation (chunking / packing / sampling / stats)
# ---------------------------------------------------------------------------

_NTOK = "len(string_split_regex(trim(text), '\\s+'))"
_HFRAC = ("CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 's42'), 1, 8)) AS BIGINT)"
          " / 4294967296.0")

_FP_EXPR = ("COALESCE(md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))"
            ", '__NULL_TEXT__')")


def det_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash sampling - reproducible across runs/engines/cluster
    sizes, unlike rand()."""
    from aliyun_maxcompute_data_collectors_spark.operators.corpus import deterministic_sample
    t = load_tables(spark, sf_dir, ["documents"])
    return (
        deterministic_sample(t["documents"], "doc_id", 0.2)
        .select("doc_id", "lang", "source")
    )


_DET_SAMPLE_SQL = f"""
SELECT doc_id, lang, source FROM documents
WHERE {_HFRAC} < 0.2
ORDER BY doc_id
"""


def strat_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-balanced stratified sampling."""
    from aliyun_maxcompute_data_collectors_spark.operators.corpus import stratified_sample
    t = load_tables(spark, sf_dir, ["documents"])
    fr = {"en": 0.1, "de": 0.5, "fr": 0.5, "es": 0.5, "zh": 0.5}
    return (
        stratified_sample(t["documents"], "doc_id", "lang", fr)
        .groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
        .orderBy("lang")
    )


_STRAT_SQL = f"""
SELECT lang, COUNT(*) AS n FROM documents
WHERE {_HFRAC} < (CASE lang WHEN 'en' THEN 0.1 WHEN 'de' THEN 0.5
                  WHEN 'fr' THEN 0.5 WHEN 'es' THEN 0.5 WHEN 'zh' THEN 0.5
                  ELSE 0.0 END)
GROUP BY lang ORDER BY lang
"""


def mixture_rebalance_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-mixture downsampling (corpus.mixture_rebalance): keep-fractions
    for the largest corpus hitting the target source shares, with realized
    kept counts from the deterministic id-hash sample."""
    from aliyun_maxcompute_data_collectors_spark.operators.corpus import mixture_rebalance
    t = load_tables(spark, sf_dir, ["documents"])
    targets = {"src0": 0.5, "src1": 0.3, "src2": 0.2}
    sampled, plan = mixture_rebalance(t["documents"], "doc_id", "source", targets)
    kept = sampled.groupBy("source").agg(F.count(F.lit(1)).alias("n_kept"))
    return (
        plan.join(kept, "source", "left")
        .select("source", "n_docs",
                F.round("share", 6).alias("share"),
                F.round("keep_frac", 6).alias("keep_frac"),
                F.coalesce("n_kept", F.lit(0)).alias("n_kept"))
        .orderBy("source")
    )


_MIXTURE_SQL = f"""
WITH tgt(source, share) AS (
  VALUES ('src0', CAST(0.5 AS DOUBLE)), ('src1', CAST(0.3 AS DOUBLE)),
         ('src2', CAST(0.2 AS DOUBLE))),
counts AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY 1),
j AS (SELECT c.source, c.n_docs, t.share FROM counts c JOIN tgt t USING (source)),
ns AS (SELECT MIN(n_docs / share) AS nstar FROM j),
plan AS (
  SELECT source, n_docs, share,
         LEAST(CAST(1.0 AS DOUBLE), share * nstar / n_docs) AS keep_frac
  FROM j, ns),
kept AS (
  SELECT d.source, COUNT(*) AS n_kept
  FROM documents d JOIN plan p USING (source)
  WHERE {_HFRAC} < p.keep_frac GROUP BY 1)
SELECT p.source, p.n_docs, ROUND(p.share, 6) AS share,
       ROUND(p.keep_frac, 6) AS keep_frac,
       COALESCE(k.n_kept, 0) AS n_kept
FROM plan p LEFT JOIN kept k USING (source) ORDER BY source
"""

_HFRAC_WS = ("CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'ws42'), 1, 8)) AS BIGINT)"
             " / 4294967296.0")


def weighted_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Efraimidis-Spirakis weighted sample without replacement, 100 docs
    weighted by n_chars (corpus.weighted_sample) - deterministic draw."""
    from aliyun_maxcompute_data_collectors_spark.operators.corpus import weighted_sample
    t = load_tables(spark, sf_dir, ["documents"])
    return (
        weighted_sample(t["documents"], "doc_id", "n_chars", n=100)
        .select("doc_id", "source", "n_chars", "sample_key")
    )


_WSAMPLE_SQL = f"""
SELECT doc_id, source, n_chars,
       ROUND(ln(GREATEST({_HFRAC_WS}, 1e-300))
             / GREATEST(CAST(n_chars AS DOUBLE), 1e-12), 9)
         AS sample_key
FROM documents
ORDER BY sample_key DESC, doc_id ASC
LIMIT 100
"""


def split_leakage_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/holdout contamination audit (corpus.split_leakage): exact
    fingerprint overlap between the 80% train split and each held-out
    split under the deterministic 80/10/10 assignment."""
    from aliyun_maxcompute_data_collectors_spark.operators.corpus import split_leakage
    t = load_tables(spark, sf_dir, ["documents"])
    return split_leakage(t["documents"], "doc_id", "text").orderBy("split")


_LEAKAGE_SQL = f"""
WITH assigned AS (
  SELECT {_FP_EXPR} AS fp,
         CASE WHEN {_HFRAC} < 0.8 THEN 'train'
              WHEN {_HFRAC} < 0.9 THEN 'val'
              ELSE 'test' END AS split
  FROM documents),
train_fp AS (SELECT DISTINCT fp FROM assigned WHERE split = 'train'),
nt AS (SELECT split, COUNT(*) AS n_docs FROM assigned
       WHERE split <> 'train' GROUP BY 1),
lk AS (
  SELECT a.split, COUNT(*) AS n_leaked FROM assigned a
  WHERE a.split <> 'train'
    AND EXISTS (SELECT 1 FROM train_fp t WHERE t.fp = a.fp)
  GROUP BY 1)
SELECT nt.split, nt.n_docs, COALESCE(lk.n_leaked, 0) AS n_leaked,
       ROUND(CAST(COALESCE(lk.n_leaked, 0) AS DOUBLE) / nt.n_docs, 6)
         AS leak_frac
FROM nt LEFT JOIN lk USING (split) ORDER BY split
"""


# ---------------------------------------------------------------------------
# round-4 corpus analytics queries
# ---------------------------------------------------------------------------

def ccnet_buckets_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet perplexity-bucket sampling: per-lang logprob terciles, head
    kept whole / middle half / tail 10% (corpus.ccnet_bucket_sample)."""
    from aliyun_maxcompute_data_collectors_spark.operators.corpus import ccnet_bucket_sample
    t = load_tables(spark, sf_dir, ["documents"])
    return ccnet_bucket_sample(t["documents"]).orderBy("doc_id")


_HFRAC_CCNET = ("CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'ccnet'), 1, 8)) AS BIGINT)"
                " / 4294967296.0")

_CCNET_SQL = f"""
WITH tok AS (
  SELECT doc_id,
         UNNEST(regexp_split_to_array(LOWER(text), '[^a-z]+')) AS term
  FROM documents),
tok2 AS (SELECT doc_id, term FROM tok WHERE term <> ''),
counts AS (SELECT term, COUNT(*) AS cnt FROM tok2 GROUP BY term),
total AS (SELECT SUM(cnt) AS n_total FROM counts),
vocab AS (
  SELECT term, LN(CAST(cnt AS DOUBLE) / n_total) AS lp
  FROM counts, total ORDER BY cnt DESC, term ASC LIMIT 500),
scores AS (
  SELECT t.doc_id, ROUND(SUM(COALESCE(v.lp, -12.0)) / COUNT(*), 4) AS mean_logprob
  FROM tok2 t LEFT JOIN vocab v USING (term) GROUP BY t.doc_id),
b AS (
  SELECT d.doc_id, d.lang, s.mean_logprob,
         CAST(NTILE(3) OVER (PARTITION BY d.lang
              ORDER BY s.mean_logprob DESC, d.doc_id ASC) AS INT) AS bucket
  FROM documents d JOIN scores s USING (doc_id))
SELECT doc_id, lang, bucket, mean_logprob FROM b
WHERE {_HFRAC_CCNET} < CASE bucket WHEN 1 THEN 1.0 WHEN 2 THEN 0.5 ELSE 0.1 END
ORDER BY doc_id
"""


def dup_rate_by_source_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source duplication health: docs, distinct normalized contents,
    dup rate, and largest family size - the first per-crawl quality gate
    before deciding dedup strategy.  One fp hash-aggregate per source."""
    t = load_tables(spark, sf_dir, ["documents"])
    from aliyun_maxcompute_data_collectors_spark.operators.dedup import _fp_or_sentinel
    d = t["documents"].select(F.col("source"), _fp_or_sentinel("text").alias("fp"))
    fam = d.groupBy("source", "fp").agg(F.count(F.lit(1)).alias("n"))
    return (
        fam.groupBy("source")
        .agg(F.sum("n").cast("long").alias("n_docs"),
             F.count(F.lit(1)).alias("n_distinct"),
             F.round(F.lit(1.0) - F.count(F.lit(1))
                     / F.sum("n").cast("double"), 6).alias("dup_rate"),
             F.max("n").cast("long").alias("max_family"))
        .orderBy("source"))


_DUP_RATE_SQL = f"""
WITH fam AS (
  SELECT source, {_FP_EXPR} AS fp, COUNT(*) AS n
  FROM documents GROUP BY 1, 2)
SELECT source, CAST(SUM(n) AS BIGINT) AS n_docs,
       COUNT(*) AS n_distinct,
       ROUND(1.0 - COUNT(*) / CAST(SUM(n) AS DOUBLE), 6) AS dup_rate,
       CAST(MAX(n) AS BIGINT) AS max_family
FROM fam GROUP BY source ORDER BY source
"""


def source_overlap_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source exact-content overlap matrix (corpus.source_overlap)."""
    from aliyun_maxcompute_data_collectors_spark.operators.corpus import source_overlap
    t = load_tables(spark, sf_dir, ["documents"])
    return source_overlap(t["documents"]).orderBy("source_a", "source_b")


_SOURCE_OVERLAP_SQL = f"""
WITH d AS (SELECT DISTINCT {_FP_EXPR} AS fp, source AS src FROM documents
           WHERE text IS NOT NULL)
SELECT a.src AS source_a, b.src AS source_b, COUNT(*) AS n_shared_fps
FROM d a JOIN d b ON a.fp = b.fp AND a.src < b.src
GROUP BY 1, 2 ORDER BY source_a, source_b
"""


def zipf_profile_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf slope/intercept over the top-200 corpus tokens
    (corpus.zipf_profile; decimal-exact regression sums)."""
    from aliyun_maxcompute_data_collectors_spark.operators.corpus import zipf_profile
    t = load_tables(spark, sf_dir, ["documents"])
    return zipf_profile(t["documents"])


_ZIPF_SQL = """
WITH tok AS (
  SELECT UNNEST(regexp_split_to_array(LOWER(text), '[^a-z]+')) AS term
  FROM documents),
counts AS (SELECT term, COUNT(*) AS cnt FROM tok WHERE term <> '' GROUP BY term),
top AS (
  SELECT cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, term ASC) AS rank
  FROM counts ORDER BY cnt DESC, term ASC LIMIT 200),
terms AS (
  SELECT CAST(ROUND(LN(CAST(rank AS DOUBLE)), 12) AS DECIMAL(38,15)) AS x,
         CAST(ROUND(LN(CAST(cnt AS DOUBLE)), 12) AS DECIMAL(38,15)) AS y,
         CAST(ROUND(LN(CAST(rank AS DOUBLE)) * LN(CAST(rank AS DOUBLE)), 12) AS DECIMAL(38,15)) AS xx,
         CAST(ROUND(LN(CAST(rank AS DOUBLE)) * LN(CAST(cnt AS DOUBLE)), 12) AS DECIMAL(38,15)) AS xy
  FROM top),
s AS (SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
             SUM(xx) AS sxx, SUM(xy) AS sxy FROM terms)
SELECT CAST(n AS BIGINT) AS n_top,
  ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS slope,
  ROUND((CAST(sy AS DOUBLE)
         - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
            / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
           * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE), 6) AS intercept
FROM s
"""


def ngram_novelty_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc first-occurrence novelty over word 3-grams
    (corpus.ngram_novelty)."""
    from aliyun_maxcompute_data_collectors_spark.operators.corpus import ngram_novelty
    t = load_tables(spark, sf_dir, ["documents"])
    return ngram_novelty(t["documents"], n=3).orderBy("doc_id")


def _ngram_novelty_sql(n: int = 3) -> str:
    return f"""
WITH {_shingle_cte(n)},
first AS (SELECT shingle, MIN(id) AS first_id FROM shingles GROUP BY shingle)
SELECT s.id AS doc_id, COUNT(*) AS n_grams,
       ROUND(SUM(CASE WHEN f.first_id = s.id THEN 1 ELSE 0 END)
             / CAST(COUNT(*) AS DOUBLE), 4) AS novelty
FROM shingles s JOIN first f USING (shingle)
GROUP BY s.id ORDER BY doc_id
"""


def corpus_drift_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-distribution drift between two corpus snapshots (doc_id parity
    as the snapshot split): top-20 probability movers + Jensen-Shannon
    divergence (corpus.distribution_drift, decimal-exact term sum)."""
    from aliyun_maxcompute_data_collectors_spark.operators.corpus import distribution_drift
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]

    def toks(df):
        return df.select(
            F.explode(F.split(X.normalized("text"), " ")).alias("token"))

    return distribution_drift(
        toks(docs.where(F.col("doc_id") % 2 == 0)),
        toks(docs.where(F.col("doc_id") % 2 == 1)),
        "token", top_n=20)


# THE normalized-token split - every oracle that tokenizes text must use
# this one constant so a normalization change cannot desynchronize them
_NORM_SPLIT = "string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')"
_NORM_TOKS = f"unnest({_NORM_SPLIT})"

_DRIFT_SQL = f"""
WITH ta AS (SELECT {_NORM_TOKS} AS key FROM documents WHERE doc_id % 2 = 0),
tb AS (SELECT {_NORM_TOKS} AS key FROM documents WHERE doc_id % 2 = 1),
ha AS (SELECT key, COUNT(*) AS n_a FROM ta GROUP BY 1),
hb AS (SELECT key, COUNT(*) AS n_b FROM tb GROUP BY 1),
j AS (
  SELECT key, COALESCE(n_a, 0) AS n_a, COALESCE(n_b, 0) AS n_b
  FROM ha FULL OUTER JOIN hb USING (key)),
tot AS (SELECT SUM(n_a) AS t_a, SUM(n_b) AS t_b FROM j),
p AS (
  SELECT key, n_a, n_b,
         CASE WHEN t_a > 0 THEN CAST(n_a AS DOUBLE) / t_a ELSE 0.0 END AS p_a,
         CASE WHEN t_b > 0 THEN CAST(n_b AS DOUBLE) / t_b ELSE 0.0 END AS p_b
  FROM j, tot),
s AS (
  SELECT key, n_a, n_b, p_a, p_b,
         CAST(ROUND(
           ((CASE WHEN p_a > 0 THEN p_a * ln(p_a / ((p_a + p_b) / 2)) ELSE 0.0 END)
          + (CASE WHEN p_b > 0 THEN p_b * ln(p_b / ((p_a + p_b) / 2)) ELSE 0.0 END))
           * 0.5, 12) AS DECIMAL(38,15)) AS jsd_term,
         ROUND(ABS(p_a - p_b), 12) AS drift
  FROM p),
g AS (SELECT ROUND(CAST(SUM(jsd_term) AS DOUBLE), 8) AS jsd FROM s)
SELECT key, n_a, n_b, ROUND(p_a, 8) AS p_a, ROUND(p_b, 8) AS p_b,
       ROUND(drift, 8) AS drift, g.jsd
FROM s, g
ORDER BY s.drift DESC, key ASC
LIMIT 20
"""


def chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-window chunking (20-token chunks, stride 20)."""
    from aliyun_maxcompute_data_collectors_spark.operators.corpus import chunk_documents
    t = load_tables(spark, sf_dir, ["documents"])
    return (
        chunk_documents(t["documents"], "doc_id", "text", chunk_tokens=20)
        .select("id", "chunk_idx", "n_chunk_tokens", F.md5("chunk_text").alias("chunk_md5"))
    )


_CHUNK_SQL = f"""
WITH w AS (
  SELECT doc_id AS id, string_split_regex(trim(text), '\\s+') AS words,
         {_NTOK} AS n FROM documents
),
c AS (
  SELECT id, words, n,
         unnest(range(0, GREATEST(CAST(ceil((n - 20) / 20.0) AS BIGINT) + 1, 1))) AS chunk_idx
  FROM w
)
SELECT id, chunk_idx,
       len(words[chunk_idx*20 + 1 : LEAST(chunk_idx*20 + 20, n)]) AS n_chunk_tokens,
       md5(array_to_string(words[chunk_idx*20 + 1 : LEAST(chunk_idx*20 + 20, n)], ' ')) AS chunk_md5
FROM c ORDER BY id, chunk_idx
"""


def pack_seqs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy context-window packing (budget 512 tokens) via window cumsum."""
    from aliyun_maxcompute_data_collectors_spark.operators.corpus import pack_sequences
    from aliyun_maxcompute_data_collectors_spark.operators.text import token_count
    t = load_tables(spark, sf_dir, ["documents"])
    docs = t["documents"].select("doc_id", token_count("text").alias("n_tok"))
    return (
        pack_sequences(docs, "doc_id", "n_tok", budget=512)
        .select("doc_id", "n_tok", "bin_id", "bin_offset")
    )


_PACK_SQL = f"""
WITH d AS (SELECT doc_id, {_NTOK} AS n_tok FROM documents),
c AS (
  SELECT doc_id, n_tok,
    SUM(LEAST(n_tok, 512)) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
  FROM d
)
SELECT doc_id, n_tok,
  CAST(ceil(cum / 512.0) - 1 AS BIGINT) AS bin_id,
  CAST(cum - LEAST(n_tok, 512) - (CAST(ceil(cum / 512.0) - 1 AS BIGINT)) * 512 AS BIGINT) AS bin_offset
FROM c ORDER BY doc_id
"""


def corpus_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aliyun_maxcompute_data_collectors_spark.operators.corpus import corpus_stats
    t = load_tables(spark, sf_dir, ["documents"])
    return corpus_stats(t["documents"], "text", ["lang"]).orderBy("lang")


_CORPUS_STATS_SQL = f"""
SELECT lang, COUNT(*) AS n_docs, CAST(SUM({_NTOK}) AS BIGINT) AS total_tokens,
  ROUND(CAST(SUM({_NTOK}) AS DOUBLE) / COUNT(*), 4) AS mean_tokens,
  MAX({_NTOK}) AS max_tokens, MIN({_NTOK}) AS min_tokens,
  ROUND(CAST(quantile_cont(CAST({_NTOK} AS DOUBLE), 0.5) AS DOUBLE), 4) AS p50_tokens,
  ROUND(CAST(quantile_cont(CAST({_NTOK} AS DOUBLE), 0.95) AS DOUBLE), 4) AS p95_tokens
FROM documents GROUP BY lang ORDER BY lang
"""


# ---------------------------------------------------------------------------
# decontamination / repetition / PII
# ---------------------------------------------------------------------------

_DECONTAM_N = 4  # word n-gram width; real pipelines use 8-13, the synthetic
                 # corpus's tiny vocabulary needs 4 for a non-trivial hit rate


def decontam_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set leakage: docs sharing a word n-gram with the benchmark slice
    (a deterministic doc_id % 53 == 7 subset standing in for an eval set)."""
    t = load_tables(spark, sf_dir, ["documents"])
    docs = t["documents"]
    bench = docs.where(F.col("doc_id") % 53 == 7)
    probe = docs.where(F.col("doc_id") % 53 != 7)
    return (
        D.decontaminate(probe, bench, "doc_id", "text", n=_DECONTAM_N)
    )


_DECONTAM_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS w
  FROM documents),
grams AS (
  SELECT doc_id, unnest(CASE WHEN len(w) >= {_DECONTAM_N}
    THEN list_distinct(list_transform(range(1, len(w)-{_DECONTAM_N}+2),
                                      i -> array_to_string(w[i:i+{_DECONTAM_N - 1}], ' ')))
    ELSE [array_to_string(w, ' ')] END) AS shingle
  FROM toks),
bench AS (SELECT DISTINCT shingle FROM grams WHERE doc_id % 53 = 7)
SELECT g.doc_id, COUNT(*) AS n_contaminated_ngrams
FROM grams g JOIN bench b ON g.shingle = b.shingle
WHERE g.doc_id % 53 <> 7
GROUP BY g.doc_id
ORDER BY g.doc_id
"""


_BLOOM_M, _BLOOM_K = 1 << 20, 5


def decontam_bloom_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter decontamination (the constant-memory scale path of
    `decontaminate`): benchmark grams fill a 2^20-bit Bloom table (<=16384
    (word,bits) rows however large the eval set), the corpus probes it
    map-side.  No false negatives; the deterministic md5 double-hashing
    makes false positives identical in both engines, so the oracle is
    exact."""
    from aliyun_maxcompute_data_collectors_spark.operators.dedup import (
        bloom_build, bloom_decontaminate)
    t = load_tables(spark, sf_dir, ["documents"])
    docs = t["documents"]
    bench = docs.where(F.col("doc_id") % 53 == 7)
    probe = docs.where(F.col("doc_id") % 53 != 7)
    words = bloom_build(bench, "text", n=_DECONTAM_N, m=_BLOOM_M, k=_BLOOM_K)
    return bloom_decontaminate(probe, words, "doc_id", "text",
                               n=_DECONTAM_N, m=_BLOOM_M, k=_BLOOM_K) \
        .orderBy("doc_id")


def _bloom_decontam_sql(m: int = _BLOOM_M, k: int = _BLOOM_K) -> str:
    h1 = "CAST(('0x' || substr(md5(shingle), 1, 8)) AS BIGINT)"
    h2 = "(CAST(('0x' || substr(md5(shingle), 9, 8)) AS BIGINT) | 1)"
    bit = "(CAST(1 AS BIGINT) << CAST(pos % 63 AS INT))"
    return f"""
WITH toks AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS w
  FROM documents),
grams AS (
  SELECT doc_id, unnest(CASE WHEN len(w) >= {_DECONTAM_N}
    THEN list_distinct(list_transform(range(1, len(w)-{_DECONTAM_N}+2),
                                      i -> array_to_string(w[i:i+{_DECONTAM_N - 1}], ' ')))
    ELSE [array_to_string(w, ' ')] END) AS shingle
  FROM toks),
bpos AS (
  SELECT DISTINCT (h1 + i * h2) % {m} AS pos FROM (
    SELECT DISTINCT {h1} AS h1, {h2} AS h2
    FROM grams WHERE doc_id % 53 = 7)
  CROSS JOIN (SELECT unnest(range({k})) AS i)),
words AS (
  SELECT pos // 63 AS word, bit_or({bit}) AS bits FROM bpos GROUP BY 1),
probes AS (
  SELECT doc_id, shingle, (h1 + i * h2) % {m} AS pos FROM (
    SELECT doc_id, shingle, {h1} AS h1, {h2} AS h2
    FROM grams WHERE doc_id % 53 <> 7)
  CROSS JOIN (SELECT unnest(range({k})) AS i)),
hits AS (
  SELECT p.doc_id, p.shingle,
         MIN(CASE WHEN (COALESCE(w.bits, 0) & (CAST(1 AS BIGINT) << CAST(p.pos % 63 AS INT))) <> 0
             THEN 1 ELSE 0 END) AS all_hit
  FROM probes p LEFT JOIN words w ON w.word = p.pos // 63
  GROUP BY 1, 2)
SELECT doc_id, COUNT(*) AS n_contaminated_ngrams
FROM hits WHERE all_hit = 1 GROUP BY doc_id ORDER BY doc_id
"""


def repetition_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality gate per document."""
    t = load_tables(spark, sf_dir, ["documents"])
    c = F.col("text")
    return (
        ensure_parallelism(t["documents"])  # O(n*distinct) array work per row
        .select(
            "doc_id",
            X.dup_token_ratio(c).alias("dup_token_ratio"),
            X.dup_bigram_ratio(c).alias("dup_bigram_ratio"),
            X.top_token_ratio(c).alias("top_token_ratio"),
            X.repetition_ok(c).alias("repetition_ok"),
        )
    )


_W = _NORM_SPLIT
_DUP_TOK = (f"(CASE WHEN len({_W}) > 0 THEN ROUND(CAST(len({_W}) - "
            f"len(list_distinct({_W})) AS DOUBLE) / len({_W}), 4) ELSE 0.0 END)")
_BIGRAMS = f"list_transform(range(1, len({_W})), i -> {_W}[i] || ' ' || {_W}[i+1])"
_DUP_BI = (f"(CASE WHEN len({_W}) > 1 THEN ROUND(CAST(len({_BIGRAMS}) - "
           f"len(list_distinct({_BIGRAMS})) AS DOUBLE) / len({_BIGRAMS}), 4) ELSE 0.0 END)")
_TOP_TOK = (f"(CASE WHEN len({_W}) > 0 THEN ROUND(CAST(list_max(list_transform("
            f"list_distinct({_W}), t -> len(list_filter({_W}, x -> x = t)))) "
            f"AS DOUBLE) / len({_W}), 4) ELSE 0.0 END)")
_REPETITION_SQL = f"""
SELECT doc_id,
  {_DUP_TOK} AS dup_token_ratio,
  {_DUP_BI} AS dup_bigram_ratio,
  {_TOP_TOK} AS top_token_ratio,
  (CASE WHEN {_DUP_TOK} <= 0.4 AND {_DUP_BI} <= 0.2 AND {_TOP_TOK} <= 0.2
        THEN 1 ELSE 0 END) AS repetition_ok
FROM documents
ORDER BY doc_id
"""


def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII counting + redaction.  The synthetic corpus carries no PII, so a
    deterministic injector appends an email / phone / long-numeric-id to a
    doc_id-keyed subset first; counts and the redacted text are then computed
    by the real operator (pure regexp_replace, both engines)."""
    t = load_tables(spark, sf_dir, ["documents"])
    did = F.col("doc_id").cast("string")
    injected = F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 7 == 0,
               F.concat(F.lit(" contact user"), did, F.lit("@example.com now")))
        .when(F.col("doc_id") % 11 == 3, F.lit(" call +1 555 123 4567"))
        .when(F.col("doc_id") % 13 == 5,
              F.concat(F.lit(" id 99912"),
                       F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0")))
        .otherwise(F.lit("")),
    )
    staged = ensure_parallelism(t["documents"]).select("doc_id", injected.alias("txt"))
    return (
        staged.select(
            "doc_id",
            X.pii_count(F.col("txt"), "EMAIL").alias("n_email"),
            X.pii_count(F.col("txt"), "PHONE").alias("n_phone"),
            X.pii_count(F.col("txt"), "NUMID").alias("n_numid"),
            F.substring(X.redact_pii(F.col("txt")), 1, 120).alias("redacted_head"),
        )
        .where((F.col("n_email") + F.col("n_phone") + F.col("n_numid")) > 0)
    )


def _pii_sql() -> str:
    pats = dict(X.PII_PATTERNS)
    injected = ("text || CASE"
                " WHEN doc_id % 7 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now'"
                " WHEN doc_id % 11 = 3 THEN ' call +1 555 123 4567'"
                " WHEN doc_id % 13 = 5 THEN ' id 99912' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
                " ELSE '' END")
    email, phone, numid = pats["EMAIL"], pats["PHONE"], pats["NUMID"]
    redacted = (f"regexp_replace(regexp_replace(regexp_replace(txt, "
                f"'{email}', '[EMAIL]', 'g'), "
                f"'{phone}', '[PHONE]', 'g'), "
                f"'{numid}', '[NUMID]', 'g')")
    return f"""
WITH staged AS (SELECT doc_id, {injected} AS txt FROM documents)
SELECT doc_id,
  len(regexp_extract_all(txt, '{email}')) AS n_email,
  len(regexp_extract_all(txt, '{phone}')) AS n_phone,
  len(regexp_extract_all(txt, '{numid}')) AS n_numid,
  substring({redacted}, 1, 120) AS redacted_head
FROM staged
WHERE len(regexp_extract_all(txt, '{email}'))
    + len(regexp_extract_all(txt, '{phone}'))
    + len(regexp_extract_all(txt, '{numid}')) > 0
ORDER BY doc_id
"""


def filter_pipeline_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/Dolma-style composed quality gate in one codegen pass
    (text.filter_pipeline): token-count window, stopword floor, duplicate-
    token ceiling, language allowlist; audit-mode output with first failing
    rule per doc."""
    from aliyun_maxcompute_data_collectors_spark.operators.text import (
        dup_token_ratio, filter_pipeline, stopword_ratio, token_count)
    t = load_tables(spark, sf_dir, ["documents"])
    rules = [
        ("len", token_count("text").between(15, 10000)),
        ("stopword", stopword_ratio("text") >= 0.02),
        ("rep", dup_token_ratio("text") <= 0.6),
        ("lang", F.col("lang").isin("en", "de", "fr")),
    ]
    out = filter_pipeline(t["documents"], rules, mode="report")
    return out.select("doc_id", "ok_len", "ok_stopword", "ok_rep", "ok_lang",
                      "kept", "drop_reason")


# DuckDB mirrors of the rule expressions (token/stopword/dup-token formulas
# match text.py's token_count / stopword_ratio / dup_token_ratio)
_FLT_NTOK = "len(string_split_regex(trim(text), '\\s+'))"
_FLT_SW = ("CASE WHEN {n} > 0 THEN CAST(len(regexp_extract_all(lower(text), "
           "'\\b(the|a|of|and|to|in|is|it)\\b')) AS DOUBLE) / {n} "
           "ELSE 0.0 END").format(n=_FLT_NTOK)
_FLT_NORM_TOKS = _NORM_SPLIT
_FLT_DUP = (f"CASE WHEN len({_FLT_NORM_TOKS}) > 0 THEN "
            f"ROUND(CAST(len({_FLT_NORM_TOKS}) - len(list_distinct({_FLT_NORM_TOKS})) AS DOUBLE)"
            f" / len({_FLT_NORM_TOKS}), 4) ELSE 0.0 END")

_FILTER_PIPE_SQL = f"""
WITH flags AS (
  SELECT doc_id,
    COALESCE({_FLT_NTOK} BETWEEN 15 AND 10000, FALSE) AS ok_len,
    COALESCE({_FLT_SW} >= 0.02, FALSE) AS ok_stopword,
    COALESCE({_FLT_DUP} <= 0.6, FALSE) AS ok_rep,
    COALESCE(lang IN ('en', 'de', 'fr'), FALSE) AS ok_lang
  FROM documents)
SELECT doc_id, ok_len, ok_stopword, ok_rep, ok_lang,
       (ok_len AND ok_stopword AND ok_rep AND ok_lang) AS kept,
       CASE WHEN NOT ok_len THEN 'len'
            WHEN NOT ok_stopword THEN 'stopword'
            WHEN NOT ok_rep THEN 'rep'
            WHEN NOT ok_lang THEN 'lang' END AS drop_reason
FROM flags
"""


def dedup_incremental_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-dedup a 'daily batch' (doc_id % 5 = 0) against the historical
    corpus fingerprint store (the other 80%) without rescanning history
    (dedup.incremental_exact_dedup).  Returns the kept batch rows."""
    t = load_tables(spark, sf_dir, ["documents"])
    docs = t["documents"]
    hist = docs.where(F.col("doc_id") % 5 != 0)
    batch = docs.where(F.col("doc_id") % 5 == 0)
    store = (
        hist.select(D._fp_or_sentinel("text").alias("fp"),
                    F.col("doc_id").alias("keep_id"))
        .groupBy("fp").agg(F.min("keep_id").alias("keep_id"))
    )
    kept, _delta = D.incremental_exact_dedup(batch, "doc_id", "text", store)
    return kept.select("doc_id", "lang", "source")



_DEDUP_INCR_SQL = f"""
WITH hist AS (
  SELECT DISTINCT {_FP_EXPR} AS fp FROM documents WHERE doc_id % 5 <> 0),
batch AS (
  SELECT doc_id, {_FP_EXPR} AS fp FROM documents WHERE doc_id % 5 = 0),
reps AS (
  SELECT fp, MIN(doc_id) AS keep_id FROM batch GROUP BY 1),
fresh AS (
  SELECT r.keep_id FROM reps r
  WHERE NOT EXISTS (SELECT 1 FROM hist h WHERE h.fp = r.fp))
SELECT d.doc_id, d.lang, d.source
FROM documents d JOIN fresh f ON d.doc_id = f.keep_id
"""


def minhash_incr_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup dedup of the doc_id%5=0 batch against historical MinHash
    band-bucket + signature stores (dedup.incremental_minhash_dedup); output
    is the surviving batch doc ids."""
    t = load_tables(spark, sf_dir, ["documents"])
    docs = t["documents"]
    batch = docs.where(F.col("doc_id") % 5 == 0)
    # ONE corpus-wide signature pass (r13), sliced into the history store
    # and the batch side via batch_sig: previously history and batch each
    # ran their own shingle->hash->min scan (the dominant cost), and the
    # history slice additionally feeds BOTH the band-bucket build and the
    # verify re-attach - the checkpoint cuts that relineage too (r12)
    allsig = D.minhash_signature(docs, "doc_id", "text", D.DEFAULT_K) \
        .localCheckpoint(eager=True)
    hsig = allsig.where(F.col("id") % 5 != 0)
    hbuckets = D.minhash_band_buckets(hsig)
    kept, _s, _b = D.incremental_minhash_dedup(
        batch, "doc_id", "text", sig_store=hsig, bucket_store=hbuckets,
        batch_sig=allsig.where(F.col("id") % 5 == 0))
    return kept.select("doc_id")


def _minhash_incr_sql(k: int = D.DEFAULT_K, bands: int = D.DEFAULT_BANDS,
                      threshold: float = 0.8) -> str:
    rows = k // bands
    shingles, mins = D.minhash_sql_parts("text", k=k, n=5)
    band_selects = []
    for bi in range(bands):
        cols = ", ".join(f"sig_{bi * rows + r}" for r in range(rows))
        band_selects.append(
            f"SELECT id, {', '.join(f'sig_{i}' for i in range(k))}, "
            f"{bi} AS band, md5(concat_ws(',', {cols})) AS bucket FROM sig"
        )
    sim = " + ".join(f"(CASE WHEN a.sig_{i} = s.sig_{i} THEN 1 ELSE 0 END)"
                     for i in range(k))
    return f"""
WITH _src AS (SELECT doc_id AS id, text FROM documents),
sh AS ({shingles}),
sig AS (SELECT id, {", ".join(mins)} FROM sh GROUP BY id),
bands AS (
  {" UNION ALL ".join(band_selects)}
),
cand AS (
  SELECT DISTINCT a.id AS new_id, b.id AS old_id
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bucket = b.bucket
   AND a.id % 5 = 0
   AND (b.id % 5 <> 0 OR b.id < a.id)
),
dup AS (
  SELECT DISTINCT c.new_id
  FROM cand c
  JOIN sig a ON a.id = c.new_id
  JOIN sig s ON s.id = c.old_id
  WHERE ({sim}) / {float(k)} >= {threshold}
)
SELECT d.doc_id
FROM documents d
WHERE d.doc_id % 5 = 0
  AND NOT EXISTS (SELECT 1 FROM dup WHERE dup.new_id = d.doc_id)
"""


def span_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style duplicate-span removal (dedup.span_dedup): drop every
    aligned 20-word span whose text was already seen at a lexicographically
    earlier (doc, position); emit per-doc kept counts + md5 of the
    reassembled text so the driver compare stays narrow."""
    t = load_tables(spark, sf_dir, ["documents"])
    out = D.span_dedup(t["documents"], "doc_id", "text", span_words=20)
    return out.select(
        F.col("id").alias("doc_id"), "n_spans", "n_kept",
        F.md5("text_dedup").alias("text_md5"))


_SPAN_DEDUP_SQL = """
WITH w AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS words
  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
),
s AS (
  SELECT doc_id, words,
         CAST(ceil(len(words) / 20.0) AS INT) AS n_spans,
         unnest(range(0, CAST(ceil(len(words) / 20.0) AS BIGINT))) AS span_idx
  FROM w
),
sp AS (
  SELECT doc_id, n_spans, span_idx,
         array_to_string(words[span_idx*20 + 1 : LEAST((span_idx+1)*20, len(words))], ' ') AS span
  FROM s
),
f AS (SELECT doc_id, n_spans, span_idx, span, md5(span) AS fp FROM sp),
win AS (SELECT fp, MIN({'d': doc_id, 'p': span_idx}) AS w FROM f GROUP BY 1),
kept AS (
  SELECT f.* FROM f JOIN win USING (fp)
  WHERE f.doc_id = win.w.d AND f.span_idx = win.w.p
)
SELECT doc_id, MAX(n_spans) AS n_spans,
       CAST(COUNT(*) AS INT) AS n_kept,
       md5(string_agg(span, ' ' ORDER BY span_idx)) AS text_md5
FROM kept GROUP BY doc_id
"""


def bpe_merges_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE vocabulary training (bpe.bpe_train, Sennrich et al. 2016):
    first 30 merges learned from the corpus word-frequency table with
    the deterministic (count DESC, left, right) tie-break.  The greedy
    merge loop is not SQL-expressible, so this row registers WITHOUT a
    DuckDB oracle (rows-only driver check); path equivalence (driver
    loop == distributed loop) and the reference algorithm are pinned by
    tests/test_operators.py instead."""
    from aliyun_maxcompute_data_collectors_spark.operators import bpe

    t = load_tables(spark, sf_dir, ["documents"])
    return bpe.bpe_train(t["documents"], n_merges=30).orderBy("rank")


def bpe_pair_counts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distributed foundation of BPE training under the hash oracle
    (VERDICT r7 #1): corpus pass (tokenize -> word-frequency table) plus
    the first iteration's weighted adjacent-pair counts with the exact
    (count DESC, lhs, rhs) tie-break - so ``bpe_merges``' greedy loop
    rests on oracle-checked inputs, and its iteration-1 argmax IS this
    query's pair_rank=1 row."""
    from aliyun_maxcompute_data_collectors_spark.operators import bpe

    t = load_tables(spark, sf_dir, ["documents"])
    return bpe.adjacent_pair_counts(t["documents"], top_n=40)


_BPE_PAIR_COUNTS_SQL = """
WITH words AS (
  SELECT word, COUNT(*) AS cnt
  FROM (SELECT UNNEST(list_filter(
                 regexp_split_to_array(LOWER(text), '[^a-z]+'),
                 t -> t <> '')) AS word
        FROM documents WHERE text IS NOT NULL)
  GROUP BY word),
pairs AS (
  SELECT substr(word, i, 1) AS lhs, substr(word, i + 1, 1) AS rhs,
         SUM(cnt) AS pair_count
  FROM words, UNNEST(range(1, length(word))) AS t(i)
  WHERE length(word) >= 2
  GROUP BY 1, 2),
ranked AS (
  SELECT CAST(ROW_NUMBER() OVER (
           ORDER BY pair_count DESC, lhs, rhs) AS INT) AS pair_rank,
         lhs, rhs, CAST(pair_count AS BIGINT) AS pair_count
  FROM pairs)
SELECT * FROM ranked ORDER BY pair_rank LIMIT 40
"""


_BM25_TERMS = ("vector", "hash", "join", "stream")


def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 keyword retrieval (text.bm25_scores): top-15 corpus
    documents for a fixed 4-term query with a deterministic (score DESC,
    doc_id) tie-break, via orderBy+limit so Spark plans a DISTRIBUTED
    TakeOrderedAndProject - per-partition top-15 then a 15-row merge,
    never a single-partition global window (at corpus scale the scored
    frame is millions of matching docs).  Per-term partials are rounded
    then summed as decimals so ranking never depends on float
    accumulation order."""
    t = load_tables(spark, sf_dir, ["documents"])
    s = X.bm25_scores(t["documents"], list(_BM25_TERMS))
    return s.orderBy(F.desc("score"), F.asc("doc_id")).limit(15)


_BM25_SQL = """
WITH b AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(LOWER(text), '[^a-z]+'),
                     t -> t <> '') AS toks
  FROM documents WHERE text IS NOT NULL),
b2 AS (SELECT doc_id, toks, len(toks) AS dl FROM b),
corpus AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM b2),
tf AS (
  SELECT doc_id, dl, term, COUNT(*) AS tf
  FROM (SELECT doc_id, dl, UNNEST(toks) AS term FROM b2)
  WHERE term IN ('vector', 'hash', 'join', 'stream')
  GROUP BY doc_id, dl, term),
dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
scored AS (
  -- every fractional literal is cast to DOUBLE: DuckDB parses bare
  -- decimal-point literals as DECIMAL, whose exact arithmetic would
  -- diverge from Spark's double expression tree
  SELECT tf.doc_id,
         CAST(ROUND(
           LN(1.0::DOUBLE + (corpus.n_docs - dfreq.df + 0.5::DOUBLE)
                            / (dfreq.df + 0.5::DOUBLE))
           * (tf.tf * 2.2::DOUBLE)
           / (tf.tf + 1.2::DOUBLE
              * (1.0::DOUBLE - 0.75::DOUBLE
                 + 0.75::DOUBLE * tf.dl / corpus.avgdl)),
           6) AS DECIMAL(18,6)) AS s
  FROM tf JOIN dfreq USING (term) CROSS JOIN corpus),
agg AS (SELECT doc_id, CAST(SUM(s) AS DOUBLE) AS score
        FROM scored GROUP BY doc_id)
SELECT doc_id, score FROM agg
ORDER BY score DESC, doc_id LIMIT 15
"""


def substring_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stride-1 exact substring dedup (dedup.substring_dedup, Lee et al.
    2022): remove every word covered by a 20-word window whose text was
    already seen at a lexicographically earlier (doc, position) at ANY
    offset; emit per-affected-doc removal counts + md5 of the rebuilt
    text so the driver compare stays narrow."""
    t = load_tables(spark, sf_dir, ["documents"])
    out = D.substring_dedup(t["documents"], "doc_id", "text", k=20)
    return out.select(
        F.col("id").alias("doc_id"), "n_words", "n_removed",
        F.md5("text_dedup").alias("text_md5"))


_SUBSTRING_DEDUP_SQL = """
WITH b AS (
  SELECT doc_id AS id, string_split_regex(trim(text), '\\s+') AS words,
         len(string_split_regex(trim(text), '\\s+')) AS n_words
  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
),
g AS (
  SELECT id, words,
         unnest(range(0, n_words - 19)) AS pos
  FROM b WHERE n_words >= 20
),
f AS (
  SELECT id, pos,
         md5(array_to_string(words[pos + 1 : pos + 20], ' ')) AS fp
  FROM g
),
win AS (
  SELECT fp, MIN({'d': id, 'p': pos}) AS w, COUNT(*) AS c
  FROM f GROUP BY 1
),
dup AS (
  SELECT f.id, f.pos FROM f JOIN win USING (fp)
  WHERE win.c >= 2 AND NOT (f.id = win.w.d AND f.pos = win.w.p)
),
affected AS (SELECT DISTINCT id FROM dup),
cover AS (
  SELECT DISTINCT id, wpos
  FROM (SELECT id, unnest(range(pos, pos + 20)) AS wpos FROM dup)
),
wp AS (
  SELECT b.id, unnest(range(0, b.n_words)) AS wpos, unnest(b.words) AS word
  FROM b JOIN affected USING (id)
),
keptw AS (
  SELECT wp.id, wp.wpos, wp.word
  FROM wp LEFT JOIN cover c ON c.id = wp.id AND c.wpos = wp.wpos
  WHERE c.id IS NULL
),
rem AS (SELECT id, CAST(COUNT(*) AS INT) AS n_removed FROM cover GROUP BY id),
txt AS (SELECT id, string_agg(word, ' ' ORDER BY wpos) AS t FROM keptw GROUP BY id)
SELECT a.id AS doc_id, CAST(b.n_words AS INT) AS n_words, rem.n_removed,
       md5(COALESCE(txt.t, '')) AS text_md5
FROM affected a
JOIN b USING (id)
JOIN rem USING (id)
LEFT JOIN txt USING (id)
"""


def boilerplate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc boilerplate fraction: word 3-gram shingles shared by >=2 docs
    of the same source (corpus.boilerplate_scores - the C4 repeated-span
    signal as a score)."""
    from aliyun_maxcompute_data_collectors_spark.operators.corpus import boilerplate_scores
    t = load_tables(spark, sf_dir, ["documents"])
    return boilerplate_scores(t["documents"], "doc_id", "text",
                              group_col="source", n=3, min_docs=2)


_BOILER_SQL = f"""
WITH {_shingle_cte(3)},
gsh AS (
  SELECT s.id, d.source, s.shingle
  FROM shingles s JOIN documents d ON d.doc_id = s.id),
hot AS (
  SELECT source, shingle FROM gsh GROUP BY 1, 2 HAVING COUNT(*) >= 2)
SELECT g.id AS doc_id,
       COUNT(*) AS n_shingles,
       COUNT(h.shingle) AS n_boiler,
       ROUND(CAST(COUNT(h.shingle) AS DOUBLE) / COUNT(*), 4) AS boiler_frac
FROM gsh g LEFT JOIN hot h
  ON g.source = h.source AND g.shingle = h.shingle
GROUP BY 1
"""


def shard_assign_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 8-shard training-export assignment with stable
    within-shard order (corpus.shard_assign)."""
    from aliyun_maxcompute_data_collectors_spark.operators.corpus import shard_assign
    t = load_tables(spark, sf_dir, ["documents"])
    return shard_assign(t["documents"].select("doc_id", "lang"),
                        "doc_id", n_shards=8).select(
        "doc_id", "lang", "shard_id", "shard_pos")


_SHARD_SQL = """
WITH h AS (
  SELECT doc_id, lang, md5(CAST(doc_id AS VARCHAR) || 'sh42') AS hx
  FROM documents),
a AS (
  SELECT doc_id, lang, hx,
         CAST(CAST(('0x' || substr(hx, 1, 8)) AS BIGINT) % 8 AS INT) AS shard_id
  FROM h)
SELECT doc_id, lang, shard_id,
       CAST(ROW_NUMBER() OVER (PARTITION BY shard_id
                               ORDER BY substr(hx, 9, 16), doc_id) AS INT)
         AS shard_pos
FROM a
"""


# ---------------------------------------------------------------------------
# round-4 (late) corpus analytics: containment dedup, PMI collocations,
# character-entropy gate
# ---------------------------------------------------------------------------

def ngram_containment_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric subset-duplicate pairs: shared 5-gram count over the
    SMALLER doc's shingle set (dedup.ngram_containment_pairs) - catches
    excerpt/quote/concatenation duplicates symmetric Jaccard misses."""
    t = load_tables(spark, sf_dir, ["documents"])
    return D.ngram_containment_pairs(
        t["documents"], "doc_id", "text", n=5, threshold=0.9)


_CONTAIN_SQL = f"""
WITH {_shingle_cte(5)},
counts AS (SELECT id, COUNT(*) AS n_sh FROM shingles GROUP BY id),
inter AS (
  SELECT a.id AS id1, b.id AS id2, COUNT(*) AS i
  FROM shingles a JOIN shingles b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY 1, 2)
SELECT id1, id2,
       ROUND(CAST(i AS DOUBLE) / LEAST(c1.n_sh, c2.n_sh), 4) AS containment
FROM inter JOIN counts c1 ON c1.id = id1 JOIN counts c2 ON c2.id = id2
WHERE ROUND(CAST(i AS DOUBLE) / LEAST(c1.n_sh, c2.n_sh), 4) >= 0.9
ORDER BY id1, id2
"""


def pmi_collocations_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 adjacent-bigram collocations by PMI (corpus.pmi_collocations,
    min_count=5)."""
    from aliyun_maxcompute_data_collectors_spark.operators.corpus import pmi_collocations
    t = load_tables(spark, sf_dir, ["documents"])
    return pmi_collocations(t["documents"], min_count=5, top_k=50)


_PMI_SQL = """
WITH d AS (
  SELECT list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                     t -> t <> '') AS w
  FROM documents),
uc AS (SELECT term, COUNT(*) AS n_term
       FROM (SELECT UNNEST(w) AS term FROM d) GROUP BY term),
bigr AS (
  SELECT bg.x AS x, bg.y AS y FROM (
    SELECT UNNEST(list_transform(range(1, len(w)),
                  i -> struct_pack(x := w[i], y := w[i+1]))) AS bg
    FROM d)),
bc AS (SELECT x, y, COUNT(*) AS n_xy FROM bigr GROUP BY x, y),
tot AS (SELECT (SELECT CAST(SUM(n_term) AS DOUBLE) FROM uc) AS n_tok,
               (SELECT CAST(SUM(n_xy) AS DOUBLE) FROM bc) AS n_big),
cand AS (
  SELECT b.x, b.y, b.n_xy, cx.n_term AS n_x, cy.n_term AS n_y
  FROM bc b JOIN uc cx ON cx.term = b.x JOIN uc cy ON cy.term = b.y
  WHERE b.n_xy >= 5)
SELECT x, y, n_xy, n_x, n_y,
       ROUND(LN((CAST(n_xy AS DOUBLE) / n_big)
                / ((CAST(n_x AS DOUBLE) / n_tok)
                   * (CAST(n_y AS DOUBLE) / n_tok))), 6) AS pmi
FROM cand, tot
ORDER BY pmi DESC, x ASC, y ASC LIMIT 50
"""


def char_entropy_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc character-entropy gate (text.char_entropy, nats,
    min_entropy=1.0)."""
    from aliyun_maxcompute_data_collectors_spark.operators.text import char_entropy
    t = load_tables(spark, sf_dir, ["documents"])
    return char_entropy(t["documents"]).orderBy("doc_id")


_CHARENT_SQL = """
WITH ch AS (
  SELECT doc_id, ch
  FROM (SELECT doc_id, UNNEST(string_split(lower(text), '')) AS ch
        FROM documents)
  WHERE ch <> ''),
counts AS (SELECT doc_id, ch, COUNT(*) AS cnt FROM ch GROUP BY doc_id, ch),
per AS (SELECT doc_id, cnt, SUM(cnt) OVER (PARTITION BY doc_id) AS n
        FROM counts),
terms AS (
  SELECT doc_id, n,
         CAST(ROUND((CAST(cnt AS DOUBLE) / n) * LN(CAST(cnt AS DOUBLE) / n),
                    12) AS DECIMAL(38,15)) AS t
  FROM per)
SELECT doc_id, CAST(MAX(n) AS BIGINT) AS n_chars,
       COUNT(*) AS n_distinct_chars,
       ROUND(-CAST(SUM(t) AS DOUBLE), 6) AS entropy,
       ROUND(-CAST(SUM(t) AS DOUBLE), 6) >= 1.0 AS ok_entropy
FROM terms GROUP BY doc_id ORDER BY doc_id
"""


REGISTRY: dict[str, tuple] = {
    "decontaminate": (decontam_check, _DECONTAM_SQL),
    "decontaminate_bloom": (decontam_bloom_check, _bloom_decontam_sql()),
    "repetition_profile": (repetition_profile, _REPETITION_SQL),
    "pii_redact": (pii_redact, _pii_sql()),
    "det_sample": (det_sample, _DET_SAMPLE_SQL),
    "mixture_rebalance": (mixture_rebalance_q, _MIXTURE_SQL),
    "weighted_sample": (weighted_sample_q, _WSAMPLE_SQL),
    "split_leakage": (split_leakage_q, _LEAKAGE_SQL),
    "corpus_drift": (corpus_drift_q, _DRIFT_SQL),
    "ccnet_buckets": (ccnet_buckets_q, _CCNET_SQL),
    "source_overlap": (source_overlap_q, _SOURCE_OVERLAP_SQL),
    "dup_rate_by_source": (dup_rate_by_source_q, _DUP_RATE_SQL),
    "zipf_profile": (zipf_profile_q, _ZIPF_SQL),
    "ngram_novelty": (ngram_novelty_q, _ngram_novelty_sql()),
    "ivf_assign_incremental": (ivf_assign_q, _ivf_assign_sql()),
    "embedding_quality": (embedding_quality_q, _EMB_QUALITY_SQL),
    "stratified_sample": (strat_sample, _STRAT_SQL),
    "chunk_documents": (chunk_docs, _CHUNK_SQL),
    "pack_sequences": (pack_seqs, _PACK_SQL),
    "corpus_stats": (corpus_stats_q, _CORPUS_STATS_SQL),
    "text_profile": (text_profile, _text_profile_sql()),
    "lang_id": (lang_id_q, _lang_id_sql()),
    "lang_quality_calibrated": (lang_quality_calibrated, _lang_cal_sql()),
    "doc_fingerprint": (doc_fingerprint, _FP_SQL),
    "doc_rolling_fp": (doc_rolling_fp, _ROLLING_FP_SQL),
    "dedup_exact": (dedup_exact, _DEDUP_EXACT_SQL),
    "ngram_jaccard": (ngram_jaccard, _JACCARD_SQL),
    "ngram_containment": (ngram_containment_q, _CONTAIN_SQL),
    "pmi_collocations": (pmi_collocations_q, _PMI_SQL),
    "char_entropy_gate": (char_entropy_q, _CHARENT_SQL),
    "minhash_signature": (minhash_signature, _minhash_sql()),
    "minhash_lsh": (minhash_lsh, _minhash_lsh_sql()),
    "simhash_pairs": (simhash_sig, _simhash64_sql()),  # exact all-pairs oracle
    "simhash32_sig": (simhash32_sig, _SIMHASH32_SQL),
    "dedup_transitive": (dedup_transitive, _dedup_transitive_sql()),
    "ivf_topk": (ivf_topk_q, _ivf_topk_sql()),  # deterministic Lloyd's -> exact
    "embedding_topk": (embedding_topk, _TOPK_EMB_SQL),
    "embedding_dups": (embedding_dups, _EMB_DUPS_SQL),
    "semantic_dedup_exact": (semantic_dedup_exact, _SEMDEDUP_EXACT_SQL),
    "ann_lsh_topk": (ann_lsh, _ann_lsh_sql()),  # deterministic planes -> exact oracle
    "blob_meta": (blob_meta, _BLOB_SQL),
    "frame_sample": (frame_sample, _FRAME_SAMPLE_SQL),
    "boilerplate_frac": (boilerplate_q, _BOILER_SQL),
    "span_dedup": (span_dedup_q, _SPAN_DEDUP_SQL),
    "substring_dedup": (substring_dedup_q, _SUBSTRING_DEDUP_SQL),
    "bm25_topk": (bm25_topk, _BM25_SQL),
    "bpe_merges": (bpe_merges_q, None),  # rows-only: iterative, non-SQL
    # the loop's distributed foundation, hash-oracled (VERDICT r7 #1)
    "bpe_pair_counts": (bpe_pair_counts_q, _BPE_PAIR_COUNTS_SQL),
    "shard_assign": (shard_assign_q, _SHARD_SQL),
    "dedup_incremental": (dedup_incremental_q, _DEDUP_INCR_SQL),
    "minhash_incremental": (minhash_incr_q, _minhash_incr_sql()),
    "filter_pipeline": (filter_pipeline_q, _FILTER_PIPE_SQL),
    "pq_topk": (pq_topk_q, _pq_topk_sql()),  # deterministic fused Lloyd's -> exact
    "pq_code_hist": (pq_code_hist_q, _pq_hist_sql()),
    "ivfpq_topk": (ivfpq_topk_q, _ivfpq_topk_sql()),  # coarse probe + ADC -> exact
    "ann_recall": (ann_recall_q, _ann_recall_sql()),  # IVF vs exact recall@5
}
