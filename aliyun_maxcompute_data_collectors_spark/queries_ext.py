"""Extended query-surface registry: reshaping (PIVOT/UNPIVOT), extended
aggregates (max_by/count_if/bool/bitwise), interval arithmetic, histogram
bucketing, table profiling, and declarative constraint checks.

Same determinism conventions as :mod:`queries` (decimal-exact sums rounded to
double, dates not double-formatted strings, unique ORDER BY tiebreaks).
Registered into the driver registry by ``queries.register_ext_ops``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from aliyun_maxcompute_data_collectors_spark.session import load_tables
from aliyun_maxcompute_data_collectors_spark.operators.profile import check_constraints, profile


def _det_semdedup_oracle() -> str:
    """Oracle for semantic_dedup: deterministic-Lloyd's blocked pairs +
    recursive transitive closure (generator shared with ivf_topk's).
    Called once at module import - the import lives here (not top-level)
    only to keep this module importable standalone in tools that stub
    queries_llm."""
    from aliyun_maxcompute_data_collectors_spark.queries_llm import _det_semdedup_sql
    return _det_semdedup_sql(dim=64, k=8, n_iter=2, threshold=0.40)

_DEC = "decimal(18,6)"


def _dec(c) -> F.Column:
    return (F.col(c) if isinstance(c, str) else c).cast(_DEC)


def _money(col, scale: int = 2) -> F.Column:
    return F.round(col, scale).cast("double")


# ---------------------------------------------------------------------------
# PIVOT / UNPIVOT (reshaping surface; Metabase-style cross-tab SQL gen)
# ---------------------------------------------------------------------------

_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PIVOT_ALIASES = ["urgent", "high", "medium", "notspec", "low"]


def pivot_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-tab: revenue by order-year x priority via ``groupBy().pivot()``
    with an explicit value list (no extra distinct-values job — at 100 TB an
    implicit pivot would scan the table once just to discover the columns)."""
    t = load_tables(spark, sf_dir, ["orders"])
    piv = (
        t["orders"]
        .select(
            F.year("o_orderdate").cast("int").alias("order_year"),
            "o_orderpriority",
            _dec("o_totalprice").alias("price_d"),
        )
        .groupBy("order_year")
        .pivot("o_orderpriority", _PRIORITIES)
        .agg(_money(F.sum("price_d")))
    )
    for raw, alias in zip(_PRIORITIES, _PIVOT_ALIASES):
        piv = piv.withColumnRenamed(raw, alias)
    return piv.orderBy("order_year")


def _pivot_cell(pri: str, alias: str) -> str:
    return (
        "CAST(ROUND(SUM(CASE WHEN o_orderpriority = '" + pri + "' THEN "
        "CAST(o_totalprice AS DECIMAL(18,6)) END), 2) AS DOUBLE) AS " + alias
    )


_PIVOT_SQL = (
    "SELECT CAST(YEAR(o_orderdate) AS INT) AS order_year,\n  "
    + ",\n  ".join(_pivot_cell(p, a) for p, a in zip(_PRIORITIES, _PIVOT_ALIASES))
    + "\nFROM orders GROUP BY 1 ORDER BY 1"
)


def unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide->long melt of the four lineitem measures via ``DataFrame.unpivot``
    (values pass through unchanged - bit-identical doubles)."""
    t = load_tables(spark, sf_dir, ["lineitem"])
    li = t["lineitem"].where(F.col("l_orderkey") % 200 == 7).select(
        "l_orderkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
    )
    return (
        li.unpivot(
            ["l_orderkey", "l_linenumber"],
            ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
            "measure", "value",
        )
    )


_UNPIVOT_SQL = """
SELECT l_orderkey, l_linenumber, measure, value FROM (
  SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS value
    FROM lineitem WHERE l_orderkey % 200 = 7
  UNION ALL
  SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice
    FROM lineitem WHERE l_orderkey % 200 = 7
  UNION ALL
  SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
    FROM lineitem WHERE l_orderkey % 200 = 7
  UNION ALL
  SELECT l_orderkey, l_linenumber, 'l_tax', l_tax
    FROM lineitem WHERE l_orderkey % 200 = 7)
ORDER BY l_orderkey, l_linenumber, measure
"""


# ---------------------------------------------------------------------------
# Extended aggregates (dialect surface beyond SURVEY 2.5)
# ---------------------------------------------------------------------------

def agg_extras(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_by / min_by / count_if / bool_and / bool_or in one grouped pass.
    The argmax ordering key is made unique (price + key/1e10, identical IEEE
    double arithmetic in both engines) so arg extremes are deterministic."""
    t = load_tables(spark, sf_dir, ["orders"])
    tiebreak = F.col("o_totalprice") + F.col("o_orderkey") / F.lit(1e10)
    return (
        t["orders"]
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.count_if(F.col("o_totalprice") > 300000).alias("n_big"),
            F.bool_and(F.col("o_totalprice") > 0).alias("all_positive"),
            F.bool_or(F.col("o_orderstatus") == "O").alias("any_open"),
            F.max_by("o_orderkey", tiebreak).alias("best_key"),
            F.min_by("o_orderkey", tiebreak).alias("worst_key"),
        )
        .orderBy("o_orderpriority")
    )


_AGG_EXTRAS_SQL = """
SELECT o_orderpriority,
  COUNT(*) AS n_orders,
  CAST(COUNT(*) FILTER (WHERE o_totalprice > 300000) AS BIGINT) AS n_big,
  BOOL_AND(o_totalprice > 0) AS all_positive,
  BOOL_OR(o_orderstatus = 'O') AS any_open,
  MAX_BY(o_orderkey, o_totalprice + o_orderkey / 1e10) AS best_key,
  MIN_BY(o_orderkey, o_totalprice + o_orderkey / 1e10) AS worst_key
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def bitwise_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise aggregate family (bit_and/bit_or/bit_xor) plus a popcount sum
    - integer-exact, shuffle-order-independent by construction."""
    t = load_tables(spark, sf_dir, ["lineitem"])
    return (
        t["lineitem"]
        .groupBy("l_returnflag")
        .agg(
            F.bit_and("l_orderkey").alias("key_and"),
            F.bit_or("l_orderkey").alias("key_or"),
            F.bit_xor("l_orderkey").alias("key_xor"),
            F.sum(F.bit_count("l_orderkey").cast("long")).alias("popcount_sum"),
        )
        .orderBy("l_returnflag")
    )


_BITWISE_SQL = """
SELECT l_returnflag,
  BIT_AND(l_orderkey) AS key_and,
  BIT_OR(l_orderkey) AS key_or,
  BIT_XOR(l_orderkey) AS key_xor,
  CAST(SUM(CAST(BIT_COUNT(l_orderkey) AS BIGINT)) AS BIGINT) AS popcount_sum
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


# ---------------------------------------------------------------------------
# Interval arithmetic (dialect date-math surface, SURVEY 2.10)
# ---------------------------------------------------------------------------

def interval_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """add_months (month-end clamped in both engines), last_day, day offset,
    datediff-to-anchor, and next_day (oracle mirrors it with ISODOW
    arithmetic: strictly-after next Monday)."""
    t = load_tables(spark, sf_dir, ["orders"])
    d = F.col("o_orderdate").cast("date")
    return (
        t["orders"]
        .where(F.col("o_orderkey") % 10 == 1)
        .select(
            "o_orderkey",
            d.alias("d0"),
            F.add_months(d, 3).alias("plus3m"),
            F.last_day(d).alias("month_end"),
            F.date_add(d, 30).alias("plus30d"),
            F.datediff(F.lit("1998-12-31").cast("date"), d).alias("days_to_anchor"),
            F.next_day(d, "Mon").alias("next_mon"),
        )
    )


_INTERVAL_SQL = """
SELECT o_orderkey,
  CAST(o_orderdate AS DATE) AS d0,
  CAST(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS DATE) AS plus3m,
  LAST_DAY(CAST(o_orderdate AS DATE)) AS month_end,
  CAST(o_orderdate AS DATE) + 30 AS plus30d,
  CAST(DATEDIFF('day', CAST(o_orderdate AS DATE), DATE '1998-12-31') AS INT) AS days_to_anchor,
  CAST(o_orderdate AS DATE)
    + CAST(CASE WHEN (8 - ISODOW(CAST(o_orderdate AS DATE))) % 7 = 0 THEN 7
                ELSE (8 - ISODOW(CAST(o_orderdate AS DATE))) % 7 END AS INTEGER) AS next_mon
FROM orders
WHERE o_orderkey % 10 = 1
ORDER BY o_orderkey
"""


# ---------------------------------------------------------------------------
# Histogram bucketing
# ---------------------------------------------------------------------------

def width_bucket_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram via ``width_bucket`` (map-side bucket id + one
    shuffle on ~7 groups).  The oracle mirrors Spark's exact formula
    ``floor(n*(v-lo)/(hi-lo)) + 1`` with FLOOR-before-cast (DuckDB rounds on
    double->int casts; Spark truncates)."""
    t = load_tables(spark, sf_dir, ["orders"])
    bucket = F.width_bucket(
        F.col("o_totalprice"), F.lit(0.0), F.lit(500000.0), F.lit(5)
    )
    return (
        t["orders"]
        .groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            _money(F.sum(_dec("o_totalprice"))).alias("sum_price"),
        )
        .orderBy("bucket")
    )


_WIDTH_BUCKET_SQL = """
SELECT CASE WHEN o_totalprice < 0 THEN 0
            WHEN o_totalprice >= 500000 THEN 6
            ELSE CAST(FLOOR(5.0 * (o_totalprice - 0.0) / 500000.0) AS BIGINT) + 1
       END AS bucket,
  COUNT(*) AS n_orders,
  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_price
FROM orders
GROUP BY 1
ORDER BY bucket
"""


# ---------------------------------------------------------------------------
# Profiling + constraint checks (operators/profile.py)
# ---------------------------------------------------------------------------

def profile_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass per-column profile of the documents table (long format)."""
    t = load_tables(spark, sf_dir, ["documents"])
    return profile(t["documents"], ["doc_id", "n_chars", "lang", "source"]) \
        .orderBy("col_name")


def _profile_num(col: str) -> str:
    return f"""
SELECT '{col}' AS col_name, COUNT(*) AS n_rows,
  COUNT(*) - COUNT({col}) AS n_null,
  CAST(COUNT(DISTINCT {col}) AS BIGINT) AS n_distinct,
  CAST(MIN({col}) AS DOUBLE) AS min_num, CAST(MAX({col}) AS DOUBLE) AS max_num,
  CAST(NULL AS VARCHAR) AS min_text, CAST(NULL AS VARCHAR) AS max_text
FROM documents"""


def _profile_text(col: str) -> str:
    return f"""
SELECT '{col}' AS col_name, COUNT(*) AS n_rows,
  COUNT(*) - COUNT({col}) AS n_null,
  CAST(COUNT(DISTINCT {col}) AS BIGINT) AS n_distinct,
  CAST(NULL AS DOUBLE) AS min_num, CAST(NULL AS DOUBLE) AS max_num,
  MIN({col}) AS min_text, MAX({col}) AS max_text
FROM documents"""


_PROFILE_SQL = (
    "SELECT * FROM ("
    + " UNION ALL ".join([
        _profile_num("doc_id"), _profile_num("n_chars"),
        _profile_text("lang"), _profile_text("source"),
    ])
    + ") ORDER BY col_name"
)


def constraint_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality rules over orders: one aggregate scan for the
    row-local rules, one key aggregate for uniqueness, one broadcast
    anti-join for the FK (customer is dimension-sized)."""
    t = load_tables(spark, sf_dir, ["orders", "customer"])
    rules = [
        ("fk_custkey", "foreign_key", ["o_custkey"], "customer", ["c_custkey"]),
        ("nn_custkey", "not_null", "o_custkey"),
        ("range_price", "range", "o_totalprice", 0.0, 200000.0),
        ("regex_priority", "regex", "o_orderpriority", r"^[1-5]-[A-Z ]+$"),
        ("uniq_orderkey", "unique", ["o_orderkey"]),
    ]
    return check_constraints(t["orders"], rules, {"customer": t["customer"]})


_CONSTRAINT_SQL = """
SELECT * FROM (
  SELECT 'fk_custkey' AS rule, CAST(COUNT(*) AS BIGINT) AS violations
    FROM orders o WHERE o_custkey IS NOT NULL
      AND NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
  UNION ALL
  SELECT 'nn_custkey', CAST(COUNT(*) FILTER (WHERE o_custkey IS NULL) AS BIGINT)
    FROM orders
  UNION ALL
  SELECT 'range_price', CAST(COUNT(*) FILTER (
      WHERE o_totalprice IS NOT NULL
        AND (o_totalprice < 0 OR o_totalprice > 200000)) AS BIGINT)
    FROM orders
  UNION ALL
  SELECT 'regex_priority', CAST(COUNT(*) FILTER (
      WHERE o_orderpriority IS NOT NULL
        AND NOT REGEXP_MATCHES(o_orderpriority, '^[1-5]-[A-Z ]+$')) AS BIGINT)
    FROM orders
  UNION ALL
  SELECT 'uniq_orderkey',
         CAST(COUNT(o_orderkey) - COUNT(DISTINCT o_orderkey) AS BIGINT)
    FROM orders WHERE o_orderkey IS NOT NULL)
ORDER BY rule
"""


# ---------------------------------------------------------------------------
# TF-IDF keyword extraction (training-data curation surface)
# ---------------------------------------------------------------------------

def tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (corpus-wide doc frequencies; output
    restricted to a deterministic doc subset to bound the result)."""
    from aliyun_maxcompute_data_collectors_spark.operators.text import tfidf_top_terms
    t = load_tables(spark, sf_dir, ["documents"])
    top = tfidf_top_terms(t["documents"], "doc_id", "text", k=3, min_len=2)
    return top.where(F.col("doc_id") % 20 == 3)


_TFIDF_SQL = """
WITH tok AS (
  SELECT doc_id,
         UNNEST(regexp_split_to_array(LOWER(text), '[^a-z]+')) AS term
  FROM documents),
tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM tok
  WHERE term <> '' AND LENGTH(term) >= 2
  GROUP BY doc_id, term),
dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
         ROUND(tf.tf * LN(CAST(n.n_docs AS DOUBLE) / dfreq.df), 4) AS score,
         CAST(ROW_NUMBER() OVER (PARTITION BY tf.doc_id
                                 ORDER BY tf.tf DESC, tf.term ASC) AS INT) AS rk
  FROM tf JOIN dfreq USING (term) CROSS JOIN n)
SELECT doc_id, term, tf, df, score, rk
FROM scored WHERE rk <= 3 AND doc_id % 20 = 3
ORDER BY doc_id, rk
"""


# ---------------------------------------------------------------------------
# Window value functions / conditional expressions (dialect completeness)
# ---------------------------------------------------------------------------

def window_value_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value / last_value / nth_value over an explicit full-partition
    ROWS frame (the default RANGE..CURRENT ROW frame would make last_value
    degenerate) with a unique ordering."""
    t = load_tables(spark, sf_dir, ["orders"])
    w = (
        Window.partitionBy("o_orderpriority")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    w_rn = Window.partitionBy("o_orderpriority") \
                 .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    out = t["orders"].select(
        "o_orderpriority", "o_orderkey",
        F.row_number().over(w_rn).alias("rn"),
        F.first("o_orderkey").over(w).alias("top_key"),
        F.last("o_orderkey").over(w).alias("bottom_key"),
        F.nth_value("o_orderkey", 3).over(w).alias("third_key"),
    )
    return out.where(F.col("rn") <= 5).orderBy("o_orderpriority", "rn")


_WINDOW_VALUE_SQL = """
SELECT o_orderpriority, o_orderkey, rn, top_key, bottom_key, third_key FROM (
  SELECT o_orderpriority, o_orderkey,
    CAST(ROW_NUMBER() OVER w0 AS INT) AS rn,
    FIRST_VALUE(o_orderkey) OVER w AS top_key,
    LAST_VALUE(o_orderkey) OVER w AS bottom_key,
    NTH_VALUE(o_orderkey, 3) OVER w AS third_key
  FROM orders
  WINDOW
    w0 AS (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey ASC),
    w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey ASC
          ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
WHERE rn <= 5
ORDER BY o_orderpriority, rn
"""


def conditional_exprs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE banding, NULLIF/COALESCE, GREATEST/LEAST - per-row conditional
    scalar surface; all passthrough arithmetic (bit-identical doubles)."""
    t = load_tables(spark, sf_dir, ["orders"])
    price = F.col("o_totalprice")
    return (
        t["orders"]
        .where(F.col("o_orderkey") % 20 == 11)
        .select(
            "o_orderkey",
            F.when(price < 50000, "small")
             .when(price < 200000, "medium")
             .otherwise("large").alias("band"),
            F.nullif(F.col("o_orderstatus"), F.lit("P")).alias("status_np"),
            F.coalesce(F.nullif(F.col("o_orderstatus"), F.lit("P")), F.lit("?")).alias("status_filled"),
            F.greatest(price, F.lit(250000.0)).alias("floor_price"),
            F.least(price, F.lit(250000.0)).alias("capped_price"),
        )
    )


_CONDITIONAL_SQL = """
SELECT o_orderkey,
  CASE WHEN o_totalprice < 50000 THEN 'small'
       WHEN o_totalprice < 200000 THEN 'medium'
       ELSE 'large' END AS band,
  NULLIF(o_orderstatus, 'P') AS status_np,
  COALESCE(NULLIF(o_orderstatus, 'P'), '?') AS status_filled,
  GREATEST(o_totalprice, 250000.0) AS floor_price,
  LEAST(o_totalprice, 250000.0) AS capped_price
FROM orders
WHERE o_orderkey % 20 = 11
ORDER BY o_orderkey
"""


# ---------------------------------------------------------------------------
# Time-series resample + gap fill (operators/timeseries.py)
# ---------------------------------------------------------------------------

def resample_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly per-user grid over events with forward-filled sums; user subset
    keeps the result bounded (the grid math is per-key, so the filter is
    semantics-preserving pushdown)."""
    from aliyun_maxcompute_data_collectors_spark.operators.timeseries import resample_fill
    t = load_tables(spark, sf_dir, ["events"])
    ev = t["events"].where(F.col("user_id") % 50 == 3)
    return resample_fill(ev, "user_id", "ts", "value", 3600)


_RESAMPLE_SQL = """
WITH ev AS (
  SELECT user_id,
         CAST(epoch_us(ts) // 1000000 AS BIGINT)
           - CAST(epoch_us(ts) // 1000000 AS BIGINT) % 3600 AS bucket_start,
         CAST(value AS DECIMAL(18,6)) AS v
  FROM events WHERE user_id % 50 = 3),
per AS (
  SELECT user_id, bucket_start, COUNT(*) AS n_events,
         CAST(ROUND(SUM(v), 2) AS DOUBLE) AS bucket_sum
  FROM ev GROUP BY user_id, bucket_start),
rng AS (
  SELECT user_id, MIN(bucket_start) AS b0, MAX(bucket_start) AS b1
  FROM per GROUP BY user_id),
grid AS (
  SELECT user_id, UNNEST(generate_series(b0, b1, 3600)) AS bucket_start
  FROM rng)
SELECT g.user_id, g.bucket_start,
       COALESCE(p.n_events, 0) AS n_events,
       p.bucket_sum,
       LAST_VALUE(p.bucket_sum IGNORE NULLS) OVER (
         PARTITION BY g.user_id ORDER BY g.bucket_start
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_sum,
       p.bucket_sum IS NULL AS is_gap
FROM grid g LEFT JOIN per p
  ON g.user_id = p.user_id AND g.bucket_start = p.bucket_start
ORDER BY g.user_id, g.bucket_start
"""


# ---------------------------------------------------------------------------
# SemDeDup (semantic embedding dedup over the deterministic k-means)
# ---------------------------------------------------------------------------

def semantic_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus minus semantic near-duplicates (k-means blocked cosine,
    transitive groups, min-id representative kept).  Round 4: the blocking
    quantizer is the deterministic seeded Lloyd's (similarity.det_kmeans),
    so the full pipeline hash-matches a DuckDB oracle (upgraded from
    rows-only)."""
    from aliyun_maxcompute_data_collectors_spark.operators.similarity import det_semantic_dedup
    from aliyun_maxcompute_data_collectors_spark.queries_llm import _coarse_centers
    t = load_tables(spark, sf_dir, ["embeddings"])
    # the synthetic embeddings have no 0.9+ twins (max off-diagonal cosine is
    # ~0.51); 0.40 exercises real drops while staying "nearest neighbors only"
    # r7: the coarse quantizer is the session-cached shared one (identical
    # dim/k/iters/seed to ivf_topk/ivfpq_topk - train once, assign many)
    kept = det_semantic_dedup(t["embeddings"], dim=64, threshold=0.40,
                              n_clusters=8, n_iter=2,
                              centers=_coarse_centers(spark, sf_dir))
    return kept.select("vec_id")


# ---------------------------------------------------------------------------
# Deterministic train/val/test split assignment
# ---------------------------------------------------------------------------

def split_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """80/10/10 hash-based split; per (split, lang) counts + id extremes.
    The same id maps to the same split on any engine/cluster/corpus size."""
    from aliyun_maxcompute_data_collectors_spark.operators.corpus import split_assign
    t = load_tables(spark, sf_dir, ["documents"])
    assigned = split_assign(t["documents"], "doc_id",
                            {"train": 0.8, "val": 0.1, "test": 0.1})
    return (
        assigned.groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
        )
        .orderBy("split", "lang")
    )


_HFRAC_EXT = ("CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 's42'), 1, 8)) AS BIGINT)"
              " / 4294967296.0")

_SPLIT_SQL = f"""
WITH assigned AS (
  SELECT doc_id, lang,
         CASE WHEN {_HFRAC_EXT} < 0.8 THEN 'train'
              WHEN {_HFRAC_EXT} < 0.9 THEN 'val'
              ELSE 'test' END AS split
  FROM documents)
SELECT split, lang, COUNT(*) AS n_docs,
       MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
FROM assigned
GROUP BY split, lang
ORDER BY split, lang
"""


# ---------------------------------------------------------------------------
# Rolling (trailing) window statistics over the hourly grid
# ---------------------------------------------------------------------------

def rolling_hourly_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-bucket trailing window per user over hourly sums: rolling decimal
    sum (exact under any frame evaluation order), min/max, and an average
    derived from the exact sum - the moving-feature shape of a time-series
    pipeline."""
    from aliyun_maxcompute_data_collectors_spark.operators.timeseries import bucket_start
    t = load_tables(spark, sf_dir, ["events"])
    ev = t["events"].where(F.col("user_id") % 100 == 7)
    hourly = (
        ev.select("user_id", bucket_start(F.col("ts"), 3600).alias("bucket_start"),
                  _dec("value").alias("v"))
        .groupBy("user_id", "bucket_start")
        .agg(F.sum("v").alias("sum_d"), F.count(F.lit(1)).alias("n"))
    )
    w = (Window.partitionBy("user_id").orderBy("bucket_start")
         .rowsBetween(-3, Window.currentRow))
    return hourly.select(
        "user_id", "bucket_start",
        _money(F.col("sum_d")).alias("hour_sum"),
        _money(F.sum("sum_d").over(w)).alias("roll_sum"),
        _money(F.min("sum_d").over(w)).alias("roll_min"),
        _money(F.max("sum_d").over(w)).alias("roll_max"),
        F.round(F.sum("sum_d").over(w).cast("double") / F.sum("n").over(w), 4)
        .alias("roll_avg_per_event"),
    )


_ROLLING_SQL = """
WITH hourly AS (
  SELECT user_id,
         CAST(epoch_us(ts) // 1000000 AS BIGINT)
           - CAST(epoch_us(ts) // 1000000 AS BIGINT) % 3600 AS bucket_start,
         SUM(CAST(value AS DECIMAL(18,6))) AS sum_d,
         COUNT(*) AS n
  FROM events WHERE user_id % 100 = 7
  GROUP BY 1, 2)
SELECT user_id, bucket_start,
  CAST(ROUND(sum_d, 2) AS DOUBLE) AS hour_sum,
  CAST(ROUND(SUM(sum_d) OVER w, 2) AS DOUBLE) AS roll_sum,
  CAST(ROUND(MIN(sum_d) OVER w, 2) AS DOUBLE) AS roll_min,
  CAST(ROUND(MAX(sum_d) OVER w, 2) AS DOUBLE) AS roll_max,
  ROUND(CAST(SUM(sum_d) OVER w AS DOUBLE) / SUM(n) OVER w, 4) AS roll_avg_per_event
FROM hourly
WINDOW w AS (PARTITION BY user_id ORDER BY bucket_start
             ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
ORDER BY user_id, bucket_start
"""


# ---------------------------------------------------------------------------
# String aggregation (LISTAGG/STRING_AGG dialect surface)
# ---------------------------------------------------------------------------

def string_agg_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-region ordered string aggregation of nation names (deterministic:
    the list is sorted before joining) plus member count."""
    t = load_tables(spark, sf_dir, ["region", "nation"])
    return (
        t["nation"].join(F.broadcast(t["region"]),
                         t["nation"].n_regionkey == t["region"].r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_nations"),
            F.concat_ws(",", F.sort_array(F.collect_list("n_name"))).alias("members"),
        )
        .orderBy("r_name")
    )


_STRING_AGG_SQL = """
SELECT r_name,
       COUNT(*) AS n_nations,
       STRING_AGG(n_name, ',' ORDER BY n_name) AS members
FROM nation JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
ORDER BY r_name
"""


# ---------------------------------------------------------------------------
# Higher-order array functions (lambda surface)
# ---------------------------------------------------------------------------

def higher_order_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """transform / filter / exists / forall over per-order quantity arrays -
    the lambda-expression surface, zero shuffles beyond the collect."""
    t = load_tables(spark, sf_dir, ["lineitem"])
    per = (
        t["lineitem"].where(F.col("l_orderkey") % 100 == 42)
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_list(F.col("l_quantity"))).alias("qtys"))
    )
    # The driver's pandas canonicalizer cannot sort/hash list-valued cells
    # (same constraint complex_types documents), so the two array-valued
    # results are rendered to deterministic CSV strings via a DECIMAL(12,2)
    # element cast (identical text form in Spark and DuckDB); the lambda
    # surface (transform/filter/exists/forall) is still fully exercised.
    as_str = lambda x: x.cast("decimal(12,2)").cast("string")
    return (
        per.select(
            "l_orderkey",
            F.array_join(
                F.transform("qtys", lambda x: as_str(F.round(x * 2, 2))), ","
            ).alias("doubled"),
            F.array_join(
                F.transform(F.filter("qtys", lambda x: x > 25), as_str), ","
            ).alias("big"),
            F.exists("qtys", lambda x: x > 45).alias("any_huge"),
            F.forall("qtys", lambda x: x > 1).alias("all_nontrivial"),
            F.size(F.filter("qtys", lambda x: x > 25)).alias("n_big"),
        )
    )


_HOF_SQL = """
-- COALESCE on the stringified arrays: DuckDB array_to_string over an empty
-- list returns NULL, Spark's array_join over an empty array returns '' --
-- '' is the engine answer, so the oracle normalizes NULL -> ''.
WITH per AS (
  SELECT l_orderkey, list_sort(list(l_quantity)) AS qtys
  FROM lineitem WHERE l_orderkey % 100 = 42 GROUP BY l_orderkey)
SELECT l_orderkey,
  COALESCE(array_to_string(list_transform(qtys,
      x -> CAST(CAST(ROUND(x * 2, 2) AS DECIMAL(12,2)) AS VARCHAR)), ','), '') AS doubled,
  COALESCE(array_to_string(list_transform(list_filter(qtys, x -> x > 25),
      x -> CAST(CAST(x AS DECIMAL(12,2)) AS VARCHAR)), ','), '') AS big,
  length(list_filter(qtys, x -> x > 45)) > 0 AS any_huge,
  length(list_filter(qtys, x -> NOT (x > 1))) = 0 AS all_nontrivial,
  CAST(length(list_filter(qtys, x -> x > 25)) AS INT) AS n_big
FROM per
ORDER BY l_orderkey
"""


# ---------------------------------------------------------------------------
# from_json with a DECLARED schema + Python UDTF (table function surface)
# ---------------------------------------------------------------------------

def from_json_typed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-declared JSON parse (catalog types, never inferred - SURVEY
    1.2): ``from_json`` to a struct, field access, and a per-bucket
    aggregate over the extracted value."""
    t = load_tables(spark, sf_dir, ["events"])
    parsed = t["events"].select(
        "event_id",
        F.from_json(F.col("props"), "k BIGINT").alias("p"),
    )
    return (
        parsed.select("event_id", F.col("p.k").alias("k"))
        .groupBy((F.col("k") % 10).alias("k_mod"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("k_mod")
    )


_FROM_JSON_SQL = """
SELECT CAST(json_extract(props, '$.k') AS BIGINT) % 10 AS k_mod,
       COUNT(*) AS n_events,
       MIN(CAST(json_extract(props, '$.k') AS BIGINT)) AS min_k,
       MAX(CAST(json_extract(props, '$.k') AS BIGINT)) AS max_k
FROM events
GROUP BY 1
ORDER BY k_mod
"""


def udtf_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (Spark 3.5+/4 table function - the U2/U3 UDTF surface
    Spark-natively): one document row -> one row per whitespace token with
    its position, consumed through a LATERAL join.  Plain-string split
    keeps both engines byte-identical (no regex dialect drift).  UDTFs are
    the slow (row-Python) path - surface parity, not the bench path."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="tok_idx int, token string")
    class SplitTokens:
        def eval(self, doc_id: int, text: str):  # noqa: ANN001
            if text is None:
                return
            for i, s in enumerate(text.split(" ")):
                if s:
                    yield i, s

    spark.udtf.register("split_tokens", SplitTokens)
    t = load_tables(spark, sf_dir, ["documents"])
    t["documents"].where(F.col("doc_id") % 100 == 5) \
        .createOrReplaceTempView("_udtf_docs")
    return spark.sql("""
        SELECT d.doc_id, s.tok_idx, s.token
        FROM _udtf_docs d,
             LATERAL split_tokens(d.doc_id, d.text) s
        ORDER BY d.doc_id, s.tok_idx
    """)


_UDTF_SQL = """
WITH split AS (
  SELECT doc_id,
         UNNEST(string_split(text, ' ')) AS token,
         generate_subscripts(string_split(text, ' '), 1) - 1 AS tok_idx
  FROM documents WHERE doc_id % 100 = 5)
SELECT doc_id, CAST(tok_idx AS INT) AS tok_idx, token
FROM split WHERE token <> ''
ORDER BY doc_id, tok_idx
"""


# ---------------------------------------------------------------------------
# Unigram-LM quality scores (CCNet-style self-trained filter)
# ---------------------------------------------------------------------------

def doc_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean unigram log-probability per document, vocabulary trained on the
    full corpus; output restricted to a deterministic doc subset."""
    from aliyun_maxcompute_data_collectors_spark.operators.text import unigram_logprob_scores
    t = load_tables(spark, sf_dir, ["documents"])
    return (
        unigram_logprob_scores(t["documents"], "doc_id", "text", vocab_size=500)
        .where(F.col("doc_id") % 10 == 2)
    )


_LOGPROB_SQL = """
WITH tok AS (
  SELECT doc_id,
         UNNEST(regexp_split_to_array(LOWER(text), '[^a-z]+')) AS term
  FROM documents),
tok2 AS (SELECT doc_id, term FROM tok WHERE term <> ''),
counts AS (SELECT term, COUNT(*) AS cnt FROM tok2 GROUP BY term),
total AS (SELECT SUM(cnt) AS n_total FROM counts),
vocab AS (
  SELECT term, LN(CAST(cnt AS DOUBLE) / n_total) AS lp
  FROM counts, total ORDER BY cnt DESC, term ASC LIMIT 500)
SELECT t.doc_id, COUNT(*) AS n_tokens,
       ROUND(SUM(COALESCE(v.lp, -12.0)) / COUNT(*), 4) AS mean_logprob
FROM tok2 t LEFT JOIN vocab v USING (term)
GROUP BY t.doc_id
HAVING t.doc_id % 10 = 2
ORDER BY t.doc_id
"""


# ---------------------------------------------------------------------------
# Correlation / covariance aggregates (statistical surface beyond A2)
# ---------------------------------------------------------------------------

def corr_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """corr / covar_pop / covar_samp per group, rounded to 6 decimals
    (formula-order float drift across engines is ~1e-15, far below the
    rounding grain)."""
    t = load_tables(spark, sf_dir, ["lineitem"])
    q, p = F.col("l_quantity"), F.col("l_extendedprice")
    return (
        t["lineitem"]
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.corr(q, p), 6).alias("corr_qty_price"),
            F.round(F.covar_pop(q, p), 4).alias("covar_pop_qp"),
            F.round(F.covar_samp(q, p), 4).alias("covar_samp_qp"),
        )
        .orderBy("l_returnflag")
    )


_CORR_SQL = """
SELECT l_returnflag,
       COUNT(*) AS n,
       ROUND(CORR(l_quantity, l_extendedprice), 6) AS corr_qty_price,
       ROUND(COVAR_POP(l_quantity, l_extendedprice), 4) AS covar_pop_qp,
       ROUND(COVAR_SAMP(l_quantity, l_extendedprice), 4) AS covar_samp_qp
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


# ---------------------------------------------------------------------------
# UNION BY NAME (schema-evolution union) + explicit median
# ---------------------------------------------------------------------------

def union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """unionByName with allowMissingColumns: two projections with different
    column sets merge by NAME (position-independent), absent columns fill
    with NULL - the schema-evolution union shape ALTER'd tables need."""
    t = load_tables(spark, sf_dir, ["orders"])
    a = t["orders"].where(F.col("o_orderkey") % 40 == 1).select(
        "o_orderkey", "o_orderpriority", F.col("o_totalprice").alias("price"))
    b = t["orders"].where(F.col("o_orderkey") % 40 == 2).select(
        "o_orderkey", F.col("o_orderstatus").alias("status"), "o_orderpriority")
    return (
        a.unionByName(b, allowMissingColumns=True)
    )


_UNION_BY_NAME_SQL = """
SELECT o_orderkey, o_orderpriority, o_totalprice AS price,
       CAST(NULL AS VARCHAR) AS status
FROM orders WHERE o_orderkey % 40 = 1
UNION ALL BY NAME
SELECT o_orderkey, o_orderstatus AS status, o_orderpriority,
       CAST(NULL AS DOUBLE) AS price
FROM orders WHERE o_orderkey % 40 = 2
ORDER BY o_orderkey
"""


def median_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated median per group (both engines average the middle
    pair on even counts)."""
    t = load_tables(spark, sf_dir, ["orders"])
    return (
        t["orders"]
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.median("o_totalprice"), 4).alias("median_price"),
        )
        .orderBy("o_orderpriority")
    )


_MEDIAN_SQL = """
SELECT o_orderpriority, COUNT(*) AS n,
       ROUND(MEDIAN(o_totalprice), 4) AS median_price
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def zorder_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering diagnostics: rank-normalize two order
    columns to 8 bits each, bit-interleave into a 16-bit z-value
    (operators/zorder.py - the OPTIMIZE ZORDER BY layout trick), then
    summarize the 64 coarse z-buckets.  Each bucket is a compact
    hyper-rectangle in (price, custkey) space - the min/max spreads per
    bucket are what parquet zonemaps prune on.  Oracle mirrors the exact
    bit arithmetic (floor == long-cast truncation for non-negative ranks)."""
    from aliyun_maxcompute_data_collectors_spark.operators.zorder import with_zorder
    t = load_tables(spark, sf_dir, ["orders"])
    o = t["orders"]
    return (
        with_zorder(o, ["o_totalprice", "o_custkey"], bits=8)
        .groupBy(F.shiftrightunsigned(F.col("__z__"), 10).alias("z_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.min("o_totalprice"), 2).alias("min_price"),
            F.round(F.max("o_totalprice"), 2).alias("max_price"),
            F.min("o_custkey").alias("min_cust"),
            F.max("o_custkey").alias("max_cust"),
        )
        .orderBy("z_bucket")
    )


def _zorder_sql(bits: int = 8) -> str:
    cap = (1 << bits) - 1
    terms = " | ".join(
        f"((((ra >> {i}) & 1) << {2 * i}) | (((rb >> {i}) & 1) << {2 * i + 1}))"
        for i in range(bits)
    )
    return f"""
WITH r AS (
  SELECT o_totalprice, o_custkey,
    LEAST(CAST(floor(percent_rank() OVER (ORDER BY o_totalprice) * {cap}) AS BIGINT), {cap}) AS ra,
    LEAST(CAST(floor(percent_rank() OVER (ORDER BY o_custkey) * {cap}) AS BIGINT), {cap}) AS rb
  FROM orders),
z AS (SELECT o_totalprice, o_custkey, {terms} AS zv FROM r)
SELECT zv >> 10 AS z_bucket,
  CAST(COUNT(*) AS BIGINT) AS n_rows,
  ROUND(MIN(o_totalprice), 2) AS min_price,
  ROUND(MAX(o_totalprice), 2) AS max_price,
  MIN(o_custkey) AS min_cust,
  MAX(o_custkey) AS max_cust
FROM z GROUP BY 1 ORDER BY z_bucket
"""


def sketch_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate-sketch family over lineitem (the 100TB cardinality /
    quantile path: sketches are one-pass, mergeable, constant memory - the
    scale substitute for exact COUNT(DISTINCT) and sorted percentiles):

    - Apache DataSketches HLL (`hll_sketch_agg` -> `hll_sketch_estimate`)
    - Spark's HyperLogLog++ (`approx_count_distinct`)
    - KLL-style `percentile_approx`

    Sketch estimates are engine-specific, so they can't hash-match a DuckDB
    value; instead the query emits the EXACT values (computed in the same
    pass) plus in-plan tolerance booleans (estimate within 5% / 1.0 qty).
    The oracle pins the exact columns and asserts the booleans are TRUE -
    the driver gate thus verifies both the exact aggregates AND that every
    sketch met its accuracy contract."""
    t = load_tables(spark, sf_dir, ["lineitem"])
    agg = (
        t["lineitem"]
        .groupBy("l_returnflag")
        .agg(
            F.count_distinct("l_partkey").alias("nd_exact"),
            F.hll_sketch_estimate(F.hll_sketch_agg("l_partkey", F.lit(14)))
            .alias("_hll"),
            F.approx_count_distinct("l_partkey", 0.02).alias("_apx"),
            F.percentile_approx("l_quantity", 0.5, 10000).alias("_p50a"),
            F.expr("percentile(l_quantity, 0.5)").alias("_p50e"),
        )
    )
    tol = lambda est, ex: (F.abs(F.col(est) - F.col(ex)) / F.col(ex)) <= 0.05
    return (
        agg.select(
            "l_returnflag",
            "nd_exact",
            tol("_hll", "nd_exact").alias("hll_ok"),
            tol("_apx", "nd_exact").alias("apx_ok"),
            (F.abs(F.col("_p50a") - F.col("_p50e")) <= 1.0).alias("p50_ok"),
        )
        .orderBy("l_returnflag")
    )


_SKETCH_SQL = """
SELECT l_returnflag,
  CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS nd_exact,
  TRUE AS hll_ok, TRUE AS apx_ok, TRUE AS p50_ok
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


REGISTRY: dict[str, tuple] = {
    "zorder_cluster": (zorder_cluster, _zorder_sql()),
    "sketch_suite": (sketch_suite, _SKETCH_SQL),
    "pivot_priority": (pivot_priority, _PIVOT_SQL),
    "unpivot_measures": (unpivot_measures, _UNPIVOT_SQL),
    "agg_extras": (agg_extras, _AGG_EXTRAS_SQL),
    "bitwise_agg": (bitwise_agg, _BITWISE_SQL),
    "interval_math": (interval_math, _INTERVAL_SQL),
    "width_bucket_hist": (width_bucket_hist, _WIDTH_BUCKET_SQL),
    "profile_documents": (profile_documents, _PROFILE_SQL),
    "constraint_check": (constraint_check, _CONSTRAINT_SQL),
    "tfidf_keywords": (tfidf_keywords, _TFIDF_SQL),
    "window_value_suite": (window_value_suite, _WINDOW_VALUE_SQL),
    "conditional_exprs": (conditional_exprs, _CONDITIONAL_SQL),
    "resample_gapfill": (resample_gapfill, _RESAMPLE_SQL),
    "semantic_dedup": (semantic_dedup_q, _det_semdedup_oracle()),
    "split_assignment": (split_assignment, _SPLIT_SQL),
    "rolling_hourly_stats": (rolling_hourly_stats, _ROLLING_SQL),
    "string_agg_nations": (string_agg_nations, _STRING_AGG_SQL),
    "higher_order_fns": (higher_order_fns, _HOF_SQL),
    "from_json_typed": (from_json_typed, _FROM_JSON_SQL),
    "udtf_tokens": (udtf_tokens, _UDTF_SQL),
    "doc_logprob": (doc_logprob, _LOGPROB_SQL),
    "corr_stats": (corr_stats, _CORR_SQL),
    "union_by_name": (union_by_name, _UNION_BY_NAME_SQL),
    "median_stats": (median_stats, _MEDIAN_SQL),
}
