"""Advanced-analytics query surface: SCD2 temporal history over a CDC
changelog (build / point-in-time join / snapshot-at-T), EWMA smoothing,
linear-interpolation gap fill, 2-D Pareto frontier, blocked fuzzy matching,
regression aggregates, and exact-stats z-score outliers.

These extend the CDC story the reference lands via its OGG handler /
Sqoop lastmodified-merge ingestion (`ogg-plugin`, `odps-sqoop` — see
operators/scd.py docstring for file cites): once a changelog is ingested,
the warehouse consumes it in exactly these shapes.

Same determinism conventions as :mod:`queries`: decimal-exact sums where
accumulation order could drift, ROUND(...,6) where the math is float,
unique ORDER BY tiebreaks, aliases identical on both engines.
Registered into the driver registry by ``queries.register_analytics_ops``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from aliyun_maxcompute_data_collectors_spark.session import (
    estimated_scan_bytes, load_tables)
from aliyun_maxcompute_data_collectors_spark.operators.scd import (
    scd2_build,
    snapshot_at,
    temporal_join,
)


def _signup_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The demo changelog: signup events = per-user attribute updates."""
    t = load_tables(spark, sf_dir, ["events"])
    return t["events"].where(F.col("event_type") == "signup").select(
        "user_id", F.col("ts").cast("timestamp").alias("ts"), "event_id", "value"
    )


# ---------------------------------------------------------------------------
# SCD2 build (changelog -> versioned dimension)
# ---------------------------------------------------------------------------

def scd2_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 history of the per-user attribute: one window pass
    (lead closes each version) - see operators/scd.scd2_build."""
    dim = scd2_build(
        _signup_changelog(spark, sf_dir),
        keys="user_id", time_col="ts",
        attr_cols=["value"], tie_breakers=["event_id"],
    )
    return dim.select(
        "user_id", "version",
        F.col("effective_from").cast("timestamp").alias("effective_from"),
        F.col("effective_to").cast("timestamp").alias("effective_to"),
        "is_current",
        F.col("value").alias("attr_value"),
    )


_SCD2_SQL = """
SELECT user_id,
       ROW_NUMBER() OVER w AS version,
       ts AS effective_from,
       LEAD(ts) OVER w AS effective_to,
       LEAD(ts) OVER w IS NULL AS is_current,
       value AS attr_value
FROM events
WHERE event_type = 'signup'
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
ORDER BY user_id, version
"""


# ---------------------------------------------------------------------------
# Point-in-time (temporal) join: purchases enriched with the version valid
# at purchase time
# ---------------------------------------------------------------------------

def temporal_join_pit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each purchase joined to the SCD2 version whose interval contains its
    timestamp.  Executed as an as-of join (union + ONE window pass) - never
    the exploding BETWEEN join the oracle spells (operators/scd.temporal_join)."""
    t = load_tables(spark, sf_dir, ["events"])
    probe = t["events"].where(F.col("event_type") == "purchase").select(
        "event_id", "user_id",
        F.col("ts").cast("timestamp").alias("ts"), "value",
    )
    dim = scd2_build(
        _signup_changelog(spark, sf_dir),
        keys="user_id", time_col="ts",
        attr_cols=["value"], tie_breakers=["event_id"],
    ).select("user_id", "version", "effective_from", "value")
    out = temporal_join(probe, dim, on="user_id", probe_time="ts")
    return out.select(
        "event_id", "user_id", "ts",
        F.col("value").alias("purchase_value"),
        F.col("dim_version").alias("attr_version"),
        F.col("dim_value").alias("attr_value"),
    )


_TEMPORAL_JOIN_SQL = """
WITH dim AS (
  SELECT user_id,
         ROW_NUMBER() OVER w AS version,
         ts AS effective_from,
         LEAD(ts) OVER w AS effective_to,
         value
  FROM events
  WHERE event_type = 'signup'
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
SELECT p.event_id, p.user_id, p.ts,
       p.value AS purchase_value,
       d.version AS attr_version,
       d.value AS attr_value
FROM events p
LEFT JOIN dim d
  ON p.user_id = d.user_id
 AND d.effective_from <= p.ts
 AND (d.effective_to IS NULL OR p.ts < d.effective_to)
WHERE p.event_type = 'purchase'
ORDER BY p.event_id
"""


# ---------------------------------------------------------------------------
# Snapshot at time T (time travel over the changelog)
# ---------------------------------------------------------------------------

_SNAPSHOT_T = "2024-01-15 00:00:00"


def cdc_snapshot_at(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dimension as of mid-month: filter + newest-per-key
    (operators/scd.snapshot_at)."""
    snap = snapshot_at(
        _signup_changelog(spark, sf_dir),
        keys="user_id", time_col="ts", at=_SNAPSHOT_T,
        tie_breakers=["event_id"],
    )
    return snap.select(
        "user_id",
        F.col("ts").alias("last_change"),
        F.col("value").alias("attr_value"),
    )


_SNAPSHOT_SQL = f"""
SELECT user_id, ts AS last_change, value AS attr_value
FROM events
WHERE event_type = 'signup' AND ts <= TIMESTAMP '{_SNAPSHOT_T}'
QUALIFY ROW_NUMBER() OVER (
  PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
ORDER BY user_id
"""


# ---------------------------------------------------------------------------
# EWMA smoothing (recursive; pandas-UDF operator vs recursive-CTE oracle)
# ---------------------------------------------------------------------------

_EWMA_ALPHA = 0.3


def ewma_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user EWMA over the event stream (user subset bounds the oracle's
    recursion); the operator writes the recurrence literally so both engines
    produce bit-identical doubles before the final ROUND (timeseries.ewma)."""
    from aliyun_maxcompute_data_collectors_spark.operators.timeseries import ewma
    t = load_tables(spark, sf_dir, ["events"])
    ev = t["events"].where(F.col("user_id") % 50 == 0).select(
        "user_id", "event_id", F.col("ts").cast("timestamp").alias("ts"), "value"
    )
    out = ewma(ev, "user_id", "ts", "value",
               alpha=_EWMA_ALPHA, tie_breakers=["event_id"])
    return out.select(
        "user_id", "event_id",
        F.round("ewma_value", 6).alias("ewma_value"),
    )


_EWMA_SQL = f"""
WITH RECURSIVE base AS (
  SELECT user_id, event_id, value,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events WHERE user_id % 50 = 0),
r AS (
  SELECT user_id, event_id, rn, value AS e FROM base WHERE rn = 1
  UNION ALL
  SELECT b.user_id, b.event_id, b.rn,
         {_EWMA_ALPHA} * b.value + (1 - {_EWMA_ALPHA}) * r.e
  FROM base b JOIN r ON b.user_id = r.user_id AND b.rn = r.rn + 1)
SELECT user_id, event_id, ROUND(e, 6) AS ewma_value
FROM r
ORDER BY user_id, event_id
"""


# ---------------------------------------------------------------------------
# Linear-interpolation gap fill (resample grid + bracketing windows)
# ---------------------------------------------------------------------------

def interp_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """6-hour per-user grid over 'view' events; NULL buckets linearly
    interpolated between bracketing observations (timeseries.interpolate_linear;
    decimal-exact bucket sums make the interpolation inputs deterministic)."""
    from aliyun_maxcompute_data_collectors_spark.operators.timeseries import (
        gapfill_interpolated,
    )
    t = load_tables(spark, sf_dir, ["events"])
    ev = t["events"].where(F.col("event_type") == "view")
    out = gapfill_interpolated(ev, "user_id", "ts", "value", 21600)
    # Rounding is spelled floor(x*1e6 + 0.5)/1e6 IDENTICALLY in both
    # engines: interpolated values are dyadic rationals (cents * k/m) that
    # land EXACTLY on 6-decimal ties, where Spark's BigDecimal HALF_UP and
    # DuckDB's float-path ROUND disagree; with the same IEEE expression
    # both sides take the same branch on every tie.
    # No final orderBy: the driver compare is order-insensitive, and a
    # global sort of a large result is pure cost at scale.
    six = F.floor(F.col("bucket_sum_interp") * 1e6 + F.lit(0.5)) / F.lit(1e6)
    return out.select(
        "user_id", "bucket_start", "n_events", "bucket_sum",
        six.alias("interp_sum"),
    )


_INTERP_SQL = """
WITH ev AS (
  SELECT user_id,
         CAST(epoch_us(ts) // 1000000 AS BIGINT)
           - CAST(epoch_us(ts) // 1000000 AS BIGINT) % 21600 AS bucket_start,
         CAST(value AS DECIMAL(18,6)) AS v
  FROM events WHERE event_type = 'view'),
per AS (
  SELECT user_id, bucket_start, COUNT(*) AS n_events,
         CAST(ROUND(SUM(v), 2) AS DOUBLE) AS bucket_sum
  FROM ev GROUP BY user_id, bucket_start),
rng AS (
  SELECT user_id, MIN(bucket_start) AS b0, MAX(bucket_start) AS b1
  FROM per GROUP BY user_id),
grid AS (
  SELECT user_id, UNNEST(generate_series(b0, b1, 21600)) AS bucket_start
  FROM rng),
joined AS (
  SELECT g.user_id, g.bucket_start,
         COALESCE(p.n_events, 0) AS n_events,
         p.bucket_sum
  FROM grid g LEFT JOIN per p
    ON g.user_id = p.user_id AND g.bucket_start = p.bucket_start),
brack AS (
  SELECT *,
         LAST_VALUE(CASE WHEN bucket_sum IS NOT NULL THEN bucket_start END
                    IGNORE NULLS) OVER wf AS px,
         LAST_VALUE(bucket_sum IGNORE NULLS) OVER wf AS pv,
         FIRST_VALUE(CASE WHEN bucket_sum IS NOT NULL THEN bucket_start END
                     IGNORE NULLS) OVER wb AS nx,
         FIRST_VALUE(bucket_sum IGNORE NULLS) OVER wb AS nv
  FROM joined
  WINDOW wf AS (PARTITION BY user_id ORDER BY bucket_start
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wb AS (PARTITION BY user_id ORDER BY bucket_start
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
SELECT user_id, bucket_start, n_events, bucket_sum,
       FLOOR((CASE
         WHEN bucket_sum IS NOT NULL THEN bucket_sum
         WHEN px IS NOT NULL AND nx IS NOT NULL
           THEN pv + (nv - pv) * (bucket_start - px) / (nx - px)
       END) * 1000000.0 + 0.5) / 1000000.0 AS interp_sum
FROM brack
ORDER BY user_id, bucket_start
"""


# ---------------------------------------------------------------------------
# 2-D Pareto frontier (skyline) - distributed prefix scan vs NOT EXISTS
# ---------------------------------------------------------------------------

def pareto_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parts on the (min retail price, max size) frontier.  The operator is
    the binned two-level running-max scan (relational.pareto_frontier_2d) -
    linear work; the oracle keeps the quadratic NOT EXISTS spelling."""
    from aliyun_maxcompute_data_collectors_spark.operators.relational import (
        pareto_frontier_2d,
    )
    t = load_tables(spark, sf_dir, ["part"])
    front = pareto_frontier_2d(
        t["part"].select("p_partkey", "p_retailprice", "p_size"),
        minimize_col="p_retailprice", maximize_col="p_size",
    )
    return front.select("p_partkey", "p_retailprice", "p_size")


_PARETO_SQL = """
SELECT p_partkey, p_retailprice, p_size
FROM part p
WHERE NOT EXISTS (
  SELECT 1 FROM part q
  WHERE (q.p_retailprice < p.p_retailprice AND q.p_size >= p.p_size)
     OR (q.p_retailprice <= p.p_retailprice AND q.p_size > p.p_size))
ORDER BY p_partkey
"""


# ---------------------------------------------------------------------------
# Blocked fuzzy matching (Levenshtein entity resolution)
# ---------------------------------------------------------------------------

def fuzzy_customer_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-name pairs within edit distance 1, blocked on
    (length, all-but-last-2-chars) - equijoin shuffle, never n^2
    (dedup.fuzzy_pairs_levenshtein)."""
    from aliyun_maxcompute_data_collectors_spark.operators.dedup import (
        fuzzy_pairs_levenshtein,
    )
    t = load_tables(spark, sf_dir, ["customer"])
    pairs = fuzzy_pairs_levenshtein(t["customer"], "c_custkey", "c_name",
                                    max_dist=1, block_tail=2)
    return pairs


_FUZZY_SQL = """
SELECT a.c_custkey AS id1, b.c_custkey AS id2,
       levenshtein(a.c_name, b.c_name) AS edit_dist
FROM customer a JOIN customer b
  ON length(a.c_name) = length(b.c_name)
 AND substr(a.c_name, 1, greatest(length(a.c_name) - 2, 0))
     = substr(b.c_name, 1, greatest(length(b.c_name) - 2, 0))
 AND a.c_custkey < b.c_custkey
WHERE levenshtein(a.c_name, b.c_name) <= 1
ORDER BY id1, id2
"""


# ---------------------------------------------------------------------------
# Regression aggregates (trend per event type)
# ---------------------------------------------------------------------------

def regr_value_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Least-squares trend of value over time per event type via the
    regr_* aggregate family (x in hours since 2024-01-01; 6-decimal rounding
    absorbs formula-order float drift, same grain as corr_stats)."""
    t = load_tables(spark, sf_dir, ["events"])
    x = (F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(1000000.0)
         - F.lit(1704067200.0)) / F.lit(3600.0)
    ev = t["events"].select("event_type", x.alias("x"), F.col("value").alias("y"))
    return (
        ev.groupBy("event_type")
        .agg(
            F.round(F.regr_slope("y", "x"), 6).alias("slope"),
            F.round(F.regr_intercept("y", "x"), 6).alias("intercept"),
            F.round(F.regr_r2("y", "x"), 6).alias("r2"),
            F.regr_count("y", "x").cast("bigint").alias("n"),
        )
        .orderBy("event_type")
    )


_REGR_SQL = """
WITH ev AS (
  SELECT event_type,
         (epoch_us(ts) / 1000000.0 - 1704067200.0) / 3600.0 AS x,
         value AS y
  FROM events)
SELECT event_type,
       ROUND(REGR_SLOPE(y, x), 6) AS slope,
       ROUND(REGR_INTERCEPT(y, x), 6) AS intercept,
       ROUND(REGR_R2(y, x), 6) AS r2,
       CAST(REGR_COUNT(y, x) AS BIGINT) AS n
FROM ev
GROUP BY event_type
ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# Z-score outliers with exact-decimal statistics
# ---------------------------------------------------------------------------

_Z_THRESH = 3.0


def zscore_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events more than 3 sigma from their event-type mean.  The group
    moments are DECIMAL-exact sums (order-independent), converted to double
    once - so the boundary predicate |z| > 3 is deterministic across
    engines, which a float-accumulated mean/stddev would not be."""
    t = load_tables(spark, sf_dir, ["events"])
    v6 = F.col("value").cast("decimal(18,6)")
    ev = t["events"].select(
        "event_id", "event_type", v6.alias("v"), (v6 * v6).alias("v2"))
    stats = ev.groupBy("event_type").agg(
        F.sum("v").cast("double").alias("s"),
        F.sum("v2").cast("double").alias("q"),
        F.count(F.lit(1)).cast("double").alias("n"),
    )
    joined = ev.join(F.broadcast(stats), "event_type")
    mu = F.col("s") / F.col("n")
    var = F.col("q") / F.col("n") - mu * mu
    z = (F.col("v").cast("double") - mu) / F.sqrt(var)
    return (
        joined.select(
            "event_id", "event_type",
            F.col("v").cast("double").alias("value6"),
            F.round(z, 6).alias("zscore"),
        )
        .where(F.abs(F.col("zscore")) > _Z_THRESH)
    )


_ZSCORE_SQL = f"""
WITH ev AS (
  SELECT event_id, event_type,
         CAST(value AS DECIMAL(18,6)) AS v,
         CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6)) AS v2
  FROM events),
stats AS (
  SELECT event_type,
         CAST(SUM(v) AS DOUBLE) AS s,
         CAST(SUM(v2) AS DOUBLE) AS q,
         CAST(COUNT(*) AS DOUBLE) AS n
  FROM ev GROUP BY event_type)
SELECT event_id, ev.event_type,
       CAST(v AS DOUBLE) AS value6,
       ROUND((CAST(v AS DOUBLE) - s / n)
             / sqrt(q / n - (s / n) * (s / n)), 6) AS zscore
FROM ev JOIN stats USING (event_type)
WHERE abs(ROUND((CAST(v AS DOUBLE) - s / n)
                / sqrt(q / n - (s / n) * (s / n)), 6)) > {_Z_THRESH}
ORDER BY event_id
"""


# ---------------------------------------------------------------------------
# Ordered funnel + cohort retention (product analytics over the event stream)
# ---------------------------------------------------------------------------

def funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """signup -> view -> purchase conversion funnel, strictly ordered per
    user (relational.funnel: cascaded keyed aggregates, no windows)."""
    from aliyun_maxcompute_data_collectors_spark.operators.relational import funnel
    t = load_tables(spark, sf_dir, ["events"])
    ev = t["events"].select(
        "user_id", F.col("ts").cast("timestamp").alias("ts"), "event_type")
    out = funnel(
        ev, "user_id", "ts",
        steps=[F.col("event_type") == "signup",
               F.col("event_type") == "view",
               F.col("event_type") == "purchase"],
    )
    return out.select("user_id", "step_1", "step_2", "step_3")


_FUNNEL_SQL = """
WITH s1 AS (
  SELECT user_id, MIN(ts) AS step_1 FROM events
  WHERE event_type = 'signup' GROUP BY user_id),
s2 AS (
  SELECT e.user_id, MIN(e.ts) AS step_2
  FROM events e JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.step_1
  WHERE e.event_type = 'view' GROUP BY e.user_id),
s3 AS (
  SELECT e.user_id, MIN(e.ts) AS step_3
  FROM events e JOIN s2 ON e.user_id = s2.user_id AND e.ts > s2.step_2
  WHERE e.event_type = 'purchase' GROUP BY e.user_id)
SELECT s1.user_id, s1.step_1, s2.step_2, s3.step_3
FROM s1
LEFT JOIN s2 ON s1.user_id = s2.user_id
LEFT JOIN s3 ON s1.user_id = s3.user_id
ORDER BY s1.user_id
"""


def cohort_retention_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purchase-cohort retention triangle: first purchase day x day offset
    -> distinct active purchasers (relational.cohort_retention)."""
    from aliyun_maxcompute_data_collectors_spark.operators.relational import (
        cohort_retention,
    )
    t = load_tables(spark, sf_dir, ["events"])
    purchases = t["events"].where(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").cast("timestamp").alias("ts"))
    out = cohort_retention(purchases, "user_id", "ts")
    return out.select(
        "cohort_day",
        F.col("day_offset").cast("int").alias("day_offset"),
        "active_users",
    ).orderBy("cohort_day", "day_offset")


_COHORT_SQL = """
WITH p AS (
  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS activity_day
  FROM events WHERE event_type = 'purchase'),
c AS (
  SELECT user_id, MIN(activity_day) AS cohort_day FROM p GROUP BY user_id)
SELECT c.cohort_day,
       CAST(p.activity_day - c.cohort_day AS INT) AS day_offset,
       COUNT(DISTINCT p.user_id) AS active_users
FROM p JOIN c ON p.user_id = c.user_id
GROUP BY c.cohort_day, day_offset
ORDER BY c.cohort_day, day_offset
"""


# ---------------------------------------------------------------------------
# Exact heavy hitters (two-pass bounded-memory Misra-Gries + verify)
# ---------------------------------------------------------------------------

_HH_PHI = 0.0345


def heavy_hitter_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokens above the phi frequency threshold - exact counts, but the
    shuffle carries only MG-candidate tokens (corpus.heavy_hitters); the
    oracle pays the full groupBy."""
    from aliyun_maxcompute_data_collectors_spark.operators.corpus import heavy_hitters
    t = load_tables(spark, sf_dir, ["documents"])
    toks = t["documents"].select(
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("tok")
    ).where(F.col("tok") != "")
    return heavy_hitters(toks, "tok", phi=_HH_PHI) \
        .select("tok", "cnt").orderBy("tok")


_HH_SQL = f"""
WITH toks AS (
  SELECT unnest(string_split(lower(text), ' ')) AS tok
  FROM documents),
t AS (SELECT tok FROM toks WHERE tok <> '')
SELECT tok, COUNT(*) AS cnt
FROM t
GROUP BY tok
HAVING COUNT(*) >= {_HH_PHI} * (SELECT COUNT(*) FROM t)
ORDER BY tok
"""


# ---------------------------------------------------------------------------
# Recursive CTE (Spark 4 WITH RECURSIVE — SQL-surface parity with DuckDB)
# ---------------------------------------------------------------------------

# Driver-path admission bound for recursive_chain (r13): parquet byte size
# of `part` up to which the doubling-chain fixed point is computed on the
# driver instead of through native WITH RECURSIVE (whose per-step join +
# scheduling fixed cost dominates at small scale).  64 MB of parquet keys
# is orders of magnitude past where fixed cost dominates; beyond it the
# native distributed recursion runs unchanged.
RECURSIVE_DRIVER_MAX_BYTES = 64 << 20

_RECURSIVE_SQL = """
WITH RECURSIVE chain (root, node, depth) AS (
  SELECT p_partkey AS root, p_partkey AS node, 0 AS depth
  FROM part WHERE p_partkey % 2 = 1
  UNION ALL
  SELECT c.root, p.p_partkey AS node, c.depth + 1 AS depth
  FROM chain c JOIN part p ON p.p_partkey = c.node * 2)
SELECT root, node, depth
FROM chain
WHERE depth > 0
ORDER BY root, depth
"""


def recursive_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 ``WITH RECURSIVE`` run natively (same SQL as the oracle):
    doubling-key chains over part — an acyclic traversal whose depth is
    bounded by log2(max key), so UNION ALL recursion terminates.  Iterative
    set computation stays inside the engine (each step is a distributed
    join), the same execution shape as the hand-built label-propagation in
    operators/graph.py but declared declaratively.

    Scale note (found at sf10, round 6): Spark guards runaway recursion
    with `spark.sql.cteRecursionRowLimit` (default 1M ROWS TOTAL) - at
    sf10 the base alone is ~1M rows and the engine aborts with
    RECURSION_ROW_LIMIT_EXCEEDED even though the recursion is provably
    finite.  Output here is ~linear in |part| (one chain of length
    <= log2(maxkey) per odd key), so the row valve is raised to 2^31-1
    while the LEVEL limit (100, the actual runaway guard for this shape:
    depth is log2-bounded) stays at its default.

    Conf scoping (VERDICT/ADVICE r6): the raised valve must not leak
    into the shared driver/bench session (it would silently disable the
    row guard for every OTHER recursive query), but the limit is read at
    EXECUTION time, so restoring it before the caller collects would
    re-arm the abort.  Resolution: materialize the recursion eagerly
    under the raised valve (``localCheckpoint(eager=True)`` - the
    recursion runs exactly once and its result is pinned), then restore
    the prior value in ``finally``.  The returned DataFrame reads the
    checkpointed partitions; later session queries see the default
    valve again.

    r13 (VERDICT r12 ask #6): the native recursion pays ~18 iterations
    x (join plan + scheduling) of per-step fixed cost even though each
    step's data is tiny - the same fixed-cost profile as iterative
    label propagation, solved the same way (operators/graph.py r13):
    when ``part`` is small enough to hold driver-side
    (RECURSIVE_DRIVER_MAX_BYTES, default 64 MB of parquet - far beyond
    any size where per-step fixed cost dominates, far below cluster
    scale), the exact same fixed point is computed in one pass over a
    key set: same base filter (positive odd keys - SQL ``%`` keeps the
    dividend's sign), same join-multiplicity semantics (duplicate keys
    multiply rows step-wise), same LEVEL-100 abort, same output rows
    and types (root/node bigint, depth int).  Bigger tables keep the
    native recursion - at 100 TB each step is a genuinely distributed
    join and the engine path is correct."""
    key = "spark.sql.cteRecursionRowLimit"
    t = load_tables(spark, sf_dir, ["part"])
    tbytes = estimated_scan_bytes(t["part"])
    if tbytes is not None and tbytes <= RECURSIVE_DRIVER_MAX_BYTES:
        from collections import Counter
        keys = [r[0] for r in t["part"].select("p_partkey").collect()]
        cnt = Counter(keys)
        rows: list[tuple[int, int, int]] = []
        for root in cnt:
            # base: WHERE p_partkey % 2 = 1 (negative odd keys yield -1
            # under SQL remainder semantics and are excluded)
            if root <= 0 or root % 2 != 1:
                continue
            mult = cnt[root]  # one base row per duplicate part row
            node, depth = root, 0
            while True:
                nxt = node * 2
                m = cnt.get(nxt)
                if not m:
                    break
                node, depth, mult = nxt, depth + 1, mult * m
                if depth > 100:
                    # mirror the engine's LEVEL guard: native execution
                    # would abort, so the driver path must too
                    raise RuntimeError(
                        "recursive_chain: depth exceeded the recursion "
                        "level limit (100) - falling through would "
                        "diverge from the declared native semantics")
                rows.extend([(root, node, depth)] * mult)
        return (spark.createDataFrame(
            rows, "root bigint, node bigint, depth int")
            .orderBy("root", "depth"))
    # restore must distinguish "explicitly set" from "engine default":
    # conf.get returns the default either way, and re-SETting the default
    # would leave the key explicitly set - a diff the driver harness's
    # conf-leak check (driver_sim.py) rightly flags
    explicit = any(r["key"] == key for r in spark.sql("SET").collect())
    prior = spark.conf.get(key)
    spark.conf.set(key, str(2**31 - 1))
    try:
        t["part"].createOrReplaceTempView("part")
        return spark.sql(_RECURSIVE_SQL).localCheckpoint(eager=True)
    finally:
        if explicit:
            spark.conf.set(key, prior)
        else:
            spark.conf.unset(key)


# ---------------------------------------------------------------------------
# VARIANT semi-structured type (Spark 4 parse_json / try_variant_get)
# ---------------------------------------------------------------------------

def variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured pipeline on the VARIANT type: props JSON parsed once
    into Spark 4's binary VARIANT encoding, typed paths extracted with
    try_variant_get (malformed -> NULL, never a crash) and aggregated.
    VARIANT keeps parsing out of the per-access path - at 100 TB, parsing
    the JSON once beats get_json_object re-parsing per extraction."""
    t = load_tables(spark, sf_dir, ["events"])
    v = t["events"].select(
        F.parse_json(F.col("props")).alias("v"),
        F.col("value").cast("decimal(18,6)").alias("val"),
    )
    k = F.try_variant_get(F.col("v"), "$.k", "int")
    return (
        v.select(F.floor(k / 10).cast("int").alias("k_decile"), "val")
        .groupBy("k_decile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("val"), 2).cast("double").alias("sum_value"),
        )
        .orderBy("k_decile")
    )


_VARIANT_SQL = """
SELECT CAST(CAST(props ->> '$.k' AS INT) // 10 AS INT) AS k_decile,
       COUNT(*) AS n,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_value
FROM events
GROUP BY k_decile
ORDER BY k_decile
"""


# ---------------------------------------------------------------------------
# MAD robust outliers (median absolute deviation - two exact-median passes)
# ---------------------------------------------------------------------------

_MAD_K = 1.4826  # normal-consistency constant
_MAD_THRESH = 3.5


def mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outliers per event type: |x - median| > 3.5 * 1.4826 * MAD.
    Unlike the z-score (zscore_anomalies), the median/MAD estimator doesn't
    let the outliers inflate their own threshold.  Two grouped exact
    percentiles + broadcast joins; inputs are decimal-exact before the one
    double interpolation, so the boundary predicate is deterministic."""
    t = load_tables(spark, sf_dir, ["events"])
    v = F.col("value").cast("decimal(18,6)").cast("double")
    ev = t["events"].select("event_id", "event_type", v.alias("v"))
    med = ev.groupBy("event_type").agg(
        F.percentile(F.col("v"), F.lit(0.5)).alias("med"))
    dev = ev.join(F.broadcast(med), "event_type") \
        .withColumn("adev", F.abs(F.col("v") - F.col("med")))
    mad = dev.groupBy("event_type").agg(
        F.percentile(F.col("adev"), F.lit(0.5)).alias("mad"))
    z = F.col("adev") / (F.lit(_MAD_K) * F.col("mad"))
    return (
        dev.join(F.broadcast(mad), "event_type")
        .select("event_id", "event_type", F.col("v").alias("value6"),
                F.round(z, 6).alias("robust_z"))
        .where(F.col("robust_z") > _MAD_THRESH)
    )


_MAD_SQL = f"""
WITH ev AS (
  SELECT event_id, event_type,
         CAST(CAST(value AS DECIMAL(18,6)) AS DOUBLE) AS v
  FROM events),
med AS (
  SELECT event_type, MEDIAN(v) AS med FROM ev GROUP BY event_type),
dev AS (
  SELECT ev.event_id, ev.event_type, ev.v, ABS(ev.v - med.med) AS adev
  FROM ev JOIN med USING (event_type)),
mad AS (
  SELECT event_type, MEDIAN(adev) AS mad FROM dev GROUP BY event_type)
SELECT dev.event_id, dev.event_type, dev.v AS value6,
       ROUND(dev.adev / ({_MAD_K} * mad.mad), 6) AS robust_z
FROM dev JOIN mad USING (event_type)
WHERE ROUND(dev.adev / ({_MAD_K} * mad.mad), 6) > {_MAD_THRESH}
ORDER BY dev.event_id
"""


def heavy_hitters_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language heavy tokens (above phi of THAT language's token mass) -
    the grouped variant of the two-pass MG scheme
    (corpus.heavy_hitters_per_group)."""
    from aliyun_maxcompute_data_collectors_spark.operators.corpus import (
        heavy_hitters_per_group,
    )
    t = load_tables(spark, sf_dir, ["documents"])
    toks = t["documents"].select(
        "lang",
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("tok"),
    ).where(F.col("tok") != "")
    return heavy_hitters_per_group(toks, "lang", "tok", phi=_HH_PHI) \
        .orderBy("lang", "tok")


_HH_LANG_SQL = f"""
WITH toks AS (
  SELECT lang, unnest(string_split(lower(text), ' ')) AS tok
  FROM documents),
t AS (SELECT lang, tok FROM toks WHERE tok <> ''),
g AS (SELECT lang, COUNT(*) AS gn FROM t GROUP BY lang)
SELECT t.lang, tok, COUNT(*) AS cnt
FROM t JOIN g ON t.lang = g.lang
GROUP BY t.lang, tok, g.gn
HAVING COUNT(*) >= {_HH_PHI} * g.gn
ORDER BY t.lang, tok
"""


REGISTRY: dict[str, tuple] = {
    "heavy_hitters_by_lang": (heavy_hitters_by_lang, _HH_LANG_SQL),
    "mad_outliers": (mad_outliers, _MAD_SQL),
    "variant_extract": (variant_extract, _VARIANT_SQL),
    "recursive_chain": (recursive_chain, _RECURSIVE_SQL),
    "heavy_hitter_tokens": (heavy_hitter_tokens, _HH_SQL),
    "funnel_steps": (funnel_steps, _FUNNEL_SQL),
    "cohort_retention": (cohort_retention_q, _COHORT_SQL),
    "scd2_users": (scd2_users, _SCD2_SQL),
    "temporal_join_pit": (temporal_join_pit, _TEMPORAL_JOIN_SQL),
    "cdc_snapshot_at": (cdc_snapshot_at, _SNAPSHOT_SQL),
    "ewma_user_value": (ewma_user_value, _EWMA_SQL),
    "interp_gapfill": (interp_gapfill, _INTERP_SQL),
    "pareto_parts": (pareto_parts, _PARETO_SQL),
    "fuzzy_customer_names": (fuzzy_customer_names, _FUZZY_SQL),
    "regr_value_trend": (regr_value_trend, _REGR_SQL),
    "zscore_anomalies": (zscore_anomalies, _ZSCORE_SQL),
}
