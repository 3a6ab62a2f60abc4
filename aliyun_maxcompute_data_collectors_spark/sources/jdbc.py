"""JDBC parallel import/export (the Sqoop surface, SURVEY.md S13-S15, W12).

Parity targets in the reference:
- ``odps-sqoop/src/java/org/apache/sqoop/mapreduce/db/DataDrivenDBInputFormat.java``:
  bounding query over a ``--split-by`` column, then type-specific splitters
  produce per-mapper WHERE ranges;
- splitter-per-type family ``{Integer,Text,Date,Float,BigDecimal,Boolean,NText}Splitter.java``;
- free-form ``--query`` import with ``$CONDITIONS`` substitution (S14,
  ``tool/ImportTool.java``);
- export: batched INSERT / UPDATE / upsert output formats (W12).

Spark-first: ``spark.read.jdbc`` already implements numeric/date range
splitting (partitionColumn/lowerBound/upperBound/numPartitions).  What Spark
does NOT have - and this module adds - is:
- split planning for **text** and **boolean** columns (predicates list);
- the ``$CONDITIONS`` query contract;
- export modes beyond append (update-key UPDATE, merge-key upsert) via
  ``foreachPartition`` batched statements.

Split-boundary math is re-derived from the observable splitter behavior:
equal-width ranges over [lo, hi], first/last split open-ended, text splits
walk a base-N alphabet between min/max prefixes.

Live e2e (round 6): embedded Apache Derby is on Spark's default classpath,
so tests/test_jdbc_live.py drives this module through the REAL JVM JDBC
stack - partitioned import, text-split import, $CONDITIONS splits, the
incremental append/lastmodified-merge cycle, and df.write.jdbc export.
"""

from __future__ import annotations

import datetime as dt
import math
from dataclasses import dataclass
from decimal import Decimal

from pyspark.sql import DataFrame, SparkSession


# ---------------------------------------------------------------------------
# split planning
# ---------------------------------------------------------------------------

def integer_splits(col: str, lo: int, hi: int, n: int) -> list[str]:
    """Closed-interval integer ranges; remainder spread over the first
    splits; single predicate when the range collapses."""
    if lo > hi:
        return [f"{col} IS NULL"]
    if n <= 1 or hi == lo:
        return [f"{col} >= {lo} AND {col} <= {hi}"]
    n = min(n, hi - lo + 1)
    width, rem = divmod(hi - lo + 1, n)
    preds = []
    cur = lo
    for i in range(n):
        step = width + (1 if i < rem else 0)
        nxt = cur + step
        last = i == n - 1
        hi_op = "<=" if last else "<"
        preds.append(f"{col} >= {cur} AND {col} {hi_op} {nxt - 1 if last else nxt}")
        cur = nxt
    return preds


def float_splits(col: str, lo: float, hi: float, n: int) -> list[str]:
    if math.isclose(lo, hi) or n <= 1:
        return [f"{col} >= {lo!r} AND {col} <= {hi!r}"]
    step = (hi - lo) / n
    preds = []
    for i in range(n):
        a = lo + i * step
        b = hi if i == n - 1 else lo + (i + 1) * step
        op = "<=" if i == n - 1 else "<"
        preds.append(f"{col} >= {a!r} AND {col} {op} {b!r}")
    return preds


def decimal_splits(col: str, lo: Decimal, hi: Decimal, n: int) -> list[str]:
    if lo == hi or n <= 1:
        return [f"{col} >= {lo} AND {col} <= {hi}"]
    step = (hi - lo) / n
    preds = []
    for i in range(n):
        a = lo + i * step
        b = hi if i == n - 1 else lo + (i + 1) * step
        op = "<=" if i == n - 1 else "<"
        preds.append(f"{col} >= {a} AND {col} {op} {b}")
    return preds


def date_splits(col: str, lo: dt.datetime, hi: dt.datetime, n: int,
                sql_type: str = "TIMESTAMP") -> list[str]:
    """Equal-width time ranges rendered as typed literals."""
    if lo >= hi or n <= 1:
        return [f"{col} >= {_ts_lit(lo, sql_type)} AND {col} <= {_ts_lit(hi, sql_type)}"]
    total = (hi - lo) / n
    preds = []
    for i in range(n):
        a = lo + total * i
        b = hi if i == n - 1 else lo + total * (i + 1)
        op = "<=" if i == n - 1 else "<"
        preds.append(f"{col} >= {_ts_lit(a, sql_type)} AND {col} {op} {_ts_lit(b, sql_type)}")
    return preds


def _ts_lit(t: dt.datetime, sql_type: str) -> str:
    if sql_type.upper() == "DATE":
        return f"DATE '{t.date().isoformat()}'"
    return f"TIMESTAMP '{t.strftime('%Y-%m-%d %H:%M:%S')}'"


def boolean_splits(col: str) -> list[str]:
    """Two splits + NULLs folded into the false split (BooleanSplitter shape)."""
    return [f"{col} = TRUE", f"{col} = FALSE OR {col} IS NULL"]


# ASCII-ORDERED alphabet: interpolation must be monotonic under SQL/byte
# collation or adjacent split ranges overlap (string.printable is NOT in
# ascii order and produced duplicated rows)
_TEXT_ALPHABET = "".join(chr(c) for c in range(32, 127))


def text_splits(col: str, lo: str, hi: str, n: int, common_prefix: str = "") -> list[str]:
    """Lexicographic ranges via base-N interpolation between min/max strings
    (TextSplitter's approach: map prefixes to fractions, split evenly,
    map back).  First/last splits are open-ended to be loss-proof."""
    if n <= 1 or lo >= hi:
        return [f"{col} >= {_s(common_prefix + lo)} AND {col} <= {_s(common_prefix + hi)}"]
    a, b = _str_to_frac(lo), _str_to_frac(hi)
    cuts = [lo] + [
        _frac_to_str(a + (b - a) * (i / n)) for i in range(1, n)
    ] + [hi]
    preds = []
    for i in range(n):
        last = i == n - 1
        lo_lit = _s(common_prefix + cuts[i])
        hi_lit = _s(common_prefix + cuts[i + 1])
        hi_op = "<=" if last else "<"
        preds.append(f"{col} >= {lo_lit} AND {col} {hi_op} {hi_lit}")
    return preds


def _s(v: str) -> str:
    return "'" + v.replace("'", "''") + "'"


def _str_to_frac(s: str, depth: int = 8) -> float:
    base = len(_TEXT_ALPHABET)
    out = 0.0
    for i, ch in enumerate(s[:depth]):
        idx = _TEXT_ALPHABET.find(ch)
        if idx < 0:
            idx = base - 1
        out += idx / (base ** (i + 1))
    return out


def _frac_to_str(f: float, depth: int = 8) -> str:
    base = len(_TEXT_ALPHABET)
    out = []
    x = f
    for _ in range(depth):
        x *= base
        d = min(int(x), base - 1)
        out.append(_TEXT_ALPHABET[d])
        x -= d
        if x <= 0:
            break
    return "".join(out).rstrip(_TEXT_ALPHABET[0]) or _TEXT_ALPHABET[0]


@dataclass
class SplitPlan:
    predicates: list[str]

    def __len__(self):
        return len(self.predicates)


def plan_splits(col: str, lo, hi, n: int, col_type: str = "integer") -> SplitPlan:
    """Dispatch by split-by column type, like DataDrivenDBInputFormat picking
    its splitter class."""
    t = col_type.lower()
    if t in ("integer", "int", "bigint", "long", "smallint", "tinyint"):
        return SplitPlan(integer_splits(col, int(lo), int(hi), n))
    if t in ("float", "double", "real"):
        return SplitPlan(float_splits(col, float(lo), float(hi), n))
    if t in ("decimal", "numeric", "bigdecimal"):
        return SplitPlan(decimal_splits(col, Decimal(lo), Decimal(hi), n))
    if t in ("date", "timestamp", "datetime"):
        return SplitPlan(date_splits(col, lo, hi, n, "DATE" if t == "date" else "TIMESTAMP"))
    if t in ("boolean", "bool"):
        return SplitPlan(boolean_splits(col))
    if t in ("string", "text", "varchar", "char", "ntext"):
        return SplitPlan(text_splits(col, str(lo), str(hi), n))
    raise ValueError(f"no splitter for column type {col_type!r}")


# ---------------------------------------------------------------------------
# import
# ---------------------------------------------------------------------------

CONDITIONS_TOKEN = "$CONDITIONS"


def read_jdbc_parallel(
    spark: SparkSession,
    url: str,
    table: str | None = None,
    query: str | None = None,
    split_by: str | None = None,
    col_type: str = "integer",
    bounds: tuple | None = None,
    num_splits: int = 4,
    properties: dict | None = None,
) -> DataFrame:
    """Parallel JDBC import.

    - numeric/date split-by: delegates to Spark's native partitioned read
      (identical range semantics, executed JVM-side);
    - text/boolean/decimal split-by: uses our predicate planner (Spark has
      no native splitter for these - the Sqoop capability gap this fills);
    - ``query`` mode: free-form SQL containing ``$CONDITIONS``, replaced per
      split (S14).
    """
    props = properties or {}
    reader_src = table if table is not None else f"({query.replace(CONDITIONS_TOKEN, '1=1')}) q"
    if split_by is None:
        return spark.read.jdbc(url, reader_src, properties=props)
    if bounds is None:
        raise ValueError("bounds=(lo,hi) required with split_by")
    lo, hi = bounds
    t = col_type.lower()
    if query is None and t in ("integer", "int", "bigint", "long"):
        return spark.read.jdbc(
            url, reader_src, column=split_by, lowerBound=int(lo), upperBound=int(hi),
            numPartitions=num_splits, properties=props,
        )
    plan = plan_splits(split_by, lo, hi, num_splits, col_type)
    if query is not None:
        if CONDITIONS_TOKEN not in query:
            raise ValueError(f"free-form query must contain {CONDITIONS_TOKEN}")
        # one JDBC sub-query per split; Spark unions them into one DataFrame
        dfs = [
            spark.read.jdbc(url, f"({query.replace(CONDITIONS_TOKEN, pred)}) q{i}",
                            properties=props)
            for i, pred in enumerate(plan.predicates)
        ]
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d)
        return out
    return spark.read.jdbc(url, reader_src, predicates=plan.predicates, properties=props)


# ---------------------------------------------------------------------------
# incremental import (Sqoop --incremental append/lastmodified + merge)
# ---------------------------------------------------------------------------

def incremental_predicate(
    mode: str,                 # 'append' | 'lastmodified'
    check_col: str,
    last_value,
) -> str:
    """WHERE fragment selecting only new/changed rows since last_value
    (SqoopOptions incremental modes: append = check_col > last, lastmodified
    = check_col >= last)."""
    if last_value is None:
        return "1=1"
    if isinstance(last_value, str):
        lit = _s(last_value)
    elif isinstance(last_value, dt.datetime):
        # JDBC escape form, not the ANSI literal: this predicate is only
        # ever embedded in a spark.read.jdbc subquery, and the escape is
        # translated by EVERY JDBC driver while the ANSI TIMESTAMP'..'
        # literal is not (embedded Derby rejects it - live e2e, round 6)
        lit = "{ts '" + last_value.strftime("%Y-%m-%d %H:%M:%S") + "'}"
    else:
        lit = repr(last_value)
    op = ">" if mode == "append" else ">="
    return f"{check_col} {op} {lit}"


def incremental_import(
    spark: SparkSession,
    url: str,
    table: str,
    target,                    # OdpsCatalog-like with read_table/insert
    target_table: str,
    mode: str,
    check_col: str,
    merge_key: list[str] | None = None,
    properties: dict | None = None,
) -> None:
    """One incremental cycle: read rows past the target's high-watermark,
    then append (append mode) or merge-key reconcile newest-wins
    (lastmodified mode, Sqoop MergeJob J2).

    The watermark comes from the target itself (max(check_col)), so the
    pipeline is restartable without external state."""
    from pyspark.sql import functions as F

    from aliyun_maxcompute_data_collectors_spark.operators.merge import merge_datasets

    existing = target.read_table(target_table)
    last = existing.agg(F.max(check_col)).collect()[0][0]
    pred = incremental_predicate(mode, check_col, last)
    fresh = spark.read.jdbc(
        url, f"(SELECT * FROM {table} WHERE {pred}) q", properties=properties or {})
    # JDBC metadata case-folds identifiers per engine (Derby/Oracle report
    # UPPERCASE, Postgres lower) - align to the target's column case so the
    # insert matches, the same mapping Sqoop's ClassWriter applies.  Found
    # by the live embedded-Derby e2e, round 6.
    by_lower = {c.lower(): c for c in existing.columns}
    fresh = fresh.select(*[
        F.col(c).alias(by_lower.get(c.lower(), c)) for c in fresh.columns])
    if fresh.isEmpty():
        return
    if mode == "append" or not merge_key:
        target.insert(target_table, fresh)
        return
    merged = merge_datasets(existing, fresh, merge_key, [check_col])
    merged = merged.localCheckpoint(eager=True)  # decouple from files being replaced
    target.insert(target_table, merged, overwrite=True)


# ---------------------------------------------------------------------------
# export (W12): append / update / upsert via foreachPartition batches
# ---------------------------------------------------------------------------

def build_insert_sql(table: str, cols: list[str], dialect: str = "ansi") -> str:
    ph = ", ".join(["?"] * len(cols))
    return f"INSERT INTO {table} ({', '.join(cols)}) VALUES ({ph})"


def build_update_sql(table: str, cols: list[str], update_keys: list[str]) -> str:
    """JdbcUpdateExportJob shape: SET non-keys WHERE keys."""
    sets = ", ".join(f"{c} = ?" for c in cols if c not in update_keys)
    wheres = " AND ".join(f"{k} = ?" for k in update_keys)
    return f"UPDATE {table} SET {sets} WHERE {wheres}"


def build_upsert_sql(table: str, cols: list[str], keys: list[str],
                     dialect: str = "mysql") -> str:
    """JdbcUpsertExportJob shape; dialect picks the native upsert form."""
    collist = ", ".join(cols)
    ph = ", ".join(["?"] * len(cols))
    if dialect == "mysql":
        updates = ", ".join(f"{c} = VALUES({c})" for c in cols if c not in keys)
        return (f"INSERT INTO {table} ({collist}) VALUES ({ph}) "
                f"ON DUPLICATE KEY UPDATE {updates}")
    if dialect in ("postgres", "sqlite", "duckdb"):
        updates = ", ".join(f"{c} = excluded.{c}" for c in cols if c not in keys)
        return (f"INSERT INTO {table} ({collist}) VALUES ({ph}) "
                f"ON CONFLICT ({', '.join(keys)}) DO UPDATE SET {updates}")
    if dialect in ("oracle", "ansi"):
        src = ", ".join(f"? AS {c}" for c in cols)
        on = " AND ".join(f"t.{k} = s.{k}" for k in keys)
        sets = ", ".join(f"t.{c} = s.{c}" for c in cols if c not in keys)
        ins_cols = ", ".join(cols)
        ins_vals = ", ".join(f"s.{c}" for c in cols)
        return (f"MERGE INTO {table} t USING (SELECT {src} FROM dual) s ON ({on}) "
                f"WHEN MATCHED THEN UPDATE SET {sets} "
                f"WHEN NOT MATCHED THEN INSERT ({ins_cols}) VALUES ({ins_vals})")
    raise ValueError(f"unknown dialect {dialect!r}")


def build_call_sql(procedure: str, n_params: int, dialect: str = "jdbc") -> str:
    """Stored-procedure export statement - one CALL per row, row columns as
    IN parameters in column order (the reference's JdbcCallExportJob mode,
    odps-sqoop/src/java/org/apache/sqoop/mapreduce/JdbcCallExportJob.java:
    the procedure encapsulates the insert logic server-side).

    ``jdbc`` emits the JDBC escape form ``{call p(?,..)}`` the reference
    builds; ``ansi``/``mysql``/``postgres`` the SQL ``CALL p(?,..)``;
    ``oracle`` a PL/SQL block."""
    ph = ", ".join(["?"] * n_params)
    if dialect == "jdbc":
        return f"{{call {procedure}({ph})}}"
    if dialect in ("ansi", "mysql", "postgres", "duckdb", "sqlite"):
        return f"CALL {procedure}({ph})"
    if dialect == "oracle":
        return f"BEGIN {procedure}({ph}); END;"
    raise ValueError(f"unknown dialect {dialect!r}")


def export_jdbc(
    df: DataFrame,
    connect_fn,
    table: str,
    mode: str = "insert",            # insert | update | upsert | call
    keys: list[str] | None = None,
    batch_size: int = 1000,          # reference export batch default
    dialect: str = "ansi",
) -> None:
    """Batched JDBC export via foreachPartition.  ``connect_fn`` returns a
    DB-API connection (created per partition, executor-side - no driver
    bottleneck).  Retries ride on Spark task retries, like the reference
    rides on MR task retries.

    ``mode="call"`` treats ``table`` as a stored-procedure name and invokes
    it once per row with the row's columns as IN parameters (JdbcCallExportJob
    parity); batching/commit cadence is identical to insert mode."""
    cols = df.columns
    if mode == "insert":
        sql = build_insert_sql(table, cols, dialect)
        param_cols = cols
    elif mode == "update":
        if not keys:
            raise ValueError("update mode needs keys")
        sql = build_update_sql(table, cols, keys)
        param_cols = [c for c in cols if c not in keys] + keys
    elif mode == "upsert":
        if not keys:
            raise ValueError("upsert mode needs keys")
        sql = build_upsert_sql(table, cols, keys, dialect)
        param_cols = cols
    elif mode == "call":
        # pass the dialect through: DB-API connections (sqlite/duckdb/
        # psycopg2 - this function's documented transport) reject the JDBC
        # escape form '{call p(?)}'; callers on a real JDBC bridge opt into
        # it with dialect="jdbc"
        sql = build_call_sql(table, len(cols), dialect)
        param_cols = cols
    else:
        raise ValueError(f"unknown export mode {mode!r}")
    idx = [cols.index(c) for c in param_cols]

    def write_partition(rows):
        conn = connect_fn()
        try:
            cur = conn.cursor()
            batch = []
            for row in rows:
                batch.append(tuple(row[i] for i in idx))
                if len(batch) >= batch_size:
                    cur.executemany(sql, batch)
                    conn.commit()
                    batch = []
            if batch:
                cur.executemany(sql, batch)
                conn.commit()
        finally:
            conn.close()

    df.foreachPartition(write_partition)
