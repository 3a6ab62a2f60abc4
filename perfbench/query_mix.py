"""query_mix: a seeded, parameterised read-only stream over catalog tables
built once during set-up (bucketed ``lineitem``, year-partitioned
``orders``, a range-clustered and zonemapped ``lineitem`` copy).

Why: the read side of ``catalog`` plus ``engine`` planning.  TPC-H-shaped
SQL (the q1/q3/q5/q6/q10/q18 shapes) runs through ``Engine.sql``; point
lookups, bucket reads, a partition-pruned read and zonemap-skipping ranges
run through ``OdpsCatalog``; the ``lookup_join`` and ``merge_newest_wins``
shapes through their operators.  Short lookups are fixed-cost bound and set
the median; joins are shuffle bound and set the tail.  Nothing is written.

Oracle: DuckDB runs the same parameterised SQL over the same generated
parquet; results are compared as digests of normalised rows.  Bucket reads
are checked against the pure-Python ODPS hash of every source key.
"""

from __future__ import annotations

import datetime as dt
import os

import duckdb
import numpy as np

from harness import Op, check, row_digest, tree_bytes
import datagen

N_ORDERS = 4_000
N_BUCKETS = 16
ZM_BUCKETS = 8
DECK = ["q1", "q3", "q5", "q6", "q10", "q18", "lookup_by_key", "lookup_by_key",
        "read_buckets", "partition_pruned_read", "read_skipping", "lookup_join",
        "merge_newest_wins"]
SQL_KINDS = ("q1", "q3", "q5", "q6", "q10", "q18")
KINDS = SQL_KINDS + ("lookup_by_key", "read_buckets", "partition_pruned_read", "read_skipping",
                     "lookup_join", "merge_newest_wins")
_LI = [("l_orderkey", "bigint"), ("l_partkey", "bigint"), ("l_suppkey", "bigint"),
       ("l_linenumber", "int"), ("l_quantity", "double"), ("l_extendedprice", "double"),
       ("l_discount", "double"), ("l_tax", "double"), ("l_returnflag", "string"),
       ("l_linestatus", "string"), ("l_shipdate", "timestamp_ntz")]
_ORD = [("o_orderkey", "bigint"), ("o_custkey", "bigint"), ("o_orderstatus", "string"),
        ("o_totalprice", "double"), ("o_orderdate", "timestamp_ntz"),
        ("o_orderpriority", "string")]
_REV = "CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))"


def _ts(d: dt.date) -> str:
    return f"TIMESTAMP '{d.isoformat()} 00:00:00'"


def _norm(rows) -> tuple:
    """Engine-neutral digest: decimals and floats by value, rows unordered."""
    def cell(v):
        if hasattr(v, "is_finite") and v.is_finite():   # Decimal
            return repr(float(v)) if v == v.to_integral_value() else str(v.normalize())
        if isinstance(v, float):
            return repr(v)
        return v
    return row_digest(tuple(cell(v) for v in r) for r in rows)


class QueryMix:
    deck_len = len(DECK)
    report_groups = {"query_s_p50": (KINDS, "p50"), "query_s_p90": (KINDS, "p90")}

    def __init__(self, spark, rd, seed, tracer):
        self.spark, self.rd, self.seed, self.T = spark, rd, seed, tracer
        self.rng = np.random.default_rng([seed, 30])
        self.deck = []
        self.db = None

    # -- set-up -------------------------------------------------------------------
    def setup(self, d: str) -> None:
        from pyspark.sql import functions as F
        from aliyun_maxcompute_data_collectors_spark import session
        from aliyun_maxcompute_data_collectors_spark.catalog import BucketSpec
        from aliyun_maxcompute_data_collectors_spark.engine import Engine
        from aliyun_maxcompute_data_collectors_spark.operators import hashing as H

        tables = datagen.tpch(self.seed, N_ORDERS)
        tables["events"] = datagen.events(self.seed, N_ORDERS, N_ORDERS // 8)
        src = os.path.join(d, "src")
        datagen.write_parquet(tables, src)
        t = self.T.call("session.load_tables", session.load_tables, self.spark, src, list(tables))
        eng = Engine(os.path.join(d, "wh"), spark=self.spark)
        cat = eng.catalog
        cat.create_table("lineitem", _LI, bucket=BucketSpec("hash", N_BUCKETS, ["l_orderkey"]))
        cat.create_table("orders", _ORD, partition_columns=[("o_year", "string")])
        cat.create_table("li_zm", _LI, bucket=BucketSpec("range", ZM_BUCKETS, ["l_partkey"]))
        self.T.call("catalog.insert", cat.insert, "lineitem", t["lineitem"], overwrite=True)
        self.T.call("catalog.insert", cat.insert, "orders",
                    t["orders"].withColumn("o_year", F.year("o_orderdate").cast("string")),
                    overwrite=True)
        self.T.call("catalog.insert", cat.insert, "li_zm", t["lineitem"], overwrite=True)
        self.T.call("catalog.build_zonemap", cat.build_zonemap, "li_zm", ["l_partkey"])
        self.eng, self.cat, self.t = eng, cat, t
        if self.db is not None:
            self.db.close()
        self.db = duckdb.connect()
        for name in tables:
            self.db.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                            f"read_parquet('{os.path.join(src, name + '.parquet')}')")
        self.n = {k: v.num_rows for k, v in tables.items()}
        keys = tables["lineitem"].column("l_orderkey").to_numpy()
        bucket_of = {int(k): H.combine_hashes([H.hash_long(int(k))]) % N_BUCKETS
                     for k in np.unique(keys)}
        self.key_bucket = np.array([bucket_of[int(k)] for k in keys])
        self.li_keys = keys
        self.max_partkey = int(tables["lineitem"].column("l_partkey").to_numpy().max())
        self.li_cents = np.round(tables["lineitem"].column("l_extendedprice").to_numpy() * 100)
        self.table_bytes = {"lookup_by_key": tree_bytes(cat.data_dir("lineitem")),
                            "read_buckets": tree_bytes(cat.data_dir("lineitem")),
                            "read_skipping": tree_bytes(cat.data_dir("li_zm")),
                            "partition_pruned_read": tree_bytes(cat.data_dir("orders"))}

    # -- op stream ----------------------------------------------------------------
    def next_op(self, i: int) -> Op:
        if not self.deck:
            self.deck = list(DECK)
        kind = self.deck.pop(0)
        return getattr(self, "_op_" + kind)(kind)

    def _date(self, lo: dt.date, span_days: int) -> dt.date:
        return lo + dt.timedelta(days=int(self.rng.integers(0, span_days)))

    def _sql_op(self, kind, sql, rows):
        def run():
            df = self.T.call("engine.sql", self.eng.sql, sql)
            return self.T.call("engine.sql.action", df.collect)
        want = _norm(self.db.execute(sql).fetchall())
        return Op(kind, rows, run, lambda got: check(
            _norm(got) == want, f"{kind} differs from DuckDB: {sql}"))

    def _op_q1(self, kind):
        d = dt.date(1998, 12, 1) - dt.timedelta(days=int(self.rng.integers(60, 121)))
        return self._sql_op(kind, f"""
            SELECT l_returnflag, l_linestatus,
                   SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sum_qty,
                   SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS sum_base,
                   SUM({_REV}) AS sum_disc, COUNT(*) AS n
            FROM lineitem WHERE l_shipdate <= {_ts(d)}
            GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""",
                            self.n["lineitem"])

    def _op_q3(self, kind):
        seg = datagen.SEGMENTS[int(self.rng.integers(0, 5))]
        d = self._date(dt.date(1995, 3, 1), 31)
        return self._sql_op(kind, f"""
            SELECT l_orderkey, SUM({_REV}) AS revenue, o_orderdate
            FROM customer, orders, lineitem
            WHERE c_mktsegment = '{seg}' AND c_custkey = o_custkey AND l_orderkey = o_orderkey
              AND o_orderdate < {_ts(d)} AND l_shipdate > {_ts(d)}
            GROUP BY l_orderkey, o_orderdate
            ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10""",
                            self.n["lineitem"] + self.n["orders"] + self.n["customer"])

    def _op_q5(self, kind):
        region = datagen.REGIONS[int(self.rng.integers(0, 5))]
        y = int(self.rng.integers(1993, 1998))
        return self._sql_op(kind, f"""
            SELECT n_name, SUM({_REV}) AS revenue
            FROM customer, orders, lineitem, supplier, nation, region
            WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey AND l_suppkey = s_suppkey
              AND c_nationkey = s_nationkey AND s_nationkey = n_nationkey
              AND n_regionkey = r_regionkey AND r_name = '{region}'
              AND o_orderdate >= {_ts(dt.date(y, 1, 1))} AND o_orderdate < {_ts(dt.date(y + 1, 1, 1))}
            GROUP BY n_name ORDER BY revenue DESC, n_name""",
                            self.n["lineitem"] + self.n["orders"] + self.n["customer"])

    def _op_q6(self, kind):
        y = int(self.rng.integers(1993, 1998))
        disc = int(self.rng.integers(2, 10)) / 100
        qty = int(self.rng.integers(24, 26))
        return self._sql_op(kind, f"""
            SELECT SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(4,2)))
                   AS revenue
            FROM lineitem
            WHERE l_shipdate >= {_ts(dt.date(y, 1, 1))} AND l_shipdate < {_ts(dt.date(y + 1, 1, 1))}
              AND l_discount BETWEEN {disc - 0.01:.2f} AND {disc + 0.01:.2f} AND l_quantity < {qty}""",
                            self.n["lineitem"])

    def _op_q10(self, kind):
        d = dt.date(int(self.rng.integers(1993, 1995)), int(self.rng.integers(1, 13)), 1)
        e = dt.date(d.year + (d.month + 2) // 12, (d.month + 2) % 12 + 1, 1)
        return self._sql_op(kind, f"""
            SELECT c_custkey, c_name, SUM({_REV}) AS revenue, c_acctbal, n_name
            FROM customer, orders, lineitem, nation
            WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
              AND o_orderdate >= {_ts(d)} AND o_orderdate < {_ts(e)}
              AND l_returnflag = 'R' AND c_nationkey = n_nationkey
            GROUP BY c_custkey, c_name, c_acctbal, n_name
            ORDER BY revenue DESC, c_custkey LIMIT 20""",
                            self.n["lineitem"] + self.n["orders"] + self.n["customer"])

    def _op_q18(self, kind):
        q = int(self.rng.integers(180, 230))
        return self._sql_op(kind, f"""
            SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
                   SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty
            FROM customer, orders, lineitem
            WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
                                 HAVING SUM(l_quantity) > {q})
              AND c_custkey = o_custkey AND o_orderkey = l_orderkey
            GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
            ORDER BY o_totalprice DESC, o_orderdate, o_orderkey LIMIT 100""",
                            2 * self.n["lineitem"] + self.n["orders"] + self.n["customer"])

    def _op_lookup_by_key(self, kind):
        k = int(self.li_keys[int(self.rng.integers(0, len(self.li_keys)))])
        cols = ", ".join(c for c, _ in _LI)
        want = _norm(self.db.execute(f"SELECT {cols} FROM lineitem WHERE l_orderkey = {k}").fetchall())

        def run():
            df = self.T.call("catalog.lookup_by_key", self.cat.lookup_by_key, "lineitem",
                             {"l_orderkey": k})
            return self.T.call("catalog.lookup_by_key.action", df.collect)
        return Op(kind, self.n["lineitem"], run,
                  lambda got: check(_norm(got) == want, f"lookup_by_key({k}) differs from DuckDB"))

    @staticmethod
    def _agg(df):
        """(rows, sum of keys, sum of cents) of a lineitem scan."""
        from pyspark.sql import functions as F
        return df.agg(F.count(F.lit(1)), F.sum("l_orderkey"),
                      F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")))

    def _op_read_buckets(self, kind):
        bs = sorted({int(b) for b in self.rng.integers(0, N_BUCKETS, 2)})
        sel = np.isin(self.key_bucket, bs)
        want = (int(sel.sum()), int(self.li_keys[sel].sum()), int(self.li_cents[sel].sum()))

        def run():
            df = self.T.call("catalog.read_buckets", self.cat.read_buckets, "lineitem", bs)
            return self.T.call("catalog.read_buckets.action", self._agg(df).collect)
        return Op(kind, self.n["lineitem"], run, lambda got: check(
            tuple(got[0]) == want, f"read_buckets({bs}) differs from the Python hash reference"))

    def _op_partition_pruned_read(self, kind):
        from pyspark.sql import functions as F
        y = int(self.rng.integers(1992, 1999))
        want = _norm(self.db.execute(
            "SELECT COUNT(*), SUM(o_orderkey), SUM(CAST(o_totalprice AS DECIMAL(18,2))) "
            f"FROM orders WHERE year(o_orderdate) = {y}").fetchall())

        def run():
            df = self.T.call("catalog.read_table", self.cat.read_table, "orders")
            agg = df.where(F.col("o_year") == str(y)).agg(
                F.count(F.lit(1)), F.sum("o_orderkey"),
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")))
            return self.T.call("catalog.read_table.action", agg.collect)
        return Op(kind, self.n["orders"], run, lambda got: check(
            _norm(got) == want, f"partition-pruned read of {y} differs from DuckDB"))

    def _op_read_skipping(self, kind):
        top = self.max_partkey
        lo = int(self.rng.integers(1, top))
        hi = lo + top // 20
        want = _norm(self.db.execute(
            "SELECT COUNT(*), SUM(l_orderkey), SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) "
            f"FROM lineitem WHERE l_partkey BETWEEN {lo} AND {hi}").fetchall())

        def run():
            df = self.T.call("catalog.read_skipping", self.cat.read_skipping, "li_zm",
                             "l_partkey", lo, hi)
            return self.T.call("catalog.read_skipping.action", self._agg(df).collect)
        return Op(kind, self.n["lineitem"], run, lambda got: check(
            _norm(got) == want, f"read_skipping [{lo}, {hi}] differs from DuckDB"))

    def _op_lookup_join(self, kind):
        from pyspark.sql import functions as F
        from aliyun_maxcompute_data_collectors_spark.operators.lookup import lookup_join
        seg = datagen.SEGMENTS[int(self.rng.integers(0, 5))]
        want = _norm(self.db.execute(
            "SELECT n_name, COUNT(*), SUM(CAST(c_acctbal AS DECIMAL(18,2))) FROM customer "
            f"LEFT JOIN nation ON c_nationkey = n_nationkey WHERE c_mktsegment = '{seg}' "
            "GROUP BY n_name").fetchall())

        def run():
            probe = self.t["customer"].where(F.col("c_mktsegment") == seg)
            j = self.T.call("lookup.lookup_join", lookup_join, probe, self.t["nation"],
                            {"c_nationkey": "n_nationkey"})
            agg = j.groupBy("n_name").agg(F.count(F.lit(1)),
                                          F.sum(F.col("c_acctbal").cast("decimal(18,2)")))
            return self.T.call("lookup.lookup_join.action", agg.collect)
        return Op(kind, self.n["customer"], run,
                  lambda got: check(_norm(got) == want, f"lookup_join({seg}) differs from DuckDB"))

    def _op_merge_newest_wins(self, kind):
        from pyspark.sql import functions as F
        from aliyun_maxcompute_data_collectors_spark.operators.merge import newest_wins
        r = int(self.rng.integers(0, 4))
        want = _norm(self.db.execute(
            "SELECT user_id, event_id, value FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY "
            "user_id ORDER BY ts DESC, event_id DESC) AS rn FROM events "
            f"WHERE user_id % 4 = {r}) WHERE rn = 1").fetchall())

        def run():
            ev = self.t["events"].where(F.col("user_id") % 4 == r)
            out = self.T.call("merge.newest_wins", newest_wins, ev, ["user_id"], ["ts", "event_id"])
            return self.T.call("merge.newest_wins.action",
                               out.select("user_id", "event_id", "value").collect)
        return Op(kind, self.n["events"], run, lambda got: check(
            _norm(got) == want, f"merge_newest_wins(user_id % 4 = {r}) differs from DuckDB"))

    def verify_end(self) -> list[str]:
        return []

    # -- space and layer extras -----------------------------------------------------------
    def space_sample(self):
        return tree_bytes(self.cat.warehouse), 2 * self.n["lineitem"] + self.n["orders"]

    def live_bytes_per_row(self) -> float:
        """Live rows written once, compacted: the three catalog tables'
        rows as one parquet file each."""
        total = 0
        for name, df in (("li", self.t["lineitem"]), ("li_zm", self.t["lineitem"]),
                         ("orders", self.t["orders"])):
            d = self.rd.sub("live", name)
            df.coalesce(1).write.mode("overwrite").parquet(d)
            total += tree_bytes(d)
        return total / (2 * self.n["lineitem"] + self.n["orders"])

    def layer_probes(self) -> dict:
        return {"table_bytes": self.table_bytes}
