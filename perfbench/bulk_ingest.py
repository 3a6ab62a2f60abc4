"""bulk_ingest: seeded cycles of ``OdpsCatalog.insert`` plus Avro import and
export over a TPC-H-shaped ``lineitem``.

Why: ``catalog``, ``operators.hashing`` and ``sources.avrofile`` do almost
all the work and ``snapshots``/``engine`` none.  Whole-table overwrites and
1,000-row appends (the Flume/OGG batch size) separate per-row cost from the
fixed cost of one insert.

Oracle: the written parquet is read back with pyarrow (no Spark) and its
row count and checksum compared with the generated source; sampled rows of
every bucket file must hash to that bucket under the pure-Python
``hashing.hash_long``/``hash_string``/``combine_hashes`` reference.
"""

from __future__ import annotations

import glob
import os
import shutil
import statistics
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq

from harness import Op, bucket_id_rows_per_s, check, tree_bytes
import datagen

N_ORDERS = 6_000        # -> ~24k lineitem rows
APPEND_ROWS = 1_000
N_BUCKETS = 16
AVRO_FILES = 2
DECK = ["ins_long", "ins_str", "ins_part", "append", "append", "append",
        "avro_import", "avro_export"]
_COLS = [("l_orderkey", "bigint"), ("l_partkey", "bigint"), ("l_suppkey", "bigint"),
         ("l_linenumber", "int"), ("l_quantity", "double"), ("l_extendedprice", "double"),
         ("l_discount", "double"), ("l_tax", "double"), ("l_returnflag", "string"),
         ("l_linestatus", "string"), ("l_shipdate", "timestamp")]


def _digest(table) -> tuple:
    """(rows, sum of keys, sum of cents) - exact, engine-independent."""
    keys = table.column("l_orderkey")
    cents = pc.round(pc.multiply(table.column("l_extendedprice"), 100.0))
    return (table.num_rows, int(pc.sum(keys).as_py() or 0),
            int(pc.sum(pc.cast(cents, "int64")).as_py() or 0))


def _read_files(ddir):
    files = glob.glob(os.path.join(ddir, "**", "*.parquet"), recursive=True)
    if not files:
        return None
    return ds.dataset(files, format="parquet", partitioning="hive").to_table()


INSERT_KINDS = ("insert_bucketed_long", "insert_bucketed_str", "insert_dynamic_partition",
                "insert_small_append")


class BulkIngest:
    deck_len = len(DECK)
    report_groups = {"insert_s_p50": (INSERT_KINDS, "p50"),
                     "ingest_rows_per_s": (INSERT_KINDS + ("avro_import",), "rows_per_s")}

    def __init__(self, spark, rd, seed, tracer):
        self.spark, self.rd, self.seed, self.T = spark, rd, seed, tracer
        self.rng = np.random.default_rng([seed, 10])
        self.deck = []

    # -- set-up -------------------------------------------------------------------
    def setup(self, d: str) -> None:
        from pyspark.sql import functions as F
        from aliyun_maxcompute_data_collectors_spark import session
        from aliyun_maxcompute_data_collectors_spark.catalog import BucketSpec, OdpsCatalog
        from aliyun_maxcompute_data_collectors_spark.sources import avrofile

        T = self.T
        li = datagen.tpch(self.seed, N_ORDERS)["lineitem"]
        src_dir = os.path.join(d, "src")
        datagen.write_parquet({"lineitem": li.append_column(
            "l_rowid", pa.array(np.arange(li.num_rows)))}, src_dir)
        t = T.call("session.load_tables", session.load_tables, self.spark, src_dir, ["lineitem"])
        # the string key and the partition value are materialised here, so the
        # timed inserts measure the write path alone
        src = (t["lineitem"]
               .withColumn("l_key", F.concat_ws("-", "l_orderkey", "l_linenumber"))
               .withColumn("ship_quarter", F.concat(F.year("l_shipdate"), F.lit("Q"),
                                                    F.quarter("l_shipdate"))))
        if getattr(self, "src", None) is not None:
            self.src.unpersist()
        self.src = src.coalesce(4).cache()
        self.n = self.src.count()
        self.src_pa = li
        cat = OdpsCatalog(self.spark, os.path.join(d, "wh"))
        cat.create_table("li_long", _COLS, bucket=BucketSpec("hash", N_BUCKETS, ["l_orderkey"]))
        cat.create_table("li_str", _COLS + [("l_key", "string")],
                         bucket=BucketSpec("hash", N_BUCKETS, ["l_key"]))
        cat.create_table("li_part", _COLS, partition_columns=[("ship_quarter", "string")])
        cat.create_table("li_avro", _COLS)
        self.cat = cat
        # Avro container inputs: one quarter of the rows, split over files
        self.avro_in = os.path.join(d, "avro_in")
        quarter = self.src.where(F.col("l_orderkey") % 4 == 0).select(
            *[F.col(c).cast(t).alias(c) for c, t in _COLS])
        self.avro_files = []
        for k in range(AVRO_FILES):
            part = os.path.join(self.avro_in, str(k))
            T.call("avrofile.write_avro", avrofile.write_avro,
                   quarter.where(F.col("l_linenumber") % AVRO_FILES == k).coalesce(1), part)
            self.avro_files.append(part)
        q = li.filter(pc.equal(pc.bit_wise_and(li.column("l_orderkey"), 3), 0))
        lnum = q.column("l_linenumber").to_numpy()
        self.avro_expect = [_digest(q.filter(lnum % AVRO_FILES == k)) for k in range(AVRO_FILES)]
        self.full_digest = _digest(li)
        self.live = dict.fromkeys(("li_long", "li_str", "li_part", "li_avro"), 0)
        self.export_dir = os.path.join(d, "avro_out")
        self._op_avro_import(-1).run()   # the export reads this table

    # -- ops ----------------------------------------------------------------------
    def next_op(self, i: int) -> Op:
        if not self.deck:
            self.deck = list(DECK)
        kind = self.deck.pop(0)
        return getattr(self, "_op_" + kind)(i)

    def _insert(self, name, df, overwrite=True):
        return self.T.call("catalog.insert", self.cat.insert, name, df, overwrite=overwrite)

    def _op_ins_long(self, i):
        return Op("insert_bucketed_long", self.n, lambda: self._overwrite("li_long"),
                  lambda _: self._check_bucketed("li_long", "l_orderkey", self.full_digest))

    def _op_ins_str(self, i):
        return Op("insert_bucketed_str", self.n, lambda: self._overwrite("li_str"),
                  lambda _: self._check_bucketed("li_str", "l_key", self.full_digest))

    def _op_ins_part(self, i):
        return Op("insert_dynamic_partition", self.n, lambda: self._overwrite("li_part"),
                  lambda _: self._check_part())

    def _overwrite(self, name):
        self._insert(name, self.src)
        self.live[name] = self.n

    def _op_append(self, i):
        from pyspark.sql import functions as F
        off = int(self.rng.integers(0, self.n - APPEND_ROWS))
        batch = self.src.where(F.col("l_rowid").between(off, off + APPEND_ROWS - 1))

        def run():
            self._insert("li_long", batch, overwrite=False)
            self.live["li_long"] += APPEND_ROWS
        return Op("insert_small_append", APPEND_ROWS, run,
                  lambda _: self._check_count("li_long", self.live["li_long"]))

    def _op_avro_import(self, i):
        from aliyun_maxcompute_data_collectors_spark.sources import avrofile
        k = int(self.rng.integers(0, AVRO_FILES))
        expect = self.avro_expect[k]

        def run():
            df = self.T.call("avrofile.read_avro", avrofile.read_avro, self.spark,
                             self.avro_files[k])
            self._insert("li_avro", df)
            self.live["li_avro"] = expect[0]
        return Op("avro_import", expect[0], run,
                  lambda _: check(_digest(_read_files(self.cat.data_dir("li_avro"))) == expect,
                                  "avro import digest differs from the source"))

    def _op_avro_export(self, i):
        from aliyun_maxcompute_data_collectors_spark.sources import avrofile
        out = os.path.join(self.export_dir, str(i))

        def run():
            df = self.T.call("catalog.read_table", self.cat.read_table, "li_avro")
            return self.T.call("avrofile.write_avro", avrofile.write_avro, df, out)

        def verify(files):
            want, rows = self.live["li_avro"], 0
            for f in os.listdir(out):
                with open(os.path.join(out, f), "rb") as fh:
                    _meta, recs = avrofile.parse_container(fh.read())
                rows += len(recs)
            check(rows == want, f"avro export wrote {rows} rows, want {want}")
            shutil.rmtree(self.export_dir, ignore_errors=True)
        return Op("avro_export", self.live["li_avro"], run, verify)

    # -- oracles ------------------------------------------------------------------
    def _check_count(self, name, want):
        t = _read_files(self.cat.data_dir(name))
        check(t is not None and t.num_rows == want, f"{name}: {0 if t is None else t.num_rows} rows, want {want}")

    def _check_bucketed(self, name, key, want):
        from aliyun_maxcompute_data_collectors_spark.operators import hashing as H
        ddir = self.cat.data_dir(name)
        t = _read_files(ddir)
        check(t is not None and _digest(t) == want, f"{name}: digest differs from the source")
        h = H.hash_long if key == "l_orderkey" else H.hash_string
        for bdir in sorted(glob.glob(os.path.join(ddir, "__odps_bucket__=*"))):
            b = int(bdir.rsplit("=", 1)[1])
            f = sorted(glob.glob(os.path.join(bdir, "*.parquet")))[0]
            col = pq.read_table(f, columns=[key]).column(key).to_pylist()[:50]
            bad = [v for v in col if H.combine_hashes([h(v)]) % N_BUCKETS != b]
            check(not bad, f"{name}: key {bad[:1]} stored in bucket {b}")

    def _check_part(self):
        ddir = self.cat.data_dir("li_part")
        t = _read_files(ddir)
        check(t is not None and _digest(t) == self.full_digest, "li_part: digest differs")
        ship = self.src_pa.column("l_shipdate")
        want = len(set(zip(pc.year(ship).to_pylist(), pc.quarter(ship).to_pylist())))
        got = len(glob.glob(os.path.join(ddir, "ship_quarter=*")))
        check(got == want, f"li_part: {got} partitions, want {want}")

    def verify_end(self) -> list[str]:
        return []

    def layer_probes(self) -> dict:
        """Traced runs only: the hash kernel over the workload's own key
        columns, and Avro codec throughput, each ended by a noop write."""
        from aliyun_maxcompute_data_collectors_spark.sources import avrofile

        T, out = self.T, {}
        for key, metric in (("l_orderkey", "hashing.bucket_id_long_rows_per_s"),
                            ("l_key", "hashing.bucket_id_str_rows_per_s")):
            out[metric] = bucket_id_rows_per_s(T, self.src, key, N_BUCKETS, self.n)
        rows = sum(self.avro_expect[k][0] for k in range(AVRO_FILES))
        reads, writes = [], []
        for r in range(3):
            t = time.perf_counter()
            df = T.call("avrofile.read_avro", avrofile.read_avro, self.spark, self.avro_in + "/*")
            T.call("noop.write", df.write.format("noop").mode("overwrite").save)
            reads.append(rows / (time.perf_counter() - t))
            out_dir = self.rd.sub("probe_avro", str(r))
            t = time.perf_counter()
            T.call("avrofile.write_avro", avrofile.write_avro, df, out_dir)
            writes.append(rows / (time.perf_counter() - t))
        out["avrofile.read_rows_per_s"] = statistics.median(reads)
        out["avrofile.write_rows_per_s"] = statistics.median(writes)
        out["avrofile.bytes_per_row"] = tree_bytes(out_dir) / rows
        out["input_bytes_per_row"] = tree_bytes(os.path.dirname(self.avro_in) + "/src") / self.n
        return out

    # -- space ----------------------------------------------------------------------
    def space_sample(self):
        return tree_bytes(self.cat.warehouse), sum(self.live.values())

    def live_bytes_per_row(self) -> float:
        d = self.rd.sub("live")
        self.src.coalesce(1).write.mode("overwrite").parquet(d)
        return tree_bytes(d) / self.n
