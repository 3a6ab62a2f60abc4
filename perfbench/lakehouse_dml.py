"""lakehouse_dml: one ``SnapshotTable`` seeded with TPC-H-shaped ``orders``
takes a seeded stream of commits and reads.

Why: the transactional write path beside its own reads.  CDC batches go
through ``cdc_apply_merge`` alternating copy-on-write and merge-on-read,
with keys skewed toward recent ones; MOR deletes and COW updates hit small
key ranges; reads are point lookups, a full aggregate, time travel,
``changes(i, j)`` and ``format("graft_snapshot")`` through ``sources.pyds``.
Every ``COMPACT_EVERY`` commits a maintenance op compacts and vacuums, so a
run covers several compaction cycles and stored bytes level off.  A change
that speeds commits by taxing reads or space shows here.

Beside the snapshot table the lakehouse keeps a catalog table of the same
orders, partitioned by order year and hash-bucketed on ``(o_orderkey,
o_orderpriority)``: the stream publishes a seeded year into it through
``OdpsCatalog.insert`` (long and string keys through ``operators.hashing``),
reads one year back through partition pruning, runs one aggregate through
``Engine.sql``, and exports a published year as Avro and imports it back
through ``sources.avrofile``.

Oracle: a Python dict of live rows, updated from the same seeded batches.
Every read, time travel included, is compared against it; ``changes(i, j)``
applied to the model at ``i`` must give the model at ``j``.  Published
files are read back with pyarrow and sampled rows of every bucket file are
rehashed with the pure-Python ODPS reference; ``Engine.sql`` is compared
with DuckDB over the same parquet, and the pruned read and the Avro round
trip with pyarrow digests of the source.
"""

from __future__ import annotations

import collections
import glob
import os
import statistics
import time
from decimal import Decimal

import duckdb
import numpy as np
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq

from harness import Op, bucket_id_rows_per_s, check, row_digest, tree_bytes
import datagen

N_ORDERS = 4_000
N_FILES = 8
# ops per CDC batch: the OGG sink's batch size (BASELINE.md, ogg-plugin
# Configure.java:37)
BATCH_OPS = 1_000
# The operation mix and the key skew below are assumptions, not measured
# traffic: no source in the repo gives them (README.md, "Workload
# parameters").  15% of a batch's ops insert a new key; the rest update
# (70%) or delete (30%) an existing key, and 70% of those keys come from
# the newest tenth of the table.
INSERT_SHARE = 0.15
DELETE_SHARE = 0.3
RECENT_SHARE = 0.7
RANGE_KEYS = 12             # keys touched by one delete / update
COMPACT_EVERY = 2           # commits between maintenance ops
KEEP_VERSIONS = 6           # vacuum keeps this many recent snapshots
N_BUCKETS = 16
# fixed order, commits interleaved with reads; the seed draws keys, versions
# and years
DECK = ["cdc_merge_cow", "read_point", "publish", "delete_mor", "read_full",
        "partition_pruned_read", "cdc_merge_mor", "time_travel", "engine_sql", "update_cow",
        "read_point", "changes", "avro_roundtrip", "pyds_read"]
COMMITS = ("cdc_merge_cow", "cdc_merge_mor", "delete_mor", "update_cow", "compact")
READS = ("read_point", "read_full", "time_travel", "changes", "pyds_read")
KEY = "o_orderkey"
YEARS = range(1992, 1999)
_PUB_COLS = [("o_orderkey", "bigint"), ("o_custkey", "bigint"), ("o_orderstatus", "string"),
             ("o_totalprice", "double"), ("o_orderdate", "timestamp"),
             ("o_orderpriority", "string")]
_PUB_KEYS = ["o_orderkey", "o_orderpriority"]


def _digest(t) -> tuple:
    """(rows, sum of keys, sum of cents) of an orders table - exact and
    engine-independent."""
    cents = pc.cast(pc.round(pc.multiply(t.column("o_totalprice"), 100.0)), "int64")
    return (t.num_rows, int(pc.sum(t.column("o_orderkey")).as_py() or 0),
            int(pc.sum(cents).as_py() or 0))


def _med(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def _norm(rows) -> tuple:
    """Engine-neutral digest: DECIMAL sums by value, rows unordered."""
    return row_digest(tuple(str(v) if isinstance(v, Decimal) else v for v in r) for r in rows)


class LakehouseDml:
    deck_len = len(DECK) + 2   # two maintenance ops per deck of four commits
    report_groups = {"commit_s_p50": (COMMITS, "p50"), "commit_s_p90": (COMMITS, "p90"),
                     "read_s_p50": (READS, "p50"), "read_s_p90": (READS, "p90")}

    def __init__(self, spark, rd, seed, tracer):
        self.spark, self.rd, self.seed, self.T = spark, rd, seed, tracer
        self.rng = np.random.default_rng([seed, 20])
        self.deck = []
        self.kept_frac = []
        self.retries = 0
        self.avro_stats = []        # (rows, write s, read s, bytes) per round trip
        self.db = None

    # -- set-up -------------------------------------------------------------------
    def setup(self, d: str) -> None:
        from aliyun_maxcompute_data_collectors_spark import session
        from aliyun_maxcompute_data_collectors_spark.catalog import BucketSpec
        from aliyun_maxcompute_data_collectors_spark.engine import Engine
        from aliyun_maxcompute_data_collectors_spark.snapshots import SnapshotTable
        from aliyun_maxcompute_data_collectors_spark.sources.pyds import register_python_datasources

        orders = datagen.tpch(self.seed, N_ORDERS)["orders"]
        src = os.path.join(d, "src")
        datagen.write_parquet({"orders": orders}, src)
        df = self.T.call("session.load_tables", session.load_tables, self.spark, src,
                         ["orders"])["orders"]
        register_python_datasources(self.spark)
        self.root = os.path.join(d, "orders_snap")
        self.table = self.T.call("snapshots.SnapshotTable.init", SnapshotTable.init,
                                 self.spark, self.root)
        self.T.call("snapshots.SnapshotTable.append", self.table.append,
                    df.repartition(N_FILES), bloom_cols=[KEY])
        self.cols = [f.name for f in df.schema.fields]
        self.schema = df.schema
        self.model = {r[0]: r for r in zip(*[orders.column(c).to_pylist() for c in self.cols])}
        self.next_key = N_ORDERS + 1
        self.commits = 0
        self.history = {}           # version -> digest of the model
        self.snaps = collections.OrderedDict()   # recent version -> model copy
        self._record()
        # the catalog side: one parquet file per order year is the publish
        # input, split here so the timed insert measures the write path alone
        year = pc.year(orders.column("o_orderdate"))
        self.years = {}
        for y in YEARS:
            part = orders.filter(pc.equal(year, y))
            path = os.path.join(src, f"orders-{y}.parquet")
            pq.write_table(part, path)
            self.years[y] = {"path": path, "digest": _digest(part)}
        self.eng = Engine(os.path.join(d, "wh"), spark=self.spark)
        self.cat = self.eng.catalog
        self.cat.create_table("orders_pub", _PUB_COLS, partition_columns=[("o_year", "string")],
                              bucket=BucketSpec("hash", N_BUCKETS, _PUB_KEYS))
        self.published: list[int] = []
        self.avro_dir = os.path.join(d, "avro")
        if self.db is not None:
            self.db.close()
        self.db = duckdb.connect()

    def _record(self) -> None:
        v = self.table.current_version()
        self.history[v] = row_digest(self.model.values())
        self.snaps[v] = dict(self.model)
        while len(self.snaps) > KEEP_VERSIONS:
            self.snaps.popitem(last=False)

    # -- op stream ----------------------------------------------------------------
    def next_op(self, i: int) -> Op:
        if self.commits >= COMPACT_EVERY:
            self.commits = 0
            return self._op_compact()
        if not self.deck:
            self.deck = list(DECK)
        kind = self.deck.pop(0)
        return getattr(self, "_op_" + kind)(kind)

    def _pick_key(self, keys=None) -> int:
        """Skewed toward recent keys: RECENT_SHARE from the newest tenth."""
        keys = keys or sorted(self.model)
        if self.rng.random() < RECENT_SHARE:
            return keys[-1 - int(self.rng.integers(0, max(1, len(keys) // 10)))]
        return keys[int(self.rng.integers(0, len(keys)))]

    def _commit(self, fn):
        """One commit through the package's conflict retry; counts retries."""
        from aliyun_maxcompute_data_collectors_spark.snapshots import retry_on_conflict
        calls = [0]

        def attempt():
            calls[0] += 1
            return fn()
        retry_on_conflict(attempt)
        self.retries += calls[0] - 1

    def _committed(self, apply_to_model):
        """Untimed check of a DML op: apply it to the model, record the version."""
        def after(_out):
            apply_to_model()
            self.commits += 1
            self._record()
        return after

    def _maintained(self, _out) -> None:
        self._record()

    def _op_cdc_merge_cow(self, kind, mor=False):
        from pyspark.sql import types as T
        from aliyun_maxcompute_data_collectors_spark.snapshots import cdc_apply_merge
        rows, net = [], {}
        keys = sorted(self.model)     # the model changes only after the commit
        for seq in range(BATCH_OPS):
            if self.rng.random() < INSERT_SHARE:
                k, op = self.next_key, "I"
                self.next_key += 1
            else:
                k = self._pick_key(keys)
                op = "D" if self.rng.random() < DELETE_SHARE else "U"
            vals = (k, int(self.rng.integers(1, 500)), "F", float(self.rng.integers(90000, 4500000)) / 100,
                    self.model.get(k, next(iter(self.model.values())))[4],
                    datagen.PRIORITIES[int(self.rng.integers(0, 5))])
            rows.append(vals + (op, seq))
            net[k] = (op, vals)
        schema = T.StructType(list(self.schema.fields) + [
            T.StructField("op", T.StringType()), T.StructField("seq", T.LongType())])
        ops_df = self.spark.createDataFrame(rows, schema)

        def apply():
            for k, (op, vals) in net.items():
                if op == "D":
                    self.model.pop(k, None)
                else:
                    self.model[k] = vals
        return Op("cdc_merge_mor" if mor else "cdc_merge_cow", BATCH_OPS,
                  lambda: self._commit(lambda: self.T.call(
                      "snapshots.cdc_apply_merge", cdc_apply_merge, self.table, ops_df, [KEY],
                      ["seq"], op_col="op", mor=mor)),
                  self._committed(apply))

    def _op_cdc_merge_mor(self, kind):
        return self._op_cdc_merge_cow(kind, mor=True)

    def _range(self):
        lo = self._pick_key()
        return lo, lo + RANGE_KEYS - 1

    def _op_delete_mor(self, kind):
        lo, hi = self._range()

        def apply():
            for k in range(lo, hi + 1):
                self.model.pop(k, None)
        return Op(kind, RANGE_KEYS,
                  lambda: self._commit(lambda: self.T.call(
                      "snapshots.SnapshotTable.delete", self.table.delete,
                      (KEY, "between", (lo, hi)), mor=True)),
                  self._committed(apply))

    def _op_update_cow(self, kind):
        lo, hi = self._range()

        def apply():
            for k in range(lo, hi + 1):
                if k in self.model:
                    r = self.model[k]
                    self.model[k] = (r[0], r[1], "U", r[3] + 1, r[4], r[5])
        return Op(kind, RANGE_KEYS,
                  lambda: self._commit(lambda: self.T.call(
                      "snapshots.SnapshotTable.update", self.table.update,
                      {"o_orderstatus": "'U'", "o_totalprice": "o_totalprice + 1"},
                      (KEY, "between", (lo, hi)), bloom_cols=[KEY])),
                  self._committed(apply))

    def _op_compact(self):
        def run():
            self._commit(lambda: self.T.call("snapshots.SnapshotTable.compact", self.table.compact,
                                             bloom_cols=[KEY]))
            self.T.call("snapshots.SnapshotTable.vacuum", self.table.vacuum,
                        keep_last=KEEP_VERSIONS)
        return Op("compact", len(self.model), run, self._maintained)

    def _collect(self, name, df):
        return self.T.call(name + ".action", df.collect)

    def _op_read_point(self, kind):
        k = self._pick_key()

        def run():
            df = self.T.call("snapshots.SnapshotTable.read", self.table.read, where=(KEY, "==", k))
            return self._collect("snapshots.SnapshotTable.read", df)

        def verify(rows):
            check([tuple(r) for r in rows] == ([self.model[k]] if k in self.model else []),
                  f"point read of key {k} differs from the model")
            m = self.table.manifest()
            kept = self.table.prune_files(m, [(KEY, "==", k)])
            self.kept_frac.append(len(kept) / max(1, len(m["files"])))
        return Op(kind, len(self.model), run, verify)

    def _op_read_full(self, kind):
        from pyspark.sql import functions as F

        def run():
            df = self.T.call("snapshots.SnapshotTable.read", self.table.read)
            agg = df.groupBy("o_orderstatus").agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("s"))
            return self._collect("snapshots.SnapshotTable.read", agg)

        def verify(rows):
            want = collections.defaultdict(lambda: [0, Decimal(0)])
            for r in self.model.values():
                want[r[2]][0] += 1
                want[r[2]][1] += Decimal(repr(r[3])).quantize(Decimal("0.01"))
            got = {r["o_orderstatus"]: [r["n"], r["s"]] for r in rows}
            check(got == dict(want), "full aggregate differs from the model")
        return Op(kind, len(self.model), run, verify)

    def _op_time_travel(self, kind):
        older = sorted(self.snaps)[:-1] or sorted(self.snaps)
        v = older[int(self.rng.integers(0, len(older)))]
        want = self.history[v]

        def run():
            df = self.T.call("snapshots.SnapshotTable.read", self.table.read, version=v)
            return self._collect("snapshots.SnapshotTable.read", df)
        return Op(kind, want[0], run, lambda rows: check(
            row_digest(rows) == want, f"time travel to v{v} differs from the model"))

    def _op_changes(self, kind):
        # the widest retained range: its cost then depends on the seeded
        # history only, not on a drawn span length
        vs = sorted(self.snaps)
        i, j = vs[0], vs[-1]
        before, after = self.snaps[i], self.snaps[j]

        def run():
            df = self.T.call("snapshots.SnapshotTable.changes", self.table.changes, i, j)
            return self._collect("snapshots.SnapshotTable.changes", df.select(*self.cols, "_change_type"))

        def verify(rows):
            state = collections.Counter(before.values())
            for r in rows:
                t = tuple(r)
                if t[-1] == "insert":
                    state[t[:-1]] += 1
                else:
                    state[t[:-1]] -= 1
            check(+state == collections.Counter(after.values()),
                  f"changes({i}, {j}) applied to v{i} does not give v{j}")
        return Op(kind, len(after), run, verify)

    def _op_pyds_read(self, kind):
        want = row_digest(self.model.values())

        def run():
            df = self.T.call("pyds.graft_snapshot.load",
                             self.spark.read.format("graft_snapshot").option("path", self.root).load)
            return self._collect("pyds.graft_snapshot", df.select(*self.cols))
        return Op(kind, want[0], run, lambda rows: check(
            row_digest(rows) == want, "graft_snapshot read differs from the model"))

    # -- the catalog side: insert, pruned read, Engine.sql, Avro ---------------------
    def _year(self) -> int:
        return YEARS[int(self.rng.integers(0, len(YEARS)))]

    def _op_publish(self, kind):
        y = self._year()

        def run():
            self.T.call("catalog.insert", self.cat.insert, "orders_pub",
                        self.spark.read.parquet(self.years[y]["path"]), overwrite=True,
                        static_partition={"o_year": str(y)})

        def verify(_out):
            if y not in self.published:
                self.published.append(y)
            root = self.cat.data_dir("orders_pub")
            pdir = os.path.join(root, f"o_year={y}")
            files = sorted(glob.glob(os.path.join(pdir, "**", "*.parquet"), recursive=True))
            check(bool(files), f"publish of {y} wrote no files")
            got = ds.dataset(files, format="parquet").to_table(
                columns=["o_orderkey", "o_totalprice"])
            check(_digest(got) == self.years[y]["digest"], f"published year {y} differs from its source")
            parts = sorted(os.listdir(root))
            check(parts == sorted(f"o_year={p}" for p in self.published),
                  f"orders_pub partitions {parts} after publishing {self.published}")
            self._check_buckets(pdir)
        return Op(kind, self.years[y]["digest"][0], run, verify)

    def _check_buckets(self, pdir: str) -> None:
        """Sampled rows of every bucket file hash to that bucket under the
        pure-Python ODPS reference."""
        from aliyun_maxcompute_data_collectors_spark.operators import hashing as H
        for bdir in sorted(glob.glob(os.path.join(pdir, "__odps_bucket__=*"))):
            b = int(bdir.rsplit("=", 1)[1])
            for f in sorted(glob.glob(os.path.join(bdir, "*.parquet"))):
                t = pq.read_table(f, columns=_PUB_KEYS).slice(0, 20)
                bad = [k for k, p in zip(*[t.column(c).to_pylist() for c in _PUB_KEYS])
                       if H.combine_hashes([H.hash_long(k), H.hash_string(p)]) % N_BUCKETS != b]
                check(not bad, f"order {bad[:1]} stored in bucket {b}")

    def _op_partition_pruned_read(self, kind):
        from pyspark.sql import functions as F
        y = self.published[int(self.rng.integers(0, len(self.published)))]
        want = self.years[y]["digest"]

        def run():
            df = self.T.call("catalog.read_table", self.cat.read_table, "orders_pub")
            agg = df.where(F.col("o_year") == str(y)).agg(
                F.count(F.lit(1)), F.sum(KEY),
                F.sum(F.round(F.col("o_totalprice") * 100).cast("long")))
            return self.T.call("catalog.read_table.action", agg.collect)
        return Op(kind, want[0], run, lambda rows: check(
            tuple(rows[0]) == want, f"pruned read of {y}: {tuple(rows[0])}, want {want}"))

    def _op_engine_sql(self, kind):
        price = int(self.rng.integers(1_000, 400_000))
        sql = ("SELECT o_orderpriority, COUNT(*) AS n, "
               "SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS total, MAX(o_orderkey) AS top "
               f"FROM orders_pub WHERE o_totalprice >= {price} GROUP BY o_orderpriority")
        union = " UNION ALL ".join(f"SELECT * FROM read_parquet('{self.years[y]['path']}')"
                                   for y in self.published)
        want = _norm(self.db.execute(sql.replace("FROM orders_pub", f"FROM ({union})")).fetchall())
        rows = sum(self.years[y]["digest"][0] for y in self.published)

        def run():
            df = self.T.call("engine.sql", self.eng.sql, sql)
            return self.T.call("engine.sql.action", df.collect)
        return Op(kind, rows, run, lambda got: check(
            _norm(got) == want, f"Engine.sql differs from DuckDB: {sql}"))

    def _op_avro_roundtrip(self, kind):
        """Export a published year from the catalog table as Avro, then
        import the files back."""
        from pyspark.sql import functions as F
        from aliyun_maxcompute_data_collectors_spark.sources import avrofile
        y = self.published[int(self.rng.integers(0, len(self.published)))]
        want = self.years[y]["digest"]
        out = os.path.join(self.avro_dir, str(len(self.avro_stats)))

        def run():
            t0 = time.perf_counter()
            df = self.T.call("catalog.read_table", self.cat.read_table, "orders_pub")
            self.T.call("avrofile.write_avro", avrofile.write_avro,
                        df.where(F.col("o_year") == str(y)).drop("o_year"), out)
            t1 = time.perf_counter()
            df = self.T.call("avrofile.read_avro", avrofile.read_avro, self.spark, out)
            rows = self.T.call("avrofile.read_avro.action",
                               df.select(KEY, "o_totalprice").collect)
            self.avro_stats.append((want[0], t1 - t0, time.perf_counter() - t1, tree_bytes(out)))
            return rows

        def verify(rows):
            got = (len(rows), sum(r[0] for r in rows), sum(round(r[1] * 100) for r in rows))
            check(got == want, f"Avro round trip of {y}: {got}, want {want}")
        return Op(kind, 2 * want[0], run, verify)

    def verify_end(self) -> list[str]:
        rows = self.table.read().select(*self.cols).collect()
        if row_digest(rows) != row_digest(self.model.values()):
            return ["final table differs from the model"]
        return []

    # -- space and layer extras -----------------------------------------------------------
    def space_sample(self):
        return tree_bytes(self.root), len(self.model)

    def live_bytes_per_row(self) -> float:
        d = self.rd.sub("live")
        self.table.read().coalesce(1).write.mode("overwrite").parquet(d)
        return tree_bytes(d) / max(1, len(self.model))

    def layer_probes(self) -> dict:
        det = self.table.detail()
        timed = self.avro_stats
        pub = self.spark.read.parquet(*[v["path"] for v in self.years.values()])
        n = sum(v["digest"][0] for v in self.years.values())
        return {
            "avrofile.write_rows_per_s": _med([r / w for r, w, _, _ in timed]),
            "avrofile.read_rows_per_s": _med([r / t for r, _, t, _ in timed]),
            "avrofile.bytes_per_row": _med([b / r for r, _, _, b in timed]),
            "hashing.bucket_id_long_rows_per_s": bucket_id_rows_per_s(self.T, pub, KEY, N_BUCKETS, n),
            "hashing.bucket_id_str_rows_per_s": bucket_id_rows_per_s(
                self.T, pub, "o_orderpriority", N_BUCKETS, n),
            "input_bytes_per_row": sum(os.path.getsize(v["path"]) for v in self.years.values()) / n,
            "table_bytes": {"partition_pruned_read": tree_bytes(self.cat.data_dir("orders_pub"))},
            "snapshots.point_files_kept_frac": _med(self.kept_frac),
            "snapshots.live_files": det["num_files"],
            "snapshots.dv_positions": det["dv_deleted_rows"],
            "snapshots.manifest_bytes": tree_bytes(os.path.join(self.root, "_snapshots", "manifests")),
            "snapshots.conflict_retries": self.retries,
        }
