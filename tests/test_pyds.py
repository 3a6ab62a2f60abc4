"""Python Data Source front-ends (sources/pyds.py): graft_snapshot and
graft_avro on a plain ``spark.read.format(...)`` / ``df.write.format(...)``
path - the DSv2 surface the reference exposes through its JVM catalog
plugin (OdpsTableCatalog.scala), here in pure Python."""

import glob
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F
from pyspark.sql.datasource import GreaterThan, LessThanOrEqual, StringStartsWith

from aliyun_maxcompute_data_collectors_spark.session import load_tables, scoped_sql_conf
from aliyun_maxcompute_data_collectors_spark.snapshots import SnapshotConflict, SnapshotTable
from aliyun_maxcompute_data_collectors_spark.sources.pyds import (
    GraftAvroDataSource,
    GraftSnapshotDataSource,
    _pack_files,
    _SnapshotWriter,
    register_python_datasources,
)


@pytest.fixture()
def pushdown(spark):
    register_python_datasources(spark)
    register_python_datasources(spark)  # idempotent: latest wins
    with scoped_sql_conf(spark, "spark.sql.python.filterPushdown.enabled",
                         "true"):
        yield


@pytest.fixture()
def orders(spark, sf_dir):
    return load_tables(spark, sf_dir, ["orders"])["orders"].select(
        "o_orderkey", "o_totalprice")


@pytest.fixture()
def root():
    d = tempfile.mkdtemp(prefix="pyds_t_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _ranged_table(spark, orders, root):
    """Three disjoint key-range files -> prunable by manifest stats."""
    tab = SnapshotTable.init(spark, root)
    k = F.col("o_orderkey")
    mx = orders.agg(F.max(k)).collect()[0][0]
    b1, b2 = mx // 3, (2 * mx) // 3
    tab.append(orders.where(k <= b1).coalesce(1))
    tab.append(orders.where((k > b1) & (k <= b2)).coalesce(1))
    tab.append(orders.where(k > b2).coalesce(1))
    return tab, b1, b2


def test_snapshot_ds_read_and_time_travel(spark, orders, root, pushdown):
    tab, _, _ = _ranged_table(spark, orders, root)
    df = spark.read.format("graft_snapshot").option("path", root).load()
    assert df.count() == tab.read().count() == orders.count()
    assert [f.name for f in df.schema.fields] == ["o_orderkey", "o_totalprice"]
    # version time travel (v2 = first append)
    v2 = spark.read.format("graft_snapshot").option("path", root) \
        .option("version", "2").load()
    assert v2.count() == tab.read(2).count()
    # timestamp time travel: the instant of v3's commit resolves to v3
    ts3 = tab.manifest(3)["timestamp_ms"]
    v3 = spark.read.format("graft_snapshot").option("path", root) \
        .option("timestamp_ms", str(ts3)).load()
    assert v3.count() == tab.read(3).count()


def test_snapshot_ds_filter_pushdown_prunes_files(spark, orders, root,
                                                  pushdown):
    tab, b1, _ = _ranged_table(spark, orders, root)
    ds = GraftSnapshotDataSource({"path": root})
    rdr = ds.reader(ds.schema())
    filters = [LessThanOrEqual(("o_orderkey",), int(b1 // 2))]
    unhandled = list(rdr.pushFilters(filters))
    assert unhandled == filters  # everything reported back: Spark re-filters
    assert len(rdr._files) == 1 and len(tab.manifest()["files"]) == 3
    # unsupported filter shapes prune nothing and are returned unhandled
    rdr2 = ds.reader(ds.schema())
    weird = [StringStartsWith(("o_orderkey",), "1"),
             GreaterThan(("a", "b"), 1)]
    assert list(rdr2.pushFilters(weird)) == weird
    assert len(rdr2._files) == 3
    # end-to-end: pruned read returns exact rows
    k = F.col("o_orderkey")
    got = (spark.read.format("graft_snapshot").option("path", root).load()
           .where(k <= b1 // 2).count())
    assert got == orders.where(k <= b1 // 2).count()


def test_snapshot_ds_pushdown_prunes_inside_the_planner(spark, root,
                                                        pushdown):
    """Spark calls ``reader()`` in its planner worker, with no active
    session: the pruned read must still skip files there.  The file
    that cannot match is deleted from disk, so a read that lists it
    fails.  With the conf off the same source reads everything."""
    tab = SnapshotTable.init(spark, root)
    for lo in (0, 1000, 2000):
        tab.append(spark.range(lo, lo + 1000).withColumnRenamed("id", "k")
                   .coalesce(1))
    k = F.col("k")

    def load():
        return spark.read.format("graft_snapshot").option("path", root).load()

    with scoped_sql_conf(spark, "spark.sql.python.filterPushdown.enabled",
                         "false"):
        assert load().count() == 3000
        assert load().where(k <= 10).count() == 11
    (last,) = tab.prune_files(tab.manifest(), [("k", ">=", 2000)])
    os.remove(last)
    assert load().where(k <= 10).count() == 11


def test_snapshot_ds_write_append_overwrite(spark, orders, root, pushdown):
    tab = SnapshotTable.init(spark, root)
    m = F.col("o_orderkey") % 10
    a, b = orders.where(m < 5), orders.where((m >= 5) & (m < 8))
    a.write.format("graft_snapshot").option("path", root) \
        .mode("append").save()
    b.write.format("graft_snapshot").option("path", root) \
        .mode("append").save()
    assert tab.read().count() == a.count() + b.count()
    # DSv2-written files carry manifest stats (prunable like native writes)
    stats = tab.manifest()["stats"]
    assert stats and all("o_orderkey" in s for s in stats.values())
    v_before = tab.current_version()
    a.write.format("graft_snapshot").option("path", root) \
        .mode("overwrite").save()
    assert tab.read().count() == a.count()
    assert [v["operation"] for v in tab.versions()][-1] == "overwrite"
    # snapshot isolation: the pre-overwrite version is still intact
    assert tab.read(v_before).count() == a.count() + b.count()


def test_snapshot_ds_writer_conflict_publishes_nothing(spark, orders, root):
    tab = SnapshotTable.init(spark, root)
    tab.append(orders.limit(10))
    w = _SnapshotWriter(root, overwrite=False)  # pins parent = v2
    tab.append(orders.limit(5))                 # concurrent commit -> v3
    with pytest.raises(SnapshotConflict):
        w.commit([])
    assert tab.current_version() == 3           # nothing published
    w.abort([])


def test_snapshot_ds_empty_task_writes_no_file(spark, orders, root, pushdown):
    tab = SnapshotTable.init(spark, root)
    # 8 partitions, 5 rows: most tasks see zero batches -> no files for them
    orders.limit(5).repartition(8).write.format("graft_snapshot") \
        .option("path", root).mode("append").save()
    assert tab.read().count() == 5
    assert all(os.path.getsize(f) > 0 for f in tab.manifest()["files"])


def test_pack_files_binpacks_by_size(tmp_path):
    files = []
    for i, kb in enumerate([700, 300, 600, 400, 900]):
        p = tmp_path / f"f{i}"
        p.write_bytes(b"x" * (kb * 1024))
        files.append(str(p))
    bins = _pack_files(files, 1024 * 1024)
    assert sorted(f for b in bins for f in b) == sorted(files)
    assert all(sum(os.path.getsize(f) for f in b) <= 1024 * 1024
               for b in bins)
    # 700+300 and 600+400 pack; 900 alone -> 3 bins
    assert len(bins) == 3
    # oversize file gets its own partition
    big = tmp_path / "big"
    big.write_bytes(b"x" * (2 * 1024 * 1024))
    assert [str(big)] in _pack_files([str(big), files[1]], 1024 * 1024)


def _drain(sdf, out, ck):
    q = (sdf.writeStream.format("parquet").option("path", out)
         .option("checkpointLocation", ck)
         .trigger(availableNow=True).start())
    q.awaitTermination(120)


def test_snapshot_stream_source_incremental_exactly_once(spark, orders,
                                                         root, pushdown):
    tab = SnapshotTable.init(spark, root)
    m = F.col("o_orderkey") % 10
    tab.append(orders.where(m < 3))
    tab.append(orders.where(m == 3))
    out = os.path.join(root, "out")
    ck = os.path.join(root, "ck")
    sdf = (spark.readStream.format("graft_snapshot").option("path", root)
           .option("starting_version", "1").load())
    _drain(sdf, out, ck)  # full replay from v1
    assert spark.read.parquet(out).count() == orders.where(m <= 3).count()
    tab.append(orders.where(m == 4))
    _drain(sdf, out, ck)  # restart from checkpoint: ONLY the new commit
    assert spark.read.parquet(out).count() == orders.where(m <= 4).count()
    _drain(sdf, out, ck)  # no new commits: a no-op batch, no duplicates
    assert spark.read.parquet(out).count() == orders.where(m <= 4).count()


def test_snapshot_stream_source_starting_timestamp(spark, orders, root,
                                                   pushdown):
    """r11: starting_timestamp (Delta's startingTimestamp shape) replays
    commits AT or AFTER the instant - resolved to the newest version
    strictly before it; mutually exclusive with starting_version."""
    tab = SnapshotTable.init(spark, root)
    m = F.col("o_orderkey") % 10
    tab.append(orders.where(m == 0))
    ts_mid = tab.manifest()["timestamp_ms"] + 1  # after v2, before v3
    import time as _t
    _t.sleep(0.01)
    tab.append(orders.where(m == 1))

    sdf = (spark.readStream.format("graft_snapshot").option("path", root)
           .option("starting_timestamp", str(ts_mid)).load())
    out, ck = os.path.join(root, "ts_out"), os.path.join(root, "ts_ck")
    _drain(sdf, out, ck)
    # only v3 (committed after the instant) streams
    assert spark.read.parquet(out).count() == orders.where(m == 1).count()

    # an instant before ALL commits replays the full table
    sdf0 = (spark.readStream.format("graft_snapshot").option("path", root)
            .option("starting_timestamp", "1970-01-01T00:00:00").load())
    out0, ck0 = os.path.join(root, "ts0_out"), os.path.join(root, "ts0_ck")
    _drain(sdf0, out0, ck0)
    assert spark.read.parquet(out0).count() == \
        orders.where(m <= 1).count()

    # both options together refuse
    from pyspark.errors.exceptions.captured import StreamingQueryException
    both = (spark.readStream.format("graft_snapshot").option("path", root)
            .option("starting_timestamp", str(ts_mid))
            .option("starting_version", "1").load())
    with pytest.raises((StreamingQueryException, Exception)):
        _drain(both, os.path.join(root, "b_out"),
               os.path.join(root, "b_ck"))


def test_snapshot_stream_source_overwrite_fail_and_skip(spark, orders,
                                                        root, pushdown):
    from pyspark.errors.exceptions.captured import StreamingQueryException

    tab = SnapshotTable.init(spark, root)
    m = F.col("o_orderkey") % 10
    tab.append(orders.where(m == 0))
    v_pre = tab.current_version()
    tab.overwrite(orders.where(m == 1))
    tab.append(orders.where(m == 2))
    sdf = (spark.readStream.format("graft_snapshot").option("path", root)
           .option("starting_version", str(v_pre)).load())
    with pytest.raises(StreamingQueryException):
        _drain(sdf, os.path.join(root, "o1"), os.path.join(root, "c1"))
    skip = (spark.readStream.format("graft_snapshot").option("path", root)
            .option("starting_version", str(v_pre))
            .option("on_overwrite", "skip").load())
    out = os.path.join(root, "o2")
    _drain(skip, out, os.path.join(root, "c2"))
    # the overwrite commit yields no rows; the append after it streams
    assert spark.read.parquet(out).count() == orders.where(m == 2).count()


def test_snapshot_stream_sink_commits_per_batch(spark, orders, root,
                                                pushdown):
    tab = SnapshotTable.init(spark, root)
    m = F.col("o_orderkey") % 10
    indir = os.path.join(root, "in")
    ck = os.path.join(root, "ck")
    orders.where(m == 0).coalesce(1).write.parquet(
        os.path.join(indir, "b1"))
    src = spark.readStream.schema(orders.schema).parquet(
        os.path.join(indir, "*"))

    def run():
        q = (src.writeStream.format("graft_snapshot").option("path", root)
             .option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    run()
    assert tab.read().count() == orders.where(m == 0).count()
    ops = [v["operation"] for v in tab.versions()]
    assert ops[-1].startswith("stream-append:batch=")
    # second input file -> second epoch appends only the new rows
    orders.where(m == 1).coalesce(1).write.parquet(
        os.path.join(indir, "b2"))
    run()
    assert tab.read().count() == orders.where(m <= 1).count()
    # replaying an already-tagged batch id publishes nothing
    w = tab.current_version()
    from aliyun_maxcompute_data_collectors_spark.sources.pyds import _SnapshotStreamWriter
    sw = _SnapshotStreamWriter(root)
    done_batch = int(
        [v["operation"] for v in tab.versions()][-1].split("=")[1])
    sw.commit([], done_batch)
    assert tab.current_version() == w


def test_avro_ds_matches_mapinpandas_reader(spark, orders, root, pushdown):
    from aliyun_maxcompute_data_collectors_spark.sources.avrofile import read_avro, write_avro

    write_avro(orders.repartition(3), root)
    via_ds = spark.read.format("graft_avro").option("path", root).load()
    via_fn = read_avro(spark, root)
    assert via_ds.schema == via_fn.schema
    assert via_ds.exceptAll(via_fn).count() == 0
    assert via_fn.exceptAll(via_ds).count() == 0


def test_snapshot_stream_source_max_files_per_trigger(spark, orders, root,
                                                      pushdown):
    """Admission control under the continuous trigger: a 6-file commit
    must drain across ceil(6/2)=3 capped micro-batches (sub-version file
    cursors in the offsets), with every row delivered exactly once."""
    import json
    import time

    tab = SnapshotTable.init(spark, root)
    m = F.col("o_orderkey") % 10
    tab.append(orders.where(m == 0).coalesce(1))
    out, ck = os.path.join(root, "out"), os.path.join(root, "ck")
    sdf = (spark.readStream.format("graft_snapshot").option("path", root)
           .option("starting_version", "1")
           .option("max_files_per_trigger", "2").load())
    q = (sdf.writeStream.format("parquet").option("path", out)
         .option("checkpointLocation", ck)
         .trigger(processingTime="1 second").start())
    try:
        time.sleep(4)
        tab.append(orders.where((m >= 1) & (m <= 6)).repartition(6))
        want = orders.where(m <= 6).count()
        deadline = time.time() + 90
        while time.time() < deadline:
            try:
                if spark.read.parquet(out).count() >= want:
                    break
            except Exception:
                pass
            time.sleep(1)
    finally:
        q.stop()
        q.awaitTermination(30)
    assert spark.read.parquet(out).count() == want
    ends = []
    odir = os.path.join(ck, "offsets")
    for f in sorted(x for x in os.listdir(odir) if not x.startswith(".")):
        ends.append(json.loads(
            open(os.path.join(odir, f)).read().strip().splitlines()[-1]))
    # the big commit's versions appear with ascending sub-version file
    # cursors: at least one batch ends mid-version (file not 0/full=6)
    big = [e for e in ends if e["version"] == 3]
    assert len(big) >= 3 and any(0 < e["file"] < 6 for e in big), ends


def test_avro_ds_write_roundtrip_modes(spark, orders, root, pushdown):
    tgt = os.path.join(root, "avro_out")
    sub = orders.limit(200)
    sub.repartition(3).write.format("graft_avro").option("path", tgt) \
        .mode("overwrite").save()
    back = spark.read.format("graft_avro").option("path", tgt).load()
    assert back.count() == 200
    assert back.exceptAll(sub).count() == 0 and sub.exceptAll(back).count() == 0
    # append accumulates; overwrite replaces
    sub.write.format("graft_avro").option("path", tgt).mode("append").save()
    assert spark.read.format("graft_avro").option("path", tgt) \
        .load().count() == 400
    sub.write.format("graft_avro").option("path", tgt) \
        .mode("overwrite").save()
    assert spark.read.format("graft_avro").option("path", tgt) \
        .load().count() == 200
    assert not glob.glob(os.path.join(tgt, "_staging-*"))
    # empty tasks publish no files (5 rows over 8 partitions)
    tgt2 = os.path.join(root, "avro_out2")
    orders.limit(5).repartition(8).write.format("graft_avro") \
        .option("path", tgt2).mode("append").save()
    assert len(glob.glob(os.path.join(tgt2, "*.avro"))) <= 5
    assert spark.read.format("graft_avro").option("path", tgt2) \
        .load().count() == 5
    # DS-written files are block-capped -> sync-split readable
    tgt3 = os.path.join(root, "avro_out3")
    orders.coalesce(1).write.format("graft_avro").option("path", tgt3) \
        .option("block_records", "100").mode("append").save()
    f = glob.glob(os.path.join(tgt3, "*.avro"))[0]
    split = max(1, os.path.getsize(f) // 5)
    df = (spark.read.format("graft_avro").option("path", f)
          .option("split_bytes", str(split)).load())
    assert df.count() == orders.count()


def test_avro_ds_split_one_file_many_tasks(spark, orders, root, pushdown):
    from aliyun_maxcompute_data_collectors_spark.sources.avrofile import write_avro

    write_avro(orders.coalesce(1), root)
    f = glob.glob(os.path.join(root, "*.avro"))[0]
    split = max(1, os.path.getsize(f) // 5)
    _, _, ranges = GraftAvroDataSource(
        {"path": f, "split_bytes": str(split)})._plan()
    assert len(ranges) >= 4
    df = (spark.read.format("graft_avro").option("path", f)
          .option("split_bytes", str(split)).load())
    assert df.count() == orders.count()
    assert (df.agg(F.sum("o_orderkey")).collect()[0][0]
            == orders.agg(F.sum("o_orderkey")).collect()[0][0])


def test_dsv2_empty_overwrite_keeps_write_schema(spark, root):
    """ADVICE r8: an overwrite whose tasks all produced zero rows must
    commit the Spark-provided write schema, not schema=None (which
    bricked subsequent reads with 'empty with no schema')."""
    register_python_datasources(spark)
    tab = SnapshotTable.init(spark, root)
    df = spark.createDataFrame([(1, "a")], "id long, v string")
    tab.append(df)
    (df.where(F.lit(False)).write.format("graft_snapshot")
       .option("path", root).mode("overwrite").save())
    m = SnapshotTable(spark, root).manifest()
    assert m["operation"] == "overwrite" and m["files"] == []
    assert m.get("schema")  # the write schema rode the commit
    got = (spark.read.format("graft_snapshot").option("path", root).load())
    assert got.count() == 0
    assert [f.name for f in got.schema.fields] == ["id", "v"]


def test_bare_session_sql_via_temporary_view_using(spark, orders, root,
                                                   pushdown):
    """r9 (VERDICT r8 #7): a tool holding ONLY a plain SparkSession - no
    Engine, no format() API - reads a snapshot table with pure SQL via
    ``CREATE TEMPORARY VIEW ... USING graft_snapshot OPTIONS (...)``,
    including a time-travel pin through the ``version`` option.
    Persistent ``CREATE TABLE ... USING`` is NOT supported: measured on
    PySpark 4.1.2, the session catalog hands the Python data source an
    EMPTY options map at read time (options survive only to schema
    resolution at CREATE) - documented in README + the reader's error."""
    tab = SnapshotTable.init(spark, root)
    lo = orders.where(F.col("o_orderkey") % 2 == 0)
    hi = orders.where(F.col("o_orderkey") % 2 == 1)
    tab.append(lo)                    # v2
    tab.append(hi)                    # v3
    try:
        spark.sql(f"""
            CREATE TEMPORARY VIEW snap_sql_cur
            USING graft_snapshot OPTIONS (path '{root}')""")
        spark.sql(f"""
            CREATE TEMPORARY VIEW snap_sql_v2
            USING graft_snapshot OPTIONS (path '{root}', version '2')""")
        n_all = orders.count()
        n_lo = lo.count()
        assert spark.sql("SELECT COUNT(*) AS n FROM snap_sql_cur") \
            .collect()[0]["n"] == n_all
        assert spark.sql("SELECT COUNT(*) AS n FROM snap_sql_v2") \
            .collect()[0]["n"] == n_lo
        # joins between the pinned and current views work in plain SQL
        got = spark.sql("""
            SELECT COUNT(*) AS n FROM snap_sql_cur c
            LEFT ANTI JOIN snap_sql_v2 o ON c.o_orderkey = o.o_orderkey
        """).collect()[0]["n"]
        assert got == n_all - n_lo
        # and a file: URI path (what SQL surfaces may qualify to) works
        spark.sql(f"""
            CREATE TEMPORARY VIEW snap_sql_uri
            USING graft_snapshot OPTIONS (path 'file://{root}')""")
        assert spark.sql("SELECT COUNT(*) AS n FROM snap_sql_uri") \
            .collect()[0]["n"] == n_all
    finally:
        for v in ("snap_sql_cur", "snap_sql_v2", "snap_sql_uri"):
            spark.catalog.dropTempView(v)


# -- r10: change data feed (batch + stream) ---------------------------------

def test_snapshot_cdf_stream_follows_dml(spark, orders, root, pushdown):
    """change_feed=true: the stream follows appends AND copy-on-write
    DML - appends surface as inserts, a DELETE's rewritten file as a
    (delete old file, insert new file) pair, compact as nothing - with
    _change_type/_commit_version pinned per commit."""
    tab = SnapshotTable.init(spark, root)
    m = F.col("o_orderkey") % 10
    tab.append(orders.where(m < 3).coalesce(1))          # v2: insert
    tab.append(orders.where(m == 3).coalesce(1))         # v3: insert
    v_del = tab.delete("o_orderkey % 10 = 1")            # v4: COW rewrite
    v_cmp = tab.compact()                                # v5: no changes
    sdf = (spark.readStream.format("graft_snapshot").option("path", root)
           .option("starting_version", "1")
           .option("change_feed", "true").load())
    assert sdf.schema.fieldNames() == [
        "o_orderkey", "o_totalprice", "_change_type", "_commit_version"]
    out, ck = os.path.join(root, "out"), os.path.join(root, "ck")
    _drain(sdf, out, ck)
    got = spark.read.parquet(out)
    by = {(r["_commit_version"], r["_change_type"]): r["n"]
          for r in got.groupBy("_commit_version", "_change_type")
          .agg(F.count(F.lit(1)).alias("n")).collect()}
    n_a = orders.where(m < 3).count()
    n_b = orders.where(m == 3).count()
    n_1 = orders.where(m == 1).count()
    # v2/v3 appends: pure inserts; v4 COW delete: the touched file's
    # FULL pre-image deletes and its kept rows re-insert (file-level
    # granularity); v5 compact: absent entirely
    assert by == {(2, "insert"): n_a, (3, "insert"): n_b,
                  (v_del, "delete"): n_a, (v_del, "insert"): n_a - n_1}
    assert not [k for k in by if k[0] == v_cmp]
    # incremental continuation: an UPDATE streams as a file-level
    # delete+insert pair of equal row counts - the v5 compact left ONE
    # file, so the documented rewrite amplification surfaces here: the
    # whole live table (not just the matched rows) deletes + re-inserts
    tab.update({"o_totalprice": "o_totalprice * 2"}, "o_orderkey % 10 = 3")
    _drain(sdf, out, ck)
    got2 = spark.read.parquet(out)
    v_upd = tab.current_version()
    n_live = tab.read().count()
    upd = {r["_change_type"]: r["n"] for r in
           got2.where(F.col("_commit_version") == v_upd)
           .groupBy("_change_type").agg(F.count(F.lit(1)).alias("n"))
           .collect()}
    assert upd == {"delete": n_live, "insert": n_live}
    # net-state replay check: inserts minus deletes = the live table
    net = (got2.groupBy("o_orderkey")
           .agg(F.sum(F.when(F.col("_change_type") == "insert", 1)
                      .otherwise(-1)).alias("bal")))
    assert net.where("bal = 1").count() == tab.read().count()
    assert net.where("bal NOT IN (0, 1)").count() == 0


def test_snapshot_cdf_batch_version_range(spark, orders, root, pushdown):
    """Batch change_feed: starting_version (exclusive) + ending_version
    (inclusive) scan exactly the commits in range; the range crossing a
    compact yields nothing for it; option validation raises cleanly."""
    tab = SnapshotTable.init(spark, root)
    m = F.col("o_orderkey") % 10
    tab.append(orders.where(m == 0).coalesce(1))   # v2
    tab.append(orders.where(m == 1).coalesce(1))   # v3
    tab.delete("o_orderkey % 10 = 0")              # v4: whole-file drop
    tab.compact()                                  # v5

    def read(start, end=None):
        r = (spark.read.format("graft_snapshot").option("path", root)
             .option("change_feed", "true")
             .option("starting_version", str(start)))
        if end is not None:
            r = r.option("ending_version", str(end))
        return r.load()

    n0 = orders.where(m == 0).count()
    n1 = orders.where(m == 1).count()
    # (v2, v3]: only v3's insert
    got = read(2, 3)
    assert {(r["_change_type"], r["n"]) for r in
            got.groupBy("_change_type").agg(F.count(F.lit(1)).alias("n"))
            .collect()} == {("insert", n1)}
    # (v1, HEAD]: v2+v3 inserts, v4 whole-file delete, v5 nothing
    full = read(1)
    by = {(r["_commit_version"], r["_change_type"]): r["n"]
          for r in full.groupBy("_commit_version", "_change_type")
          .agg(F.count(F.lit(1)).alias("n")).collect()}
    assert by == {(2, "insert"): n0, (3, "insert"): n1, (4, "delete"): n0}
    # projection/filter still work through the DSv2 path
    assert full.where("_change_type = 'delete'").count() == n0
    with pytest.raises(Exception, match="starting_version"):
        (spark.read.format("graft_snapshot").option("path", root)
         .option("change_feed", "true").load().count())
    with pytest.raises(Exception, match="bad version range"):
        read(3, 99).count()


def test_stream_sink_carries_removals_and_blooms(spark, orders, root,
                                                 pushdown):
    """r10 wrong-answer fix: the stream sink's epoch commit used to drop
    the parent's REMOVAL LIST on a file-list-segmented table - a stream
    epoch after a COW DELETE resurrected the deleted rows.  It also
    dropped inline bloom bitmaps.  Both must carry now."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from aliyun_maxcompute_data_collectors_spark.snapshots import resolve_stats
    from aliyun_maxcompute_data_collectors_spark.sources.pyds import (
        _FileCommit,
        _SnapshotStreamWriter,
    )

    tab = SnapshotTable.init(spark, root, inline_files=1)
    m = F.col("o_orderkey") % 10
    for v in (0, 1, 2):
        tab.append(orders.where(m == v).coalesce(1), bloom_cols=["o_orderkey"])
    n_before = tab.read().count()
    tab.delete("o_orderkey % 10 = 1")       # removal list on the manifest
    assert tab.manifest().get("removed_files")
    n_del = orders.where(m == 1).count()

    sw = _SnapshotStreamWriter(root)
    f = os.path.join(sw._stage, "part-test.parquet")
    batch = pa.table({"o_orderkey": pa.array([10**9], pa.int64()),
                      "o_totalprice": pa.array([1.5], pa.float64())})
    pq.write_table(batch, f)
    sw.commit([_FileCommit(file=f, rows=1)], 7)

    # the COW-deleted rows must NOT resurrect through the epoch commit
    assert tab.read().count() == n_before - n_del + 1
    assert tab.read().where(F.col("o_orderkey") % 10 == 1).count() == 0
    # segment-held blooms survive (the %10==1 file was a whole-file
    # drop, so exactly the two other bloom'd appends remain live)
    mf = tab.manifest()
    _, blooms = resolve_stats(mf)
    with_bloom = [x for x in mf["files"]
                  if blooms.get(x, {}).get("o_orderkey")]
    assert len(with_bloom) == 2

    # INLINE blooms (non-segmented manifest) are the path the fix
    # touches directly: they must carry across an epoch commit too
    root2 = root + "_inline"
    tab2 = SnapshotTable.init(spark, root2)
    tab2.append(orders.where(m == 0).coalesce(1), bloom_cols=["o_orderkey"])
    assert tab2.manifest().get("blooms")
    sw2 = _SnapshotStreamWriter(root2)
    f2 = os.path.join(sw2._stage, "part-test.parquet")
    pq.write_table(pa.table({"o_orderkey": pa.array([7], pa.int64()),
                             "o_totalprice": pa.array([1.0], pa.float64())}),
                   f2)
    sw2.commit([_FileCommit(file=f2, rows=1)], 1)
    mf2 = tab2.manifest()
    _, blooms2 = resolve_stats(mf2)
    assert any(blooms2.get(x, {}).get("o_orderkey") for x in mf2["files"])
    shutil.rmtree(root2, ignore_errors=True)


def test_stream_sink_retries_on_concurrent_commit(spark, orders, root,
                                                  pushdown, monkeypatch):
    """r10: a maintenance commit landing between the epoch commit's
    HEAD read and publish used to kill the stream on SnapshotConflict;
    the sink now re-derives and retries - both commits survive."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    import aliyun_maxcompute_data_collectors_spark.sources.pyds as P
    from aliyun_maxcompute_data_collectors_spark.manifest_store import (
        ManifestStore,
    )
    from aliyun_maxcompute_data_collectors_spark.sources.pyds import (
        _FileCommit,
        _SnapshotStreamWriter,
    )

    tab = SnapshotTable.init(spark, root)
    m = F.col("o_orderkey") % 10
    tab.append(orders.where(m == 0))
    state = {"fired": False}

    class Hooked(ManifestStore):
        def commit(self, base, operation, **kw):
            if operation.startswith("stream-append") and not state["fired"]:
                state["fired"] = True
                SnapshotTable(spark, root).append(
                    orders.where(m == 1).coalesce(1))
            return super().commit(base, operation, **kw)

    monkeypatch.setattr(P, "ManifestStore", Hooked)
    sw = _SnapshotStreamWriter(root)
    f = os.path.join(sw._stage, "part-test.parquet")
    pq.write_table(pa.table({"o_orderkey": pa.array([10**9], pa.int64()),
                             "o_totalprice": pa.array([1.5], pa.float64())}),
                   f)
    sw.commit([_FileCommit(file=f, rows=1)], 3)   # must not raise
    assert state["fired"]
    got = tab.read()
    assert got.where(F.col("o_orderkey") == 10**9).count() == 1
    assert got.count() == orders.where(m <= 1).count() + 1
    ops = [v["operation"] for v in tab.versions()]
    assert ops[-1] == "stream-append:batch=3" and ops[-2] == "append"


def test_bare_session_sql_cdf_via_temporary_view(spark, orders, root,
                                                 pushdown):
    """r10: the SQL-only route composes with change_feed - a TEMP VIEW
    USING graft_snapshot with change_feed/starting_version options gives
    plain spark.sql access to the batch changelog."""
    tab = SnapshotTable.init(spark, root)
    m = F.col("o_orderkey") % 10
    tab.append(orders.where(m == 0).coalesce(1))   # v2
    tab.append(orders.where(m == 1).coalesce(1))   # v3
    tab.delete("o_orderkey % 10 = 0")              # v4: whole-file delete
    spark.sql(f"""
        CREATE OR REPLACE TEMPORARY VIEW cdf_v
        USING graft_snapshot
        OPTIONS (path '{root}', change_feed 'true', starting_version '1')
    """)
    try:
        got = {(r["_commit_version"], r["_change_type"]): r["n"]
               for r in spark.sql(
                   "SELECT _commit_version, _change_type, COUNT(*) AS n "
                   "FROM cdf_v GROUP BY 1, 2").collect()}
        n0 = orders.where(m == 0).count()
        n1 = orders.where(m == 1).count()
        assert got == {(2, "insert"): n0, (3, "insert"): n1,
                       (4, "delete"): n0}
    finally:
        spark.catalog.dropTempView("cdf_v")
