"""Catalog surface tests mirroring the reference's tier-2 scenarios
(SQLQuerySuite / OdpsTableSuite, SURVEY.md section 5): insert/overwrite
round-trips, partitioned inserts (static + dynamic + limit), partition
management, bucketed writes, views, DDL."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from aliyun_maxcompute_data_collectors_spark.catalog import (
    BucketSpec,
    CatalogError,
    NoSuchTableError,
    OdpsCatalog,
    PartitionLimitExceeded,
    TableAlreadyExistsError,
)


@pytest.fixture()
def cat(spark, tmp_path):
    return OdpsCatalog(spark, str(tmp_path / "wh"), dynamic_partition_limit=10)


def test_insert_count_roundtrip(cat, spark):
    # spark_sql_test_table(name STRING, num BIGINT) - SQLQuerySuite.scala:102-130
    cat.create_table("t1", [("name", "STRING"), ("num", "BIGINT")])
    df = spark.createDataFrame([("a", 1), ("b", 2)], "name string, num long")
    cat.insert("t1", df)
    assert cat.read_table("t1").count() == 2
    cat.insert("t1", df)  # INSERT INTO appends
    assert cat.read_table("t1").count() == 4
    cat.insert("t1", df, overwrite=True)  # INSERT OVERWRITE replaces
    assert cat.read_table("t1").count() == 2
    got = {(r["name"], r["num"]) for r in cat.read_table("t1").collect()}
    assert got == {("a", 1), ("b", 2)}


def test_static_and_dynamic_partitions(cat, spark):
    # TestPartitionData(a,b,ds) - FIXTURES.md section 2
    cat.create_table("tp", [("a", "STRING"), ("b", "STRING")], [("ds", "STRING")])
    df = spark.createDataFrame([("x", "y")], "a string, b string")
    cat.insert("tp", df, static_partition={"ds": "20220101"})
    assert cat.list_partitions("tp") == [{"ds": "20220101"}]

    dyn = spark.createDataFrame(
        [("m", "n", "20220102"), ("o", "p", "20220103")], "a string, b string, ds string"
    )
    cat.insert("tp", dyn)
    assert {p["ds"] for p in cat.list_partitions("tp")} == {"20220101", "20220102", "20220103"}

    # partition-pruned read returns only the partition's rows
    got = cat.read_table("tp").where(F.col("ds") == "20220101").collect()
    assert [(r["a"], r["b"]) for r in got] == [("x", "y")]

    # dynamic overwrite replaces only touched partitions
    over = spark.createDataFrame([("zz", "zz", "20220102")], "a string, b string, ds string")
    cat.insert("tp", over, overwrite=True)
    left = {(r["a"], r["ds"]) for r in cat.read_table("tp").collect()}
    assert ("zz", "20220102") in left and ("x", "20220101") in left
    assert ("m", "20220102") not in left

    assert cat.max_pt("tp") == "20220103"


def test_dynamic_partition_limit(cat, spark):
    # OdpsWriteBuilder.scala:144-156 / SQLQuerySuite dynamic partition limit
    cat.create_table("tl", [("v", "BIGINT")], [("pt", "STRING")])
    df = spark.range(50).select(
        F.col("id").alias("v"), (F.col("id") % 20).cast("string").alias("pt")
    )
    with pytest.raises(PartitionLimitExceeded):
        cat.insert("tl", df)


def test_partition_management(cat, spark):
    cat.create_table("pm", [("v", "BIGINT")], [("pt", "STRING")])
    cat.add_partition("pm", {"pt": "a"})
    assert cat.partition_exists("pm", {"pt": "a"})
    cat.drop_partition("pm", {"pt": "a"})
    assert not cat.partition_exists("pm", {"pt": "a"})
    with pytest.raises(CatalogError):
        cat.drop_partition("pm", {"pt": "zzz"})
    cat.drop_partition("pm", {"pt": "zzz"}, if_exists=True)


def test_bucketed_write_layout(cat, spark):
    import os

    from aliyun_maxcompute_data_collectors_spark.operators.hashing import (
        combine_hashes, hash_long)

    spec = BucketSpec("hash", 4, ["k"], [("k", "ASC")])
    cat.create_table("bt", [("k", "BIGINT"), ("v", "STRING")], bucket=spec)
    df = spark.range(100).select(F.col("id").alias("k"), F.lit("v").alias("v"))
    cat.insert("bt", df)
    ddir = cat.data_dir("bt")
    buckets = sorted(d for d in os.listdir(ddir) if d.startswith("__odps_bucket__="))
    assert buckets  # bucket directories exist
    # every row is in the directory its ODPS hash says
    for b in buckets:
        bid = int(b.split("=")[1])
        rows = spark.read.parquet(os.path.join(ddir, b)).collect()
        for r in rows:
            assert combine_hashes([hash_long(r["k"])]) % 4 == bid
    # read path hides the bucket column
    assert cat.read_table("bt").columns == ["k", "v"]


def test_views_and_ddl(cat, spark):
    cat.create_table("src", [("x", "BIGINT")])
    cat.insert("src", spark.range(5).select(F.col("id").alias("x")))
    cat.register_temp_view("src")
    cat.create_view("v1", "SELECT x * 2 AS y FROM src")
    assert cat.read_table("v1").agg(F.sum("y")).collect()[0][0] == 20

    with pytest.raises(TableAlreadyExistsError):
        cat.create_table("src", [("x", "BIGINT")])
    cat.rename_table("src", "src2")
    assert "src2" in cat.list_tables() and "src" not in cat.list_tables()
    with pytest.raises(NoSuchTableError):
        cat.read_table("nope")

    cat.truncate_table("src2")
    assert cat.read_table("src2").count() == 0
    cat.drop_table("src2")
    assert "src2" not in cat.list_tables()


def test_alter_add_columns_reads_old_files(cat, spark):
    cat.create_table("ac", [("a", "BIGINT")])
    cat.insert("ac", spark.range(3).select(F.col("id").alias("a")))
    cat.alter_table_add_columns("ac", [("b", "STRING")])
    rows = cat.read_table("ac").collect()
    assert all(r["b"] is None for r in rows)
    assert cat.show_columns("ac") == ["a", "b"]


def test_ctas_and_stats(cat, spark):
    cat.create_table("base", [("x", "BIGINT")])
    cat.insert("base", spark.range(10).select(F.col("id").alias("x")))
    cat.register_temp_view("base")
    cat.ctas("derived", "SELECT x, x * 2 AS y FROM base WHERE x < 5")
    assert cat.read_table("derived").count() == 5
    st = cat.table_stats("derived")
    assert st["size_in_bytes"] > 0 and st["num_files"] >= 1
    assert st["num_rows"] == 5  # parquet-footer row count, no data IO
    persisted = cat.analyze_table("derived")
    assert cat.get_meta("derived").properties["stats"] == persisted


def test_schema_namespace_ops(cat):
    cat.create_schema("default_project.s2")
    assert "s2" in cat.list_schemas()
    cat.create_table("default_project.s2.t", [("x", "BIGINT")])
    assert cat.list_tables("default_project.s2") == ["t"]
    with pytest.raises(CatalogError):
        cat.drop_schema("default_project.s2")  # RESTRICT: not empty
    cat.drop_schema("default_project.s2", cascade=True)
    assert "s2" not in cat.list_schemas()


def test_max_records_per_file_property(cat, spark):
    import os
    cat.create_table("chunked", [("x", "BIGINT")],
                     properties={"write.max-records-per-file": "25"})
    cat.insert("chunked", spark.range(100).select(F.col("id").alias("x")).coalesce(1))
    files = [f for f in os.listdir(cat.data_dir("chunked")) if f.endswith(".parquet")]
    assert len(files) >= 4  # 100 rows / 25 per file
    assert cat.read_table("chunked").count() == 100


def test_target_file_bytes_property(cat, spark):
    """Byte-target chunking (reference 4MB writer chunks, W5): the byte
    target divides by the estimated row width (BIGINT=8) into rows/file."""
    import os
    cat.create_table("bytechunked", [("x", "BIGINT")],
                     properties={"write.target-file-bytes": "200"})  # 200//8 = 25 rows
    cat.insert("bytechunked", spark.range(100).select(F.col("id").alias("x")).coalesce(1))
    files = [f for f in os.listdir(cat.data_dir("bytechunked")) if f.endswith(".parquet")]
    assert len(files) >= 4
    assert cat.read_table("bytechunked").count() == 100


def test_estimated_row_bytes():
    from aliyun_maxcompute_data_collectors_spark import types as ot
    schema = ot.schema_from_odps(
        [("a", "BIGINT"), ("b", "STRING"), ("c", "DECIMAL(18,6)"),
         ("d", "ARRAY<DOUBLE>"), ("e", "STRUCT<x:INT,y:DOUBLE>")])
    # 8 + 20 + 16 + 32 + 12
    assert ot.estimated_row_bytes(schema) == 88


def test_show_create_table_ddl(cat, spark):
    from aliyun_maxcompute_data_collectors_spark.catalog import BucketSpec
    cat.create_table(
        "ddl_t", [("k", "BIGINT"), ("v", "DECIMAL(18,6)")],
        partition_columns=[("dt", "STRING")],
        bucket=BucketSpec("hash", 8, ["k"], [("k", "ASC")]),
        properties={"write.target-file-bytes": "4194304"},
        comment="demo",
    )
    ddl = cat.show_create_table("ddl_t")
    assert "CREATE TABLE default_project.default.ddl_t (" in ddl
    assert "k BIGINT" in ddl and "v DECIMAL(18,6)" in ddl
    assert "PARTITIONED BY (dt STRING)" in ddl
    assert "CLUSTERED BY (k) SORTED BY (k ASC) INTO 8 BUCKETS" in ddl
    assert "COMMENT 'demo'" in ddl
    assert "'write.target-file-bytes'='4194304'" in ddl

    cat.create_view("ddl_v", "SELECT k FROM ddl_t")
    assert cat.show_create_table("ddl_v") == \
        "CREATE VIEW default_project.default.ddl_v AS SELECT k FROM ddl_t"


def test_compact_merges_small_files(cat, spark):
    import os
    cat.create_table("frag", [("x", "BIGINT")],
                     properties={"write.max-records-per-file": "5"})
    cat.insert("frag", spark.range(100).select(F.col("id").alias("x")).coalesce(1))
    assert cat.table_stats("frag")["num_files"] >= 20
    res = cat.compact("frag")
    assert res["files_after"] < res["files_before"]
    assert res["files_after"] <= 2 and res["rows"] == 100
    assert cat.read_table("frag").count() == 100


def test_compact_partitioned_with_where(cat, spark):
    cat.create_table("fragp", [("x", "BIGINT")], [("dt", "STRING")],
                     properties={"write.max-records-per-file": "2"})
    df = spark.createDataFrame(
        [(i, "a" if i % 2 == 0 else "b") for i in range(40)], "x long, dt string")
    cat.insert("fragp", df.coalesce(1))
    res = cat.compact("fragp", where="dt = 'a'")
    assert res["files_after"] < res["files_before"]
    # untouched partition intact, rows preserved overall
    got = {r["dt"]: r["n"] for r in
           cat.read_table("fragp").groupBy("dt").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert got == {"a": 20, "b": 20}


def test_multilevel_partitions_and_typed_filter(cat, spark):
    """FIXTURES section 8: multi-level partitions, typed partition-value
    comparisons (the '10' < '9' string trap), listPartitionsByFilter."""
    cat.create_table("ml", [("v", "BIGINT")],
                     [("region", "STRING"), ("num", "INT")])
    df = spark.createDataFrame(
        [(1, "eu", 9), (2, "eu", 10), (3, "us", 9), (4, "us", 100)],
        "v long, region string, num int")
    cat.insert("ml", df)
    parts = cat.list_partitions("ml")
    assert {(p["region"], p["num"]) for p in parts} == {
        ("eu", "9"), ("eu", "10"), ("us", "9"), ("us", "100")}

    # typed compare: num > 9 matches 10 and 100 ('10' < '9' as strings!)
    got = cat.list_partitions_by_filter("ml", "num > 9")
    assert {(p["region"], p["num"]) for p in got} == {("eu", "10"), ("us", "100")}
    got2 = cat.list_partitions_by_filter("ml", "region = 'eu' AND num >= 9")
    assert {(p["region"], p["num"]) for p in got2} == {("eu", "9"), ("eu", "10")}

    # pruned multi-level read + typed predicate on partition column
    rows = cat.read_table("ml").where((F.col("num") > 9) & (F.col("region") == "us")).collect()
    assert [r["v"] for r in rows] == [4]
    # max_pt = first-level partition max (string compare, as the reference)
    assert cat.max_pt("ml") == "us"


@pytest.mark.parametrize("physical,declared,rows", [
    ("int32", "BIGINT", [1, 2, 3]),
    ("float32", "DOUBLE", [1.5, 2.5, None]),
    ("int64", "INT", None),
    ("int64", "STRING", None),
])
def test_external_table_over_foreign_parquet_types(cat, tmp_path, physical,
                                                   declared, rows):
    """An EXTERNAL table reads its files under the declared schema: a
    file type Spark widens to the declared one reads, any other fails
    the read loudly - never a silent cast (a non-ANSI long->int cast
    would wrap)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    loc = tmp_path / "foreign"
    loc.mkdir()
    values = rows or [1, 2 ** 40, 3]
    pq.write_table(pa.table({"x": pa.array(values, getattr(pa, physical)())}),
                   str(loc / "part-00000.parquet"))
    cat.create_table("ext", [("x", declared)], external_location=str(loc))
    df = cat.read_table("ext")
    assert df.schema["x"].dataType.simpleString() == declared.lower()
    if rows is not None:
        assert [r["x"] for r in df.collect()] == rows
    else:
        with pytest.raises(Exception,
                           match="PARQUET_COLUMN_DATA_TYPE_MISMATCH"):
            df.collect()


def test_orc_storage_format(cat, spark):
    # D1 'stored-as' parity: ORC tables flow through the same scan/write/
    # stats/compact paths as parquet
    import os
    cat.create_table(
        "to1", [("name", "STRING"), ("num", "BIGINT")],
        partition_columns=[("ds", "STRING")],
        properties={"stored_as": "orc"},
    )
    df = spark.createDataFrame(
        [("a", 1, "d1"), ("b", 2, "d1"), ("c", 3, "d2")],
        "name string, num long, ds string")
    cat.insert("to1", df)
    got = {(r["name"], r["num"], r["ds"]) for r in cat.read_table("to1").collect()}
    assert got == {("a", 1, "d1"), ("b", 2, "d1"), ("c", 3, "d2")}
    # files on disk are ORC, not parquet
    exts = {os.path.splitext(f)[1]
            for _r, _d, fs in os.walk(cat.data_dir("to1")) for f in fs
            if not f.startswith(("_", "."))}
    assert exts == {".orc"}
    # footer-based stats and partition listing work
    stats = cat.table_stats("to1")
    assert stats["num_rows"] == 3 and stats["num_files"] >= 2
    assert cat.list_partitions("to1") == [{"ds": "d1"}, {"ds": "d2"}]
    # dynamic overwrite of one partition
    cat.insert("to1", spark.createDataFrame([("z", 9, "d2")], df.schema), overwrite=True)
    assert cat.read_table("to1").count() == 3
    # DDL renders STORED AS ORC and round-trips through the SQL dispatcher
    assert "STORED AS ORC" in cat.show_create_table("to1")
    assert cat.compact("to1")["rows"] == 3


def test_orc_bucketed_and_sql_ddl(cat, spark):
    from aliyun_maxcompute_data_collectors_spark.engine import Engine
    eng = Engine(cat.warehouse, spark)
    eng.sql("CREATE TABLE tob (k BIGINT, v STRING) "
            "CLUSTERED BY (k) SORTED BY (k ASC) INTO 4 BUCKETS STORED AS ORC")
    meta = cat.get_meta("tob")
    assert cat.storage_format(meta) == "orc"
    cat.insert("tob", spark.createDataFrame([(i, f"v{i}") for i in range(20)], "k long, v string"))
    assert cat.read_table("tob").count() == 20
    # bucket-pruned point lookup still works on ORC files
    row = cat.lookup_by_key("tob", {"k": 7}).collect()
    assert [(r["k"], r["v"]) for r in row] == [(7, "v7")]


def test_bad_storage_format_rejected(cat):
    with pytest.raises(CatalogError, match="unsupported storage format"):
        cat.create_table("tbad", [("a", "STRING")], properties={"stored_as": "avro"})


def test_csv_json_storage_formats(cat, spark):
    # text-serde tables: declared schema (never inferred), custom delimiter,
    # partitioned dynamic overwrite, spark-side row-count stats
    cat.create_table(
        "tcsv", [("name", "STRING"), ("num", "BIGINT")],
        partition_columns=[("ds", "STRING")],
        properties={"stored_as": "csv", "serde.delimiter": "|"},
    )
    df = spark.createDataFrame(
        [("a", 1, "d1"), ("b", 2, "d2")], "name string, num long, ds string")
    cat.insert("tcsv", df)
    got = {(r["name"], r["num"], r["ds"]) for r in cat.read_table("tcsv").collect()}
    assert got == {("a", 1, "d1"), ("b", 2, "d2")}
    # declared types survive the text roundtrip
    assert dict(cat.read_table("tcsv").dtypes)["num"] == "bigint"
    stats = cat.table_stats("tcsv")
    assert stats["num_rows"] == 2 and stats["num_files"] >= 2
    # delimiter actually honored on disk
    import os
    data_files = [os.path.join(r, f) for r, _, fs in os.walk(cat.data_dir("tcsv"))
                  for f in fs if f.endswith(".csv")]
    assert any("|" in open(p).read() for p in data_files)

    cat.create_table("tjson", [("k", "BIGINT"), ("v", "STRING")],
                     properties={"stored_as": "json"})
    cat.insert("tjson", spark.createDataFrame([(1, "x"), (2, None)], "k long, v string"))
    got = {(r["k"], r["v"]) for r in cat.read_table("tjson").collect()}
    assert got == {(1, "x"), (2, None)}


def test_zonemap_file_skipping(cat, spark):
    import pyspark.sql.functions as F
    cat.create_table("tz", [("k", "BIGINT"), ("v", "STRING")])
    df = spark.createDataFrame([(i, f"v{i}") for i in range(1000)], "k long, v string")
    # range-partitioned write -> files with disjoint k ranges
    cat.insert("tz", df.repartitionByRange(5, F.col("k")))
    zm = cat.build_zonemap("tz", ["k"])
    assert len(zm["files"]) >= 5
    # a narrow band overlaps few files
    kept, total = cat.zonemap_pruned_files("tz", "k", lo=100, hi=150)
    assert kept < total
    got = sorted(r["k"] for r in cat.read_skipping("tz", "k", 100, 150).collect())
    assert got == list(range(100, 151))
    # unbounded side works; no-overlap band returns empty
    assert cat.read_skipping("tz", "k", lo=990).count() == 10
    assert cat.read_skipping("tz", "k", lo=5000).count() == 0
    # writes invalidate the index
    cat.insert("tz", spark.createDataFrame([(2000, "x")], "k long, v string"))
    with pytest.raises(CatalogError, match="no zonemap"):
        cat.read_skipping("tz", "k", 0, 10)
    # metadata-only rebuild picks up the new file
    cat.build_zonemap("tz", ["k"])
    assert cat.read_skipping("tz", "k", lo=1500).count() == 1


def test_zonemap_validation(cat, spark):
    cat.create_table("tz2", [("k", "BIGINT")], properties={"stored_as": "orc"})
    with pytest.raises(CatalogError, match="parquet-format"):
        cat.build_zonemap("tz2", ["k"])
    cat.create_table("tz3", [("k", "BIGINT")], partition_columns=[("ds", "STRING")])
    with pytest.raises(CatalogError, match="not a data column"):
        cat.build_zonemap("tz3", ["ds"])


def test_char_varchar_declared_length_roundtrip(cat, spark):
    """CHAR(n)/VARCHAR(n) run as STRING but the DECLARED length survives the
    catalog round-trip: DESCRIBE and SHOW CREATE TABLE render it, and the
    table schema carries Spark's own char/varchar metadata key (Trino
    connector parity - TypeConvertUtils.java:89-94 keeps the length)."""
    from aliyun_maxcompute_data_collectors_spark.engine import Engine
    from aliyun_maxcompute_data_collectors_spark.types import (
        CHAR_VARCHAR_META_KEY, declared_char_varchar)

    cat.create_table("cv", [("code", "CHAR(2)"), ("name", "VARCHAR(10)"),
                            ("note", "STRING")])
    meta = cat.get_meta("cv")
    assert meta.columns == [("code", "CHAR(2)"), ("name", "VARCHAR(10)"),
                            ("note", "STRING")]
    sch = meta.full_schema
    assert declared_char_varchar(sch["code"]) == "char(2)"
    assert declared_char_varchar(sch["name"]) == "varchar(10)"
    assert declared_char_varchar(sch["note"]) is None
    assert sch["name"].metadata[CHAR_VARCHAR_META_KEY] == "varchar(10)"
    assert "name VARCHAR(10)" in cat.show_create_table("cv")

    df = spark.createDataFrame([("US", "alpha", "x")],
                               "code string, name string, note string")
    cat.insert("cv", df)
    assert cat.read_table("cv").count() == 1

    eng = Engine(cat.warehouse, spark=spark)
    rows = {r["col_name"]: r["data_type"]
            for r in eng.sql("DESCRIBE cv").collect()}
    assert rows["code"] == "CHAR(2)" and rows["name"] == "VARCHAR(10)"


def test_engine_sql_snapshot_identifiers(spark, tmp_path):
    """r8 (VERDICT r7 #4): registered snapshot tables resolve by bare
    identifier in Engine.sql, with VERSION/TIMESTAMP AS OF time travel;
    unregistered names pass through untouched."""
    from aliyun_maxcompute_data_collectors_spark.engine import Engine
    from aliyun_maxcompute_data_collectors_spark.snapshots import SnapshotTable

    tab = SnapshotTable.init(spark, str(tmp_path / "snap"))
    tab.append(spark.createDataFrame([(1, "a"), (2, "b")],
                                     "id long, v string"))   # v2
    ts_v2 = tab.manifest()["timestamp_ms"]
    tab.append(spark.createDataFrame([(3, "c")],
                                     "id long, v string"))   # v3
    eng = Engine(warehouse=str(tmp_path / "wh"), spark=spark)
    eng.register_snapshot_table("snap_t", str(tmp_path / "snap"))
    # bare identifier = current snapshot
    assert eng.sql("SELECT COUNT(*) AS n FROM snap_t").collect()[0]["n"] == 3
    # exact version pin
    got = eng.sql(
        "SELECT id FROM snap_t VERSION AS OF 2 ORDER BY id").collect()
    assert [r["id"] for r in got] == [1, 2]
    # epoch-millis timestamp pin resolves to the newest snapshot <= ts
    assert eng.sql(f"SELECT COUNT(*) AS n FROM snap_t TIMESTAMP AS OF "
                   f"{ts_v2}").collect()[0]["n"] == 2
    # ISO-string timestamp pin (far future -> current version)
    assert eng.sql("SELECT COUNT(*) AS n FROM snap_t TIMESTAMP AS OF "
                   "'2099-01-01T00:00:00'").collect()[0]["n"] == 3
    # before the first data commit -> clean error
    import pytest as _pytest
    with _pytest.raises(Exception, match="no snapshot at or before"):
        eng.sql("SELECT * FROM snap_t TIMESTAMP AS OF 1")
    # joins between a pinned and the current snapshot work in one query
    got = eng.sql("""
        SELECT cur.id FROM snap_t cur
        LEFT ANTI JOIN (SELECT id FROM snap_t VERSION AS OF 2) old
          ON cur.id = old.id
    """).collect()
    assert [r["id"] for r in got] == [3]
    # unregistered identifiers with AS OF are left for Spark to reject
    with _pytest.raises(Exception):
        eng.sql("SELECT * FROM nosuch VERSION AS OF 1")


def test_engine_snapshot_refs_hardened(spark, tmp_path):
    """r9 (VERDICT r8 #3 / ADVICE r8): registered-name matching skips
    string literals and comments, the on-demand views are dropped right
    after analysis (no session-global shadowing), a column named like a
    registered table doesn't break, names are validated as identifiers,
    and a naive TIMESTAMP AS OF string resolves in the SESSION timezone."""
    import datetime as _dt
    from zoneinfo import ZoneInfo

    import pytest as _pytest

    from aliyun_maxcompute_data_collectors_spark.engine import Engine
    from aliyun_maxcompute_data_collectors_spark.snapshots import SnapshotTable

    tab = SnapshotTable.init(spark, str(tmp_path / "snap"))
    tab.append(spark.createDataFrame([(1, "a"), (2, "b")],
                                     "id long, v string"))   # v2
    ts_v2 = tab.manifest()["timestamp_ms"]
    eng = Engine(warehouse=str(tmp_path / "wh"), spark=spark)
    with _pytest.raises(ValueError, match="identifier"):
        eng.register_snapshot_table("bad-name;drop", str(tmp_path / "snap"))
    eng.register_snapshot_table("snap_t", str(tmp_path / "snap"))

    # 1. literal/comment occurrences do NOT trigger a view or rewrite
    got = eng.sql("SELECT 'snap_t is a string' AS s -- snap_t here too")
    assert got.collect()[0]["s"] == "snap_t is a string"
    assert not any(t.name == "snap_t"
                   for t in spark.catalog.listTables())

    # 2. a real reference works, and the view is dropped after analysis
    df = eng.sql("SELECT COUNT(*) AS n FROM snap_t")
    assert not any(t.name == "snap_t"
                   for t in spark.catalog.listTables())
    assert df.collect()[0]["n"] == 2  # lazy plan still executes post-drop

    # 3. a column named like the registered table resolves as a COLUMN
    other = spark.createDataFrame([(7,)], "snap_col long") \
        .withColumnRenamed("snap_col", "snap_t2")
    other.createOrReplaceTempView("other_tbl")
    eng.register_snapshot_table("snap_t2", str(tmp_path / "snap"))
    got = eng.sql("SELECT other_tbl.snap_t2 FROM other_tbl").collect()
    assert got[0]["snap_t2"] == 7
    spark.catalog.dropTempView("other_tbl")

    # 4. naive TIMESTAMP AS OF = SESSION timezone (Spark/Delta rule);
    # under the old assume-UTC bug this +08:00 local rendering would
    # land 8h before the first commit and raise
    tz_before = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "Asia/Shanghai")
        local = _dt.datetime.fromtimestamp(
            ts_v2 / 1000, tz=ZoneInfo("Asia/Shanghai")).replace(tzinfo=None)
        n = eng.sql(
            f"SELECT COUNT(*) AS n FROM snap_t TIMESTAMP AS OF "
            f"'{local.isoformat()}'").collect()[0]["n"]
        assert n == 2
        # zoned strings stay unambiguous regardless of session tz
        utc = _dt.datetime.fromtimestamp(ts_v2 / 1000, tz=_dt.timezone.utc)
        n = eng.sql(
            f"SELECT COUNT(*) AS n FROM snap_t TIMESTAMP AS OF "
            f"'{utc.isoformat()}'").collect()[0]["n"]
        assert n == 2
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz_before)

    # 5. AS-OF views are prefixed AND dropped - nothing graft-ish lingers
    eng.sql("SELECT * FROM snap_t VERSION AS OF 2").collect()
    assert not any(t.name.startswith("__graft_snap_")
                   for t in spark.catalog.listTables())


def test_engine_sql_literal_spans_and_view_restore(spark, tmp_path):
    """r10 (VERDICT r9 'what's wrong' #1/#2): the qualified-name, max_pt
    and bare-name rewrites all skip string literals / ``--`` comments, the
    on-demand views (bare AND ``__q_`` mangled) are dropped right after
    analysis, and a user temp view that held a catalog table's name is
    RESTORED after the statement instead of being clobbered for good."""
    from aliyun_maxcompute_data_collectors_spark.engine import Engine

    eng = Engine(warehouse=str(tmp_path / "wh"), spark=spark)
    cat = eng.catalog
    cat.create_schema("default_project.mart")
    cat.create_table("default_project.mart.orders", [("k", "BIGINT")])
    cat.insert("default_project.mart.orders",
               spark.range(3).select(F.col("id").alias("k")))

    # 1. a dotted catalog-table name inside a literal returns VERBATIM
    # (previously rewritten to __q_default_project__mart__orders; a 2-part
    # name is PROJECT.table per the reference convention, so the 3-part
    # form is the one that resolves — and must still be skipped in quotes)
    got = eng.sql(
        "SELECT * FROM (SELECT 'see default_project.mart.orders' AS note) "
        "WHERE note = 'see default_project.mart.orders'").collect()
    assert [r["note"] for r in got] == ["see default_project.mart.orders"]
    # ... and inside a -- comment
    assert eng.sql(
        "SELECT 1 AS one -- default_project.mart.orders").collect()[0]["one"] == 1

    # 2. a real dotted reference still resolves, and the mangled view is
    # dropped after analysis (lazy plan still executes post-drop)
    df = eng.sql("SELECT COUNT(*) AS n FROM default_project.mart.orders")
    assert not any(t.name.startswith("__q_")
                   for t in spark.catalog.listTables())
    assert df.collect()[0]["n"] == 3

    # 3. max_pt('t') inside a literal passes through untouched (previously
    # raised or substituted); a real call still resolves to a constant
    got = eng.sql("SELECT 'call max_pt(''nosuch'') later' AS s").collect()
    assert got[0]["s"] == "call max_pt('nosuch') later"
    cat.create_table("ptab", [("a", "STRING")], [("pt", "STRING")])
    cat.insert("ptab", spark.createDataFrame([("x",)], "a string"),
               static_partition={"pt": "20240102"})
    got = eng.sql("SELECT a FROM ptab WHERE pt = max_pt('ptab')").collect()
    assert [r["a"] for r in got] == ["x"]

    # 4. a BARE catalog-table name inside a literal registers no view
    cat.create_table("plain_t", [("x", "BIGINT")])
    eng.sql("SELECT 'plain_t' AS s").collect()
    assert not any(t.name == "plain_t" for t in spark.catalog.listTables())

    # 5. a user temp view holding a catalog table's name: the statement
    # resolves the CATALOG table (engine semantics), then the user's view
    # comes back — and bare-name views never persist past the statement
    cat.insert("plain_t", spark.createDataFrame([(1,)], "x long"))
    spark.createDataFrame([(99,)], "x long").createOrReplaceTempView("plain_t")
    assert eng.sql("SELECT COUNT(*) AS n FROM plain_t").collect()[0]["n"] == 1
    assert spark.table("plain_t").collect()[0]["x"] == 99
    spark.catalog.dropTempView("plain_t")
    eng.sql("SELECT x FROM plain_t").collect()
    assert not any(t.name == "plain_t" for t in spark.catalog.listTables())


def test_engine_sql_backslash_escaped_literals(spark, tmp_path):
    """r11 (VERDICT r10 'what's wrong' #1): Spark's default literal
    parsing treats ``\\'`` as an ESCAPED quote, not a terminator, so a
    catalog-table name appearing after a backslash-escaped quote is still
    INSIDE the literal and must never be rewritten / view-registered."""
    from aliyun_maxcompute_data_collectors_spark.engine import Engine, _quoted_spans, _outside

    eng = Engine(warehouse=str(tmp_path / "wh"), spark=spark)
    cat = eng.catalog
    cat.create_schema("default_project.mart")
    cat.create_table("default_project.mart.orders", [("k", "BIGINT")])
    cat.create_table("esc_t", [("x", "BIGINT")])

    # unit: the span scanner keeps the whole backslash-escaped literal
    q = r"SELECT 'it\'s in mart.orders' AS s"
    spans = _quoted_spans(q)
    pos = q.index("mart.orders")
    assert not _outside(spans, pos)
    # doubled-quote escape still covered too
    q2 = "SELECT 'it''s in mart.orders' AS s"
    assert not _outside(_quoted_spans(q2), q2.index("mart.orders"))

    # e2e: dotted name inside a backslash-escaped literal returns VERBATIM
    got = eng.sql(
        r"SELECT 'it\'s in default_project.mart.orders' AS s").collect()
    assert got[0]["s"] == "it's in default_project.mart.orders"
    # bare catalog-table name after a \' registers no view
    eng.sql(r"SELECT 'don\'t scan esc_t' AS s").collect()
    assert not any(t.name == "esc_t" for t in spark.catalog.listTables())
    # max_pt after a \' passes through as literal text
    got = eng.sql(r"SELECT 'max\'d: max_pt(''x'')' AS s").collect()
    assert got[0]["s"] == "max'd: max_pt('x')"
    # a trailing backslash right before the close quote never over-runs
    assert _quoted_spans(r"SELECT 'a\\' AS s, 'b' AS t")  # no hang / IndexError
    # real references around escaped literals still resolve
    cat.insert("esc_t", spark.createDataFrame([(7,)], "x long"))
    got = eng.sql(
        r"SELECT x, 'it\'s esc_t' AS note FROM esc_t").collect()
    assert got[0]["x"] == 7 and got[0]["note"] == "it's esc_t"
    # _split_top (UPDATE SET / VALUES splitting) honors the same escape:
    # a comma after a backslash-escaped quote stays INSIDE the literal
    from aliyun_maxcompute_data_collectors_spark.engine import _split_top
    assert _split_top(r"v = 'a\',b', w = 2") == [r"v = 'a\',b'", "w = 2"]
    # doubled-quote escape: close+reopen still keeps the comma quoted
    assert _split_top("v = 'a'',b', w = 2") == ["v = 'a'',b'", "w = 2"]


def test_engine_sql_snapshot_dml_matrix(spark, tmp_path):
    """The full SQL DML + maintenance surface on a REGISTERED snapshot
    table (r9): INSERT INTO/OVERWRITE -> transactional append/overwrite,
    MERGE INTO -> copy-on-write merge, OPTIMIZE / OPTIMIZE ZORDER BY /
    VACUUM / DESCRIBE HISTORY -> the maintenance ops, all by bare
    identifier through Engine.sql."""
    from aliyun_maxcompute_data_collectors_spark.engine import Engine
    from aliyun_maxcompute_data_collectors_spark.snapshots import SnapshotTable

    eng = Engine(str(tmp_path / "wh"), spark=spark)
    root = str(tmp_path / "t")
    tab = SnapshotTable.init(spark, root)
    tab.append(spark.createDataFrame(
        [(i, i * 10) for i in range(10)], "k long, v long").coalesce(1))
    eng.register_snapshot_table("snap", root)

    # INSERT INTO -> append (atomic commit; history grows)
    eng.sql("INSERT INTO snap VALUES (100, 1000), (101, 1010)")
    assert eng.sql("SELECT COUNT(*) AS n FROM snap").collect()[0]["n"] == 12
    assert tab.manifest()["operation"] == "append"

    # MERGE INTO -> copy-on-write merge
    eng.sql("""
        MERGE INTO snap USING (SELECT 100 AS k, 7 AS v) s ON snap.k = s.k
        WHEN MATCHED THEN UPDATE SET v = s.v
        WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)
    """.replace("snap.k", "t.k"))
    assert tab.manifest()["operation"] == "merge"
    assert eng.sql(
        "SELECT v FROM snap WHERE k = 100").collect()[0]["v"] == 7

    # DESCRIBE HISTORY: newest first, operations visible; r11 adds
    # per-commit operation metrics from the recorded file deltas
    hist = eng.sql("DESCRIBE HISTORY snap").collect()
    assert [h["operation"] for h in hist[:2]] == ["merge", "append"]
    assert hist[-1]["operation"] == "init"
    by_op = {h["operation"]: h for h in hist}
    assert by_op["append"]["num_added_files"] >= 1
    assert by_op["append"]["num_removed_files"] == 0
    assert by_op["merge"]["num_removed_files"] >= 1  # COW swapped files

    # INSERT OVERWRITE -> transactional overwrite, old version readable
    pre = tab.current_version()
    eng.sql("INSERT OVERWRITE snap SELECT k, v * 2 FROM snap WHERE k < 5")
    assert eng.sql("SELECT COUNT(*) AS n FROM snap").collect()[0]["n"] == 5
    assert tab.read(pre).count() == 12
    assert eng.sql(
        f"SELECT COUNT(*) AS n FROM snap VERSION AS OF {pre}"
    ).collect()[0]["n"] == 12

    # OPTIMIZE (bin-pack) and OPTIMIZE ZORDER BY
    eng.sql("INSERT INTO snap VALUES (200, 1), (201, 2)")
    eng.sql("OPTIMIZE snap")
    assert tab.manifest()["operation"] == "compact"
    eng.sql("OPTIMIZE snap ZORDER BY (k, v)")
    assert tab.manifest()["operation"].startswith("cluster:zorder")

    # VACUUM RETAIN drops old manifests; returns the removed paths
    removed = eng.sql("VACUUM snap RETAIN 2").collect()
    assert removed  # something was swept
    assert tab.read().count() == 7  # table intact

    # guard: maintenance on an unregistered name
    import pytest as _pytest
    with _pytest.raises(ValueError, match="not a registered"):
        eng.sql("OPTIMIZE nope")
    with _pytest.raises(ValueError, match="PARTITION on snapshot"):
        eng.sql("INSERT INTO snap PARTITION (k=1) SELECT 1, 2")


def test_engine_sql_table_changes_tvf(spark, tmp_path):
    """r11: table_changes('t', since[, until]) in Engine.sql reads the
    row-level change feed of a registered snapshot table with
    _change_type / _commit_version / _commit_timestamp (Delta's CDF
    TVF shape), computed from per-commit deltas at O(changed files)."""
    from aliyun_maxcompute_data_collectors_spark.engine import Engine
    from aliyun_maxcompute_data_collectors_spark.snapshots import SnapshotTable

    eng = Engine(str(tmp_path / "wh"), spark=spark)
    root = str(tmp_path / "t")
    tab = SnapshotTable.init(spark, root)
    tab.append(spark.createDataFrame(
        [(i, i) for i in range(10)], "k long, v long").coalesce(1))
    v1 = tab.current_version()
    tab.append(spark.createDataFrame([(100, 1)], "k long, v long")
               .coalesce(1))
    v2 = tab.current_version()
    tab.update({"v": "99"}, ("k", "==", 3))
    v3 = tab.current_version()
    eng.register_snapshot_table("snap", root)

    # version start is INCLUSIVE (Delta's table_changes(t, k) includes
    # version k's own changes - review r11 #4)
    got = eng.sql(
        f"SELECT _change_type AS ct, _commit_version AS cv, k, v "
        f"FROM table_changes('snap', {v2}) ORDER BY cv, ct, k").collect()
    assert [(r["ct"], r["cv"], r["k"], r["v"]) for r in got] == [
        ("insert", v2, 100, 1),
        ("delete", v3, 3, 3),
        ("insert", v3, 3, 99)]
    # bounded range + aggregation composes like any relation; a
    # single-version range [v2, v2] yields exactly its own commit
    n = eng.sql(
        f"SELECT COUNT(*) AS n FROM table_changes('snap', {v2}, {v2}) "
        "WHERE _change_type = 'insert'").collect()[0]["n"]
    assert n == 1
    # ... and an inclusive start at the first data commit sees it all
    n = eng.sql(
        f"SELECT COUNT(*) AS n FROM table_changes('snap', {v1}, {v2}) "
        "WHERE _change_type = 'insert'").collect()[0]["n"]
    assert n == 11
    # the quoted name inside a LITERAL is untouched
    s = eng.sql("SELECT \"table_changes('snap', 1)\" AS s").collect()
    assert s[0]["s"] == "table_changes('snap', 1)"
    # unregistered name refuses loudly
    import pytest as _pytest
    with _pytest.raises(ValueError, match="not a registered"):
        eng.sql("SELECT * FROM table_changes('nope', 1)")
    # views are dropped after analysis
    assert not any(t.name.startswith("__graft_cdf_")
                   for t in spark.catalog.listTables())

    # -- r11: timestamp bounds (Delta's convention - quoted = instant) --
    import datetime as _dt

    import pytest as _pytest
    ts2 = tab.manifest(v2)["timestamp_ms"]
    iso2 = _dt.datetime.fromtimestamp(
        ts2 / 1000, tz=_dt.timezone.utc).isoformat()
    # start instant = v2's commit time: v2's changes are INCLUDED
    # (inclusive-start), so the feed holds v2's insert + v3's pair
    got = eng.sql(
        f"SELECT COUNT(*) AS n, MIN(_commit_version) AS lo "
        f"FROM table_changes('snap', '{iso2}')").collect()[0]
    assert got["n"] == 3 and got["lo"] == v2
    # end instant at v2 with inclusive version start v2: its own insert
    got = eng.sql(
        f"SELECT COUNT(*) AS n FROM "
        f"table_changes('snap', {v2}, '{iso2}')").collect()[0]
    assert got["n"] == 1

    # -- r11: RESTORE TABLE ... TO VERSION|TIMESTAMP AS OF ---------------
    head = tab.current_version()  # v3 (post-update)
    pre_head_rows = {(r["k"], r["v"]) for r in tab.read(head).collect()}
    res = eng.sql(f"RESTORE TABLE snap TO VERSION AS OF {v2}").collect()[0]
    assert (res["previous_version"], res["restored_version"]) == (head, v2)
    assert res["new_version"] == head + 1
    # content equals v2's exactly (the k=3 update is un-done at HEAD)
    now = {(r["k"], r["v"]) for r in tab.read().collect()}
    v2_rows = {(r["k"], r["v"]) for r in tab.read(v2).collect()}
    assert now == v2_rows and (3, 99) not in now
    # history stays append-only: the pre-restore head still time-travels
    assert {(r["k"], r["v"])
            for r in tab.read(head).collect()} == pre_head_rows
    # RESTORE TO TIMESTAMP resolves at-or-before the instant
    res2 = eng.sql(f"RESTORE snap TO TIMESTAMP AS OF '{iso2}'").collect()[0]
    assert res2["restored_version"] == v2
    with _pytest.raises(ValueError, match="not a registered"):
        eng.sql("RESTORE TABLE nope TO VERSION AS OF 1")


def test_engine_snapshot_dml_mor_mode(spark, tmp_path):
    """r12: register_snapshot_table(..., dml='mor') routes SQL DELETE /
    UPDATE / MERGE (incl. WHEN NOT MATCHED BY SOURCE) through deletion
    vectors - results match COW semantics, data files stay untouched,
    and reads apply the vectors automatically."""
    from aliyun_maxcompute_data_collectors_spark.engine import Engine
    from aliyun_maxcompute_data_collectors_spark.snapshots import SnapshotTable

    root = str(tmp_path / "snap")
    tab = SnapshotTable.init(spark, root)
    tab.append(spark.createDataFrame(
        [(i, f"v{i}") for i in range(10)], "id long, v string")
        .coalesce(1))
    files_pre = set(tab.manifest()["files"])
    eng = Engine(warehouse=str(tmp_path / "wh"), spark=spark)
    with pytest.raises(ValueError, match="cow.*mor|mor.*cow"):
        eng.register_snapshot_table("mt", root, dml="bogus")
    eng.register_snapshot_table("mt", root, dml="mor")

    eng.sql("DELETE FROM mt WHERE id = 3")
    m = tab.manifest()
    assert m["operation"] == "delete-mor" and m.get("dvs")
    assert files_pre <= set(m["files"])
    assert eng.sql("SELECT COUNT(*) n FROM mt").collect()[0]["n"] == 9

    eng.sql("UPDATE mt SET v = 'U' WHERE id = 4")
    assert tab.manifest()["operation"] == "update-mor"
    got = {r["id"]: r["v"] for r in eng.sql("SELECT * FROM mt").collect()}
    assert got[4] == "U" and 3 not in got and len(got) == 9

    eng.sql("SELECT 1").sparkSession.createDataFrame(
        [(5, "M5"), (99, "I99")], "id long, v string") \
        .createOrReplaceTempView("src_mor")
    eng.sql("""
        MERGE INTO mt AS t USING src_mor AS s ON t.id = s.id
        WHEN MATCHED THEN UPDATE SET v = s.v
        WHEN NOT MATCHED THEN INSERT *
        WHEN NOT MATCHED BY SOURCE AND t.id >= 8 THEN DELETE
    """)
    m = tab.manifest()
    assert m["operation"] == "merge-mor" and files_pre <= set(m["files"])
    got = {r["id"]: r["v"] for r in eng.sql("SELECT * FROM mt").collect()}
    assert got[5] == "M5" and got[99] == "I99"
    assert 8 not in got and 9 not in got
    assert got[0] == "v0" and len(got) == 7 + 1  # 0,1,2,4,5,6,7 + 99

    # cow-registered twin: same statements, same results
    root2 = str(tmp_path / "snap2")
    t2 = SnapshotTable.init(spark, root2)
    t2.append(spark.createDataFrame(
        [(i, f"v{i}") for i in range(10)], "id long, v string")
        .coalesce(1))
    eng.register_snapshot_table("ct", root2)  # default cow
    eng.sql("DELETE FROM ct WHERE id = 3")
    eng.sql("UPDATE ct SET v = 'U' WHERE id = 4")
    eng.sql("""
        MERGE INTO ct AS t USING src_mor AS s ON t.id = s.id
        WHEN MATCHED THEN UPDATE SET v = s.v
        WHEN NOT MATCHED THEN INSERT *
        WHEN NOT MATCHED BY SOURCE AND t.id >= 8 THEN DELETE
    """)
    assert t2.manifest()["operation"] == "merge"
    got2 = {r["id"]: r["v"] for r in eng.sql("SELECT * FROM ct").collect()}
    assert got2 == got
