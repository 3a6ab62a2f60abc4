"""Schema-pinned scans: ``load_tables``, catalog reads and deletion-
vector sidecars take their schema from metadata the package already
holds, so planning them launches no Spark job; the pinned schema is the
one Spark's inference gives, and catalog partition values keep their
declared string form."""

from __future__ import annotations

import datetime
import decimal
import glob
import logging
import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from conftest import SF_SMOKE
from pyspark.sql import functions as F
from test_bloom_policy import _jobs

from aliyun_maxcompute_data_collectors_spark import session
from aliyun_maxcompute_data_collectors_spark.catalog import OdpsCatalog
from aliyun_maxcompute_data_collectors_spark.engine import Engine
from aliyun_maxcompute_data_collectors_spark.snapshots import SnapshotTable
from aliyun_maxcompute_data_collectors_spark.types import parquet_read_schema

LOGGER = "aliyun_maxcompute_data_collectors_spark.session"
TS = datetime.datetime(2024, 1, 8, 12, 30, 1, 250000)

# name -> (table, pq.write_table kwargs, pinned?)
EDGE = {
    "int96": (pa.table({"ts": pa.array([TS], pa.timestamp("ns"))}),
              {"use_deprecated_int96_timestamps": True}, True),
    "nanos": (pa.table({"id": [1], "ts": pa.array([TS], pa.timestamp("ns"))}),
              {}, True),
    "decimal": (pa.table({"d": pa.array([decimal.Decimal("12.50")],
                                        pa.decimal128(10, 2)),
                          "w": pa.array([decimal.Decimal("1.5")],
                                        pa.decimal128(38, 18))}), {}, True),
    "small_ints": (pa.table({"a": pa.array([1], pa.int8()),
                             "b": pa.array([2], pa.int16())}), {}, True),
    "times": (pa.table({"ms": pa.array([TS], pa.timestamp("ms")),
                        "tz": pa.array([TS], pa.timestamp("us", tz="UTC")),
                        "d": pa.array([TS.date()]),
                        "f": pa.array([1.5], pa.float32()),
                        "bin": pa.array([b"x"]), "ok": [True]}), {}, True),
    "lists": (pa.table({"l": pa.array([[1, 2]]),
                        "s": pa.array([["a", None]])}), {}, True),
    "legacy_list": (pa.table({"l": pa.array([[1, 2]])}),
                    {"use_compliant_nested_type": False}, True),
    "uint32": (pa.table({"u": pa.array([1], pa.uint32())}), {}, False),
    "map": (pa.table({"m": pa.array([[("k", 1)]],
                                    pa.map_(pa.string(), pa.int64()))}),
            {}, False),
    "struct": (pa.table({"s": pa.array([{"a": 1, "b": "x"}])}), {}, False),
}


@pytest.fixture(scope="module")
def edge_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("edge")
    for name, (t, kw, _) in EDGE.items():
        pq.write_table(t, str(d / f"{name}.parquet"), **kw)
    return str(d)


def _fresh(d, tmp_path):
    """A copy of a table directory under a new path, so the load-tables
    plan cache cannot answer for it."""
    out = tmp_path / uuid.uuid4().hex
    out.mkdir()
    for p in glob.glob(os.path.join(d, "*.parquet")):
        os.link(p, out / os.path.basename(p))
    return str(out)


def test_footer_schema_equals_sparks_inference(spark, edge_dir):
    paths = sorted(glob.glob(os.path.join(os.path.dirname(SF_SMOKE), "*",
                                          "*.parquet")))
    assert len(paths) == 30
    for name, (_, _, pinned) in EDGE.items():
        paths.append(os.path.join(edge_dir, f"{name}.parquet"))
        assert (parquet_read_schema(pq.ParquetFile(paths[-1]).schema)[0]
                is not None) == pinned, name
    for p in paths:
        schema, _, why = parquet_read_schema(pq.ParquetFile(p).schema)
        if schema is not None:
            assert schema == spark.read.parquet(p).schema, p


def test_load_tables_launches_no_job(spark, edge_dir, tmp_path, caplog):
    pinned = [n for n, (_, _, ok) in EDGE.items() if ok]
    d = _fresh(edge_dir, tmp_path)
    with caplog.at_level(logging.INFO, logger=LOGGER):
        assert _jobs(spark, lambda: session.load_tables(spark, d, pinned)) == 0
        # the test-data tables: one file each, all in the pinned set
        sf = _fresh(SF_SMOKE, tmp_path)
        assert _jobs(spark, lambda: session.load_tables(spark, sf)) == 0
    assert not caplog.records


def test_unpinned_types_fall_back_to_inference_and_log_why(
        spark, edge_dir, tmp_path, caplog):
    d = _fresh(edge_dir, tmp_path)
    for name in ("uint32", "map", "struct"):
        caplog.clear()
        with caplog.at_level(logging.INFO, logger=LOGGER):
            df = session.load_tables(spark, d, [name])[name]
        p = os.path.join(d, f"{name}.parquet")
        assert df.schema == spark.read.parquet(p).schema
        assert len(caplog.records) == 1
        msg = caplog.records[0].getMessage()
        assert "left to Spark's inference" in msg and p in msg


def test_partitioned_directory_falls_back(spark, tmp_path, caplog):
    d = tmp_path / "t.parquet"
    spark.createDataFrame([(1, "a"), (2, "b")], "k long, p string") \
        .write.partitionBy("p").parquet(str(d))
    with caplog.at_level(logging.INFO, logger=LOGGER):
        df = session.load_tables(spark, str(tmp_path), ["t"])["t"]
    assert sorted(df.columns) == ["k", "p"]
    assert "a partitioned directory" in caplog.records[0].getMessage()


def test_load_tables_reads_int96_and_nanos_timestamps(spark, edge_dir,
                                                      tmp_path):
    """INT96 used to take the nanos `div 1000` and fail with
    DATATYPE_MISMATCH; both now read as the same instant, INT96 as a
    TIMESTAMP and INT64 nanos as NTZ micros."""
    d = _fresh(edge_dir, tmp_path)
    tabs = session.load_tables(spark, d, ["int96", "nanos"])
    assert dict(tabs["int96"].dtypes)["ts"] == "timestamp"
    assert dict(tabs["nanos"].dtypes)["ts"] == "timestamp_ntz"
    assert tabs["int96"].collect()[0]["ts"] == TS
    assert tabs["nanos"].collect()[0]["ts"] == TS


@pytest.fixture()
def cat(spark, tmp_path):
    return OdpsCatalog(spark, str(tmp_path / "wh"))


def test_catalog_read_launches_no_job(spark, cat):
    cat.create_table("t", [("k", "BIGINT"), ("v", "STRING")],
                     partition_columns=[("p", "STRING")])
    cat.insert("t", spark.createDataFrame([(1, "a")], "k long, v string"),
               static_partition={"p": "x"})
    cat.create_table("o", [("k", "BIGINT")],
                     properties={"stored_as": "orc"})
    cat.insert("o", spark.createDataFrame([(1,)], "k long"))
    assert _jobs(spark, lambda: cat.read_table("t")) == 0
    assert _jobs(spark, lambda: cat.read_table("o")) == 0
    assert cat.read_table("o").collect()[0]["k"] == 1


def test_string_partition_value_keeps_its_leading_zero(spark, cat, tmp_path):
    """Spark's partition type inference used to read the directory
    ``p=01`` as the integer 1, so the value came back as ``'1'`` and
    ``WHERE p = '01'`` matched nothing."""
    cat.create_table("t", [("k", "BIGINT")],
                     partition_columns=[("p", "STRING")])
    df = spark.createDataFrame([(1,), (2,)], "k long")
    cat.insert("t", df, static_partition={"p": "01"})
    cat.insert("t", df, static_partition={"p": "2"})
    rows = cat.read_table("t").where(F.col("p") == "01").collect()
    assert sorted(r["k"] for r in rows) == [1, 2]
    assert {r["p"] for r in rows} == {"01"}
    assert sorted(r["p"] for r in cat.read_table("t").collect()) \
        == ["01", "01", "2", "2"]
    eng = Engine(cat.warehouse, spark=spark)
    got = eng.sql("SELECT p, count(*) AS n FROM t GROUP BY p").collect()
    assert sorted((r["p"], r["n"]) for r in got) == [("01", 2), ("2", 2)]


def _jobs_outside_sql(spark, fn) -> int:
    """Jobs ``fn`` launched that belong to no SQL execution (the
    schema-inference jobs planning used to launch)."""
    sc = spark.sparkContext
    group = f"pinned-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    ids = set(sc.statusTracker().getJobIdsForGroup(group))
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    n = store.executionsCount()
    execs = store.executionsList(max(0, n - 200), 200)
    in_sql = set()
    for i in range(execs.size()):
        keys = execs.apply(i).jobs().keys().mkString(",")
        in_sql |= {int(j) for j in keys.split(",") if j}
    assert ids, "fn launched no job at all"
    return len(ids - in_sql)


def test_dv_read_and_changes_launch_no_job_outside_sql(spark, tmp_path):
    t = SnapshotTable.init(spark, str(tmp_path / "t"))
    v0 = t.append(spark.createDataFrame([(i, f"v{i}") for i in range(40)],
                                        "id long, v string").repartition(2))
    v1 = t.delete(("id", "<", 5), mor=True)
    v2 = t.delete(("id", "==", 7), mor=True)
    assert t._dvs(t.manifest())
    assert _jobs_outside_sql(spark, lambda: t.read().collect()) == 0
    assert _jobs_outside_sql(spark, lambda: t.read(v1).collect()) == 0
    got = []
    assert _jobs_outside_sql(
        spark, lambda: got.extend(t.changes(v0, v2).collect())) == 0
    assert sorted(r["id"] for r in got) == [0, 1, 2, 3, 4, 7]
    assert t.read().count() == 34
