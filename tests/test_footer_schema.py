"""The parquet footer -> Spark schema mapping ``load_tables`` pins its
scans to (``types.parquet_read_schema``), checked without a JVM: every
type of the closed set maps to the type Spark's own inference gives,
INT96 and INT64 TIMESTAMP(NANOS) are told apart by their physical type,
and every type outside the set falls back with a reason."""

from __future__ import annotations

import datetime
import decimal
import glob
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from aliyun_maxcompute_data_collectors_spark.types import parquet_read_schema
from conftest import SF_SMOKE

PINNED = [
    (pa.int8(), 1, T.ByteType()),
    (pa.int16(), 1, T.ShortType()),
    (pa.int32(), 1, T.IntegerType()),
    (pa.int64(), 1, T.LongType()),
    (pa.float32(), 1.5, T.FloatType()),
    (pa.float64(), 1.5, T.DoubleType()),
    (pa.string(), "a", T.StringType()),
    (pa.large_string(), "a", T.StringType()),
    (pa.binary(), b"a", T.BinaryType()),
    (pa.bool_(), True, T.BooleanType()),
    (pa.date32(), datetime.date(2024, 1, 8), T.DateType()),
    (pa.decimal128(10, 2), decimal.Decimal("1.25"), T.DecimalType(10, 2)),
    (pa.decimal128(38, 18), decimal.Decimal("1.25"), T.DecimalType(38, 18)),
    (pa.timestamp("ms"), 1, T.TimestampNTZType()),
    (pa.timestamp("us"), 1, T.TimestampNTZType()),
    (pa.timestamp("ms", tz="UTC"), 1, T.TimestampType()),
    (pa.timestamp("us", tz="Asia/Shanghai"), 1, T.TimestampType()),
    (pa.timestamp("ns"), 1, T.LongType()),  # nanosAsLong
    (pa.list_(pa.int64()), [1, 2], T.ArrayType(T.LongType())),
    (pa.list_(pa.string()), ["a"], T.ArrayType(T.StringType())),
    (pa.list_(pa.float32()), [1.5], T.ArrayType(T.FloatType())),
]

UNPINNED = [
    (pa.uint8(), 1, "Int(bitWidth=8, isSigned=false)"),
    (pa.uint32(), 1, "Int(bitWidth=32, isSigned=false)"),
    (pa.uint64(), 1, "Int(bitWidth=64, isSigned=false)"),
    (pa.time64("us"), 1, "Time"),
    (pa.struct([("a", pa.int64())]), {"a": 1}, "struct"),
    (pa.map_(pa.string(), pa.int64()), [("k", 1)], "map"),
    (pa.list_(pa.list_(pa.int64())), [[1]], "list"),
    (pa.list_(pa.struct([("a", pa.int64())])), [{"a": 1}], "list"),
]


def _schema(tmp_path, table, **kw):
    p = str(tmp_path / "f.parquet")
    pq.write_table(table, p, **kw)
    return parquet_read_schema(pq.ParquetFile(p).schema)


@pytest.mark.parametrize("typ,value,want", PINNED,
                         ids=[str(t) for t, _, _ in PINNED])
def test_pinned_types_map_to_sparks_inference(tmp_path, typ, value, want):
    t = pa.table({"k": pa.array([1], pa.int64()),
                  "c": pa.array([value], typ)})
    schema, nanos, why = _schema(tmp_path, t)
    assert why is None
    assert schema == T.StructType([T.StructField("k", T.LongType()),
                                   T.StructField("c", want)])
    assert nanos == (["c"] if typ == pa.timestamp("ns") else [])


@pytest.mark.parametrize("typ,value,named", UNPINNED,
                         ids=[str(t) for t, _, _ in UNPINNED])
def test_types_outside_the_set_fall_back_with_a_reason(tmp_path, typ,
                                                       value, named):
    t = pa.table({"k": pa.array([1], pa.int64()),
                  "c": pa.array([value], typ),
                  "ts": pa.array([1], pa.timestamp("ns"))})
    schema, nanos, why = _schema(tmp_path, t)
    assert schema is None
    assert "'c'" in why and named in why
    # the nanos columns after the fallback column are still found
    assert nanos == ["ts"]


def test_int96_is_a_timestamp_not_nanos(tmp_path):
    """pyarrow shows INT96 as timestamp[ns], like INT64 nanos; Spark
    reads it as TIMESTAMP, so it needs no nanos conversion."""
    ts = pa.array([datetime.datetime(2024, 1, 8, 12, 30, 1, 250000)],
                  pa.timestamp("ns"))
    t = pa.table({"ts": ts, "ns": ts})
    p = str(tmp_path / "f.parquet")
    pq.write_table(t, p, use_deprecated_int96_timestamps=True)
    pf = pq.ParquetFile(p)
    assert str(pf.schema_arrow.field("ts").type) == "timestamp[ns]"
    assert pf.schema.column(0).physical_type == "INT96"
    schema, nanos, why = parquet_read_schema(pf.schema)
    assert why is None and nanos == []
    assert schema == T.StructType([T.StructField("ts", T.TimestampType()),
                                   T.StructField("ns", T.TimestampType())])


def test_legacy_two_level_list_and_binary_as_string(tmp_path):
    t = pa.table({"b": pa.array([b"x"]), "l": pa.array([[1]])})
    p = str(tmp_path / "f.parquet")
    pq.write_table(t, p, use_compliant_nested_type=False)
    pf = pq.ParquetFile(p)
    schema, _, why = parquet_read_schema(pf.schema, binary_as_string=True)
    assert why is None
    assert schema == T.StructType([
        T.StructField("b", T.StringType()),
        T.StructField("l", T.ArrayType(T.LongType()))])


def test_test_data_footers_all_pin():
    paths = sorted(glob.glob(os.path.join(os.path.dirname(SF_SMOKE), "*",
                                          "*.parquet")))
    if not paths:
        pytest.skip("no test data")
    for p in paths:
        schema, nanos, why = parquet_read_schema(pq.ParquetFile(p).schema)
        assert why is None, (p, why)
        assert len(schema) == len(pq.read_schema(p))
