"""ODPS <-> Spark type system.

Parity targets (SURVEY.md section 1.2, all against /root/reference):

- mapping table ``spark-connector/common/.../OdpsUtils.scala:46-124,255-273``
- DECIMAL defaults (38,18) ``OdpsUtils.scala:257`` (ODPS_DECIMAL_DEFAULT_*)
- CHAR(n)/VARCHAR(n) -> StringType, length dropped ``OdpsUtils.scala:63-70``
- DATETIME = millisecond precision, TIMESTAMP = microsecond (nanos truncated)
  ``OdpsScan.scala:130-132``, ``OdpsUtils.scala:79-95``
- reverse Spark->ODPS DDL names ``OdpsTableCatalog.scala:683-702`` (throws on
  unsupported types, e.g. CalendarInterval)
- string -> typed field coercion used by ingest plugins
  ``common/.../RecordUtil.java:31-83``

Types are declared by the catalog, never inferred - matching the reference's
fixed-schema model.
"""

from __future__ import annotations

import re
from datetime import date, datetime
from decimal import Decimal

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

ODPS_DECIMAL_DEFAULT_PRECISION = 38
ODPS_DECIMAL_DEFAULT_SCALE = 18

_SIMPLE = {
    "BOOLEAN": T.BooleanType(),
    "TINYINT": T.ByteType(),
    "SMALLINT": T.ShortType(),
    "INT": T.IntegerType(),
    "INTEGER": T.IntegerType(),
    "BIGINT": T.LongType(),
    "FLOAT": T.FloatType(),
    "DOUBLE": T.DoubleType(),
    "STRING": T.StringType(),
    "BINARY": T.BinaryType(),
    "DATE": T.DateType(),
    # DATETIME (ms) and TIMESTAMP (us) both land on TimestampType; precision
    # is enforced on ingest via datetime_millis / timestamp_micros below.
    "DATETIME": T.TimestampType(),
    "TIMESTAMP": T.TimestampType(),
    "TIMESTAMP_NTZ": T.TimestampNTZType(),
    "JSON": T.StringType(),
}

_REV_SIMPLE = {
    T.BooleanType(): "BOOLEAN",
    T.ByteType(): "TINYINT",
    T.ShortType(): "SMALLINT",
    T.IntegerType(): "INT",
    T.LongType(): "BIGINT",
    T.FloatType(): "FLOAT",
    T.DoubleType(): "DOUBLE",
    T.StringType(): "STRING",
    T.BinaryType(): "BINARY",
    T.DateType(): "DATE",
    T.TimestampType(): "TIMESTAMP",
    T.TimestampNTZType(): "TIMESTAMP_NTZ",
}


class OdpsTypeError(ValueError):
    pass


def parse_odps_type(name: str) -> T.DataType:
    """Parse an ODPS type string into a Spark DataType.

    Handles nesting: ``ARRAY<...>``, ``MAP<k,v>``, ``STRUCT<a:t,...>``,
    ``DECIMAL[(p,s)]``, ``CHAR(n)``/``VARCHAR(n)`` (length dropped, as the
    reference does for Spark - OdpsUtils.scala:63-70).
    """
    s = name.strip()
    u = s.upper()
    if u in _SIMPLE:
        return _SIMPLE[u]
    if u == "DECIMAL":
        return T.DecimalType(ODPS_DECIMAL_DEFAULT_PRECISION, ODPS_DECIMAL_DEFAULT_SCALE)
    m = re.fullmatch(r"DECIMAL\s*\(\s*(\d+)\s*,\s*(\d+)\s*\)", u)
    if m:
        return T.DecimalType(int(m.group(1)), int(m.group(2)))
    m = re.fullmatch(r"(CHAR|VARCHAR)\s*\(\s*(\d+)\s*\)", u)
    if m:
        return T.StringType()
    if u.startswith("ARRAY<") and u.endswith(">"):
        return T.ArrayType(parse_odps_type(s[6:-1]))
    if u.startswith("MAP<") and u.endswith(">"):
        k, v = _split_top(s[4:-1])
        return T.MapType(parse_odps_type(k), parse_odps_type(v))
    if u.startswith("STRUCT<") and u.endswith(">"):
        fields = []
        for part in _split_top(s[7:-1], many=True):
            fname, ftype = part.split(":", 1)
            fields.append(T.StructField(fname.strip(), parse_odps_type(ftype)))
        return T.StructType(fields)
    raise OdpsTypeError(f"unsupported ODPS type: {name!r}")


def _split_top(s: str, many: bool = False):
    """Split on top-level commas (ignoring commas inside <...> or (...))."""
    parts, depth, cur = [], 0, []
    for ch in s:
        if ch in "<(":
            depth += 1
        elif ch in ">)":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    parts.append("".join(cur))
    if many:
        return [p for p in parts if p.strip()]
    if len(parts) != 2:
        raise OdpsTypeError(f"expected two type args in {s!r}")
    return parts


def to_odps_type(dt: T.DataType) -> str:
    """Spark DataType -> ODPS DDL type name (OdpsTableCatalog.scala:683-702).

    Like the reference, raises on types ODPS cannot store (intervals, UDTs).
    """
    if dt in _REV_SIMPLE:
        return _REV_SIMPLE[dt]
    if isinstance(dt, T.DecimalType):
        return f"DECIMAL({dt.precision},{dt.scale})"
    if isinstance(dt, T.ArrayType):
        return f"ARRAY<{to_odps_type(dt.elementType)}>"
    if isinstance(dt, T.MapType):
        return f"MAP<{to_odps_type(dt.keyType)},{to_odps_type(dt.valueType)}>"
    if isinstance(dt, T.StructType):
        inner = ",".join(f"{f.name}:{to_odps_type(f.dataType)}" for f in dt.fields)
        return f"STRUCT<{inner}>"
    raise OdpsTypeError(f"no ODPS type for Spark type {dt}")


_CHAR_VARCHAR_RE = re.compile(r"(CHAR|VARCHAR)\s*\(\s*(\d+)\s*\)", re.IGNORECASE)

# Spark's own metadata key for a declared char/varchar over a string runtime
# type (CharVarcharUtils) - using it means any Spark-native tooling that
# understands retained char/varchar metadata sees ours too.
CHAR_VARCHAR_META_KEY = "__CHAR_VARCHAR_TYPE_STRING"


def schema_from_odps(cols: list[tuple[str, str]]) -> T.StructType:
    """[(name, odps_type_str), ...] -> StructType.

    CHAR(n)/VARCHAR(n) run as StringType but RETAIN the declared length in
    the field metadata (Trino connector parity, TypeConvertUtils.java:89-94
    keeps the length where the Hive/Spark mapping drops it); DESCRIBE and
    SHOW CREATE TABLE render the declared type from the catalog meta."""
    fields = []
    for n, t in cols:
        m = _CHAR_VARCHAR_RE.fullmatch(t.strip())
        md = {CHAR_VARCHAR_META_KEY: f"{m.group(1).lower()}({m.group(2)})"} if m else None
        fields.append(T.StructField(n, parse_odps_type(t), metadata=md))
    return T.StructType(fields)


def declared_char_varchar(field: T.StructField) -> str | None:
    """The declared ``char(n)``/``varchar(n)`` string of a field, or None."""
    md = field.metadata or {}
    return md.get(CHAR_VARCHAR_META_KEY)


class _Unpinned(Exception):
    """A parquet type outside the closed set ``parquet_read_schema`` maps."""


_PARQUET_INTS = {(8, True): T.ByteType(), (16, True): T.ShortType(),
                 (32, True): T.IntegerType(), (64, True): T.LongType()}


def _logical(col) -> dict:
    import json

    return json.loads(col.logical_type.to_json())


def _is_nanos(col) -> bool:
    lt = _logical(col)
    return col.physical_type == "INT64" and lt.get("Type") == "Timestamp" \
        and lt["timeUnit"] == "nanoseconds"


def _parquet_leaf_type(col, binary_as_string: bool) -> T.DataType:
    """Spark type of one parquet leaf column (``pyarrow.parquet``
    ``ColumnSchema``), decided on its PHYSICAL type and logical
    annotation, as Spark's own footer converter does.  pyarrow shows
    INT96 and INT64 TIMESTAMP(NANOS) alike as ``timestamp[ns]``; Spark
    reads the first as TIMESTAMP and the second, under ``nanosAsLong``,
    as BIGINT."""
    phys = col.physical_type
    lt = _logical(col)
    kind = lt.get("Type", "None")
    if kind == "Decimal" and 0 < col.precision <= 38:
        return T.DecimalType(col.precision, col.scale)
    if phys == "BOOLEAN" and kind == "None":
        return T.BooleanType()
    if phys in ("INT32", "INT64"):
        if kind == "None":
            return T.IntegerType() if phys == "INT32" else T.LongType()
        if kind == "Int" and (lt["bitWidth"], lt["isSigned"]) in _PARQUET_INTS:
            return _PARQUET_INTS[lt["bitWidth"], lt["isSigned"]]
        if kind == "Date" and phys == "INT32":
            return T.DateType()
        if kind == "Timestamp" and phys == "INT64":
            if lt["timeUnit"] == "nanoseconds":
                return T.LongType()
            # inferTimestampNTZ: a local-time timestamp reads as NTZ
            return T.TimestampType() if lt["isAdjustedToUTC"] \
                else T.TimestampNTZType()
    if phys == "INT96" and kind == "None":
        return T.TimestampType()
    if phys == "FLOAT" and kind == "None":
        return T.FloatType()
    if phys == "DOUBLE" and kind == "None":
        return T.DoubleType()
    if phys == "BYTE_ARRAY" and kind == "String":
        return T.StringType()
    if phys in ("BYTE_ARRAY", "FIXED_LEN_BYTE_ARRAY") and kind == "None":
        return T.StringType() if binary_as_string else T.BinaryType()
    raise _Unpinned(f"{phys} {col.logical_type}")


def _is_list(t) -> bool:
    import pyarrow as pa

    return pa.types.is_list(t) or pa.types.is_large_list(t) \
        or pa.types.is_fixed_size_list(t)


def _leaf_count(t) -> int:
    import pyarrow as pa

    if pa.types.is_struct(t):
        return sum(_leaf_count(t.field(i).type) for i in range(t.num_fields))
    if pa.types.is_map(t):
        return _leaf_count(t.key_type) + _leaf_count(t.item_type)
    if _is_list(t):
        return _leaf_count(t.value_type)
    return 1


def parquet_read_schema(schema, binary_as_string: bool = False):
    """``(StructType | None, nanos, why)`` for a parquet footer schema
    (``pyarrow.parquet.ParquetFile(p).schema``): the schema
    ``spark.read.parquet`` infers under the confs ``load_tables`` pins
    (``inferTimestampNTZ``, ``nanosAsLong``), built without the Spark
    job that inference launches.  ``nanos`` lists the top-level INT64
    TIMESTAMP(NANOS) columns, which read as BIGINT.

    The mapped set is closed: signed int8/16/32/64, float, double,
    string, binary, boolean, date, decimal up to precision 38,
    timestamps in ms/us (NTZ without a UTC adjustment), INT96
    timestamps, nanos timestamps as BIGINT, and lists of these.  Any
    other column (unsigned ints, time, float16, uuid, maps, structs,
    nested lists) gives None and ``why`` names it, so the caller can
    let Spark infer instead."""
    import pyarrow as pa

    fields, nanos, why = [], [], None
    leaf = 0
    for f in schema.to_arrow_schema():
        col = schema.column(leaf)
        leaf += _leaf_count(f.type)
        listed = _is_list(f.type)
        nested = pa.types.is_nested(f.type.value_type if listed else f.type)
        if not listed and not nested and _is_nanos(col):
            nanos.append(f.name)
        if why is not None:
            continue
        try:
            if nested or col.max_repetition_level != int(listed):
                raise _Unpinned(str(f.type))
            dt = _parquet_leaf_type(col, binary_as_string)
        except _Unpinned as e:
            why = f"column {f.name!r} has type {e}, outside the pinned set"
            continue
        fields.append(T.StructField(f.name, T.ArrayType(dt) if listed else dt))
    return (None if why else T.StructType(fields)), nanos, why


# fixed per-type width estimates (bytes), mirroring the reference's
# column-width-scaled size stats (OdpsScan.scala:267-279: sizeInBytes =
# rawSize * projectedWidths/totalWidths * compression factor)
_WIDTHS = {
    T.BooleanType(): 1, T.ByteType(): 1, T.ShortType(): 2,
    T.IntegerType(): 4, T.LongType(): 8, T.FloatType(): 4,
    T.DoubleType(): 8, T.DateType(): 4, T.TimestampType(): 8,
    T.TimestampNTZType(): 8, T.StringType(): 20, T.BinaryType(): 40,
}


def estimated_width(dt: T.DataType) -> int:
    """Estimated in-memory bytes of one value of ``dt``."""
    if dt in _WIDTHS:
        return _WIDTHS[dt]
    if isinstance(dt, T.DecimalType):
        return 16
    if isinstance(dt, T.ArrayType):
        return 4 * estimated_width(dt.elementType)  # assume short arrays
    if isinstance(dt, T.MapType):
        return 4 * (estimated_width(dt.keyType) + estimated_width(dt.valueType))
    if isinstance(dt, T.StructType):
        return sum(estimated_width(f.dataType) for f in dt.fields) or 8
    return 8


def estimated_row_bytes(schema: T.StructType) -> int:
    """Estimated bytes per row for a schema (minimum 1)."""
    return max(1, sum(estimated_width(f.dataType) for f in schema.fields))


# ---------------------------------------------------------------------------
# precision surfaces
# ---------------------------------------------------------------------------

def datetime_millis(col: Column | str) -> Column:
    """ODPS DATETIME semantics: truncate a timestamp to millisecond precision.

    Arrow unit MILLI in the reference (OdpsScan.scala:130-132).  Spark stores
    micros; we zero the sub-millisecond part deterministically.
    """
    c = F.col(col) if isinstance(col, str) else col
    micros = F.unix_micros(c.cast("timestamp"))
    return F.timestamp_micros((micros - _pymod(micros, F.lit(1000))).cast("long"))


def _pymod(a: Column, n: Column) -> Column:
    return ((a % n) + n) % n


# ---------------------------------------------------------------------------
# string -> typed coercion (ingest surface, RecordUtil.java:31-83)
# ---------------------------------------------------------------------------

_TRUE = {"true", "1", "t", "y", "yes"}
_FALSE = {"false", "0", "f", "n", "no"}


def coerce_string(value: str | None, dt: T.DataType):
    """Python-side string -> typed value, mirroring RecordUtil's per-type
    parse used by the Flume/OGG/Kettle ingest plugins.  Empty string -> None.
    """
    if value is None or value == "":
        return None
    if isinstance(dt, T.StringType):
        return value
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return int(value)
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return float(value)
    if isinstance(dt, T.BooleanType):
        v = value.strip().lower()
        if v in _TRUE:
            return True
        if v in _FALSE:
            return False
        raise OdpsTypeError(f"not a boolean: {value!r}")
    if isinstance(dt, T.DecimalType):
        return Decimal(value)
    if isinstance(dt, T.DateType):
        return date.fromisoformat(value.strip())
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return datetime.fromisoformat(value.strip())
    if isinstance(dt, T.BinaryType):
        return value.encode("utf-8")
    raise OdpsTypeError(f"cannot coerce string to {dt}")


def coerce_column(col: Column | str, dt: T.DataType) -> Column:
    """Column-level coercion of a string column to a target type (the Spark
    hot-path equivalent of coerce_string; stays JVM-side)."""
    c = F.col(col) if isinstance(col, str) else col
    if isinstance(dt, T.BooleanType):
        low = F.lower(F.trim(c))
        return (
            F.when(low.isin(*_TRUE), F.lit(True))
            .when(low.isin(*_FALSE), F.lit(False))
            .otherwise(F.lit(None).cast("boolean"))
        )
    return F.when(c == "", F.lit(None)).otherwise(c).cast(dt)
