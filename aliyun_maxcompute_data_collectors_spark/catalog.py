"""Project/schema/table catalog over parquet - the engine's table format.

Replicates the reference's catalog surface (SURVEY.md 1.1, 2.13) Spark-first:

- identifiers ``project[.schema].table`` with a data schema + a separate
  partition-column schema (``OdpsTable.scala:81-97``)
- table types MANAGED_TABLE / EXTERNAL_TABLE / VIRTUAL_VIEW with view text
  (``OdpsTable.scala:37-44,89``)
- identity-transform partitions only; a partition is an ordered ``k=v`` spec
  whose values are *stored as strings* and cast to the column type for
  pruning (``OdpsScan.scala:176-185``, ``OdpsTableCatalog.scala:549-571,703-711``)
- hash/range bucket spec with sort columns (``OdpsTable.scala:46-79``) written
  via the ODPS-compatible hash (operators.hashing, SURVEY 2.9)
- DDL: create/drop/rename/truncate table, create/drop schema with
  cascade/restrict, add/drop partition, show columns, views; ALTER TABLE
  (add/rename column) which the reference refuses (``OdpsTableCatalog.scala:164``)
  is supported here
- meta cache: 100 entries, 30 s TTL (``OdpsOptions.scala:40-42``)
- dynamic-partition write limit (default 1000, ``OdpsWriteBuilder.scala:144-156``)
- ``max_pt`` (``udf/MaxPtUDF.java:31-41``)

Physical layout::

    {warehouse}/{project}/{schema}/{table}/_odps_meta.json
    {warehouse}/{project}/{schema}/{table}/data/pt1=v1/pt2=v2/*.parquet

Hive-style partition directories make Spark's built-in partition pruning,
dynamic partition overwrite and dynamic partition pruning (DPP) apply
directly - the pruning logic the reference hand-rolls is free here.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aliyun_maxcompute_data_collectors_spark import types as ot
from aliyun_maxcompute_data_collectors_spark.operators.hashing import odps_bucket_id

MANAGED_TABLE = "MANAGED_TABLE"
EXTERNAL_TABLE = "EXTERNAL_TABLE"
VIRTUAL_VIEW = "VIRTUAL_VIEW"

BUCKET_COL = "__odps_bucket__"

# storage formats for STORED AS (D1 'stored-as' parity,
# OdpsTableCatalog.scala:634-644 DDL surface).  parquet/orc are the columnar
# formats (footer stats, full pushdown); csv/json cover the reference's
# text-serde ingest surface (Flume delimited/JSON serializers, P13) as
# catalog tables with declared schemas - never inferred (SURVEY 1.2).
STORAGE_FORMATS = {"parquet", "orc", "csv", "json"}
# formats whose row counts come from file footers without data IO
_FOOTER_FORMATS = {"parquet", "orc"}

DEFAULT_DYNAMIC_PARTITION_LIMIT = 1000
META_CACHE_SIZE = 100
META_CACHE_TTL_SEC = 30.0


def _declared_columns(meta: "TableMeta", df: DataFrame) -> DataFrame:
    """The table's columns in declared order, partition values (strings
    in directory names) cast to their declared types
    (OdpsTableCatalog.scala:703-711).  A column added by ALTER reads
    NULL from files written before it."""
    return df.select(
        [F.col(c) for c, _ in meta.columns]
        + [F.col(p).cast(ot.parse_odps_type(t)).alias(p)
           for p, t in meta.partition_columns])


class CatalogError(Exception):
    pass


class NoSuchTableError(CatalogError):
    pass


class TableAlreadyExistsError(CatalogError):
    pass


class PartitionLimitExceeded(CatalogError):
    pass


@dataclass
class BucketSpec:
    """OdpsBucketSpec parity (OdpsTable.scala:46-79)."""

    cluster_type: str  # "hash" | "range"
    num_buckets: int
    bucket_columns: list[str]
    sort_columns: list[tuple[str, str]] = field(default_factory=list)  # (name, ASC|DESC)

    def to_json(self):
        return {
            "cluster_type": self.cluster_type,
            "num_buckets": self.num_buckets,
            "bucket_columns": self.bucket_columns,
            "sort_columns": [list(sc) for sc in self.sort_columns],
        }

    @staticmethod
    def from_json(d):
        if d is None:
            return None
        return BucketSpec(
            d["cluster_type"], d["num_buckets"], d["bucket_columns"],
            [tuple(sc) for sc in d.get("sort_columns", [])],
        )


@dataclass
class TableMeta:
    table_type: str
    columns: list[tuple[str, str]]            # data columns: (name, odps_type)
    partition_columns: list[tuple[str, str]]  # partition columns: (name, odps_type)
    bucket: BucketSpec | None = None
    view_text: str | None = None
    properties: dict = field(default_factory=dict)
    comment: str | None = None

    @property
    def data_schema(self):
        return ot.schema_from_odps(self.columns)

    @property
    def partition_schema(self):
        return ot.schema_from_odps(self.partition_columns)

    @property
    def full_schema(self):
        # schema = StructType(dataSchema ++ partitionSchema) (OdpsTable.scala:97)
        from pyspark.sql.types import StructType
        return StructType(self.data_schema.fields + self.partition_schema.fields)


def _ident(name: str, default_project: str, default_schema: str) -> tuple[str, str, str]:
    """Table identifier: 't' | 'project.t' | 'project.schema.t' (the
    reference's convention - a 2-part name is PROJECT.table, not schema.table;
    address a table in a named schema with the 3-part form)."""
    parts = name.split(".")
    if len(parts) == 1:
        return default_project, default_schema, parts[0]
    if len(parts) == 2:
        return parts[0], default_schema, parts[1]
    if len(parts) == 3:
        return parts[0], parts[1], parts[2]
    raise CatalogError(f"bad identifier {name!r} (want [project.[schema.]]table)")


class OdpsCatalog:
    """File-backed catalog; all reads/writes flow through Spark parquet."""

    def __init__(
        self,
        spark: SparkSession,
        warehouse: str,
        default_project: str = "default_project",
        default_schema: str = "default",
        dynamic_partition_limit: int = DEFAULT_DYNAMIC_PARTITION_LIMIT,
    ):
        from aliyun_maxcompute_data_collectors_spark.session import ensure_runtime_confs
        ensure_runtime_confs(spark)  # dynamic overwrite etc. on foreign sessions
        self.spark = spark
        self.warehouse = warehouse
        self.default_project = default_project
        self.default_schema = default_schema
        self.dynamic_partition_limit = dynamic_partition_limit
        self._meta_cache: dict[str, tuple[float, TableMeta]] = {}
        os.makedirs(warehouse, exist_ok=True)
        self.create_schema(f"{default_project}.{default_schema}", if_not_exists=True)

    # -- paths ------------------------------------------------------------
    def _table_dir(self, name: str) -> str:
        p, s, t = _ident(name, self.default_project, self.default_schema)
        return os.path.join(self.warehouse, p, s, t)

    def _meta_path(self, name: str) -> str:
        return os.path.join(self._table_dir(name), "_odps_meta.json")

    def data_dir(self, name: str) -> str:
        meta = self.get_meta(name)
        loc = meta.properties.get("location")
        return loc or os.path.join(self._table_dir(name), "data")

    # -- schemas (namespaces) --------------------------------------------
    def _schema_ident(self, name: str) -> tuple[str, str]:
        """'s' -> (default_project, s); 'p.s' -> (p, s).  A bare name is a
        SCHEMA in the default project, not a project."""
        parts = name.split(".")
        if len(parts) == 1:
            return self.default_project, parts[0]
        if len(parts) == 2:
            return parts[0], parts[1]
        raise CatalogError(f"bad schema identifier {name!r} (want [project.]schema)")

    def create_schema(self, name: str, if_not_exists: bool = False) -> None:
        p, s = self._schema_ident(name)
        d = os.path.join(self.warehouse, p, s)
        if os.path.exists(d) and not if_not_exists:
            raise CatalogError(f"schema {p}.{s} already exists")
        os.makedirs(d, exist_ok=True)

    def drop_schema(self, name: str, cascade: bool = False) -> None:
        p, s = self._schema_ident(name)
        d = os.path.join(self.warehouse, p, s)
        if not os.path.isdir(d):
            raise CatalogError(f"no such schema {p}.{s}")
        if os.listdir(d) and not cascade:
            # RESTRICT semantics (OdpsTableCatalog.scala dropSchema)
            raise CatalogError(f"schema {p}.{s} is not empty (use cascade=True)")
        shutil.rmtree(d)
        self._meta_cache.clear()

    def list_schemas(self, project: str | None = None) -> list[str]:
        p = project or self.default_project
        d = os.path.join(self.warehouse, p)
        return sorted(os.listdir(d)) if os.path.isdir(d) else []

    def list_tables(self, schema: str | None = None) -> list[str]:
        if schema:
            p, s = self._schema_ident(schema)
        else:
            p, s = self.default_project, self.default_schema
        d = os.path.join(self.warehouse, p, s)
        if not os.path.isdir(d):
            return []
        return sorted(
            t for t in os.listdir(d)
            if os.path.exists(os.path.join(d, t, "_odps_meta.json"))
        )

    # -- table DDL --------------------------------------------------------
    def create_table(
        self,
        name: str,
        columns: list[tuple[str, str]],
        partition_columns: list[tuple[str, str]] | None = None,
        bucket: BucketSpec | None = None,
        external_location: str | None = None,
        properties: dict | None = None,
        comment: str | None = None,
        if_not_exists: bool = False,
    ) -> None:
        if os.path.exists(self._meta_path(name)):
            if if_not_exists:
                return
            raise TableAlreadyExistsError(name)
        props = dict(properties or {})
        fmt = str(props.get("stored_as", "parquet")).lower()
        if fmt not in STORAGE_FORMATS:
            raise CatalogError(
                f"unsupported storage format {fmt!r}; one of {sorted(STORAGE_FORMATS)}")
        table_type = MANAGED_TABLE
        if external_location:
            table_type = EXTERNAL_TABLE
            props["location"] = external_location
        meta = TableMeta(
            table_type=table_type,
            columns=list(columns),
            partition_columns=list(partition_columns or []),
            bucket=bucket,
            properties=props,
            comment=comment,
        )
        # validate types eagerly (catalog-declared, never inferred)
        meta.full_schema
        self._write_meta(name, meta)
        os.makedirs(self.data_dir(name), exist_ok=True)

    def create_view(self, name: str, view_text: str, if_not_exists: bool = False) -> None:
        """Persisted view: stored SQL text, expanded at read time
        (OdpsTable.scala:89, HiveExternalCatalog.scala:452-480)."""
        if os.path.exists(self._meta_path(name)):
            if if_not_exists:
                return
            raise TableAlreadyExistsError(name)
        meta = TableMeta(VIRTUAL_VIEW, [], [], view_text=view_text)
        self._write_meta(name, meta)

    def drop_table(self, name: str, if_exists: bool = False) -> None:
        d = self._table_dir(name)
        if not os.path.exists(os.path.join(d, "_odps_meta.json")):
            if if_exists:
                return
            raise NoSuchTableError(name)
        shutil.rmtree(d)
        self._meta_cache.pop(self._meta_path(name), None)

    def rename_table(self, old: str, new: str) -> None:
        po, so, _ = _ident(old, self.default_project, self.default_schema)
        pn, sn, _ = _ident(new, self.default_project, self.default_schema)
        if (po, so) != (pn, sn):
            # same-project restriction, as the reference (OdpsTableCatalog.scala:195-230)
            raise CatalogError("rename across project/schema is not supported")
        if os.path.exists(self._meta_path(new)):
            raise TableAlreadyExistsError(new)
        os.rename(self._table_dir(old), self._table_dir(new))
        self._meta_cache.clear()

    def truncate_table(self, name: str) -> None:
        d = self.data_dir(name)
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d, exist_ok=True)
        self.refresh(name)
        self._invalidate_zonemap(name)

    def alter_table_add_columns(self, name: str, columns: list[tuple[str, str]]) -> None:
        """Supported natively (the reference throws, OdpsTableCatalog.scala:164-166).
        Parquet schema merging fills missing columns with NULL on read."""
        meta = self.get_meta(name)
        existing = {c[0] for c in meta.columns} | {c[0] for c in meta.partition_columns}
        for c, t in columns:
            if c in existing:
                raise CatalogError(f"column {c} already exists")
            ot.parse_odps_type(t)
        meta.columns = meta.columns + list(columns)
        self._write_meta(name, meta)

    def show_columns(self, name: str) -> list[str]:
        meta = self.get_meta(name)
        return [c for c, _ in meta.columns] + [c for c, _ in meta.partition_columns]

    def show_create_table(self, name: str) -> str:
        """Render the table's DDL string — the reference's DDL generator
        surface (OdpsTableCatalog.scala:579-681: PARTITIONED BY, CLUSTERED BY
        ... SORTED BY ... INTO n BUCKETS / RANGE CLUSTERED BY, COMMENT,
        TBLPROPERTIES)."""
        meta = self.get_meta(name)
        canon = self.canonical_name(name)
        if meta.table_type == VIRTUAL_VIEW:
            return f"CREATE VIEW {canon} AS {meta.view_text}"
        lines = [f"CREATE {'EXTERNAL ' if meta.table_type == EXTERNAL_TABLE else ''}TABLE {canon} ("]
        lines.append(",\n".join(f"  {c} {t}" for c, t in meta.columns))
        lines.append(")")
        if meta.comment:
            lines.append(f"COMMENT '{meta.comment}'")
        if meta.partition_columns:
            pcols = ", ".join(f"{c} {t}" for c, t in meta.partition_columns)
            lines.append(f"PARTITIONED BY ({pcols})")
        if meta.bucket:
            b = meta.bucket
            kw = "CLUSTERED BY" if b.cluster_type == "hash" else "RANGE CLUSTERED BY"
            clause = f"{kw} ({', '.join(b.bucket_columns)})"
            if b.sort_columns:
                clause += (" SORTED BY ("
                           + ", ".join(f"{c} {o}" for c, o in b.sort_columns) + ")")
            clause += f" INTO {b.num_buckets} BUCKETS"
            lines.append(clause)
        fmt = self.storage_format(meta)
        if fmt != "parquet":
            lines.append(f"STORED AS {fmt.upper()}")
        props = {k: v for k, v in meta.properties.items()
                 if k not in ("location", "range_stats", "stored_as")}
        if props:
            kv = ", ".join(f"'{k}'='{v}'" for k, v in sorted(props.items()))
            lines.append(f"TBLPROPERTIES ({kv})")
        if meta.table_type == EXTERNAL_TABLE:
            lines.append(f"LOCATION '{meta.properties.get('location', '')}'")
        return "\n".join(lines)

    # -- meta -------------------------------------------------------------
    def get_meta(self, name: str) -> TableMeta:
        path = self._meta_path(name)
        hit = self._meta_cache.get(path)
        now = time.monotonic()
        if hit and now - hit[0] < META_CACHE_TTL_SEC:
            return hit[1]
        if not os.path.exists(path):
            raise NoSuchTableError(name)
        with open(path) as f:
            d = json.load(f)
        meta = TableMeta(
            table_type=d["table_type"],
            columns=[tuple(c) for c in d["columns"]],
            partition_columns=[tuple(c) for c in d["partition_columns"]],
            bucket=BucketSpec.from_json(d.get("bucket")),
            view_text=d.get("view_text"),
            properties=d.get("properties", {}),
            comment=d.get("comment"),
        )
        if len(self._meta_cache) >= META_CACHE_SIZE:
            self._meta_cache.pop(next(iter(self._meta_cache)))
        self._meta_cache[path] = (now, meta)
        return meta

    def _write_meta(self, name: str, meta: TableMeta) -> None:
        d = self._table_dir(name)
        os.makedirs(d, exist_ok=True)
        payload = {
            "table_type": meta.table_type,
            "columns": [list(c) for c in meta.columns],
            "partition_columns": [list(c) for c in meta.partition_columns],
            "bucket": meta.bucket.to_json() if meta.bucket else None,
            "view_text": meta.view_text,
            "properties": meta.properties,
            "comment": meta.comment,
        }
        tmp = self._meta_path(name) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(payload, f, indent=1)
        os.replace(tmp, self._meta_path(name))
        self._meta_cache.pop(self._meta_path(name), None)

    def refresh(self, name: str) -> None:
        self._meta_cache.pop(self._meta_path(name), None)
        try:
            self.spark.catalog.refreshByPath(self.data_dir(name))
        except Exception:
            pass

    # -- read path --------------------------------------------------------
    def storage_format(self, meta: "TableMeta") -> str:
        """Table file format ('parquet' default, or 'orc' via STORED AS)."""
        return str((meta.properties or {}).get("stored_as", "parquet")).lower()

    def _scan(self, meta: "TableMeta", ddir: str, base_path: bool = False) -> DataFrame:
        """Format-generic scan of a table data dir under the CATALOG-
        declared schema, whatever the format: declared column types,
        partition columns as strings, ``__odps_bucket__`` as int, filled
        from directory names by Spark's partition discovery.  Types are
        never inferred (SURVEY 1.2), so planning reads no footer and
        launches no Spark job, and a partition value such as ``01``
        keeps its leading zero."""
        from pyspark.sql import types as T

        fmt = self.storage_format(meta)
        reader = self.spark.read
        if base_path:
            reader = reader.option("basePath", ddir)
        fields = [T.StructField(c, ot.parse_odps_type(t), True) for c, t in meta.columns]
        fields += [T.StructField(c, T.StringType(), True) for c, _ in meta.partition_columns]
        if meta.bucket:
            fields.append(T.StructField(BUCKET_COL, T.IntegerType(), True))
        if fmt == "csv":
            # text-serde surface (Flume DelimitedTextSerializer.java:41-108):
            # delimiter/header from table properties
            reader = (reader
                      .option("delimiter", meta.properties.get("serde.delimiter", ","))
                      .option("header", meta.properties.get("serde.header", "false")))
        return reader.format(fmt).schema(T.StructType(fields)).load(ddir)

    def read_table(self, name: str) -> DataFrame:
        """DataFrame over the table; filters/projections push down to the
        parquet scan, partition predicates prune directories (built-in)."""
        meta = self.get_meta(name)
        if meta.table_type == VIRTUAL_VIEW:
            # expanding the stored text needs the referenced catalog tables
            # visible as temp views (recursively for views-on-views)
            import re as _re
            for ident in set(_re.findall(r"[A-Za-z_][A-Za-z0-9_]*", meta.view_text)):
                if ident != name.split(".")[-1] and self.table_exists(ident):
                    self.register_temp_view(ident)
            return self.spark.sql(meta.view_text)
        ddir = self.data_dir(name)
        if not _has_data(ddir):
            return self.spark.createDataFrame([], meta.full_schema)
        return _declared_columns(
            meta, self._scan(meta, ddir, base_path=bool(meta.partition_columns)))

    def table_exists(self, name: str) -> bool:
        return os.path.exists(self._meta_path(name))

    def canonical_name(self, name: str) -> str:
        """Fully-qualified project.schema.table form of any 1/2/3-part name."""
        p, s, t = _ident(name, self.default_project, self.default_schema)
        return f"{p}.{s}.{t}"

    def register_temp_view(self, name: str, view_name: str | None = None) -> None:
        self.read_table(name).createOrReplaceTempView(view_name or name.split(".")[-1])

    # -- partitions -------------------------------------------------------
    def list_partitions(self, name: str) -> list[dict[str, str]]:
        """Partition specs as string values, from directory names
        (partition values are stored as strings, SURVEY 1.1)."""
        meta = self.get_meta(name)
        if not meta.partition_columns:
            return []
        out = []
        base = self.data_dir(name)
        pcols = [c for c, _ in meta.partition_columns]

        def walk(d, depth, spec):
            if depth == len(pcols):
                out.append(dict(spec))
                return
            if not os.path.isdir(d):
                return
            for entry in sorted(os.listdir(d)):
                if entry.startswith(f"{pcols[depth]}="):
                    v = entry.split("=", 1)[1]
                    walk(os.path.join(d, entry), depth + 1, spec + [(pcols[depth], v)])

        walk(base, 0, [])
        return out

    def list_partitions_by_filter(self, name: str, predicate: str) -> list[dict[str, str]]:
        """listPartitionsByFilter parity (OdpsTableSuite.scala:73-267): filter
        partition specs with a SQL predicate evaluated over TYPED partition
        values.

        Partition values are stored as strings; they are cast to the declared
        column types before comparison (OdpsTableCatalog.scala:703-711) -
        avoiding the '\"10\" < \"9\"' string-compare trap SURVEY flags."""
        meta = self.get_meta(name)
        parts = self.list_partitions(name)
        if not parts:
            return []
        pcols = meta.partition_columns
        rows = [tuple(p[c] for c, _ in pcols) for p in parts]
        schema = ", ".join(f"`__raw_{c}` string" for c, _ in pcols)
        df = self.spark.createDataFrame(rows, schema)
        # typed columns drive the predicate; the RAW stored strings ride
        # along and are what we match back on - str(typed) would drop specs
        # whose string form is non-canonical (zero-padded ints etc.)
        typed = df.select(
            *[F.col(f"`__raw_{c}`") for c, _ in pcols],
            *[F.col(f"`__raw_{c}`").cast(ot.parse_odps_type(t)).alias(c) for c, t in pcols],
        )
        kept = typed.where(predicate).collect()
        keep_keys = {tuple(r[f"__raw_{c}"] for c, _ in pcols) for r in kept}
        return [p for p in parts if tuple(p[c] for c, _ in pcols) in keep_keys]

    def partition_exists(self, name: str, spec: dict[str, str]) -> bool:
        return os.path.isdir(self._partition_dir(name, spec))

    def add_partition(self, name: str, spec: dict[str, str]) -> None:
        os.makedirs(self._partition_dir(name, spec), exist_ok=True)

    def drop_partition(self, name: str, spec: dict[str, str], if_exists: bool = False) -> None:
        d = self._partition_dir(name, spec)
        if not os.path.isdir(d):
            if if_exists:
                return
            raise CatalogError(f"no such partition {spec} in {name}")
        shutil.rmtree(d)
        self.refresh(name)
        self._invalidate_zonemap(name)

    def _partition_dir(self, name: str, spec: dict[str, str]) -> str:
        meta = self.get_meta(name)
        pcols = [c for c, _ in meta.partition_columns]
        if sorted(spec) != sorted(pcols):
            raise CatalogError(f"partition spec {spec} != partition columns {pcols}")
        parts = [f"{c}={spec[c]}" for c in pcols]  # ordered k=v, as the reference
        return os.path.join(self.data_dir(name), *parts)

    def read_buckets(self, name: str, bucket_ids: list[int]) -> DataFrame:
        """Scan only the given bucket directories of a hash-clustered table.

        The bucket id is a partition directory (``__odps_bucket__=k``), so
        Spark prunes every other bucket at the file-listing level - the
        cluster-scan primitive the reference's bucketed layout exists for."""
        meta = self.get_meta(name)
        if not meta.bucket:
            raise CatalogError(f"{name} is not bucketed")
        ddir = self.data_dir(name)
        df = self._scan(meta, ddir, base_path=True)
        return _declared_columns(
            meta, df.where(F.col(BUCKET_COL).isin([int(b) for b in bucket_ids])))

    def lookup_by_key(self, name: str, key_values: dict) -> DataFrame:
        """Point lookup on the bucket columns: the ODPS hash of the key is
        computed driver-side, only that one bucket directory is scanned, and
        the equality predicates are pushed into it.  O(table/num_buckets) IO
        instead of a full scan - the hash-clustered fast path."""
        from aliyun_maxcompute_data_collectors_spark.operators import hashing as H
        from aliyun_maxcompute_data_collectors_spark import types as ot2
        from pyspark.sql import types as T

        meta = self.get_meta(name)
        if not meta.bucket or meta.bucket.cluster_type != "hash":
            raise CatalogError(f"{name} is not hash-clustered")
        b = meta.bucket
        if sorted(key_values) != sorted(b.bucket_columns):
            raise CatalogError(
                f"lookup needs exactly the bucket columns {b.bucket_columns}")
        typemap = dict(meta.columns + meta.partition_columns)
        parts = []
        for c in b.bucket_columns:
            v = key_values[c]
            dt = ot2.parse_odps_type(typemap[c])
            if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
                parts.append(H.hash_long(int(v)))
            elif isinstance(dt, T.DoubleType):
                parts.append(H.hash_double(float(v)))
            elif isinstance(dt, T.FloatType):
                parts.append(H.hash_float(float(v)))
            elif isinstance(dt, T.BooleanType):
                parts.append(H.hash_boolean(bool(v)))
            elif isinstance(dt, (T.StringType, T.BinaryType)):
                parts.append(H.hash_string(v))
            else:
                raise CatalogError(f"unsupported bucket key type {dt} for {c}")
        bucket_id = H.combine_hashes(parts) % b.num_buckets
        out = self.read_buckets(name, [bucket_id])
        for c, v in key_values.items():
            out = out.where(F.col(c) == F.lit(v))
        return out

    def max_pt(self, name: str) -> str | None:
        """Newest value of the first-level partition column (MaxPtUDF.java:31-41):
        max over non-empty partitions, string-compared like ODPS."""
        parts = self.list_partitions(name)
        if not parts:
            return None
        meta = self.get_meta(name)
        first = meta.partition_columns[0][0]
        non_empty = []
        for p in parts:
            d = self._partition_dir(name, p)
            if any(f.endswith(_DATA_SUFFIXES) for f in os.listdir(d)):
                non_empty.append(p[first])
        return max(non_empty) if non_empty else None

    # -- write path -------------------------------------------------------
    def insert(
        self,
        name: str,
        df: DataFrame,
        overwrite: bool = False,
        static_partition: dict[str, str] | None = None,
        max_records_per_file: int | None = None,
    ) -> None:
        """INSERT [OVERWRITE] ... [PARTITION (k=v, ...)].

        - static partition spec (W3): constant partition values appended as
          literal columns (OdpsExtensions.scala:63-81 semantics)
        - dynamic partitions (W2/W4): Spark's dynamic partitionOverwriteMode
          replaces only the partitions present in ``df``; the distinct
          partition count is validated against ``dynamic_partition_limit``
          (OdpsWriteBuilder.scala:144-156)
        - bucketed tables (O5/SO1): rows are routed to ``pmod(odps_hash(cols), n)``
          and sorted within buckets by the declared sort columns
        """
        meta = self.get_meta(name)
        if meta.table_type == VIRTUAL_VIEW:
            raise CatalogError(f"cannot insert into view {name}")
        pcols = [c for c, _ in meta.partition_columns]
        static_partition = dict(static_partition or {})
        for k, v in static_partition.items():
            if k not in pcols:
                raise CatalogError(f"{k} is not a partition column of {name}")
            df = df.withColumn(k, F.lit(v))

        # align to declared schema (by name, cast to declared types)
        dcols = [
            F.col(c).cast(ot.parse_odps_type(t)).alias(c) for c, t in meta.columns
        ]
        pexprs = [
            F.col(c).cast("string").alias(c) for c in pcols  # values stored as strings
        ]
        missing = [c for c, _ in meta.columns + meta.partition_columns if c not in df.columns]
        if missing:
            raise CatalogError(f"insert into {name}: missing columns {missing}")
        out = df.select(dcols + pexprs)

        dynamic_cols = [c for c in pcols if c not in static_partition]
        persisted = False
        # Arrow batch-size override for this ONE write job, carried as a
        # local so an exception between the branch below and the save
        # site can never leak it into a later insert (ADVICE r6 - an
        # instance attribute here would persist a 262144-row batch size
        # into a subsequent blob-heavy mapInPandas write).
        batch_override = None
        if dynamic_cols:
            # the guard's count and the write would otherwise recompute the
            # full upstream pipeline twice
            out = out.persist()
            persisted = True
            n_parts = out.select(pcols).distinct().count()
            if n_parts > self.dynamic_partition_limit:
                out.unpersist()
                raise PartitionLimitExceeded(
                    f"dynamic partition count {n_parts} exceeds limit "
                    f"{self.dynamic_partition_limit}"
                )

        if meta.bucket and meta.bucket.cluster_type == "hash":
            b = meta.bucket
            out = out.withColumn(BUCKET_COL, odps_bucket_id(out, b.bucket_columns, b.num_buckets))
            sort_cols = [F.col(BUCKET_COL)] + [
                F.col(c).asc() if o.upper() == "ASC" else F.col(c).desc()
                for c, o in b.sort_columns
            ]
            # co-locate each bucket id, keep rows sorted within buckets
            # (write-side Sort injection, OdpsExtensions.scala:99-119)
            out = out.repartition(b.num_buckets, F.col(BUCKET_COL)).sortWithinPartitions(*sort_cols)
            part_by = pcols + [BUCKET_COL]
            # string/binary/decimal bucket keys hash through an Arrow UDF;
            # the default 10k-row Arrow batches spend ~25% of the hash step
            # on per-batch roundtrip overhead (measured sf0.1: 0.42s ->
            # 0.29s at 256k batches for 600k string keys).  The key column
            # is narrow, so big batches are safe HERE - but the conf is
            # session-global and mapInPandas over blob columns would blow
            # up at 256k rows/batch, so it is raised only for the duration
            # of this write job and always restored.
            batch_override = "262144"
        elif meta.bucket and meta.bucket.cluster_type == "range":
            b = meta.bucket
            # range clustering: distributed range partitioning (sampled
            # boundaries) + ordered buckets; the SO2 'Distributions.ordered'
            # requirement (OdpsWriteBuilder.scala:69-105).  Bucket boundaries
            # are DATA, not contract: per-bucket min/max stats are recorded
            # after the write and drive range-pruned reads (read_range).
            key_cols = [F.col(c) for c in b.bucket_columns]
            out = (
                out.repartitionByRange(b.num_buckets, *key_cols)
                .withColumn(BUCKET_COL, F.spark_partition_id())
                .sortWithinPartitions(*key_cols)
            )
            part_by = pcols + [BUCKET_COL]
        else:
            part_by = pcols

        is_range = bool(meta.bucket and meta.bucket.cluster_type == "range")
        writer = out.write.mode("overwrite" if overwrite else "append")
        # W5 writer chunking parity: the reference bounds writer chunks/blocks
        # (4MB chunks, 20k blocks).  Two knobs: rows-per-file directly
        # ('write.max-records-per-file'), or a byte target
        # ('write.target-file-bytes') translated to rows via the estimated
        # row width of the data schema - the same width model the reference
        # uses for its size stats (OdpsScan.scala:267-279).
        max_rec = max_records_per_file or meta.properties.get("write.max-records-per-file")
        if not max_rec:
            target_bytes = meta.properties.get("write.target-file-bytes")
            if target_bytes:
                max_rec = max(1, int(target_bytes) // ot.estimated_row_bytes(meta.data_schema))
        if max_rec:
            writer = writer.option("maxRecordsPerFile", int(max_rec))
        if part_by:
            writer = writer.partitionBy(*part_by)
        fmt = self.storage_format(meta)
        writer = writer.format(fmt)
        if fmt == "csv":
            writer = (writer
                      .option("delimiter", meta.properties.get("serde.delimiter", ","))
                      .option("header", meta.properties.get("serde.header", "false")))
        batch_key = "spark.sql.execution.arrow.maxRecordsPerBatch"
        old_batch = None
        try:
            if batch_override is not None:
                old_batch = self.spark.conf.get(batch_key)  # has a default
                self.spark.conf.set(batch_key, batch_override)
            writer.save(self.data_dir(name))
        finally:
            if batch_override is not None and old_batch is not None:
                self.spark.conf.set(batch_key, old_batch)
            if persisted:
                out.unpersist()
        self.refresh(name)
        self._invalidate_zonemap(name)
        if is_range:
            self._record_range_stats(name, meta)

    def _invalidate_zonemap(self, name: str) -> None:
        """Data changed -> the file-level index is stale; drop it (rebuild is
        an explicit, metadata-only ``build_zonemap`` call)."""
        meta = self.get_meta(name)
        if "zonemap" in (meta.properties or {}):
            meta.properties.pop("zonemap", None)
            self._write_meta(name, meta)

    def _record_range_stats(self, name: str, meta: TableMeta) -> None:
        """Per-bucket min/max of the first range key -> meta (read_range prunes
        buckets whose range cannot overlap a predicate).  All-NULL buckets
        record null bounds and are never pruned (always scanned - safe)."""
        key = meta.bucket.bucket_columns[0]
        ddir = self.data_dir(name)
        df = self._scan(meta, ddir, base_path=True)
        stats = (
            df.groupBy(BUCKET_COL)
            .agg(F.min(key).alias("lo"), F.max(key).alias("hi"))
            .collect()
        )
        meta.properties["range_stats"] = {
            str(r[BUCKET_COL]): [
                None if r["lo"] is None else str(r["lo"]),
                None if r["hi"] is None else str(r["hi"]),
            ]
            for r in stats
        }
        self._write_meta(name, meta)

    def read_range(self, name: str, lo=None, hi=None) -> DataFrame:
        """Range-pruned scan of a range-clustered table: only buckets whose
        recorded [min,max] overlaps [lo,hi] are listed, then the exact
        predicate applies on top."""
        meta = self.get_meta(name)
        if not meta.bucket or meta.bucket.cluster_type != "range":
            raise CatalogError(f"{name} is not range-clustered")
        key = meta.bucket.bucket_columns[0]
        stats = meta.properties.get("range_stats", {})
        key_type = ot.parse_odps_type(dict(meta.columns)[key])

        def cast(v):
            return ot.coerce_string(v, key_type)

        keep = []
        for bid, (blo, bhi) in stats.items():
            if blo is None or bhi is None:
                keep.append(int(bid))  # all-NULL bucket: bounds unknown, scan it
                continue
            if lo is not None and cast(bhi) < lo:
                continue
            if hi is not None and cast(blo) > hi:
                continue
            keep.append(int(bid))
        out = self.read_buckets(name, keep) if keep else self.read_table(name).limit(0)
        if lo is not None:
            out = out.where(F.col(key) >= F.lit(lo))
        if hi is not None:
            out = out.where(F.col(key) <= F.lit(hi))
        return out

    def ctas(self, name: str, query: str | DataFrame, **create_kw) -> None:
        """CREATE TABLE AS SELECT (W6)."""
        df = self.spark.sql(query) if isinstance(query, str) else query
        cols = [(f.name, ot.to_odps_type(f.dataType)) for f in df.schema.fields]
        self.create_table(name, cols, **create_kw)
        self.insert(name, df, overwrite=True)

    # -- stats ------------------------------------------------------------
    def compact(
        self,
        name: str,
        target_file_bytes: int = 256 << 20,
        where: str | None = None,
    ) -> dict:
        """Small-file compaction: rewrite the table (or, with ``where``, the
        matching partitions — dynamic overwrite touches only partitions
        present in the rewritten frame) so files approach
        ``target_file_bytes``.  Rows of one partition value are co-located
        into one task (repartition on the partition columns) and split into
        target-size files via maxRecordsPerFile; bucketed tables re-cluster
        through the normal bucket-write path.

        At 100 TB, compact partition-by-partition (``where``) rather than
        whole-table: the rewrite materializes the frame (localCheckpoint) to
        decouple it from the files being replaced.

        Returns {files_before, files_after, rows}.
        """
        import math

        meta = self.get_meta(name)
        if meta.table_type == VIRTUAL_VIEW:
            raise CatalogError(f"cannot compact view {name}")
        before = self.table_stats(name)
        df = self.read_table(name)
        if where:
            if not meta.partition_columns:
                raise CatalogError("compact(where=...) requires a partitioned table")
            df = df.where(where)
        df = df.localCheckpoint(eager=True)
        pcols = [c for c, _ in meta.partition_columns]
        if meta.bucket is None:
            n = max(1, math.ceil(before["size_in_bytes"] / target_file_bytes))
            df = (df.repartition(n, *[F.col(c) for c in pcols]) if pcols
                  else df.repartition(n))
        max_rec = max(1, target_file_bytes // ot.estimated_row_bytes(meta.data_schema))
        self.insert(name, df, overwrite=True, max_records_per_file=max_rec)
        after = self.table_stats(name)
        return {"files_before": before["num_files"],
                "files_after": after["num_files"],
                "rows": after["num_rows"]}

    def table_stats(self, name: str) -> dict:
        """sizeInBytes/numFiles/numRows for CBO-style decisions
        (OdpsScan.scala:267-279).  Row counts come from file footers (parquet
        metadata / ORC stripe stats) - metadata only, no data IO (the
        reference's getTotalRowCount path)."""
        import pyarrow.parquet as pq

        fmt = self.storage_format(self.get_meta(name))
        ddir = self.data_dir(name)
        size = files = rows = 0
        for root, _, fnames in os.walk(ddir):
            for fn in fnames:
                if not fn.endswith(_DATA_SUFFIXES):
                    continue
                p = os.path.join(root, fn)
                files += 1
                size += os.path.getsize(p)
                if fn.endswith(".parquet"):
                    rows += pq.ParquetFile(p).metadata.num_rows
                elif fn.endswith(".orc"):
                    from pyarrow import orc as _orc
                    rows += _orc.ORCFile(p).nrows
        if files and fmt not in _FOOTER_FORMATS:
            # text formats have no footers; row count is one (distributed)
            # scan - the only stats path that touches data
            rows = self.read_table(name).count()
        return {"size_in_bytes": size, "num_files": files, "num_rows": rows}

    def analyze_table(self, name: str) -> dict:
        """ANALYZE TABLE: persist stats into table meta so planners (and
        humans) can read them without touching storage."""
        stats = self.table_stats(name)
        meta = self.get_meta(name)
        meta.properties["stats"] = stats
        self._write_meta(name, meta)
        return stats

    # -- zonemap file skipping -------------------------------------------
    def build_zonemap(self, name: str, columns: list[str]) -> dict:
        """Per-FILE min/max index for data columns, harvested from parquet
        footers (metadata-only IO) and persisted in table meta.

        This generalizes partition pruning the way the reference's range
        stats generalize bucket pruning: a predicate on a NON-partition
        column can skip whole files whose [min,max] cannot match — the same
        data-skipping idea lakehouse formats keep in their manifests.  At
        100 TB the zonemap is O(files x cols) driver metadata; harvesting is
        one footer read per file (no row IO).  Parquet-format tables only
        (ORC stripe stats are not exposed per-file by pyarrow).
        """
        import pyarrow.parquet as pq

        meta = self.get_meta(name)
        if self.storage_format(meta) != "parquet":
            raise CatalogError("zonemap requires a parquet-format table")
        data_cols = {c for c, _ in meta.columns}
        for c in columns:
            if c not in data_cols:
                raise CatalogError(f"zonemap column {c!r} is not a data column")
        ddir = self.data_dir(name)
        zmap: dict[str, dict[str, list]] = {}
        for root, _, fnames in os.walk(ddir):
            for fn in fnames:
                if not fn.endswith(".parquet"):
                    continue
                p = os.path.join(root, fn)
                md = pq.ParquetFile(p).metadata
                idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
                per: dict[str, list] = {}
                for c in columns:
                    if c not in idx:
                        per[c] = [None, None]  # file predates ALTER ADD COLUMNS
                        continue
                    lo = hi = None
                    for rg in range(md.num_row_groups):
                        st = md.row_group(rg).column(idx[c]).statistics
                        if st is None or not st.has_min_max:
                            lo = hi = None
                            break  # no stats for some row group: never skip
                        lo = st.min if lo is None or st.min < lo else lo
                        hi = st.max if hi is None or st.max > hi else hi
                    per[c] = [None if lo is None else str(lo),
                              None if hi is None else str(hi)]
                zmap[os.path.relpath(p, ddir)] = per
        meta.properties["zonemap"] = {"columns": list(columns), "files": zmap}
        self._write_meta(name, meta)
        return meta.properties["zonemap"]

    def read_skipping(self, name: str, column: str, lo=None, hi=None) -> DataFrame:
        """Scan with zonemap file pruning: only files whose recorded
        [min,max] for ``column`` can overlap [lo,hi] are listed; the exact
        predicate still applies on top (the zonemap is a pruning hint, never
        a correctness dependency).  Files without recorded bounds are always
        scanned — safe."""
        meta = self.get_meta(name)
        zm = meta.properties.get("zonemap")
        if not zm or column not in zm.get("columns", []):
            raise CatalogError(f"no zonemap on {name} for column {column!r}")
        key_type = ot.parse_odps_type(dict(meta.columns)[column])

        def cast(v):
            return ot.coerce_string(v, key_type)

        ddir = self.data_dir(name)
        keep = []
        for rel, per in zm["files"].items():
            blo, bhi = per.get(column, [None, None])
            if blo is not None and hi is not None and cast(blo) > hi:
                continue
            if bhi is not None and lo is not None and cast(bhi) < lo:
                continue
            keep.append(os.path.join(ddir, rel))
        if not keep:
            out = self.read_table(name).limit(0)
        else:
            reader = self.spark.read.option("basePath", ddir)
            df = reader.parquet(*keep)
            cols = []
            for f_name, f_type in meta.columns:
                if f_name in df.columns:
                    cols.append(F.col(f_name).cast(ot.parse_odps_type(f_type)).alias(f_name))
                else:
                    cols.append(F.lit(None).cast(ot.parse_odps_type(f_type)).alias(f_name))
            for p_name, p_type in meta.partition_columns:
                cols.append(F.col(p_name).cast(ot.parse_odps_type(p_type)).alias(p_name))
            out = df.select(cols)
        col = F.col(column)
        if lo is not None:
            out = out.where(col >= F.lit(lo))
        if hi is not None:
            out = out.where(col <= F.lit(hi))
        return out

    def zonemap_pruned_files(self, name: str, column: str, lo=None, hi=None) -> tuple[int, int]:
        """(files_kept, files_total) for a bound — skipping-effectiveness
        probe used by tests and capacity planning."""
        meta = self.get_meta(name)
        zm = meta.properties.get("zonemap") or {"files": {}}
        total = len(zm["files"])
        key_type = ot.parse_odps_type(dict(meta.columns)[column])
        kept = 0
        for per in zm["files"].values():
            blo, bhi = per.get(column, [None, None])
            if blo is not None and hi is not None and ot.coerce_string(blo, key_type) > hi:
                continue
            if bhi is not None and lo is not None and ot.coerce_string(bhi, key_type) < lo:
                continue
            kept += 1
        return kept, total


_DATA_SUFFIXES = (".parquet", ".orc", ".csv", ".json")


def _has_data(ddir: str) -> bool:
    for _root, _dirs, files in os.walk(ddir):
        if any(f.endswith(_DATA_SUFFIXES) for f in files):
            return True
    return False
