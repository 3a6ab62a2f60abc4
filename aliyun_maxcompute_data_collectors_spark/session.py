"""Tuned SparkSession factory.

Encodes the reference's performance-relevant defaults (BASELINE.md) as their
Spark equivalents:

- split target 256 MB (``OdpsOptions.scala:69``) -> ``spark.sql.files.maxPartitionBytes``
- vectorized read, batch 4096 (``OdpsOptions.scala:46,56``) -> Spark columnar
  parquet reader (built-in) + ``parquet.columnarReaderBatchSize``
- zstd transport (``OdpsOptions.scala:82``) -> parquet zstd codec
- AQE on: runtime coalescing / skew-join handling replaces the reference's
  hand-rolled split sizing (``OdpsScan.scala:105-120``)

Designed for a 1000-executor cluster; on ``local[N]`` the same knobs apply
with N cores.
"""

from __future__ import annotations

import logging
import os
from contextlib import contextmanager

from pyspark.sql import SparkSession

_log = logging.getLogger(__name__)

DEFAULT_SHUFFLE_PARTITIONS = 32


def get_spark(
    app_name: str = "aliyun-maxcompute-data-collectors-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` when the env var is
    set, else ``local[*]``.  On a real cluster pass ``master=None`` and submit
    through spark-submit; every config below is cluster-safe.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
        )

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # --- determinism / semantics -------------------------------------
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
        # TIMESTAMP(NANOS) parquet columns surface as long and are converted
        # to micros in load_tables (ODPS TIMESTAMP truncates nanos - SURVEY 1.2)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # ODPS DATETIME is millis / TIMESTAMP is micros (SURVEY 1.2); Spark
        # micros covers both - see types.datetime_millis for the ms surface.
        # Java-style wraparound arithmetic (Spark 3.x default): lets the
        # ODPS bucket hash run as pure codegen expressions (operators/
        # hashing.py); on an ANSI session odps_hash falls back to a UDF.
        .config("spark.sql.ansi.enabled", "false")
        # --- adaptive execution ------------------------------------------
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # --- scan sizing (reference: 256MB splits, OdpsOptions.scala:69) --
        .config("spark.sql.files.maxPartitionBytes", "268435456")
        .config("spark.sql.files.openCostInBytes", "4194304")
        # --- columnar / arrow --------------------------------------------
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.parquet.columnarReaderBatchSize", "4096")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.parquet.filterPushdown", "true")
        # filter pushdown into Python Data Sources (sources/pyds.py's
        # graft_snapshot manifest-stats file skipping needs it; a reader
        # implementing pushFilters is an ERROR while this is false)
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # --- partitioned writes (reference W2 dynamic overwrite) ----------
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # --- quality of life ---------------------------------------------
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


# runtime-settable confs every query path depends on; applied defensively in
# load_tables because the caller (e.g. the verification driver) may hand us a
# session built without get_spark
_REQUIRED_RUNTIME_CONFS = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",   # events.ts is TIMESTAMP(NANOS)
    "spark.sql.parquet.inferTimestampNTZ.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.sources.partitionOverwriteMode": "dynamic",
    "spark.sql.adaptive.enabled": "true",
    # Java-style wraparound arithmetic: keeps the ODPS bucket hash on the
    # pure-codegen expression path (operators/hashing.py) and matches the
    # semantics the engine's own sessions run with (get_spark above).
    "spark.sql.ansi.enabled": "false",
}


@contextmanager
def scoped_sql_conf(spark: SparkSession, key: str, value: str):
    """Set a runtime SQL conf for the duration of a block, restoring the
    EXPLICIT-SET state on exit: a key the user had explicitly set is
    re-set to its prior value; a key at engine default is unset again
    (re-setting the default would leave it explicitly set - a diff the
    driver harness's conf-leak check rightly flags).  Callers that
    return lazy DataFrames must materialize INSIDE the block
    (localCheckpoint(eager=True)) - Spark reads most confs at plan or
    execution time, not closure time."""
    explicit = any(r["key"] == key for r in spark.sql("SET").collect())
    prior = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if explicit:
            spark.conf.set(key, prior)
        else:
            spark.conf.unset(key)


def ensure_runtime_confs(spark: SparkSession) -> None:
    for k, v in _REQUIRED_RUNTIME_CONFS.items():
        try:
            if spark.conf.get(k, None) != v:
                spark.conf.set(k, v)
        except Exception:
            pass


def load_tables(spark: SparkSession, sf_dir: str, names: list[str] | None = None) -> dict:
    """Load the driver's parquet tables and register temp views.

    Returns {name: DataFrame}. Views let both the DataFrame API and
    ``spark.sql`` paths address the same tables.

    Each scan is pinned to the schema of its parquet footer, read on the
    driver with pyarrow (:func:`types.parquet_read_schema`), so loading
    launches no Spark job; a footer type outside the pinned set, or a
    partitioned directory, leaves the schema to Spark's inference and
    the module logger says why.  TIMESTAMP(NANOS) columns surface as
    NTZ micros.
    """
    ensure_runtime_confs(spark)
    all_names = [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]
    out = {}
    for name in names or all_names:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            # key carries the session OBJECT (held strongly in the
            # value) so a recycled id(spark) can never alias a dead
            # session's entry (ADVICE r7, same class as the PQ caches);
            # applicationId alone would wrongly share entries - and temp
            # views - across newSession() siblings
            key = (id(spark), path)
            ent = _DF_CACHE.get(key)
            df = ent[1] if ent is not None and ent[0] is spark else None
            if df is None:
                df = _read_pinned(spark, path)
                if len(_DF_CACHE) > 64:
                    _DF_CACHE.clear()
                    _SCAN_SPLIT_EST.clear()
                    _SCAN_BYTES_EST.clear()
                _DF_CACHE[key] = (spark, df)
                max_split = _parse_bytes_conf(spark.conf.get(
                    "spark.sql.files.maxPartitionBytes", "134217728"))
                tbytes = _table_bytes(path)
                _SCAN_SPLIT_EST[id(df)] = max(1, -(-tbytes // max_split))
                _SCAN_BYTES_EST[id(df)] = tbytes
            df.createOrReplaceTempView(name)
            out[name] = df
        elif names is not None:
            # caller asked for this table explicitly - fail with the path,
            # not a downstream KeyError
            raise FileNotFoundError(f"table {name!r} not found at {path}")
    return out


_SIZE_SUFFIX = {"": 1, "b": 1, "k": 1 << 10, "kb": 1 << 10,
                "m": 1 << 20, "mb": 1 << 20, "g": 1 << 30, "gb": 1 << 30,
                "t": 1 << 40, "tb": 1 << 40}


def _parse_bytes_conf(value: str, default: int = 134217728) -> int:
    """Spark byte-size conf values accept suffixed forms ('256m', '128MB',
    '1g') as well as plain byte counts - parse them all; fall back to the
    default rather than crashing table loading on an exotic spelling."""
    s = str(value).strip().lower()
    i = len(s)
    while i > 0 and not s[:i].isdigit():
        i -= 1
    try:
        return int(s[:i]) * _SIZE_SUFFIX[s[i:].strip()]
    except (ValueError, KeyError):
        return default


def _table_bytes(path: str) -> int:
    """Total data bytes of a parquet table - single file or a directory
    tree.  Partitioned tables nest data files under partition dirs
    (``dt=2024-01-01/part-*.parquet``), so walk recursively; a top-level
    listdir would sum such tables to 0 and defeat the scan-split /
    salted-top-k parallelism heuristics downstream."""
    if not os.path.isdir(path):
        return os.path.getsize(path)
    total = 0
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        total += sum(
            os.path.getsize(os.path.join(root, p)) for p in files
            if p.endswith(".parquet") and not p.startswith(("_", ".")))
    return total


# plan cache: re-reading the same parquet path re-lists files and re-reads
# footers on the driver; the logical plan is immutable so reuse is safe
_DF_CACHE: dict = {}

# bytes-based scan-split estimate per cached scan DataFrame (keyed by id();
# entries live exactly as long as _DF_CACHE holds the df).  Lets
# ensure_parallelism decide without df.rdd.getNumPartitions(), which forces
# a full physical planning pass per call - cheap locally, measurable on wide
# plans at scale.
_SCAN_SPLIT_EST: dict[int, int] = {}
_SCAN_BYTES_EST: dict[int, int] = {}

# Floor on shuffled bytes per repartition task when the caller declares its
# input width (r13, VERDICT r12 ask #4).  A RoundRobin repartition pays a
# full serialize+shuffle of every input row; when that leaves tasks under
# ~64 MB each the serialization costs more than the parallelism buys for
# plain (non-row-amplifying) operators - the driver's own 8-vs-32-core run
# showed q1 FASTER on 8 cores (ratio 0.66) with the unconditional
# repartition(32) over an 11 MB scan.  At production widths
# bytes/64MB >> core count, the cap exceeds ``target`` and behavior is
# unchanged.  Env-overridable so cluster profiles can tune it.
ENSURE_PARALLELISM_BYTES_PER_TASK = int(os.environ.get(
    "SPARK_GRAFT_BYTES_PER_TASK", str(64 << 20)))


def estimated_scan_splits(df) -> int | None:
    """Bytes-based scan-split estimate for a ``load_tables`` DataFrame, or
    None for derived plans.  Callers that adapt their plan shape to input
    width (e.g. salted top-k) use this to avoid a planning pass."""
    return _SCAN_SPLIT_EST.get(id(df))


def estimated_scan_bytes(df) -> int | None:
    """File-size estimate for a ``load_tables`` DataFrame, or None for
    derived plans.  Callers pass it to :func:`ensure_parallelism` as
    ``input_bytes`` so the repartition target scales with data width
    instead of the core count."""
    return _SCAN_BYTES_EST.get(id(df))


def ensure_parallelism(df, min_partitions: int | None = None,
                       input_bytes: int | None = None):
    """Round-robin repartition iff the plan's partitioning is below the
    cluster's parallelism.

    Use before CPU-amplifying operators (explode fan-out, pandas UDFs, cross
    joins): when the input is a few small files / single row-group parquet,
    the scan yields 1-2 partitions and the expensive work would run on one
    core.  On a healthy many-split scan this is a no-op - no shuffle is
    added at 100 TB where the scan is already wide.

    ``input_bytes`` (for NON-amplifying callers that know their scan width,
    via :func:`estimated_scan_bytes`): cap the target at
    ``ceil(input_bytes / ENSURE_PARALLELISM_BYTES_PER_TASK)`` - below that
    the repartition's full serialize+shuffle of the input costs more than
    the added cores recover (measured on q1 at sf0.1; see docstring of the
    constant).  Row-amplifying callers (shingle/simhash explode, minhash)
    must NOT pass it: their post-repartition CPU per input byte is large,
    so spreading even a tiny input pays.

    For bare ``load_tables`` scans the split count is ESTIMATED from file
    bytes / maxPartitionBytes (no planning pass); other plans fall back to
    ``df.rdd.getNumPartitions()``.
    """
    spark = df.sparkSession
    target = min_partitions or spark.sparkContext.defaultParallelism
    if input_bytes is not None:
        target = min(target, max(
            1, -(-input_bytes // ENSURE_PARALLELISM_BYTES_PER_TASK)))
        if target <= 1:
            return df
    n = _SCAN_SPLIT_EST.get(id(df))
    if n is None:
        n = df.rdd.getNumPartitions()
    if n < target:
        return df.repartition(target)
    return df


def _footer_schema(spark: SparkSession, path: str):
    """``types.parquet_read_schema`` of the table's first footer.  A
    directory table's parts share one schema; a partitioned one also
    carries partition columns only Spark's discovery knows."""
    import pyarrow.parquet as pq

    from aliyun_maxcompute_data_collectors_spark.types import \
        parquet_read_schema

    if os.path.isdir(path):
        names = sorted(p for p in os.listdir(path)
                       if not p.startswith(("_", ".")))
        if any(os.path.isdir(os.path.join(path, p)) for p in names):
            return None, [], "a partitioned directory"
        parts = [p for p in names if p.endswith(".parquet")]
        if not parts:
            return None, [], "no parquet part file"
        path = os.path.join(path, parts[0])
    binary_as_string = spark.conf.get(
        "spark.sql.parquet.binaryAsString", "false").lower() == "true"
    return parquet_read_schema(pq.ParquetFile(path).schema, binary_as_string)


def _read_pinned(spark: SparkSession, path: str):
    """Parquet scan under its footer schema; TIMESTAMP(NANOS) columns,
    which arrive as long (nanosAsLong), become NTZ micros - truncation
    toward earlier, the same unit DuckDB reads."""
    from pyspark.sql import functions as F

    schema, nanos, why = _footer_schema(spark, path)
    if why is not None:
        _log.info("%s: schema left to Spark's inference: %s", path, why)
    df = (spark.read if schema is None else spark.read.schema(schema)) \
        .parquet(path)
    for c in nanos:
        # integer `div`, NOT `/`: float division of epoch-nanos longs
        # (~1.7e18) exceeds double precision and corrupts the low digits
        df = df.withColumn(
            c, F.timestamp_micros(F.expr(f"`{c}` div 1000"))
            .cast("timestamp_ntz"))
    return df
