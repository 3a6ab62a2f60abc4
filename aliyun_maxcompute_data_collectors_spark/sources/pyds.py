"""Spark Python Data Sources (``pyspark.sql.datasource``, Spark 4) for the
engine's own formats: snapshot tables and Avro container files.

Why this module exists: the reference exposes its tables to ANY tool
holding a SparkSession through a DSv2 catalog plugin (spark-connector
``OdpsTableCatalog.scala:91-96,427-445``) - third-party code never
imports the connector's Python-side helpers.  A JVM catalog plugin is
not buildable from pure PySpark, but Spark 4's Python Data Source API is
the same DSv2 plumbing one level down: after

    register_python_datasources(spark)

any code - including code that has never heard of this package - can

    spark.read.format("graft_snapshot").option("path", root)
         .option("version", "3").load().where("o_orderkey < 100")
    df.write.format("graft_snapshot").option("path", root)
      .mode("append").save()
    spark.readStream.format("graft_snapshot").option("path", root).load()
    df.writeStream.format("graft_snapshot").option("path", root)...
    spark.read.format("graft_avro").option("path", f).load()

with snapshot isolation, time travel, manifest-stats FILE PRUNING wired
into Spark's own filter pushdown, and transactional publish-on-commit
writes running through Spark's DSv2 commit protocol (task files are
invisible until the driver's ``commit()`` publishes a manifest - the
``OdpsBatchWrite.scala:42-95`` contract, now enforced by Spark itself:
retried/speculative task attempts return no commit message, so their
files are never published).  Structured Streaming rides the same
manifest log: the STREAM SOURCE uses the snapshot version as its offset
and each micro-batch reads exactly the files the append commits in
(start, end] added (the Delta/Iceberg streaming-source design); the
STREAM SINK publishes one ``stream-append:batch=<id>``-tagged commit
per epoch and recognizes replayed epochs by their batch id - per-batch
exactly-once with the table's own commit log as the transaction record.

Scale notes:
- Planning is O(files) driver metadata (one manifest JSON / one Avro
  header per file); no data IO before tasks run.
- ``pushFilters`` prunes whole files from manifest [min, max] stats and
  reports every filter back as UNHANDLED, so Spark re-applies exact row
  filtering - pruning can only remove provably-dead files, never change
  results.
- Read partitions bin-pack files to ``partition_bytes`` (default 128MB,
  mirroring ``spark.sql.files.maxPartitionBytes``); Avro ranges split
  one giant container file across tasks by sync markers.
- Executors read/write paths directly: the same local/shared-FS contract
  as every source in this package (object stores need the caveats
  documented in snapshots.py).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import uuid
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

from aliyun_maxcompute_data_collectors_spark.manifest_store import (
    ManifestStore,
    SnapshotError,
    prune_manifest_files,
    retry_on_conflict,
)
from aliyun_maxcompute_data_collectors_spark.snapshots import (
    _collect_file_stats,
    unify_schemas,
)

_DEFAULT_PARTITION_BYTES = 128 * 1024 * 1024

# Filter class -> manifest prune op.  Only single-segment column paths
# prune (nested fields are never statted); everything else scans.
_FILTER_OPS = {
    EqualTo: "==",
    GreaterThan: ">",
    GreaterThanOrEqual: ">=",
    LessThan: "<",
    LessThanOrEqual: "<=",
}


_PUSHDOWN_PLANNER = "pyspark.sql.worker.data_source_pushdown_filters"


def _pushdown_enabled() -> bool:
    """Whether the read calling ``reader()`` will be offered filters.

    A pushFilters-declaring Python reader FAILS to initialize under the
    default conf, which would break every bare-session read, so the
    pushdown variant is picked only when pushdown is on.  Spark calls
    ``reader()`` inside a Python planner worker, where there is no
    active session to ask; but it runs the pushdown planner module only
    when ``spark.sql.python.filterPushdown.enabled`` is on, and the
    plain read planner otherwise.  So the caller's module decides; a
    direct call on the driver reads the active session's conf."""
    f = sys._getframe(1)
    while f is not None:
        spec = f.f_globals.get("__spec__")
        if getattr(spec, "name", None) == _PUSHDOWN_PLANNER:
            return True
        f = f.f_back
    from pyspark.sql import SparkSession
    active = SparkSession.getActiveSession()
    if active is None:
        return False
    try:
        return str(active.conf.get("spark.sql.python.filterPushdown.enabled",
                                   "false")).lower() == "true"
    except Exception:
        return False


def _pack_files(files: list[str], target_bytes: int) -> list[list[str]]:
    """First-fit bin-pack by on-disk size so one task reads ~target
    bytes; a file larger than the target gets its own partition (parquet
    row-group splitting below file level is not worth the complexity
    here - snapshot writers already target bounded file sizes)."""
    sized = [(f, os.path.getsize(f)) for f in files]
    bins: list[list[str]] = []
    fill: list[int] = []
    for f, sz in sorted(sized, key=lambda t: -t[1]):
        for i, used in enumerate(fill):
            if used + sz <= target_bytes:
                bins[i].append(f)
                fill[i] += sz
                break
        else:
            bins.append([f])
            fill.append(sz)
    return bins or [[]]


@dataclass
class _FilesPartition(InputPartition):
    files: list
    # {file: dv sidecar path} for files carrying MOR deletion vectors
    # (r11); positions are subtracted batch-by-batch in _scan_adapted
    dvs: dict | None = None


# CHANGE DATA FEED (r10): metadata columns appended to the table schema
# when ``change_feed=true`` - the Delta CDF / Iceberg changelog-scan
# column contract.
CDF_TYPE_COL = "_change_type"
CDF_VERSION_COL = "_commit_version"


@dataclass
class _ChangePartition(InputPartition):
    # (file path, "insert"|"delete", commit version, dv sidecar path or
    # None) - the dv subtracts MOR-deleted positions so a clone commit's
    # inserts / a COW-over-DV commit's deletes stay exact (ADVICE r11 #1)
    entries: list


def _pack_entries(entries: list, target_bytes: int) -> list[list]:
    """First-fit bin-pack CDF entries by their file's on-disk size (same
    policy as _pack_files; an entry's file exists until vacuum, which is
    the streaming-retention contract anyway)."""
    sized = [(e, os.path.getsize(e[0])) for e in entries]
    bins: list[list] = []
    fill: list[int] = []
    for e, sz in sorted(sized, key=lambda t: -t[1]):
        for i, used in enumerate(fill):
            if used + sz <= target_bytes:
                bins[i].append(e)
                fill[i] += sz
                break
        else:
            bins.append([e])
            fill.append(sz)
    return bins or [[]]


def _scan_change_entries(entries: list, target_spark_schema) -> "Iterator":
    """Arrow batches for CDF entries: each file scans conformed to the
    TABLE part of the schema (schema evolution handled by _scan_adapted)
    and the two metadata columns are appended as constants per batch -
    ``pa.repeat`` run-end-free constant arrays, no per-row python."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    target = to_arrow_schema(target_spark_schema)
    base = StructType([f for f in target_spark_schema.fields
                       if f.name not in (CDF_TYPE_COL, CDF_VERSION_COL)])
    for f, ctype, ver, dv in entries:
        for batch in _scan_adapted([f], base,
                                   dvs={f: dv} if dv else None):
            arrays = list(batch.columns)
            arrays.append(pa.repeat(pa.scalar(ctype, pa.string()),
                                    batch.num_rows))
            arrays.append(pa.repeat(pa.scalar(int(ver), pa.int64()),
                                    batch.num_rows))
            yield pa.RecordBatch.from_arrays(arrays, schema=target)


def _dv_positions(dv_path: str, file: str):
    """Sorted row indices MOR-deleted from ``file`` per its deletion
    vector sidecar (r11) - a tiny parquet read per dv'd file."""
    import numpy as np
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    t = pq.read_table(dv_path, columns=["file", "row_index"])
    # sidecar 'file' values live in the SCAN namespace (normalized
    # _metadata.file_path); the partition hands us the MANIFEST string.
    # They are equal on plain roots; under a symlinked root (macOS
    # /var -> /private/var) the realpath form bridges them - the same
    # bridge _map_hits_to_manifest applies driver-side.
    cands = {file, os.path.realpath(file)}
    hit = t.filter(pc.is_in(t.column("file"),
                            value_set=__import__("pyarrow").array(
                                sorted(cands))))
    return np.sort(hit.column("row_index").to_numpy(zero_copy_only=False))


def _scan_adapted(files: list, target_spark_schema,
                  dvs: dict | None = None) -> "Iterator":
    """Yield arrow batches for ``files`` conformed to the table's
    unified schema: files that predate an added column emit it as NULL,
    column order follows the schema, and types cast defensively.  Files
    already matching pass through untouched (the common, zero-copy
    case).  This is what makes SCHEMA EVOLUTION work through the DSv2
    read path - Spark expects every batch to match the logical schema.

    ``dvs`` ({file: sidecar path}, r11): MOR-deleted positions are
    dropped batch-by-batch with one boolean-mask filter - vectorized,
    no per-row python, so the format API reads DV tables exactly."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    target = to_arrow_schema(target_spark_schema)
    names = list(target.names)
    for f in files:
        pf = pq.ParquetFile(f)
        have = set(pf.schema_arrow.names)
        cols = [n for n in names if n in have]
        pos = (_dv_positions(dvs[f], f)
               if dvs and f in dvs else None)
        offset = 0
        for batch in pf.iter_batches(columns=cols or None):
            if pos is not None:
                n = batch.num_rows
                local = pos[(pos >= offset) & (pos < offset + n)] - offset
                offset += n
                if len(local):
                    mask = np.ones(n, dtype=bool)
                    mask[local] = False
                    batch = batch.filter(pa.array(mask))
            # conform EVERY batch to the one canonical arrow schema -
            # the DSv2 arrow channel requires a single schema across the
            # whole stream, so even matching files re-wrap (zero-copy
            # unless a cast is genuinely needed)
            arrays = []
            for field in target:
                if field.name in have:
                    a = batch.column(batch.schema.get_field_index(field.name))
                    if a.type != field.type:
                        a = a.cast(field.type)
                    arrays.append(a)
                else:
                    arrays.append(pa.nulls(batch.num_rows, field.type))
            yield pa.RecordBatch.from_arrays(arrays, schema=target)


class _SnapshotReaderNoPushdown(DataSourceReader):
    """Reads one pinned manifest (snapshot isolation: the file list is
    resolved at plan time; later commits never disturb this scan).

    This base variant does NOT declare ``pushFilters``: PySpark refuses
    to initialize a pushdown-capable Python reader unless
    ``spark.sql.python.filterPushdown.enabled`` is on (default off), so
    a bare session that never set the conf gets this class - every read
    works, just without manifest-stats file skipping.  Sessions with
    the conf on get :class:`_SnapshotReader` below."""

    def __init__(self, manifest: dict, options, schema):
        self._manifest = manifest
        self._files = list(manifest["files"])
        self._dvmap = manifest.get("dvs") or {}
        self._schema = schema
        self._partition_bytes = int(
            options.get("partition_bytes", _DEFAULT_PARTITION_BYTES))

    def partitions(self):
        out = []
        for b in _pack_files(self._files, self._partition_bytes):
            dvs = {f: self._dvmap[f]["path"] for f in b
                   if f in self._dvmap}
            out.append(_FilesPartition(b, dvs or None))
        return out

    def read(self, partition):
        yield from _scan_adapted(partition.files, self._schema,
                                 getattr(partition, "dvs", None))


class _SnapshotChangeReader(DataSourceReader):
    """BATCH change-data-feed read (r10): ``change_feed=true`` with
    ``starting_version`` (exclusive) and optional ``ending_version``
    (inclusive, default HEAD) scans the file-level changelog between two
    snapshots - the scheduled-incremental-job twin of the CDF stream.
    Same granularity contract: a COW-rewritten file's unchanged rows
    appear as delete+insert pairs; compact/cluster/consolidate commits
    emit nothing."""

    def __init__(self, path: str, options, schema):
        self._schema = schema
        self._partition_bytes = int(
            options.get("partition_bytes", _DEFAULT_PARTITION_BYTES))
        tab = ManifestStore(path)
        start = options.get("starting_version")
        if start is None:
            raise SnapshotError(
                "graft_snapshot change_feed batch read requires "
                ".option('starting_version', <v>) - changes AFTER v")
        start = int(start)
        end = options.get("ending_version")
        end = tab.current_version() if end is None else int(end)
        head = tab.current_version()
        if not 1 <= start <= end <= head:
            raise SnapshotError(
                f"graft_snapshot change_feed: bad version range "
                f"v{start}..v{end} (HEAD is v{head})")
        self._entries: list = []
        for v in range(start + 1, end + 1):
            m = tab.manifest(v)
            op = m["operation"]
            if (op in ("init", "compact", "consolidate-metadata")
                    or op.startswith("cluster")):
                continue
            if op.endswith("-mor"):
                raise SnapshotError(
                    f"graft_snapshot change_feed: v{v} is a merge-on-"
                    f"read commit ({op}) - positional deletes are not "
                    "expressible in the FILE-level changelog; use "
                    "SnapshotTable.changes() (exact row-level events) "
                    "or compact() to materialize before reading this "
                    "range")
            parent_files = (set(tab.manifest(m["parent"])["files"])
                            if m["parent"] is not None else set())
            curset = set(m["files"])
            # same dv-aware entry contract as the stream (ADVICE r11
            # #1): inserts arriving WITH vectors (clone of a MOR table)
            # and deletes of previously-dv'd files subtract positions
            cur_dvs = m.get("dvs") or {}
            parent_dvs = ((tab.manifest_json(m["parent"]).get("dvs")
                           or {}) if m["parent"] is not None else {})
            self._entries += [
                (f, "delete", v,
                 parent_dvs[f]["path"] if f in parent_dvs else None)
                for f in sorted(parent_files) if f not in curset]
            self._entries += [
                (f, "insert", v,
                 cur_dvs[f]["path"] if f in cur_dvs else None)
                for f in m["files"] if f not in parent_files]

    def partitions(self):
        return [_ChangePartition(b)
                for b in _pack_entries(self._entries, self._partition_bytes)]

    def read(self, partition):
        yield from _scan_change_entries(partition.entries, self._schema)


class _SnapshotReader(_SnapshotReaderNoPushdown):
    """Pushdown-capable variant: manifest-stats file pruning through
    DSv2 ``pushFilters``."""

    def pushFilters(self, filters):
        """Manifest-stats file skipping: translate supported comparisons
        into prune conjuncts and drop files whose [min, max] interval
        cannot match.  EVERY filter is reported back as unhandled -
        pruning is an IO optimization, Spark keeps exact row filtering."""
        conjuncts = []
        for f in filters:
            op = _FILTER_OPS.get(type(f))
            if op is not None and len(f.attribute) == 1:
                conjuncts.append((f.attribute[0], op, f.value))
        if conjuncts:
            self._files = prune_manifest_files(
                {**self._manifest, "files": self._files}, conjuncts)
        return filters


@dataclass
class _FileCommit(WriterCommitMessage):
    file: str
    rows: int


def _written_schema(parent_json: str | None, files: list) -> str | None:
    """Unified manifest schema for a DSv2 commit: parent schema evolved
    with the written files' schema (one footer read - every task wrote
    the same logical schema).  Empty commits keep the parent's."""
    if not files:
        return parent_json
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    return unify_schemas(parent_json,
                         from_arrow_schema(pq.read_schema(files[0]))).json()


class _SnapshotWriter(DataSourceArrowWriter):
    """Transactional DSv2 write: tasks land immutable files in a fresh
    staging dir; ONLY the driver's ``commit`` publishes a manifest, with
    the parent version pinned at writer construction so a concurrent
    commit raises SnapshotConflict with nothing published.  Task files
    that never reach a commit message (failed/retried/speculative
    attempts) stay invisible garbage for ``vacuum`` - the atomicity the
    plain ``write_avro``-style executor rename cannot give."""

    def __init__(self, path: str, overwrite: bool,
                 write_schema: StructType | None = None):
        tab = ManifestStore(path)  # layout check; no session needed
        self._path = path
        self._overwrite = overwrite
        # the Spark-provided logical write schema: the fallback schema
        # authority when every task produced zero rows (ADVICE r7: an
        # all-empty overwrite must not commit schema=None and brick reads)
        self._write_schema_json = (
            unify_schemas(None, write_schema).json()
            if write_schema is not None else None)
        self._parent = tab.current_version()
        self._stage = os.path.join(path, "_snapshots", "files",
                                   uuid.uuid4().hex)
        os.makedirs(self._stage)

    def write(self, iterator):
        import pyarrow.parquet as pq

        out = os.path.join(self._stage, f"part-{uuid.uuid4().hex}.parquet")
        writer = None
        rows = 0
        try:
            for batch in iterator:
                if writer is None:
                    writer = pq.ParquetWriter(out, batch.schema)
                writer.write_batch(batch)
                rows += batch.num_rows
        finally:
            if writer is not None:
                writer.close()
        if writer is None:
            return _FileCommit(file="", rows=0)  # empty task: no file
        return _FileCommit(file=out, rows=rows)

    def commit(self, messages):
        tab = ManifestStore(self._path)
        files = sorted(m.file for m in messages if m is not None and m.file)
        rows = sum(m.rows for m in messages if m is not None)
        stats = {f: _collect_file_stats(f) for f in files}
        pm = tab.manifest(self._parent)
        if self._overwrite:
            tab.commit(pm, "overwrite", rows=rows, add=files, stats=stats,
                       schema=(_written_schema(None, files)
                               or self._write_schema_json),
                       shape="replace")
        else:
            tab.commit(pm, "append", rows=pm["rows"] + rows, add=files,
                       stats=stats,
                       schema=_written_schema(pm.get("schema"), files))

    def abort(self, messages):
        shutil.rmtree(self._stage, ignore_errors=True)


class _SnapshotStreamReader(DataSourceStreamReader):
    """Snapshot table as a STRUCTURED STREAMING SOURCE: the offset is the
    snapshot VERSION, a micro-batch is the set of files ADDED by the
    append commits in (start, end] - the Delta/Iceberg streaming-source
    design.  Exactly-once falls out of the storage model: files are
    immutable and a (start, end] version range always resolves to the
    same file set, so replaying a batch after a crash reads identical
    rows.  Planning is O(versions x files) manifest metadata; no data IO
    until tasks run.

    Non-append commits (overwrite / merge / rollback / compact) are not
    row-level inserts; ``on_overwrite``:
      - 'fail' (default): stop the stream with an error (the Delta
        default - silent wrong answers are worse than a dead stream);
      - 'skip': produce no rows for that commit and continue (compaction
        rewrites, for instance, carry no new data).

    ADMISSION CONTROL: ``max_files_per_trigger`` caps each micro-batch
    at N newly-added files (Delta's maxFilesPerTrigger) - without it a
    10k-file backfill lands in ONE epoch.  Offsets carry a sub-version
    file cursor ({version, file: consumed-count}) so one large commit
    drains across several batches.  Scope - a Python-API limitation,
    pinned by test: ``latestOffset`` is never handed the committed
    offset, so planning calls that arrive before the runner's cursor
    exists (the availableNow prepare call; the first call after a query
    restart) return the UNCAPPED head - capping those from
    ``starting_version`` instead would regress offsets behind the
    checkpoint on restart (re-planned or lost batches).  Net behavior:
    continuous (processingTime) triggers - the long-running ingestion
    shape admission control exists for - are capped from the second
    batch on; availableNow catch-up drains uncapped.
    """

    def __init__(self, path: str, options, schema=None):
        self._path = path
        self._schema = schema
        # CHANGE DATA FEED mode (r10): micro-batches are file-level
        # changelog entries - appends stream as inserts, COW/overwrite
        # commits as (delete old files, insert new files) pairs - so a
        # downstream job can follow a table maintained by CDC merges /
        # row-level DML instead of dying on the first non-append commit.
        # FILE-level granularity (the Iceberg changelog-scan shape for
        # COW tables): a rewritten file's UNCHANGED rows appear as
        # delete+insert pairs too; consumers needing exact row diffs use
        # SnapshotTable.changes() driver-side.  compact/cluster/
        # consolidate commits emit nothing (rows identical - changes()
        # parity).  on_overwrite does not apply (nothing to fail on).
        self._cdf = str(options.get("change_feed", "false")).lower() \
            in ("true", "1")
        self._on_overwrite = options.get("on_overwrite", "fail")
        if self._on_overwrite not in ("fail", "skip"):
            raise SnapshotError(
                "graft_snapshot stream: on_overwrite must be fail|skip")
        self._partition_bytes = int(
            options.get("partition_bytes", _DEFAULT_PARTITION_BYTES))
        mft = options.get("max_files_per_trigger")
        self._max_files = int(mft) if mft is not None else None
        if self._max_files is not None and self._max_files < 1:
            raise SnapshotError(
                "graft_snapshot stream: max_files_per_trigger must be >= 1")
        # driver-side admission cursor: the last offset this reader
        # instance planned or committed.  Offsets are
        # {version, file: consumed-count-of-that-version's-added-files};
        # a checkpointed pre-cap offset {version} means fully consumed.
        self._cursor: dict | None = None
        start = options.get("starting_version")
        start_ts = options.get("starting_timestamp")
        if start is not None and start_ts is not None:
            raise SnapshotError(
                "graft_snapshot stream: starting_version and "
                "starting_timestamp are mutually exclusive")
        if start_ts is not None:
            # replay commits AT or AFTER the instant (Delta's
            # startingTimestamp): resolve to the newest version strictly
            # BEFORE it - starting_version semantics are exclusive.
            # Accepts epoch-millis digits or ISO-8601; a NAIVE string is
            # UTC (the reader runs without a session, so there is no
            # session timezone to apply - pass an explicit offset or
            # millis for zone-exact starts).
            s = str(start_ts)
            if s.lstrip("+-").isdigit():
                ms = int(s)
            else:
                import datetime as _dt
                t = _dt.datetime.fromisoformat(s)
                if t.tzinfo is None:
                    t = t.replace(tzinfo=_dt.timezone.utc)
                ms = int(t.timestamp() * 1000)
            tab0 = ManifestStore(path)
            before = [x["version"] for x in tab0.versions()
                      if x["timestamp_ms"] < ms]
            self._start = max(before) if before else 1
        elif start is not None:
            self._start = int(start)
        else:
            # default: only commits AFTER stream start (the Kafka
            # `latest` shape); starting_version=1 replays the full table
            self._start = ManifestStore(path).current_version()

    # -- offset plumbing ----------------------------------------------------
    def _added_files(self, tab: ManifestStore, v: int,
                     enforce_policy: bool = True) -> list[str]:
        """Files version ``v`` ADDED over its parent.  Non-append commits
        (overwrite/merge/rollback/compact) are not row-level inserts:
        under ``enforce_policy`` the fail/skip option decides (fail
        raises, skip yields no files); policy is NOT enforced for offset
        bookkeeping of versions the stream never consumes (the starting
        version, checkpointed boundaries)."""
        m = tab.manifest_json(v)
        op = m["operation"]
        if op == "init":
            return []
        if not (op == "append" or op.startswith("stream-append")):
            if enforce_policy and self._on_overwrite == "fail":
                raise SnapshotError(
                    f"graft_snapshot stream: v{v} is a non-append "
                    f"commit ({op}); restart from a later "
                    "starting_version or set on_overwrite=skip")
            return []  # no row-level inserts to stream from this commit
        # r11: the manifest records the commit's exact added files -
        # O(new files) planning; pre-r11 manifests fall back to the
        # parent diff (O(table files), the old shape)
        delta = tab.commit_delta(v, m)
        if delta is not None:
            return delta[0]
        m = tab.manifest(v)
        parent_files = (set(tab.manifest(m["parent"])["files"])
                        if m["parent"] is not None else set())
        return [f for f in m["files"] if f not in parent_files]

    def _entries(self, tab: ManifestStore, v: int,
                 enforce_policy: bool = True) -> list:
        """Version ``v``'s planning units as (file, change type, version)
        triples.  Non-CDF mode: the ADDED files as inserts (the
        fail/skip policy per :meth:`_added_files`).  CDF mode: the
        file-level changelog - appends insert their new files; COW DML /
        overwrite / merge / rollback commits emit (delete: files leaving
        the table, insert: files joining it); compact / cluster /
        consolidate emit nothing (rows identical)."""
        if not self._cdf:
            return [(f, "insert", v)
                    for f in self._added_files(tab, v, enforce_policy)]
        m = tab.manifest_json(v)
        op = m["operation"]
        if op == "init":
            return []
        if (op in ("compact", "consolidate-metadata")
                or op.startswith("cluster")):
            return []
        # r11: plan the changelog from the commit's recorded delta -
        # O(changed files); pre-r11 manifests diff the materialized lists
        if op.endswith("-mor"):
            # FIX 3: offset bookkeeping (initialOffset/_consumed for
            # versions the stream never consumes) must not raise -
            # mirror _added_files' enforce_policy contract
            if not enforce_policy:
                return []
            raise SnapshotError(
                f"graft_snapshot stream change_feed: v{v} is a merge-"
                "on-read commit ({}) - positional deletes are not "
                "expressible in the FILE-level changelog; use "
                "SnapshotTable.changes() driver-side or compact() to "
                "materialize before streaming past this commit"
                .format(op))
        # dv sidecars ride along as the entry's 4th element (ADVICE r11
        # #1): an ADDED file carrying deletion vectors in the adding
        # commit's manifest (clone of a MOR-deleted table) must not
        # stream its dv'd positions as inserts - those rows were never
        # live here; a REMOVED file whose PARENT manifest carried dvs
        # must not re-report already-MOR-deleted rows as deletes.
        cur_dvs = m.get("dvs") or {}
        parent_dvs = ((tab.manifest_json(m["parent"]).get("dvs") or {})
                      if m["parent"] is not None else {})

        def _ins(f, v):
            return (f, "insert", v,
                    cur_dvs[f]["path"] if f in cur_dvs else None)

        def _del(f, v):
            return (f, "delete", v,
                    parent_dvs[f]["path"] if f in parent_dvs else None)

        delta = tab.commit_delta(v, m)
        if delta is not None:
            added, removed = delta
            return ([_del(f, v) for f in sorted(removed)]
                    + [_ins(f, v) for f in added])
        m = tab.manifest(v)
        parent_files = (set(tab.manifest(m["parent"])["files"])
                        if m["parent"] is not None else set())
        curset = set(m["files"])
        removed = [f for f in sorted(parent_files) if f not in curset]
        added = [f for f in m["files"] if f not in parent_files]
        return ([_del(f, v) for f in removed]
                + [_ins(f, v) for f in added])

    def _consumed(self, tab: ManifestStore, off: dict) -> tuple[int, int]:
        """(version, entries-of-that-version-consumed) from an offset
        dict; a missing ``file`` key (pre-cap checkpoints) means fully
        consumed."""
        v = off["version"]
        if "file" in off:
            return v, off["file"]
        return v, len(self._entries(tab, v, enforce_policy=False))

    def initialOffset(self) -> dict:
        # starting_version semantics are "replay commits AFTER v", so v
        # itself counts as fully consumed (policy never applies to it)
        tab = ManifestStore(self._path)
        self._cursor = {
            "version": self._start,
            "file": len(self._entries(tab, self._start,
                                      enforce_policy=False))}
        return dict(self._cursor)

    def latestOffset(self) -> dict:
        tab = ManifestStore(self._path)
        head = tab.current_version()
        if self._max_files is None or self._cursor is None:
            # uncapped, or first call after a RESTART (the Python stream
            # API never hands latestOffset the committed offset, so the
            # cap is best-effort: the first post-restart batch takes the
            # whole backlog; every later batch is capped again once
            # partitions() re-establishes the cursor)
            return {"version": head,
                    "file": len(self._entries(
                        tab, head, enforce_policy=False))}
        v, consumed = self._consumed(tab, self._cursor)
        budget = self._max_files
        while budget > 0:
            # the starting version is consumed by definition - the
            # fail/skip policy only governs versions the stream reads
            added = len(self._entries(tab, v,
                                      enforce_policy=v != self._start))
            if consumed < added:
                take = min(budget, added - consumed)
                consumed += take
                budget -= take
                continue
            if v >= head:
                break
            v += 1
            consumed = 0
        off = {"version": v, "file": consumed}
        self._cursor = dict(off)
        return off

    def partitions(self, start: dict, end: dict):
        tab = ManifestStore(self._path)
        sv, sf = self._consumed(tab, start)
        ev, ef = self._consumed(tab, end)
        new_entries: list = []
        for v in range(sv, ev + 1):
            ent = self._entries(tab, v, enforce_policy=v != self._start)
            lo = sf if v == sv else 0
            hi = ef if v == ev else len(ent)
            new_entries.extend(ent[lo:hi])
        self._cursor = {"version": ev, "file": ef}
        if self._cdf:
            return [_ChangePartition(b)
                    for b in _pack_entries(new_entries,
                                           self._partition_bytes) if b]
        return [_FilesPartition(b)
                for b in _pack_files([e[0] for e in new_entries],
                                     self._partition_bytes)
                if b]

    def read(self, partition):
        if isinstance(partition, _ChangePartition):
            yield from _scan_change_entries(partition.entries, self._schema)
            return
        if self._schema is not None:
            yield from _scan_adapted(partition.files, self._schema)
            return
        import pyarrow.parquet as pq

        for f in partition.files:
            yield from pq.ParquetFile(f).iter_batches()

    def commit(self, end: dict) -> None:
        pass  # manifests stay readable until vacuum; nothing to release


class _SnapshotStreamWriter(DataSourceStreamArrowWriter):
    """Snapshot table as a STRUCTURED STREAMING SINK: every micro-batch
    is ONE atomic manifest commit tagged ``stream-append:batch=<id>``.
    Replaying a batch after a crash (Spark re-runs the last epoch when
    the sink commit is not recorded) finds its batch id already tagged
    in the version history and publishes NOTHING - per-batch
    exactly-once on top of at-least-once delivery, the same contract
    streaming/sink.py documents for the foreachBatch writers, enforced
    here by the table's own commit log instead of a checkpoint file."""

    def __init__(self, path: str):
        tab = ManifestStore(path)  # layout check
        self._path = path
        self._stage = os.path.join(path, "_snapshots", "files",
                                   uuid.uuid4().hex)
        os.makedirs(self._stage)

    def write(self, iterator):
        import pyarrow.parquet as pq

        out = os.path.join(self._stage, f"part-{uuid.uuid4().hex}.parquet")
        writer = None
        rows = 0
        try:
            for batch in iterator:
                if writer is None:
                    writer = pq.ParquetWriter(out, batch.schema)
                writer.write_batch(batch)
                rows += batch.num_rows
        finally:
            if writer is not None:
                writer.close()
        if writer is None:
            return _FileCommit(file="", rows=0)
        return _FileCommit(file=out, rows=rows)

    def commit(self, messages, batchId: int) -> None:
        op = f"stream-append:batch={batchId}"
        files = sorted(m.file for m in messages if m is not None and m.file)
        rows = sum(m.rows for m in messages if m is not None)
        stats = {f: _collect_file_stats(f) for f in files}

        def publish() -> None:
            # the whole read-derive-commit runs per attempt so a retry
            # re-reads the NEW HEAD (r10; a maintenance compact() racing
            # the stream used to kill it on the first collision), and
            # the replay check re-runs so a replayed epoch stays a no-op
            tab = ManifestStore(self._path)
            if any(v["operation"] == op for v in tab.versions()):
                return  # replayed epoch: already published
            pm = tab.manifest()
            tab.commit(pm, op, rows=pm["rows"] + rows, add=files,
                       stats=stats,
                       schema=_written_schema(pm.get("schema"), files))

        retry_on_conflict(publish)

    def abort(self, messages, batchId: int) -> None:
        for m in messages or []:
            if m is not None and m.file:
                try:
                    os.remove(m.file)
                except OSError:
                    pass


class GraftSnapshotDataSource(DataSource):
    """``format("graft_snapshot")`` - snapshot tables on a plain session.

    Read options: ``path`` (table root, required); ``version`` (time
    travel to an exact snapshot); ``timestamp_ms`` (time travel to the
    newest snapshot committed at or before the epoch-millis instant);
    ``partition_bytes`` (per-task scan target).  Write modes: ``append``
    and ``overwrite``, both one atomic manifest commit.

    CHANGE DATA FEED (r10): ``change_feed=true`` appends
    ``_change_type`` / ``_commit_version`` metadata columns and reads
    the FILE-LEVEL changelog instead of the table state - batch reads
    take ``starting_version`` (exclusive) + optional ``ending_version``;
    stream reads follow every commit kind (appends as inserts, COW DML /
    overwrite / merge / rollback as delete+insert file pairs,
    compact/cluster/consolidate as nothing) instead of failing on the
    first non-append commit.  Granularity contract (Iceberg
    changelog-scan for COW tables): a rewritten file's unchanged rows
    appear as delete+insert pairs; use ``SnapshotTable.changes()`` for
    exact row diffs driver-side."""

    @classmethod
    def name(cls):
        return "graft_snapshot"

    def _table_path(self) -> str:
        path = self.options.get("path")
        if not path:
            # measured on PySpark 4.1.2: a PERSISTENT ``CREATE TABLE ...
            # USING graft_snapshot OPTIONS (path ...)`` passes its
            # options at creation (schema resolution works) but the
            # session catalog hands the reader an EMPTY options map at
            # query time, so persistent registration cannot round-trip.
            # ``CREATE TEMPORARY VIEW ... USING graft_snapshot
            # OPTIONS (path ...)`` keeps its options and is the
            # supported bare-session SQL route (see README)
            raise SnapshotError(
                "graft_snapshot requires .option('path', <table root>); "
                f"options seen: {dict(self.options)!r}. If this read "
                "came from a persistent CREATE TABLE ... USING, use "
                "CREATE TEMPORARY VIEW ... USING instead (the session "
                "catalog drops Python-data-source options at read time)")
        # SQL surfaces may hand the path back as a file: URI (the
        # catalog qualifies LOCATION / path options); the manifest
        # layer works on plain OS paths
        if path.startswith("file:"):
            path = path[len("file:"):]
            while path.startswith("//"):
                path = path[1:]
        return path

    def _resolve_manifest(self) -> dict:
        tab = ManifestStore(self._table_path())
        version = self.options.get("version")
        ts = self.options.get("timestamp_ms")
        if version is not None and ts is not None:
            raise SnapshotError(
                "graft_snapshot: pass version OR timestamp_ms, not both")
        if ts is not None:
            cands = [v["version"] for v in tab.versions()
                     if v["timestamp_ms"] <= int(ts)]
            if not cands:
                raise SnapshotError(
                    f"graft_snapshot: no snapshot at or before {ts}")
            version = max(cands)
        m = tab.manifest(None if version is None else int(version))
        if not m["files"] and not m.get("schema"):
            raise SnapshotError(
                f"{self._table_path()} v{m['version']} is empty with no "
                "schema; append first")
        return m

    def _cdf_enabled(self) -> bool:
        return str(self.options.get("change_feed", "false")).lower() \
            in ("true", "1")

    def schema(self) -> StructType:
        import json as _json

        m = self._resolve_manifest()
        if m.get("schema"):
            # the manifest IS the schema authority (evolution-aware, no
            # footer IO); footer fallback covers legacy manifests only
            base = StructType.fromJson(_json.loads(m["schema"]))
        else:
            import pyarrow.parquet as pq
            from pyspark.sql.pandas.types import from_arrow_schema

            base = from_arrow_schema(pq.read_schema(m["files"][0]))
        if not self._cdf_enabled():
            return base
        from pyspark.sql.types import LongType, StringType, StructField
        clash = [c for c in (CDF_TYPE_COL, CDF_VERSION_COL)
                 if c in base.fieldNames()]
        if clash:
            raise SnapshotError(
                f"graft_snapshot change_feed: table columns {clash} "
                "collide with the CDF metadata columns")
        return StructType(list(base.fields) + [
            StructField(CDF_TYPE_COL, StringType(), False),
            StructField(CDF_VERSION_COL, LongType(), False)])

    def reader(self, schema: StructType) -> DataSourceReader:
        if self._cdf_enabled():
            return _SnapshotChangeReader(self._table_path(), self.options,
                                         schema)
        cls = (_SnapshotReader if _pushdown_enabled()
               else _SnapshotReaderNoPushdown)
        return cls(self._resolve_manifest(), self.options, schema)

    def writer(self, schema: StructType, overwrite: bool):
        return _SnapshotWriter(self._table_path(), overwrite,
                               write_schema=schema)

    def streamReader(self, schema: StructType) -> DataSourceStreamReader:
        return _SnapshotStreamReader(self._table_path(), self.options,
                                     schema)

    def streamWriter(self, schema: StructType, overwrite: bool):
        if overwrite:
            raise SnapshotError(
                "graft_snapshot stream sink supports append mode only "
                "(complete-mode overwrite per epoch would rewrite the "
                "table every trigger)")
        return _SnapshotStreamWriter(self._table_path())


class _AvroReader(DataSourceReader):
    def __init__(self, planned: list, schema_json: str):
        self._planned = planned  # (file, start, end, hlen, codec, sync_hex)
        self._schema_json = schema_json

    def partitions(self):
        return [InputPartition(r) for r in self._planned]

    def read(self, partition):
        from aliyun_maxcompute_data_collectors_spark.sources.avrofile import scan_block_range

        file, start, end, hlen, codec, sync_hex = partition.value
        schema = json.loads(self._schema_json)
        names = [f["name"] for f in schema["fields"]]
        for rec in scan_block_range(file, start, end, hlen, codec,
                                    bytes.fromhex(sync_hex), schema):
            yield tuple(rec.get(n) for n in names)


class GraftAvroDataSource(DataSource):
    """``format("graft_avro")`` - Avro object-container files on a plain
    session, no spark-avro jar.  Options: ``path`` (file, dir, or glob,
    required); ``split_bytes`` (sync-marker range splitting, so ONE
    giant container file scans across many tasks - the Hadoop
    AvroRecordReader granularity; default: one split per file).  Headers
    are parsed driver-side (header bytes only); schema is the first
    file's writer schema."""

    @classmethod
    def name(cls):
        return "graft_avro"

    def _plan(self):
        import glob as _glob

        from aliyun_maxcompute_data_collectors_spark.sources.avrofile import (
            _read_header_driver,
            spark_type_of,
        )

        path = self.options.get("path")
        if not path:
            raise ValueError("graft_avro requires .option('path', ...)")
        if os.path.isdir(path):
            files = sorted(_glob.glob(os.path.join(path, "*.avro")))
        else:
            files = sorted(f for f in _glob.glob(path) if os.path.isfile(f))
        if not files:
            raise ValueError(f"graft_avro: no files under {path}")
        avro_schema = None
        ranges = []
        for f in files:
            schema_f, codec, sync, hlen = _read_header_driver(f)
            if avro_schema is None:
                avro_schema = schema_f
            elif json.dumps(schema_f, sort_keys=True) != json.dumps(
                    avro_schema, sort_keys=True):
                raise ValueError(
                    f"graft_avro: {f} schema differs from {files[0]}")
            size = os.path.getsize(f)
            split = int(self.options.get("split_bytes", 0)) or (size - hlen)
            s = hlen
            while s < size:
                e = min(s + split, size)
                ranges.append((f, s, e, hlen, codec, sync.hex()))
                s = e
        return avro_schema, spark_type_of(avro_schema), ranges

    def schema(self) -> StructType:
        _, sdt, _ = self._plan()
        if not isinstance(sdt, StructType):
            raise ValueError(
                "graft_avro: top-level avro schema must be a record")
        return sdt

    def reader(self, schema: StructType) -> DataSourceReader:
        avro_schema, _, ranges = self._plan()
        return _AvroReader(ranges, json.dumps(avro_schema))

    def writer(self, schema: StructType, overwrite: bool):
        path = self.options.get("path")
        if not path:
            raise ValueError("graft_avro requires .option('path', ...)")
        return _AvroWriter(
            path,
            self.options.get("codec", "deflate"),
            overwrite,
            schema,
            int(self.options.get("block_records", 4096)),
        )


class _AvroWriter(DataSourceArrowWriter):
    """``df.write.format("graft_avro")`` - one container file per
    non-empty task, published by the DSv2 commit protocol (write_avro's
    staging-promote shape, with Spark itself guaranteeing that
    retried/speculative attempts never publish).  The Arrow path also
    sidesteps write_avro's nullable-int hazard structurally: values
    arrive as exact Python ints from the arrow batches, never as
    pandas float64.  Blocks are capped at ``block_records`` rows so the
    written files stay sync-marker SPLITTABLE for the range reader.
    ``overwrite`` clears pre-existing ``*.avro`` at commit time before
    promoting (a rename sequence, not one atomic op - the
    FileOutputCommitter v1 caveat, same as write_avro)."""

    def __init__(self, path: str, codec: str, overwrite: bool,
                 spark_schema: StructType, block_records: int):
        from aliyun_maxcompute_data_collectors_spark.sources.avrofile import avro_schema_of

        os.makedirs(path, exist_ok=True)
        self._path = path
        self._codec = codec
        self._overwrite = overwrite
        self._schema = avro_schema_of(spark_schema)  # fails fast on driver
        self._block_records = block_records
        self._stage = os.path.join(path, f"_staging-{uuid.uuid4().hex}")
        os.makedirs(self._stage)

    def write(self, iterator):
        from aliyun_maxcompute_data_collectors_spark.sources.avrofile import ContainerWriter

        # stream per-arrow-batch (ADVICE r7): encode and flush avro
        # blocks to the open file as batches arrive - task memory is
        # bounded by one arrow batch + one <= block_records block, never
        # the whole partition (the old to_pylist()-accumulate path held
        # every row as a Python dict AND the finished container bytes)
        fname = f"part-{uuid.uuid4().hex}.avro"
        writer = None
        fh = None
        try:
            for batch in iterator:
                if batch.num_rows == 0:
                    continue
                if writer is None:
                    fh = open(os.path.join(self._stage, fname), "wb")
                    writer = ContainerWriter(
                        fh, self._schema, self._codec,
                        block_records=self._block_records)
                writer.write_many(batch.to_pylist())
        finally:
            if writer is not None:
                writer.close()
                fh.close()
        if writer is None:
            return _FileCommit(file="", rows=0)  # empty task: no file
        return _FileCommit(file=fname, rows=writer.rows)

    def commit(self, messages):
        import glob as _glob

        files = sorted(m.file for m in messages if m is not None and m.file)
        try:
            if self._overwrite:
                for old in _glob.glob(os.path.join(self._path, "*.avro")):
                    os.remove(old)
            for fname in files:
                os.replace(os.path.join(self._stage, fname),
                           os.path.join(self._path, fname))
        finally:
            shutil.rmtree(self._stage, ignore_errors=True)

    def abort(self, messages):
        shutil.rmtree(self._stage, ignore_errors=True)


def register_python_datasources(spark) -> None:
    """Register both formats on ``spark`` (idempotent; latest wins).
    After this, plain ``spark.read.format(...)`` / ``df.write.format(...)``
    work with no further imports anywhere in the session."""
    spark.dataSource.register(GraftSnapshotDataSource)
    spark.dataSource.register(GraftAvroDataSource)
