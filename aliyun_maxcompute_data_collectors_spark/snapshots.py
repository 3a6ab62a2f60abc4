"""Snapshot-versioned parquet tables: atomic commit, snapshot isolation,
time travel, rollback - without lakehouse jars.

Why: the engine's CDC/SCD2 merge path is read-merge-OVERWRITE on plain
parquet (streaming/cdc.py).  An in-place overwrite has two hazards the
reference's transactional session commit (spark-connector
``OdpsBatchWrite.scala:42-95``: files land invisibly, one commit call
publishes them) does not: a reader concurrent with the overwrite sees a
half-deleted directory, and a crash mid-overwrite loses the table.  This
module supplies the same publish-on-commit contract from first principles:

- Data files are IMMUTABLE and land under ``_snapshots/files/<uuid>/``;
  a write that never reaches commit is invisible forever (crash-safe by
  construction - there is nothing to roll back).
- Each snapshot is a MANIFEST; ``HEAD`` names the current one and is
  swapped with an atomic rename, so readers see the old or the new
  snapshot, never a mix.  The manifest format, its layouts, the commit
  lock and the crash contract live in :mod:`manifest_store`, which
  imports no Spark; :class:`SnapshotTable` does the Spark work (writes,
  scans, DML planning) and publishes through ``self._store.commit``.
- Readers resolve HEAD once and scan the manifest's file list; an
  overwrite/merge committed afterwards does not disturb them (their files
  still exist until ``vacuum``).
- Writers verify their parent is still HEAD under the commit lock -
  optimistic concurrency; a lost race raises ``SnapshotConflict``
  instead of silently clobbering the other commit.

Scale notes: a manifest is O(files) metadata - O(segments) once
segmented - and HEAD is O(1); no data IO happens at commit - the
lakehouse-manifest design (Iceberg's version-hint + manifest list)
reduced to single-cluster needs.
"""

from __future__ import annotations

import dataclasses
import json
import logging
import os
import re
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aliyun_maxcompute_data_collectors_spark.manifest_store import (  # noqa: F401 - re-exported
    COMMIT_LOCK_TTL_S,
    DELTA_INLINE_MAX,
    INLINE_FILES,
    INLINE_STATS_FILES,
    MAX_SEGMENTS,
    REMOVED_FILES_MAX,
    SEG_CACHE_MAX_BYTES,
    ManifestStore,
    SnapshotConflict,
    SnapshotError,
    _bloom_position,
    _conjunct_list,
    _fsync_write,
    _load_segment,
    _seg_cache_clear,
    _stat_from_json,
    _stat_to_json,
    bloom_entry,
    live_bloom_columns,
    prune_manifest_files,
    resolve_stats,
    retry_on_conflict,
)

_log = logging.getLogger(__name__)

# ---------------------------------------------------------------------------
# per-file column statistics (manifest-based data skipping, r7)
# ---------------------------------------------------------------------------
# Commit-time capture reads parquet FOOTERS only (row-group min/max the
# writer already computed - no data IO, no extra Spark job), and
# ``read(where=...)`` prunes whole files from manifest metadata alone
# before Spark ever lists them: the Iceberg manifest-stats / Delta
# data-skipping design.  Only exactness-safe types are recorded (ints,
# floats, bool, date, timestamp): parquet string stats may be truncated
# by writers, so string predicates scan every file rather than risk a
# wrong prune.  A file with no usable stats for a column is NEVER pruned
# on that column (all-null chunks, legacy manifests) - skipping is an IO
# optimization, not a correctness gate, and the residual filter is always
# applied to the returned DataFrame.


def _collect_file_stats(path: str) -> dict[str, list]:
    """{col: [min_json, max_json]} from one parquet file's footer; a column
    appears only if EVERY row group has exact min/max of a safe type."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    acc: dict[str, list | None] = {}
    for rg in range(md.num_row_groups):
        for ci in range(md.num_columns):
            col = md.row_group(rg).column(ci)
            name = col.path_in_schema
            if "." in name:  # nested leaf - not a top-level scalar
                acc[name.split(".")[0]] = None
                continue
            st = col.statistics
            if (st is None or not st.has_min_max
                    or isinstance(st.min, (bytes, str))):
                acc[name] = None
                continue
            lo, hi = _stat_to_json(st.min), _stat_to_json(st.max)
            if lo is None or hi is None:
                acc[name] = None
                continue
            cur = acc.get(name)
            if cur is None and name in acc:
                continue  # earlier row group disqualified it
            if cur is None:
                acc[name] = [lo, hi]
            else:
                a0, a1 = _stat_from_json(cur[0]), _stat_from_json(cur[1])
                acc[name] = [
                    _stat_to_json(min(a0, _stat_from_json(lo))),
                    _stat_to_json(max(a1, _stat_from_json(hi)))]
    return {k: v for k, v in acc.items() if v is not None}


def _conjunct_column(col: str, op: str, value):
    """One ``(col, op, value)`` prune conjunct as an exact row-level
    Column predicate (the same grammar ``prune_manifest_files`` prunes
    on, so manifest pruning and row filtering can never disagree)."""
    if op in ("==", "="):
        return F.col(col) == F.lit(value)
    if op == "between":
        return F.col(col).between(F.lit(value[0]), F.lit(value[1]))
    return {"<": F.col(col) < F.lit(value),
            "<=": F.col(col) <= F.lit(value),
            ">": F.col(col) > F.lit(value),
            ">=": F.col(col) >= F.lit(value)}[op]


def _strip_file_scheme(path: str) -> str:
    """input_file_name() renders local paths as file:///...; normalize
    back to a plain POSIX path for manifest-string matching."""
    if path.startswith("file:"):
        path = path[len("file:"):]
        while path.startswith("//"):
            path = path[1:]
    return path


_EQ_CONJUNCT = re.compile(
    r"^\s*([A-Za-z_]\w*)\s*\.\s*([A-Za-z_]\w*)\s*=\s*"
    r"([A-Za-z_]\w*)\s*\.\s*([A-Za-z_]\w*)\s*$")
_TOP_AND = re.compile(r"(?i)\bAND\b")
_WORD = re.compile(r"[A-Za-z_]\w*")


def _has_top_level_or(cond: str) -> bool:
    """True when ``cond`` contains an ``OR`` outside parens and quotes.
    SQL precedence binds AND tighter than OR, so with a top-level OR
    present NO textual AND-split conjunct is guaranteed to constrain
    every matching row (``a OR b AND c`` is ``a OR (b AND c)``) - any
    key-bound file pruning derived from such a split is unsound."""
    depth, i, n = 0, 0, len(cond)
    while i < n:
        ch = cond[i]
        if ch in "'\"":
            j = i + 1
            while j < n and cond[j] != ch:
                j += 2 if cond[j] == "\\" else 1
            i = j + 1
            continue
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif depth == 0 and ch in "oO":
            m = _WORD.match(cond, i)
            if m and m.group(0).upper() == "OR" and (
                    i == 0 or not (cond[i - 1].isalnum() or cond[i - 1] == "_")):
                return True
            if m:
                i = m.end()
                continue
        i += 1
    return False


def _validate_source_keys(on: str, source_keys: list[str],
                          target_alias: str, source_alias: str) -> None:
    """``merge(source_keys=...)`` prunes candidate files from the
    SOURCE batch's per-key [min, max] against the TARGET's manifest
    stats - sound ONLY for a key ``k`` the merge condition equi-joins as
    ``t.k = s.k`` (same column name both sides; a top-level AND
    conjunct, not inside an OR).  Trusting the caller here was a
    silent-wrong-answer trap (VERDICT r9 #3: a non-join key mis-prunes
    candidates and the merge inserts rows it should have matched), so
    every passed key must appear as such a conjunct or this raises.

    r11 (ADVICE r10): two residual unsound shapes are rejected too -
    (a) a TOP-LEVEL ``OR`` anywhere in the condition: ``t.k = s.k OR
    t.x = s.x AND t.y = s.y`` parses as ``k OR (x AND y)``, so a
    textual AND-split wrongly accepts ``y`` as a guaranteed conjunct;
    with any top-level OR no conjunct constrains every match, so
    source_keys pruning is refused outright.  (b) ``<=>`` (null-safe
    equality) conjuncts: they match NULL = NULL, but parquet min/max
    stats ignore NULLs, so a file whose only matches are NULL-keyed
    rows would be pruned - ``<=>`` keys are not prune-eligible."""
    if source_keys and _has_top_level_or(on):
        raise SnapshotError(
            f"merge source_keys {source_keys} cannot be used with a merge "
            f"condition containing a top-level OR ({on!r}): no AND-split "
            "conjunct is guaranteed to hold for every matching row, so "
            "key-bound file pruning would silently produce a wrong merge - "
            "drop source_keys (full candidate scan) or parenthesize the OR "
            "under a top-level AND")
    eq_keys = set()
    for part in _TOP_AND.split(on):
        if part.count("(") != part.count(")"):
            continue  # AND inside parens (e.g. an OR group): not top-level
        m = _EQ_CONJUNCT.match(part)
        if not m:
            continue
        a1, c1, a2, c2 = m.groups()
        if c1 == c2 and {a1, a2} == {target_alias, source_alias}:
            eq_keys.add(c1)
    bad = [k for k in source_keys if k not in eq_keys]
    if bad:
        raise SnapshotError(
            f"merge source_keys {bad} are not equi-join conjuncts of the "
            f"merge condition {on!r} (need a top-level "
            f"'{target_alias}.<k> = {source_alias}.<k>' per key) - "
            "pruning candidate files on a non-join key would silently "
            "produce a wrong merge")


# DELETION-VECTOR JOIN BOUND (r12, VERDICT r11 #1): the MOR read path
# subtracts positions with an anti-join whose build side is the union
# of the scanned files' sidecars.  Small (the intended sparse-DML
# shape) that side is broadcast; but nothing in the WRITE path bounds
# how many positions accumulate before a compact(), and a forced
# F.broadcast hint both overrides AQE and walks into Spark's 8 GB
# broadcast hard cap.  Above this many positions (counted from sidecar
# parquet FOOTERS - driver metadata only, cached per immutable path)
# the hint is dropped and AQE picks the join strategy; at ~24 bytes a
# position the default keeps the build side comfortably O(100 MB).
DV_BROADCAST_MAX_POSITIONS = 4_000_000

# Every deletion-vector sidecar holds (file, row_index, new): ``new``
# marks the positions its own commit added.  Sidecar scans are pinned
# to it, so planning one reads no footer and launches no Spark job.
SIDECAR_SCHEMA = "file string, row_index bigint, new boolean"

# MOR ADMISSION BOUND (r12, VERDICT r11 #2): a deletion-vector commit
# funnels its positions through ONE sidecar task (coalesce(1) - right
# for sparse DML, wrong for bulk).  A mor=True DML matching more than
# this many NEW positions refuses with a pointer at COW, which
# rewrites files in parallel and is the better plan at that fraction
# anyway.
MOR_MAX_NEW_POSITIONS = 10_000_000

# DV-FRACTION ADMISSION BOUND (r13, VERDICT r12 #1): nothing previously
# stopped a table from accumulating deletion vectors until a file was
# MOSTLY dead - every read would still scan all its rows and anti-join
# the positions away, an unbounded read tax that only a manual
# compact() cleared.  A mor=True DML that would push any file's folded
# DV count past this fraction of its physical rows (parquet FOOTER
# metadata, driver-side, touched files only) refuses with a pointer at
# compact() / mor=False instead: past ~half-dead, copy-on-write
# rewriting the file IS the cheaper plan and the read tax stops
# compounding.
MOR_MAX_DV_FRACTION = 0.5

# Memoized hadoop.fs.Path.toString renderings (r13): keyed on the RAW
# inputFiles() string, a pure function of it - see _rendered_paths.
# Bounded; cleared wholesale on overflow (renderings are cheap to
# recompute, the cache only amortizes py4j latency).
_RENDERED_CACHE: dict[str, str] = {}



def _sidecar_rows(path: str) -> int:
    """Total positions in a deletion-vector sidecar from parquet
    FOOTERS alone - no data IO.  Sidecars are immutable (uuid-named
    staging dirs, rewritten never, swept only by vacuum), so the count
    caches per path for the life of the process."""
    n = _SIDECAR_ROWS_CACHE.get(path)
    if n is not None:
        return n
    import pyarrow.parquet as pq
    if os.path.isdir(path):
        n = sum(pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
                for f in os.listdir(path) if f.endswith(".parquet"))
    else:
        n = pq.ParquetFile(path).metadata.num_rows
    if len(_SIDECAR_ROWS_CACHE) > 65536:
        _SIDECAR_ROWS_CACHE.clear()
    _SIDECAR_ROWS_CACHE[path] = n
    return n


_SIDECAR_ROWS_CACHE: dict = {}


def _clause_codes(clauses: list, tag: str):
    """Per-row action code of the first applicable MERGE clause: "D"
    for a delete, ``tag`` + clause index for a SET, "K" (keep) when no
    clause applies.  A condition is a SQL string, a Column or None."""
    act = None
    for i, (cond, action) in enumerate(clauses):
        branch = (F.lit(True) if cond is None
                  else F.expr(cond) if isinstance(cond, str) else cond)
        code = ("D" if isinstance(action, str)
                and action.lower() == "delete" else f"{tag}{i}")
        act = (F.when(branch, F.lit(code)) if act is None
               else act.when(branch, code))
    return F.lit("K") if act is None else act.otherwise("K")


def _clause_images(families: list, data_cols: list[str], types: dict,
                   alias: str | None) -> list:
    """Row images of ``alias`` (the unqualified row when None) with
    each SET clause's assignments applied where ``__act__`` names that
    clause, cast to the column types.  ``families`` lists the (clauses,
    tag) pairs :func:`_clause_codes` coded; a SET value is a SQL string
    or a Column."""
    out = []
    for c in data_cols:
        col = F.expr(f"{alias}.`{c}`" if alias else f"`{c}`")
        for clauses, tag in families:
            for i, (_, action) in enumerate(clauses):
                if isinstance(action, dict) and c in action:
                    v = action[c]
                    col = F.when(F.col(_ACT) == f"{tag}{i}",
                                 F.expr(v) if isinstance(v, str) else v
                                 ).otherwise(col)
        out.append(col.cast(types[c]).alias(c))
    return out


# reserved columns of a positional change set: the row's manifest-form
# file path and row index, its action code, and (MERGE) its source row id
_FP, _RI, _ACT, _SID = "__graft_fp", "__graft_ri", "__act__", "__graft_sid"

# a copy-on-write rewrite packs the surviving rows of its touched files
# into files of about this size (compact()'s default target)
_REWRITE_FILE_BYTES = 128 * 1024 * 1024


@dataclasses.dataclass
class _ChangeSet:
    """What one row-level DML changes in manifest ``m``: ``rows`` holds
    (``_FP``, ``_RI``, ``_ACT``, [``_SID``], row image) per changed
    target row - a MERGE that inserts or validates cardinality keeps
    its unchanged matched rows too, coded "K" - and ``inserts`` the new
    rows.  ``n``/``d`` count changed/deleted rows and ``touched`` lists
    the files holding a changed row, as the scan renders them; all
    three ride the checkpoint job.  ``order`` (a MERGE's keys) sorts a
    copy-on-write rewrite within each file, as a merge join would.  ``n`` is None for a lazy set (the
    merge-on-read delete capture), which counts nothing up front."""
    m: dict
    candidates: list
    rows: DataFrame | None = None
    rows_kept: int = 0
    data_cols: list = dataclasses.field(default_factory=list)
    n: int | None = 0
    d: int = 0
    touched: list = dataclasses.field(default_factory=list)
    inserts: DataFrame | None = None
    ins_obs: object = None
    ins_bound: int | None = None
    order: list = dataclasses.field(default_factory=list)

    def images(self) -> DataFrame | None:
        """The changed rows' new images (SET results), None when every
        changed row is deleted."""
        if self.rows is None or not self.n or self.n == self.d:
            return None
        return (self.rows.where(~F.col(_ACT).isin("K", "D"))
                .select(*self.data_cols))

    def n_inserted(self) -> int:
        """Rows ``inserts`` produced; valid once a write has run it."""
        return 0 if self.ins_obs is None else int(self.ins_obs.get["n"])


def _manifest_schema(m: dict):
    """The manifest's recorded schema as a StructType; None without."""
    from pyspark.sql import types as T

    return (T.StructType.fromJson(json.loads(m["schema"]))
            if m.get("schema") else None)


def _nullable_schema(st):
    """All-nullable copy of a struct schema: new columns materialize as
    NULL in files that predate them, and Spark's parquet reads surface
    nullable columns regardless - recording anything stricter in the
    manifest would be a lie."""
    from pyspark.sql import types as T

    return T.StructType([
        T.StructField(f.name, f.dataType, True, f.metadata)
        for f in st.fields])


def unify_schemas(parent_json: str | None, df_schema):
    """SCHEMA EVOLUTION contract (Delta-style, additive-only): the new
    write may ADD columns (appended after the parent's, nullable) and
    may OMIT parent columns (its files simply lack them; reads fill
    NULL); a TYPE CHANGE on an existing column raises - silently
    coercing 100 TB of history is how tables die.  Nested struct
    evolution is not attempted (whole-column type equality only).
    Returns the unified StructType."""
    import json as _json

    from pyspark.sql import types as T

    df_schema = _nullable_schema(df_schema)
    if parent_json is None:
        return df_schema
    parent = _nullable_schema(
        T.StructType.fromJson(_json.loads(parent_json)))
    by_name = {f.name: f for f in parent.fields}
    for f in df_schema.fields:
        old = by_name.get(f.name)
        if old is not None and old.dataType != f.dataType:
            raise SnapshotError(
                f"schema evolution: column {f.name!r} type change "
                f"{old.dataType.simpleString()} -> "
                f"{f.dataType.simpleString()} is not allowed (additive "
                "evolution only - new nullable columns)")
    merged = list(parent.fields) + [
        f for f in df_schema.fields if f.name not in by_name]
    return T.StructType(merged)


class SnapshotTable:
    """A versioned parquet table rooted at ``path``.

    ``SnapshotTable.init(spark, path)`` creates the layout;
    ``SnapshotTable(spark, path)`` opens an existing one."""

    def __init__(self, spark: SparkSession, path: str, **thresholds):
        # ``thresholds`` (inline_files, inline_stats_files, max_segments,
        # removed_files_max) are per-instance
        # (VERDICT r9 #5: no module-global mutation); they shape only
        # how commits lay metadata out - see ManifestStore
        self.spark = spark
        self.path = path
        self._store = ManifestStore(path, **thresholds)
        self._root = self._store.root

    # -- lifecycle ---------------------------------------------------------
    @classmethod
    def init(cls, spark: SparkSession, path: str,
             **thresholds) -> "SnapshotTable":
        ManifestStore.init(path, **thresholds)
        return cls(spark, path, **thresholds)

    # -- metadata (ManifestStore) ------------------------------------------
    def current_version(self) -> int:
        return self._store.current_version()

    def manifest(self, version: int | None = None) -> dict:
        return self._store.manifest(version)

    def versions(self) -> list[dict]:
        return self._store.versions()

    # -- IO ----------------------------------------------------------------
    def _write_files(self, df: DataFrame) -> tuple[list[str], int, dict]:
        """Materialize ``df`` as immutable files in a fresh staging dir.
        Nothing references them until a manifest commits - a crash here
        leaves only invisible garbage for vacuum.  Returns
        (files, row_count, per-file column stats) - stats come from the
        parquet footers the writer just produced (metadata-only IO)."""
        import pyarrow.parquet as pq

        stage = os.path.join(self._root, "files", uuid.uuid4().hex)
        df.write.mode("errorifexists").parquet(stage)
        files = []
        n = 0
        for f in sorted(os.listdir(stage)):
            if not f.endswith(".parquet"):
                continue
            full = os.path.join(stage, f)
            rows = pq.ParquetFile(full).metadata.num_rows
            if rows == 0:
                # an empty partition's output is pure overhead in the
                # manifest: a scan task opens it, it carries no stats or
                # blooms so it never prunes, and skewed writes would
                # accrete thousands of them (r10; the DSv2 writer already
                # drops empty task outputs)
                os.remove(full)
                continue
            files.append(full)
            n += rows
        # row count comes from the footers the writer just produced -
        # exact, metadata-only, and one full-scan count() cheaper than
        # the pre-r10 shape
        stats = {f: _collect_file_stats(f) for f in files}
        return files, n, stats

    @staticmethod
    def _bloom_pos(c: str, m: int):
        """Bloom bit position of column ``c``'s value - md5 of the
        cast-to-string value, mirrored bit-for-bit by _bloom_position on
        the prune side.  ONE definition shared by the read-back pass
        and the on-write observation so the two can never diverge."""
        return F.pmod(F.conv(F.substring(
            F.md5(F.col(c).cast("string")), 1, 8), 16, 10).cast("long"),
            F.lit(m))

    def _collect_blooms(self, files: list[str], cols: list[str],
                        m: int) -> dict:
        """{file: {col: bloom entry}} built in ONE grouped Spark job
        over the new files (the read-back path; commits whose write this
        module plans itself ride :meth:`_write_files_bloom` instead and
        never pay this second pass).  Restrict ``cols`` to integral/
        string columns (other types render differently across engines
        and are skipped at prune time anyway)."""
        aggs = [F.collect_set(self._bloom_pos(c, m)).alias(c)
                for c in cols]
        rows = (self.spark.read.parquet(*files)
                .select(F.input_file_name().alias("__f"), *cols)
                .groupBy("__f").agg(*aggs).collect())
        out: dict = {}
        for r in rows:
            path = _strip_file_scheme(r["__f"])
            out[path] = {c: bloom_entry(r[c] or [], m) for c in cols}
        # map back onto the manifest's exact file strings
        by_real = {os.path.realpath(f): f for f in files}
        return {by_real.get(os.path.realpath(p), p): e
                for p, e in out.items()}

    def _write_files_bloom(self, df: DataFrame, base: dict,
                           bloom_cols: list[str] | None = None,
                           bloom_bits: int | None = None
                           ) -> tuple[list[str], int, dict, dict]:
        """:meth:`_write_files` plus bloom entries, under the table's ONE
        bloom policy: ``bloom_cols=None`` blooms the columns ``base``
        (the parent manifest) has blooms on for its live files, those
        ``df`` carries, and ``[]`` opts out; ``bloom_bits=None`` keeps
        the table's widest m, or 2^15 when it has none.  Resolving reads
        the entries' ``m`` only (:func:`live_bloom_columns`).

        The positions ride the WRITE job (r13) as an ``observe()`` of
        ``partition_id * m + position`` per column; each write task
        produces exactly one ``part-<partitionId>-*`` file, so the driver
        reassembles per-file bitmaps from the committed file names.
        Bit-identical to the read-back pass (same :meth:`_bloom_pos`
        expression, same rows per file; pinned by tests), retry/
        speculation-safe (set semantics).  Any surprise - reserved
        column in use, m past 2^30, unparsable file name, an observed
        partition id with no kept file, an exception - logs its reason
        and falls back to the read-back pass, so correctness never
        rides the fusion."""
        if bloom_cols is None or (bloom_bits is None and bloom_cols):
            live, width = live_bloom_columns(base)
            if bloom_cols is None:
                bloom_cols = [c for c in live if c in df.columns]
            if bloom_bits is None:
                bloom_bits = width or 1 << 15
        if not bloom_cols:
            files, n, stats = self._write_files(df)
            return files, n, stats, {}
        from pyspark.sql import Observation

        pid = "__graft_pid"
        obs = None
        shaped = df
        if pid in df.columns:
            why = f"column {pid} is reserved"
        elif bloom_bits > 1 << 30:
            why = f"bloom_bits {bloom_bits} > 2^30 cannot pack a partition id"
        else:
            # spark_partition_id() is rejected INSIDE observe metrics
            # (non-deterministic); as a projected column referenced by
            # them it is allowed, and the drop keeps it out of the
            # files.  (pid, position) is packed into ONE long
            # (pid * m + pos): a collect_set of structs costs ~1s of
            # per-element py4j marshalling in Observation.get at ~1e5
            # positions, the long array crosses in ~0.1s (measured).
            obs = Observation(f"blooms_{uuid.uuid4().hex}")
            aggs = [F.collect_set(F.when(
                F.col(c).isNotNull(),
                F.col(pid).cast("long") * F.lit(bloom_bits)
                + self._bloom_pos(c, bloom_bits))).alias(c)
                for c in bloom_cols]
            shaped = (df.withColumn(pid, F.spark_partition_id())
                      .observe(obs, *aggs).drop(pid))
        files, n, stats = self._write_files(shaped)
        if not files:
            return files, n, stats, {}
        if obs is not None:
            try:
                import numpy as np

                row = obs.get
                bypid: dict = {}
                for c in bloom_cols:
                    p, v = np.divmod(np.sort(np.asarray(
                        row[c] or [], dtype=np.int64)), bloom_bits)
                    pids, starts = np.unique(p, return_index=True)
                    bypid[c] = dict(zip(pids.tolist(),
                                        np.split(v, starts[1:])))
                idx = {f: int(os.path.basename(f).split("-")[1])
                       for f in files}
                stray = ({p for g in bypid.values() for p in g}
                         - set(idx.values()))
                if not stray:
                    return files, n, stats, {
                        f: {c: bloom_entry(bypid[c].get(i, ()), bloom_bits)
                            for c in bloom_cols}
                        for f, i in idx.items()}
                why = f"observed partition ids {sorted(stray)[:5]} " \
                    "have no kept file"
            except Exception as e:  # pragma: no cover - defensive fallback
                why = f"{type(e).__name__}: {e}"
        _log.warning("%s: bloom positions read back in a second pass: %s",
                     self.path, why)
        return (files, n, stats,
                self._collect_blooms(files, bloom_cols, bloom_bits))

    def read(self, version: int | None = None,
             where: tuple | list | None = None) -> DataFrame:
        """Snapshot-isolated scan: resolves the manifest ONCE; later
        commits never disturb this DataFrame (its files are immutable).

        ``where`` enables MANIFEST-BASED DATA SKIPPING (r7): one
        ``(col, op, value)`` conjunct or a list of them, op in
        {==, <, <=, >, >=, between}.  Files whose recorded [min, max]
        interval cannot satisfy every conjunct are dropped from the scan
        BEFORE Spark lists them - planning cost is O(files) driver
        metadata, zero data IO, the Iceberg manifest-stats shape.  The
        predicate is ALWAYS also applied to the returned rows, so
        results are exact whether or not stats exist (legacy manifests,
        all-null chunks, string columns prune nothing and just scan)."""
        m = self.manifest(version)
        if not m["files"]:
            if m.get("schema"):
                # a legitimately-empty snapshot (e.g. an all-filtered
                # overwrite) keeps its recorded schema readable
                return self.spark.createDataFrame([], _manifest_schema(m))
            raise SnapshotError(
                f"{self.path} v{m['version']} is empty with no schema; "
                "append first")
        files = m["files"]
        conjuncts = []
        if where is not None:
            conjuncts = _conjunct_list(where)
            files = self.prune_files(m, conjuncts)
        reader = self._reader_for(m)
        if not files:
            # every file pruned: preserve the schema with an empty scan
            # of one manifest file plus an always-false filter
            df = reader.parquet(m["files"][0]).where(F.lit(False))
        elif self._dvs(m):
            # deletion vectors present (r11): subtract MOR-deleted
            # positions with one broadcast anti-join; tables without
            # DVs keep the identical plain-scan plan below
            df = self._scan_subset(m, files)
        else:
            df = reader.parquet(*files)
        for col, op, value in conjuncts:
            df = df.where(_conjunct_column(col, op, value))
        return df

    def prune_files(self, manifest: dict, conjuncts: list) -> list[str]:
        """Manifest-stats file pruning: keep a file unless SOME conjunct
        provably excludes it.  Missing stats keep the file (safe)."""
        return prune_manifest_files(manifest, conjuncts)

    def bloom_columns(self, version: int | None = None) \
            -> tuple[list[str], int]:
        """(columns carrying a bloom bitmap on any live file, widest bit
        width m) - 0 bits when the table has no blooms: the columns a
        write keeps blooming by default (:meth:`_write_files_bloom`).
        O(metadata): no data IO, no bitmap decoded."""
        return live_bloom_columns(self.manifest(version))

    def append(self, df: DataFrame,
               bloom_cols: list[str] | None = None,
               bloom_bits: int | None = None) -> int:
        """New snapshot = parent's files + newly written files.  No data
        is rewritten - commit cost is one manifest, like W1's atomic
        append (OdpsBatchWrite.scala commit) with history kept.

        SCHEMA EVOLUTION: the append may add new nullable columns or
        omit existing ones (see :func:`unify_schemas`); a type change
        raises BEFORE any file is written.  The unified schema rides the
        manifest, so reads never pay a footer-merging pass.

        ``bloom_cols`` (integral/string columns): an m=``bloom_bits``
        bloom bitmap per (new file, column) lets EQUALITY predicates
        prune files whose value ranges overlap (the point-lookup case
        [min, max] intervals can never prune).  ``None`` (default) keeps
        the columns the table's live files are bloomed on and ``[]``
        opts out; ``bloom_bits=None`` keeps the table's m, or 2^15.  The
        bit positions ride the write job; size ``bloom_bits`` >= ~10x
        the expected distinct values per file or the bitmap saturates.
        Entries are stored compressed, so one costs about its distinct
        values (n*log2(m/n) bits, ~1 KB for 500 keys at m = 2^15), not
        ``bloom_bits / 8`` bytes: a generous m is cheap."""
        pm = self.manifest()
        unified = unify_schemas(pm.get("schema"), df.schema)
        files, n, stats, wblooms = self._write_files_bloom(
            df, pm, bloom_cols, bloom_bits)
        return self._store.commit(
            pm, "append", rows=pm["rows"] + n, add=files, stats=stats,
            blooms=wblooms, schema=unified.json())

    def overwrite(self, df: DataFrame, operation: str = "overwrite") -> int:
        """New snapshot from a fresh file list.  The input may lazily read
        the CURRENT snapshot (read-merge-overwrite): its source files are
        never deleted by this commit, so no eager localCheckpoint is
        needed - the exact hazard the plain-parquet CDC path pays for.

        ``operation`` customizes the manifest's operation tag (e.g.
        mv.py's ``mv-refresh:base=<v>`` watermark) so a caller's own
        metadata rides the SAME atomic commit as the data.

        An overwrite REPLACES the table, so its schema resets to the
        input's (no unification against history - the pre-overwrite
        snapshot keeps its own schema for time travel)."""
        # the STORED parent manifest: a segmented list is never
        # materialized just to be discarded (replace-shape delta rule)
        pmj = self._store.manifest_json(self.current_version())
        files, n, stats = self._write_files(df)
        return self._store.commit(
            pmj, operation, rows=n, add=files, stats=stats,
            schema=_nullable_schema(df.schema).json(), shape="replace")

    def rollback(self, version: int) -> int:
        """Publish a NEW snapshot that restores ``version``'s file list
        (history is append-only; nothing is deleted).

        A vacuumed version has no manifest, so rolling back to it raises
        before anything publishes; the file-existence sweep below closes
        the remaining hole (a manifest surviving while its files were
        removed out-of-band) - the conflict must surface at COMMIT time,
        never as a dead HEAD readers hit later."""
        parent = self.current_version()
        m = self.manifest(version)
        missing = [f for f in m["files"] if not os.path.exists(f)]
        if missing:
            raise SnapshotError(
                f"{self.path}: cannot rollback to v{version} - "
                f"{len(missing)} of its files no longer exist "
                f"(vacuumed or removed out-of-band); first: {missing[0]}")
        return self._store.commit(m, f"rollback->v{version}",
                                  rows=m["rows"], onto=parent)

    def merge(self, source: DataFrame, on: str, *,
              matched=None, not_matched=None, not_matched_by_source=None,
              target_alias: str = "t", source_alias: str = "s",
              validate_cardinality: bool = True,
              mor: bool = False,
              source_keys: list[str] | None = None,
              bloom_cols: list[str] | None = None,
              bloom_bits: int | None = None) -> int:
        """Transactional ANSI MERGE INTO this table, published as ONE
        commit.  Clauses as in ``operators.merge.merge_into``: ordered
        first-match WHEN MATCHED update/delete, WHEN NOT MATCHED insert
        (``"*"`` or a ``{col: expr}`` map; unlisted columns NULL), and
        WHEN NOT MATCHED BY SOURCE update/delete; results are cast to
        the table schema.  A matched row whose clause conditions all
        fail is untouched.

        ONE PLANNER, TWO PUBLISHERS (like every row-level DML here):

        1. the source is localCheckpointed once, each row tagged with a
           unique id;
        2. ONE scan of the candidate files, with their (file, row_index)
           positions, joins the source on ``on`` - an inner join, or a
           left outer join when NOT MATCHED BY SOURCE clauses need the
           unmatched target rows - and the clauses turn each joined row
           into an action code and a row image.  That positional change
           set is checkpointed once; its changed/deleted counts and the
           set of touched files ride the same job as an ``observe()``.
           ``validate_cardinality`` (ANSI) then refuses a target row
           matching several source rows;
        3. the WHEN NOT MATCHED inserts are the source rows whose id is
           not in the change set - a source-sized anti-join, never a
           second pass over the target;
        4. COPY-ON-WRITE (default) rewrites ONLY the touched files as
           their scan minus the changed positions plus the images and
           inserts (a file whose every row is deleted just drops), and
           carries every other file verbatim with its stats/blooms;
           ``mor=True`` (MERGE-ON-READ) writes the positions to a
           deletion-vector sidecar and appends the images and inserts,
           rewriting no data file.

        Write cost is O(touched files + inserts) under COW, O(changed
        rows + positions) under MOR.  Unmatched target rows can live in
        any file, so NOT MATCHED BY SOURCE clauses scan every file, but
        COW still rewrites only the files holding a changed row.  Those
        clauses' conditions and SET expressions evaluate over the
        joined relation with a null-extended source side, as in
        ``merge_into``: when target and source share column names,
        qualify references with the target alias (``t.col``); an
        unqualified shared name raises an ambiguous-reference error.

        ``source_keys`` (names of equi-join key columns, when the
        caller knows them - the CDC writer always does): the source's
        per-key [min, max] rides the source checkpoint and prunes the
        candidate files from MANIFEST stats with zero data IO, so the
        scan reads only files whose key ranges overlap the batch.
        Purely an optimization (the join finds the exact rows), and
        ignored with NOT MATCHED BY SOURCE clauses.

        Written files keep the table's blooms (defaults as in
        :meth:`append`).  Returns the new version, or the current one
        when no clause changed a row and nothing was inserted.

        The parent version is pinned BEFORE the plan reads the table,
        so a concurrent commit between read and publish fails the
        parent-is-still-HEAD check and raises SnapshotConflict with
        nothing published - re-calling re-reads the new HEAD
        (optimistic retry).  Reference parity: Sqoop MergeJob / OGG CDC
        apply composed with OdpsBatchWrite's publish-on-commit (J2 +
        W1)."""
        if _SID in source.columns:
            raise SnapshotError(
                f"merge: source column name {_SID} is reserved by the "
                "merge machinery")
        if source_keys:
            _validate_source_keys(on, source_keys, target_alias,
                                  source_alias)
        m = self.manifest()
        types = {f.name: f.dataType for f in self._table_schema(m).fields}
        nmbs = list(not_matched_by_source or [])
        # unmatched rows (NOT MATCHED BY SOURCE) can live in ANY file
        src, candidates, n_src = self._checkpoint_candidates(
            m, source.withColumn(_SID, F.monotonically_increasing_id()),
            None if nmbs else source_keys)
        cs = self._change_set(
            m, candidates, list(matched or []), source=src, on=on,
            not_matched_by_source=nmbs, target_alias=target_alias,
            source_alias=source_alias,
            keep_matched=not_matched is not None or validate_cardinality)
        cs.order = list(source_keys or [])
        matched_rows = (None if cs.rows is None
                        else cs.rows.where(F.col(_SID).isNotNull()))
        if validate_cardinality and matched_rows is not None:
            dup = (matched_rows.groupBy(_FP, _RI)
                   .agg(F.count(F.lit(1)).alias("__n__"))
                   .where(F.col("__n__") > 1))
            if dup.take(1):
                raise ValueError(
                    "MERGE cardinality violation: a target row matches "
                    "multiple source rows; make the ON condition "
                    "key-unique or pre-aggregate the source "
                    "(e.g. newest_wins)")
        if not_matched is not None:
            icond, ins = not_matched
            s_only = src.alias(source_alias)
            if matched_rows is not None:
                sids = matched_rows.select(_SID)
                if cs.rows_kept <= DV_BROADCAST_MAX_POSITIONS:
                    sids = F.broadcast(sids)
                s_only = s_only.join(sids, _SID, "left_anti")
            if icond is not None:
                s_only = s_only.where(F.expr(icond))
            if ins == "*":
                missing = [c for c in types if c not in set(src.columns)]
                if missing:
                    raise ValueError(
                        f"INSERT *: source lacks target columns {missing}")
                imap = {c: f"{source_alias}.`{c}`" for c in types}
            else:
                imap = dict(ins)
            self._set_inserts(cs, s_only.select(*[
                (F.expr(imap[c]) if c in imap else F.lit(None))
                .cast(t).alias(c) for c, t in types.items()]), bound=n_src)
        return self._publish(cs, "merge", mor, bloom_cols, bloom_bits)

    def _checkpoint_candidates(self, m: dict, source: DataFrame,
                               source_keys: list[str] | None
                               ) -> tuple[DataFrame, list[str], int]:
        """(``source`` checkpointed, the files of ``m`` whose manifest
        stats overlap the source's per-key [min, max], the source's row
        count).  The count and bounds ride the checkpoint job as an
        ``observe()`` (r13 pattern), so the pruning costs no job of its
        own.  Every file is a candidate without ``source_keys`` or a
        non-null bound."""
        from pyspark.sql import Observation

        obs = Observation(f"merge_keys_{uuid.uuid4().hex}")
        aggs = [F.count(F.lit(1)).alias("__n")]
        for k in source_keys or []:
            aggs += [F.min(k).alias(f"__lo_{k}"),
                     F.max(k).alias(f"__hi_{k}")]
        src = source.observe(obs, *aggs).localCheckpoint(eager=True)
        row = obs.get
        conj = [(k, "between", (row[f"__lo_{k}"], row[f"__hi_{k}"]))
                for k in source_keys or []
                if row[f"__lo_{k}"] is not None
                and row[f"__hi_{k}"] is not None]
        return (src, self.prune_files(m, conj) if conj else m["files"],
                int(row["__n"]))

    # -- copy-on-write row-level DML (r9) -----------------------------------
    def _reader_for(self, m: dict):
        """Reader pinned to the manifest's unified schema (no
        footer-merging pass; pre-evolution files surface added columns
        as NULL - the Delta/Iceberg log-schema design)."""
        schema = _manifest_schema(m)
        return self.spark.read if schema is None \
            else self.spark.read.schema(schema)

    # -- merge-on-read deletion vectors (r11) -------------------------------
    # A MOR delete records (file, row_index) positions in a tiny parquet
    # SIDECAR instead of rewriting data files (Delta deletion vectors /
    # Iceberg positional deletes): a 1-row delete in a 1 GB file costs
    # O(positions) bytes, not a 1 GB rewrite.  The manifest carries
    # ``dvs: {file: {path, n}}``; every read subtracts positions with one
    # broadcast anti-join on (normalized _metadata.file_path,
    # _metadata.row_index).  Sidecars are immutable, staged like data
    # files, folded per touched file on every new delete (one live
    # sidecar per file), and MATERIALIZED (applied + dropped) by
    # compact()/any COW rewrite of the file.

    @staticmethod
    def _norm_meta_path():
        """_metadata.file_path normalized to the manifest's POSIX form
        (column twin of :func:`_strip_file_scheme`): strip a leading
        ``file:`` scheme, collapse the authority's slashes to one
        (a relative opaque 'file:x' stays 'x'; schemeless '//x'
        collapses too - both matching the old anchored regexes).
        Plain string ops, not regexp_replace - this runs per ROW on
        every DV-applied scan, and the two anchored regexes were the
        single largest share of the MOR read tax (0.47s of a 0.22s
        base scan at 500k rows - scripts/dv_read_tax.py r12); the
        substring/trim form measures ~3x cheaper with identical
        results (equality pinned in tests).  Built as ONE SQL string:
        the nested-builder form cost ~70 py4j round trips (23 ms) per
        construction, paid by every DML plan (r13; semantic equality
        across exotic paths pinned in tests)."""
        return F.expr(
            "CASE WHEN startswith(_metadata.file_path, 'file:') THEN "
            "(CASE WHEN startswith(substring(_metadata.file_path, 6),"
            " '/') THEN concat('/', trim(LEADING '/' FROM "
            "substring(_metadata.file_path, 6))) "
            "ELSE substring(_metadata.file_path, 6) END) "
            "WHEN startswith(_metadata.file_path, '//') THEN "
            "concat('/', trim(LEADING '/' FROM _metadata.file_path)) "
            "ELSE _metadata.file_path END")

    @staticmethod
    def _dvs(m: dict) -> dict:
        return m.get("dvs") or {}

    def _rendered_paths(self, scan: DataFrame,
                        files: list[str]) -> dict | None:
        """The exact ``_metadata.file_path`` rendering of each
        manifest-form path in ``files``, computed DRIVER-side with no
        Spark job: the column renders via
        ``org.apache.hadoop.fs.Path.toString``, so round-tripping the
        scan's ``inputFiles()`` through the same JVM class reproduces
        it byte-for-byte.  Pre-rendering the DV build side to this form
        lets the anti-join probe on the raw metadata column - the
        per-ROW probe-side path normalization was the largest share of
        the MOR read tax (~half; scripts/dv_read_tax.py r12).  Returns
        None when any rendering fails to round back onto ``files``
        exactly (URI-encoding drift on exotic paths, no ``_jvm`` under
        Connect): the caller then falls back to per-row normalization,
        so correctness never rides on the rendering assumption.

        Renderings are memoized process-wide (r13, VERDICT r12 #4):
        ``Path(s).toString`` is a pure function of the string, and the
        two py4j round trips per dirty file were previously paid again
        on EVERY read of the same table - a many-dirty-file table at
        scale paid O(dirty files) driver latency per query instead of
        once per file ever."""
        try:
            fset = set(files)
            out: dict = {}
            jpath = None
            for rf in scan.inputFiles():
                rmeta = _RENDERED_CACHE.get(rf)
                if rmeta is None:
                    if jpath is None:
                        jpath = self.spark._jvm.org.apache.hadoop.fs.Path
                    rmeta = jpath(rf).toString()
                    if len(_RENDERED_CACHE) >= 1 << 16:
                        _RENDERED_CACHE.clear()
                    _RENDERED_CACHE[rf] = rmeta
                mfp = _strip_file_scheme(rmeta)
                if mfp not in fset or mfp in out:
                    return None
                out[mfp] = rmeta
            return out if len(out) == len(fset) else None
        except Exception:  # pragma: no cover - no JVM gateway
            return None

    def _map_to_rendered(self, dvp: DataFrame,
                         rendered: dict) -> DataFrame:
        """Rewrite ``dvp.__graft_fp`` from manifest form to the scan's
        rendered form.  Fast path: every rendering is ``prefix +
        manifest-form`` (always true on one filesystem - e.g. prefix
        ``file:``), so ONE concat per position suffices - no mapping
        join, no extra broadcast stage (a tiny-relation join measured
        +~0.3 s of fixed per-read latency in local mode).  Positions of
        files outside the scan turn into ``prefix + otherfile``, which
        can collide with a scanned rendering only if the manifest paths
        were equal - i.e. never; they drop in the anti/inner join
        exactly as their manifest-form strings always did.  Mixed
        renderings (several filesystems in one scan) fall back to a
        broadcast mapping join."""
        items = sorted(rendered.items())
        mfp0, r0 = items[0]
        prefix = r0[: len(r0) - len(mfp0)] if r0.endswith(mfp0) else None
        if prefix is not None and \
                all(r == prefix + mf for mf, r in items):
            if not prefix:
                return dvp
            return dvp.withColumn(
                "__graft_fp",
                F.concat(F.lit(prefix), F.col("__graft_fp")))
        rmap = self.spark.createDataFrame(
            items, "__graft_fp string, __graft_r string")
        return (dvp.join(F.broadcast(rmap), "__graft_fp", "inner")
                .withColumn("__graft_fp", F.col("__graft_r"))
                .drop("__graft_r"))

    @staticmethod
    def _position_join(scan: DataFrame, pos: DataFrame,
                       how: str) -> DataFrame:
        """``scan`` joined with the deletion-vector positions ``pos`` on
        (``__graft_fp``, ``__graft_ri``), which both carry.  The hash
        key is ONE long, ``xxhash64`` of the pair, and the pair itself
        is compared in the join condition, so the join stays exact.  A
        single long key makes a broadcast build side a
        ``LongHashedRelation``; a (string, long) key would build an
        ``UnsafeHashedRelation``, whose copy on every executor holds a
        whole Tungsten page (8-64 MB) however few positions it has,
        until the context cleaner drops the broadcast."""
        key = F.xxhash64("__graft_fp", "__graft_ri")
        p = pos.select(key.alias("__graft_pk"),
                       F.col("__graft_fp").alias("__graft_pfp"),
                       F.col("__graft_ri").alias("__graft_pri"))
        # inside coalesce the pair check stays a join condition; bare
        # equalities would be planned as two more hash keys
        same = F.coalesce((F.col("__graft_fp") == F.col("__graft_pfp"))
                          & (F.col("__graft_ri") == F.col("__graft_pri")),
                          F.lit(False))
        return (scan.withColumn("__graft_k", key)
                .join(p, (F.col("__graft_k") == F.col("__graft_pk")) & same,
                      how)
                .drop("__graft_k", "__graft_pk", "__graft_pfp",
                      "__graft_pri"))

    def _dv_build_side(self, dv_paths: list[str],
                       rendered: dict | None = None) -> DataFrame:
        """The (file, row_index) build side for a DV anti-join, with
        the broadcast decision BOUNDED by the actual position count
        (VERDICT r11 #1): sidecar parquet footers - driver metadata
        reads, cached per immutable path - give the exact row total;
        past ``DV_BROADCAST_MAX_POSITIONS`` the hint is dropped and
        AQE picks the strategy instead of a forced broadcast marching
        into the 8 GB hard cap on an uncompacted MOR-heavy table."""
        paths = sorted(set(dv_paths))
        dvp = (self.spark.read.schema(SIDECAR_SCHEMA).parquet(*paths)
               .select(F.col("file").alias("__graft_fp"),
                       F.col("row_index").alias("__graft_ri")))
        if rendered is not None:
            dvp = self._map_to_rendered(dvp, rendered)
        total = sum(_sidecar_rows(p) for p in paths)
        if total > DV_BROADCAST_MAX_POSITIONS:
            _log.warning(
                "%s: %d accumulated deletion-vector positions exceed "
                "the broadcast bound (%d) - reads now pay a shuffled "
                "anti-join; run compact() to materialize", self.path,
                total, DV_BROADCAST_MAX_POSITIONS)
            return dvp
        return F.broadcast(dvp)

    def _scan_subset(self, m: dict, files: list[str],
                     file_col: str | None = None,
                     row_col: str | None = None,
                     apply_dvs: bool = True) -> DataFrame:
        """Scan a subset of the manifest's files under the unified
        schema with deletion vectors APPLIED.  When none of ``files``
        carries a DV and no extra column is requested, this is exactly
        the pre-r11 plain scan (identical plan).  ``file_col`` /
        ``row_col`` expose the normalized source path and row index as
        columns (DML phase-1 scans, MOR position capture).

        ``apply_dvs=False`` (r13, pure-DELETE capture only): skip the
        anti-join - the scan returns DEAD rows too.  Sound only for a
        caller that re-subtracts prior positions itself (the dedup fold
        in :meth:`_stage_dv_sidecar`); it trades the broadcast-build
        job + probe for a min() in the fold aggregation."""
        fset = set(files)
        dvs = {} if not apply_dvs else \
            {f: v for f, v in self._dvs(m).items() if f in fset}
        want_pos = file_col is not None or row_col is not None
        if not dvs and not want_pos:
            return self._reader_for(m).parquet(*files)
        # CLEAN/DIRTY SPLIT (r12): only rows from files that actually
        # carry a deletion vector pay the per-row path normalization +
        # anti-join; every other file rides a plain scan and the two
        # halves union.  On the intended sparse-DML shape (a few DV'd
        # files in a large table) the MOR read tax is O(DV'd files'
        # rows), not O(table) - before this, ONE small MOR delete made
        # every row of every file cross the join.
        dirty = [f for f in files if f in dvs]
        clean = [f for f in files if f not in dvs]

        def _meta(scan):
            # one batched call, not two withColumn round trips (r13)
            return scan.withColumns(
                {"__graft_fp": self._norm_meta_path(),
                 "__graft_ri": F.col("_metadata.row_index")})

        df = None
        if dirty:
            # positions of files NOT in this scan (shared commit
            # sidecars) simply never match the join keys
            scan = self._reader_for(m).parquet(*dirty)
            dv_paths = [v["path"] for v in dvs.values()]
            # pure reads probe on the RAW metadata path against a
            # pre-rendered build side (r12) - no per-row string
            # surgery; position-capture scans keep the normalized form
            # because downstream consumers key on manifest-form paths
            rendered = None if want_pos else \
                self._rendered_paths(scan, dirty)
            if rendered is None:
                df = self._position_join(
                    _meta(scan), self._dv_build_side(dv_paths),
                    "left_anti")
                if not want_pos:
                    df = df.drop("__graft_fp", "__graft_ri")
            else:
                df = self._position_join(
                    scan.withColumns(
                        {"__graft_fp": F.col("_metadata.file_path"),
                         "__graft_ri": F.col("_metadata.row_index")}),
                    self._dv_build_side(dv_paths, rendered),
                    "left_anti").drop("__graft_fp", "__graft_ri")
        if clean:
            c = self._reader_for(m).parquet(*clean)
            if want_pos:
                c = _meta(c)
            df = c if df is None else df.unionByName(c)
        if df is None:
            # zero files (e.g. a DML whose pruning emptied the
            # candidate set): the pre-split schema-only scan shape
            df = _meta(self._reader_for(m).parquet())
        if want_pos:
            renames = {}
            if row_col is not None:
                renames["__graft_ri"] = row_col
            else:
                df = df.drop("__graft_ri")
            if file_col is not None:
                renames["__graft_fp"] = file_col
            else:
                df = df.drop("__graft_fp")
            return df.withColumnsRenamed(renames) if renames else df
        return df

    def _stage_dv_sidecar(self, m: dict, candidates: list[str],
                          new_pos: DataFrame, single_task: bool = False,
                          dedup_priors: bool = False
                          ) -> tuple[str | None, dict | None]:
        """Write ONE deletion-vector sidecar for a MOR commit in a
        SINGLE Spark job (r13; the prior shape paid three jobs per MOR
        delete - capture checkpoint, per-file count collect, fold+write
        - at ~0.3s of fixed job cost each locally and an extra pass
        over the positions at scale): the caller's fresh positions
        (``new=true``, pre-marked) plus EVERY row of the candidate
        files' current sidecars (``new=false``).  Per-file NEW counts
        then come from the staged parquet itself, read driver-side with
        pyarrow (three tiny columns, bounded by MOR_MAX_NEW_POSITIONS +
        fold size) - no second Spark job.

        The prior-position fold is deliberately UNFILTERED: restricting
        it to the touched files needed the touched set up front (the
        collect job this removes) and a semi-join.  Copying a shared
        sidecar's other-file rows is harmless - the read path unions
        every referenced sidecar and joins on (file, row_index), so
        duplicate positions cannot change an anti/inner join; CDF reads
        only ``new=true`` rows; and the extra bytes are bounded by the
        sidecars already being read.  Every candidate file with a prior
        vector is RE-POINTED at the new sidecar by :meth:`_dv_entries`
        (its full position set is in there), which also shrinks the
        table's live-sidecar count.

        Returns (stage_path, per_file-new-counts), or (None, None) -
        stage removed - when the capture matched nothing.
        ``single_task``: the caller's ``new_pos`` is already
        checkpointed/tiny, so a coalesce(1) is safe; the default
        repartition(1) keeps a live capture SCAN parallel and funnels
        only the matched positions through the single write task.

        ``dedup_priors`` (r13, pure-DELETE capture): the caller's
        positions came off a NON-DV-applied scan, so already-deleted
        rows matching the predicate arrive marked ``new=true`` - but
        every such position is also in the candidate files' prior
        sidecars (the fold invariant: a file's live sidecar holds its
        FULL position set), so ``min(new)`` grouped by (file,
        row_index) restores the exact marking while deduplicating the
        fold.  This replaces the capture scan's broadcast anti-join
        (one whole extra job: read priors, build, broadcast) with a
        partial-aggregate in the same staged job - the priors are read
        once instead of twice."""
        dvm = self._dvs(m)
        prior_paths = sorted({dvm[f]["path"] for f in candidates
                              if f in dvm})
        if prior_paths:
            prior = (self.spark.read.schema(SIDECAR_SCHEMA)
                     .parquet(*prior_paths)
                     .select("file", "row_index")
                     .withColumn("new", F.lit(False)))
            new_pos = new_pos.unionByName(prior)
        stage = os.path.join(self._root, "files", uuid.uuid4().hex)
        if dedup_priors:
            # map-side partial agg keeps the capture scan parallel; the
            # final agg + write funnel through one task like the
            # repartition(1) shape (positions bounded by
            # MOR_MAX_NEW_POSITIONS + fold size)
            shaped = (new_pos.groupBy("file", "row_index")
                      .agg(F.min("new").alias("new"))
                      .coalesce(1))
        else:
            shaped = new_pos.coalesce(1) if single_task \
                else new_pos.repartition(1)
        shaped.write.mode("errorifexists").parquet(stage)
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq
        parts = [os.path.join(stage, f) for f in sorted(os.listdir(stage))
                 if f.endswith(".parquet")]
        per_file: dict[str, int] = {}
        if parts:
            t = pa.concat_tables(
                pq.read_table(p, columns=["file", "row_index", "new"])
                for p in parts)
            t = t.filter(t["new"])
            for d in pc.value_counts(t["file"]).to_pylist():
                per_file[d["values"]] = int(d["counts"])
            # a new position staged twice is one target row changed by
            # two source rows (a merge run with validate_cardinality=
            # False): it would delete one row but count two
            if t.group_by(["file", "row_index"]).aggregate([]).num_rows \
                    != t.num_rows:
                shutil.rmtree(stage, ignore_errors=True)
                raise SnapshotError(
                    f"{self.path}: MERGE cardinality violation - a target "
                    "row matches multiple source rows, so merge-on-read "
                    "would stage its position twice; make the ON "
                    "condition key-unique or pre-aggregate the source "
                    "(e.g. newest_wins)")
        if not per_file:
            shutil.rmtree(stage, ignore_errors=True)
            return None, None
        n_new = sum(per_file.values())
        if n_new > MOR_MAX_NEW_POSITIONS:
            shutil.rmtree(stage, ignore_errors=True)
            raise SnapshotError(
                f"{self.path}: merge-on-read matched {n_new} positions "
                f"(> MOR_MAX_NEW_POSITIONS={MOR_MAX_NEW_POSITIONS}) - "
                "the single-task sidecar write is built for sparse "
                "DML; re-run with mor=False (copy-on-write rewrites "
                "files in parallel and is the better plan at this "
                "fraction), or raise snapshots.MOR_MAX_NEW_POSITIONS")
        return stage, per_file

    def _dv_entries(self, m: dict, candidates: list[str], stage: str,
                    per_file: dict, mapped: dict, *,
                    enforce_fraction: bool = False) -> tuple[dict, dict]:
        """The dv entries a staged sidecar changes (the store carries
        the rest): candidate files whose priors were folded re-point to
        ``stage`` (count unchanged); files with NEW positions add them
        on top.
        ``delta_dv.files`` lists only the files with new positions -
        the exact set CDF must read ``new=true`` events for.

        ``enforce_fraction`` (r13, the pure-DELETE path): refuses BEFORE
        the commit when any touched file's folded position count would
        exceed ``MOR_MAX_DV_FRACTION`` of its physical rows - the
        unbounded read-tax escape hatch VERDICT r12 #1 asked for.  The
        staged sidecar becomes vacuum garbage, the staged-data contract
        for every aborted commit.  Update/merge paths do NOT enforce it:
        their positions are matched one-for-one by freshly WRITTEN row
        images (the op already pays a write proportional to the marked
        rows, unlike a delete whose whole point is writing nothing), and
        a small file fully updated in place is routine, not a tax trap -
        MOR_MAX_NEW_POSITIONS bounds them."""
        import pyarrow.parquet as pq

        dvm = self._dvs(m)
        dvs = {}
        for f in candidates:
            if f in dvm:
                dvs[f] = {"path": stage, "n": dvm[f]["n"]}
        for scan_f, mfp in mapped.items():
            prior_n = (dvm.get(mfp) or {}).get("n", 0)
            folded = prior_n + per_file[scan_f]
            if enforce_fraction:
                phys = pq.ParquetFile(mfp).metadata.num_rows
                if folded > MOR_MAX_DV_FRACTION * phys:
                    shutil.rmtree(stage, ignore_errors=True)
                    raise SnapshotError(
                        f"{self.path}: merge-on-read would leave "
                        f"{folded}/{phys} rows of "
                        f"{os.path.basename(mfp)!r} deleted "
                        f"(> MOR_MAX_DV_FRACTION={MOR_MAX_DV_FRACTION})"
                        " - every read of a mostly-dead file pays its "
                        "full scan plus the anti-join; run compact() "
                        "first (it materializes the vectors), use "
                        "mor=False (COW rewrites the file outright), "
                        "or raise snapshots.MOR_MAX_DV_FRACTION")
            dvs[mfp] = {"path": stage, "n": folded}
        delta_dv = {"path": stage, "files": sorted(set(mapped.values())),
                    "n": sum(per_file.values())}
        return dvs, delta_dv

    def _anti_join_dv(self, df: DataFrame, dv_paths: list[str],
                      files: list[str] | None = None) -> DataFrame:
        """Subtract deletion-vector positions from a parquet scan (the
        scan must still expose ``_metadata``); no-op without paths.
        ``files`` = the manifest-form paths ``df`` scans: when given,
        the build side is pre-rendered so the probe skips the per-row
        path normalization (r12; falls back automatically)."""
        if not dv_paths:
            return df
        rendered = self._rendered_paths(df, files) if files else None
        fp = (F.col("_metadata.file_path") if rendered is not None
              else self._norm_meta_path())
        df = df.withColumns({"__graft_fp": fp,
                             "__graft_ri": F.col("_metadata.row_index")})
        return (self._position_join(
            df, self._dv_build_side(dv_paths, rendered), "left_anti")
                .drop("__graft_fp", "__graft_ri"))

    def _logical_rows(self, m: dict, files: list[str]) -> int:
        """Row count of ``files`` with deletion vectors subtracted -
        parquet footers alone over-count MOR-deleted rows."""
        import pyarrow.parquet as pq

        dvs = self._dvs(m)
        total = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
        return total - sum(dvs[f]["n"] for f in files if f in dvs)

    def _dml_target(self, where) -> tuple[dict, object, list[str]]:
        """(parent manifest, row predicate, candidate files) of a DML
        ``where``: the ``read(where=)`` conjunct grammar - one ``(col,
        op, value)`` tuple or a list - prunes the candidates from
        manifest stats; a free-form SQL expression string keeps every
        file (Spark's parquet pushdown still skips row groups)."""
        m = self.manifest()
        if isinstance(where, str):
            if not where.strip():
                raise SnapshotError("empty DML predicate")
            return m, F.expr(where), m["files"]
        conjuncts = _conjunct_list(where)
        if not conjuncts:
            raise SnapshotError(
                "DML needs a predicate: (col, op, value) conjunct(s) or "
                "a SQL expression string (use overwrite/truncate to "
                "replace the whole table)")
        pred = _conjunct_column(*conjuncts[0])
        for c in conjuncts[1:]:
            pred = pred & _conjunct_column(*c)
        return m, pred, self.prune_files(m, conjuncts)

    def _map_hits_to_manifest(self, hit_paths: list[str],
                              candidates: list[str],
                              operation: str) -> dict[str, str]:
        """Map ``input_file_name()`` renderings back to the manifest's
        own path strings (scheme stripped, realpath-normalized).  A hit
        that cannot be mapped RAISES instead of being silently dropped
        (ADVICE r9, medium): an unmapped hit would fall out of the
        rewrite set, and a COW merge would then re-insert its matched
        source rows as duplicates with no row-count guard to catch it.
        Returns {hit path: manifest path}."""
        by_real = {os.path.realpath(f): f for f in candidates}
        out: dict[str, str] = {}
        for p in hit_paths:
            mapped = by_real.get(os.path.realpath(_strip_file_scheme(p)))
            if mapped is None:
                raise SnapshotError(
                    f"{self.path}: {operation} phase-1 hit {p!r} does not "
                    "map back to a manifest file - aborting before any "
                    "write (an unmappable hit would silently drop the "
                    "file from the rewrite set and duplicate its rows)")
            out[p] = mapped
        return out

    def _check_rows(self, operation: str, expected: int,
                    written: int) -> None:
        """A rewrite that wrote other than ``expected`` rows aborts before
        its commit; its staged files stay unreferenced vacuum garbage."""
        if written != expected:
            raise SnapshotError(
                f"{self.path}: {operation} row-count mismatch ({expected} "
                f"expected, {written} written) - aborting before commit; "
                "staged files are unreferenced garbage for vacuum")

    # -- row-level DML: one change-set planner, two publishers -------------
    # delete, update, merge (hence mirror and cdc_apply_merge),
    # replace_where and scd2_apply_cow all build ONE positional change
    # set (_change_set) and publish it copy-on-write (_publish_cow) or
    # merge-on-read (_publish_mor), so both modes share one
    # implementation of the clause semantics.

    def _table_schema(self, m: dict):
        """The table's schema: the manifest's, else a read's (which
        raises on an empty table that never recorded one)."""
        return _manifest_schema(m) or self.read(m["version"]).schema

    def _change_set(self, m: dict, candidates: list[str], clauses: list,
                    *, where=None, source: DataFrame | None = None,
                    on: str | None = None,
                    not_matched_by_source: list | None = None,
                    target_alias: str | None = None,
                    source_alias: str = "s", keep_matched: bool = False,
                    keep_dead: bool = False) -> _ChangeSet:
        """The positional change set of ``clauses`` (``(condition,
        "delete" | {col: expr})``, first applicable wins) over ONE scan
        of ``candidates`` with their (file, row_index) positions, rows
        filtered by ``where`` (a Column; NULL keeps the row, ANSI).
        With ``source`` the scan joins it on ``on`` (left outer when
        ``not_matched_by_source`` clauses code the unmatched rows, else
        inner); ``keep_matched`` keeps every matched row, changed or
        not, for the insert anti-join and the cardinality check.

        The set is checkpointed once, with its changed/deleted counts
        and touched files observed on that job.  ``keep_dead`` (the
        merge-on-read DELETE capture only) leaves it lazy over a scan
        that skips the deletion-vector anti-join: the sidecar fold
        re-marks the dead rows it captures (:meth:`_stage_dv_sidecar`
        ``dedup_priors``), so the capture is the sidecar's single
        write job."""
        cs = _ChangeSet(m, candidates)
        if not candidates:
            return cs
        scan = self._scan_subset(m, candidates, file_col=_FP, row_col=_RI,
                                 apply_dvs=not keep_dead)
        cs.data_cols = [c for c in scan.columns if c not in (_FP, _RI)]
        types = dict(scan.dtypes)
        rel = scan if target_alias is None else scan.alias(target_alias)
        if where is not None:
            rel = rel.where(F.coalesce(where, F.lit(False)))
        act = _clause_codes(clauses, "U")
        families = [(clauses, "U")]
        keep = None
        if source is not None:
            nmbs = not_matched_by_source or []
            rel = rel.join(source.alias(source_alias), F.expr(on),
                           "left_outer" if nmbs else "inner")
            if nmbs:
                act = F.when(F.col(_SID).isNotNull(), act) \
                    .otherwise(_clause_codes(nmbs, "S"))
                families.append((nmbs, "S"))
            if keep_matched:
                keep = F.col(_SID).isNotNull()
        changed = F.col(_ACT) != "K"
        rel = rel.withColumn(_ACT, act)
        rel = rel.where(changed if keep is None else keep | changed)
        sid = ([F.col(_SID)] if source is not None
               and _SID in source.columns else [])
        rows = rel.select(
            F.col(_FP), F.col(_RI), F.col(_ACT), *sid,
            *_clause_images(families, cs.data_cols, types, target_alias))
        if keep_dead:
            cs.rows, cs.n = rows, None
            return cs
        from pyspark.sql import Observation

        obs = Observation(f"changes_{uuid.uuid4().hex}")
        cs.rows = (rows.observe(
            obs, F.count(F.lit(1)).alias("k"),
            F.count(F.when(changed, 1)).alias("n"),
            F.count(F.when(F.col(_ACT) == "D", 1)).alias("d"),
            F.collect_set(F.when(changed, F.col(_FP))).alias("f"))
            .localCheckpoint(eager=True))
        r = obs.get
        cs.rows_kept, cs.n, cs.d = int(r["k"]), int(r["n"]), int(r["d"])
        cs.touched = list(r["f"])
        return cs

    @staticmethod
    def _set_inserts(cs: _ChangeSet, inserts: DataFrame, *aggs,
                     bound: int | None = None) -> None:
        """Attach ``inserts`` to ``cs``; their count (and ``aggs``) ride
        the publisher's write job as an ``observe()``.  ``bound`` caps
        their rows when known (a MERGE inserts at most its source), so
        a copy-on-write rewrite may pack them with its own rows."""
        from pyspark.sql import Observation

        cs.ins_bound = bound
        cs.ins_obs = Observation(f"inserts_{uuid.uuid4().hex}")
        cs.inserts = inserts.observe(
            cs.ins_obs, F.count(F.lit(1)).alias("n"), *aggs)

    def _publish(self, cs: _ChangeSet, operation: str, mor: bool,
                 bloom_cols: list[str] | None, bloom_bits: int | None) -> int:
        publish = self._publish_mor if mor else self._publish_cow
        return publish(cs, operation, bloom_cols, bloom_bits)

    def _publish_cow(self, cs: _ChangeSet, operation: str,
                     bloom_cols: list[str] | None, bloom_bits: int | None,
                     schema: str | None = None, guard=None) -> int:
        """COPY-ON-WRITE: the touched files leave the table (their
        deletion vectors with them - the rewrite MATERIALIZES them) and
        their surviving rows - the scan minus the change set's
        positions - come back with the images and inserts in ONE write,
        packed into about one file per ``_REWRITE_FILE_BYTES`` (inserts
        of known bound count at the touched files' bytes per row).
        When every live row of the touched files is
        deleted they just drop (the partition-delete fast path).
        Untouched files carry verbatim with their stats/blooms: commit
        metadata is O(touched + new).  ``guard`` runs after the write,
        before the commit."""
        m = cs.m
        touched = set(self._map_hits_to_manifest(
            cs.touched, cs.candidates, operation).values())
        tfiles = [f for f in m["files"] if f in touched]
        n_touched = self._logical_rows(m, tfiles)
        new = inserts = cs.inserts
        if n_touched > cs.d:
            pos = cs.rows.where(F.col(_ACT) != "K").select(_FP, _RI)
            if cs.n <= DV_BROADCAST_MAX_POSITIONS:
                pos = F.broadcast(pos)
            new = self._position_join(
                self._scan_subset(m, tfiles, file_col=_FP, row_col=_RI),
                pos, "left_anti").drop(_FP, _RI)
            images = cs.images()
            if images is not None:
                new = new.unionByName(images)
            # inserts of known bound pack with the rewrite, sized by the
            # touched files' bytes per row; unbounded ones keep their own
            # partitioning
            rows = n_touched
            if inserts is not None and cs.ins_bound is not None:
                new = new.unionByName(inserts, allowMissingColumns=True)
                rows, inserts = rows + cs.ins_bound, None
            n_out = -(-sum(os.path.getsize(f) for f in tfiles) * rows
                      // (n_touched * _REWRITE_FILE_BYTES))
            new = new.coalesce(max(1, n_out))
            if cs.order:
                new = new.sortWithinPartitions(*cs.order)
            if inserts is not None:
                new = new.unionByName(inserts, allowMissingColumns=True)
        files, stats, wblooms, n_ins = [], {}, {}, 0
        if new is not None:
            files, n_new, stats, wblooms = self._write_files_bloom(
                new, m, bloom_cols, bloom_bits)
            n_ins = cs.n_inserted()
            self._check_rows(operation, n_touched - cs.d + n_ins, n_new)
            if guard is not None:
                guard()
        if not files and not tfiles:
            return m["version"]  # nothing changed, nothing inserted
        return self._store.commit(
            m, operation, rows=m["rows"] - cs.d + n_ins, add=files,
            stats=stats, blooms=wblooms, remove=tfiles, schema=schema)

    def _publish_mor(self, cs: _ChangeSet, operation: str,
                     bloom_cols: list[str] | None,
                     bloom_bits: int | None) -> int:
        """MERGE-ON-READ: the change set's positions - plus the
        candidate files' prior positions, folded forward - go to ONE
        deletion-vector sidecar, and the images and inserts append as
        new files, in ONE commit whose data files are otherwise
        unchanged: write cost O(changed rows + positions).  A lazy set
        (pure delete) streams its capture straight into the sidecar
        write and is refused past ``MOR_MAX_DV_FRACTION``; images
        always come with written rows of their own, so the bound does
        not apply to them (``MOR_MAX_NEW_POSITIONS`` does).  A crashed
        attempt leaves an unreferenced sidecar for vacuum."""
        m, op, lazy = cs.m, f"{operation}-mor", cs.n is None
        stage = per_file = None
        if cs.rows is not None and (lazy or cs.n):
            pos = cs.rows.where(F.col(_ACT) != "K").select(
                F.col(_FP).alias("file"), F.col(_RI).alias("row_index"),
                F.lit(True).alias("new"))
            stage, per_file = self._stage_dv_sidecar(
                m, cs.candidates, pos, single_task=not lazy,
                dedup_priors=lazy)
        new = cs.images() if not lazy else None
        if cs.inserts is not None:
            new = cs.inserts if new is None else new.unionByName(cs.inserts)
        files, stats, wblooms, n_ins = [], {}, {}, 0
        if new is not None:
            files, n_new, stats, wblooms = self._write_files_bloom(
                new, m, bloom_cols, bloom_bits)
            n_ins = cs.n_inserted()
            self._check_rows(op, cs.n - cs.d + n_ins, n_new)
        if not per_file and not files:
            return m["version"]  # nothing changed, nothing inserted
        dvs = delta_dv = None
        n_del = cs.d
        if per_file:
            mapped = self._map_hits_to_manifest(list(per_file),
                                                cs.candidates, op)
            dvs, delta_dv = self._dv_entries(m, cs.candidates, stage,
                                             per_file, mapped,
                                             enforce_fraction=lazy)
            if lazy:
                n_del = sum(per_file.values())
        return self._store.commit(
            m, op, rows=m["rows"] - n_del + n_ins, add=files, stats=stats,
            blooms=wblooms, dvs=dvs, delta_dv=delta_dv)

    def delete(self, where,
               bloom_cols: list[str] | None = None,
               bloom_bits: int | None = None,
               mor: bool = False) -> int:
        """Row-level ``DELETE FROM``: the change set of ONE ``(where,
        "delete")`` clause (ANSI: a row is deleted when the predicate IS
        TRUE; NULL keeps it), published COPY-ON-WRITE by default or
        MERGE-ON-READ with ``mor=True``.

        1. manifest [min,max]/bloom stats prune candidate files with
           ZERO data IO when ``where`` uses the ``(col, op, value)``
           conjunct grammar (a SQL string predicate skips manifest
           pruning but still pushes down to the parquet scan);
        2. ONE pushdown scan over the candidates captures the matching
           (file, row_index) positions;
        3. COW rewrites only the files holding a match, without the
           matched rows - or drops a file whose every live row matches;
           MOR (Delta deletion vectors / Iceberg positional deletes)
           records the positions in a tiny parquet sidecar instead, so
           a 1-row delete in a 1 GB file costs O(positions) bytes, in a
           single Spark job.  Every read subtracts the positions with
           one broadcast anti-join; ``compact()`` and any COW rewrite
           of a file MATERIALIZE its vector;
        4. one atomic commit carries every untouched file and its
           stats/blooms verbatim.

        Rewritten files keep the table's blooms (defaults as in
        :meth:`append`).  The pre-delete version stays time-travelable
        until vacuum, and ``changes()`` reports the removed rows as
        ``delete`` rows.  Returns the new version - or the CURRENT
        version unchanged when nothing matches (no empty commit).

        Reference parity: row-level DML is what the reference's
        append-only tunnel writers structurally lack
        (OdpsTableCatalog.scala rejects deletes); expressible here
        because snapshots make file replacement atomic."""
        m, pred, candidates = self._dml_target(where)
        cs = self._change_set(m, candidates, [(None, "delete")],
                              where=pred, keep_dead=mor)
        return self._publish(cs, "delete", mor, bloom_cols, bloom_bits)

    def update(self, assignments: dict, where,
               bloom_cols: list[str] | None = None,
               bloom_bits: int | None = None,
               mor: bool = False) -> int:
        """``UPDATE ... SET``: the change set of ONE ``(where,
        assignments)`` clause, published as :meth:`delete` publishes
        its set.  COPY-ON-WRITE (default) rewrites the touched files
        with the new values; ``mor=True`` (MERGE-ON-READ) puts the
        matched rows' OLD positions on a deletion-vector sidecar and
        appends their UPDATED copies in the SAME commit - write cost
        O(matched rows), no touched-file rewrite.  ``changes()``
        reports delete+insert pairs either way.

        ``assignments`` maps column name -> SQL expression string (or
        Column); every expression is evaluated against the PRE-update
        row in one projection, so ``{"a": "b", "b": "a"}`` swaps
        (standard UPDATE semantics).  Results are cast back to the
        column's manifest type - the schema is a contract row-level DML
        never changes (use ALTER/append evolution for that).  Rows
        where the predicate is NULL are untouched (ANSI).  Written files
        keep the table's blooms (defaults as in :meth:`append`).
        Returns the new version, or the current one unchanged when no
        row matches."""
        m, pred, candidates = self._dml_target(where)
        if candidates:
            cols = self._table_schema(m).fieldNames()
            unknown = [c for c in assignments if c not in cols]
            if unknown:
                raise SnapshotError(
                    f"{self.path}: UPDATE of unknown columns {unknown}")
        cs = self._change_set(m, candidates, [(None, assignments)],
                              where=pred)
        return self._publish(cs, "update", mor, bloom_cols, bloom_bits)

    def mirror(self, source: DataFrame, key_cols: list[str], *,
               mor: bool = False,
               validate_cardinality: bool = True,
               bloom_cols: list[str] | None = None,
               bloom_bits: int | None = None) -> int:
        """FULL SYNC: make this table row-for-row equal to ``source``
        keyed on ``key_cols`` in ONE commit - matched rows take the
        source's values, new source keys insert, target keys absent
        from the source DELETE (``WHEN NOT MATCHED BY SOURCE``).  The
        CDC full-refresh / dimension-snapshot shape: a nightly extract
        replaces the table's CONTENT while history, time travel and
        the change feed keep working (``overwrite`` would too, but its
        change feed is a full delete+insert of every row).

        It is one :meth:`merge`, so one change set: only rows whose
        values differ change.  Copy-on-write rewrites only the files
        holding a changed row; ``mor=True`` turns unmatched rows into
        deletion-vector positions and appends only the changed rows.

        ``source`` must carry every table column (it IS the new truth).
        Returns the new version, or the current one when nothing
        differs."""
        m = self.manifest(self.current_version())
        if m.get("schema"):
            cols = _manifest_schema(m).fieldNames()
        else:
            cols = self.read().columns if m["files"] else source.columns
        missing = [c for c in cols if c not in source.columns]
        if missing:
            raise SnapshotError(
                f"{self.path}: mirror source lacks table columns "
                f"{missing}")
        bad = [k for k in key_cols if k not in cols]
        if bad:
            raise SnapshotError(
                f"{self.path}: mirror keys {bad} are not table columns")
        on = " AND ".join(f"t.`{k}` = s.`{k}`" for k in key_cols)
        sets = {c: f"s.`{c}`" for c in cols if c not in key_cols}
        # update ONLY rows whose values actually differ (null-safe):
        # an unchanged matched row stays untouched, so the commit and
        # its change feed are proportional to the real diff, not the
        # match count.  All-key tables: matched rows are identical by
        # definition, no matched clause at all.
        diff = " OR ".join(f"NOT (t.`{c}` <=> s.`{c}`)" for c in sets)
        return self.merge(
            source.select(*cols), on,
            matched=[(diff, sets)] if sets else None,
            not_matched=(None, "*"),
            not_matched_by_source=[(None, "delete")],
            validate_cardinality=validate_cardinality,
            mor=mor, source_keys=None,
            bloom_cols=bloom_cols, bloom_bits=bloom_bits)

    def replace_where(self, df: DataFrame, where,
                      validate: bool = True,
                      bloom_cols: list[str] | None = None,
                      bloom_bits: int | None = None) -> int:
        """ATOMIC predicate-scoped overwrite (Delta's ``replaceWhere`` -
        the backfill shape: replace one day/region of a 100 TB table in
        ONE commit without touching the rest): the change set of a
        ``(where, "delete")`` clause, as :meth:`delete` builds it,
        published COPY-ON-WRITE with ``df`` as its inserts:

        - rows matching ``where`` are removed - files matched in FULL
          drop with no rewrite, partially-matched files rewrite keeping
          their non-matching rows;
        - ``df``'s rows are written in the same job and land in the same
          commit;
        - with ``validate`` (default), every input row must satisfy
          ``where``: the count of those that do not rides the write job,
          and catches the classic backfill bug (writing day X+1 into
          day X's slot) BEFORE the commit publishes; staged files become
          vacuum garbage.

        ``where`` takes the ``read(where=)`` conjunct grammar (manifest
        pruning applies) or a SQL string.  Unlike two delete+append
        commits, a reader never observes the gap state; a crash between
        phases publishes nothing.  Schema evolution follows append's
        additive contract; written files keep the table's blooms
        (defaults as in :meth:`append`).  Returns the new version, or
        the current one when nothing matched and ``df`` is empty."""
        m, pred, candidates = self._dml_target(where)
        unified = unify_schemas(m.get("schema"), df.schema)
        cs = self._change_set(m, candidates, [(None, "delete")],
                              where=pred)
        self._set_inserts(cs, df, *[F.count(F.when(
            ~F.coalesce(pred, F.lit(False)), 1)).alias("bad")] * validate)

        def _validate() -> None:
            bad = cs.ins_obs.get.get("bad")
            if bad:
                raise SnapshotError(
                    f"{self.path}: replace_where input holds {bad} rows "
                    "NOT matching the predicate - refusing to commit "
                    "(rows outside the replaced scope would silently "
                    "coexist with the data they were meant to replace); "
                    "staged files are unreferenced garbage for vacuum")

        return self._publish_cow(cs, "replace-where", bloom_cols,
                                 bloom_bits, schema=unified.json(),
                                 guard=_validate)

    def _plan_change_range(self, since: int, until: int) \
            -> list[tuple[int, int, list[str], list[str]]] | None:
        """Classify every commit in (since, until] from raw manifest
        metadata alone: returns one (version, timestamp_ms, added,
        removed, dv_marker, removed_dvs, added_dvs) step per
        row-changing commit at O(changed files)
        driver cost, or None when any step lacks a usable recorded
        delta (pre-r11 manifest, oversized rewrite, rollback) - the
        caller falls back to the endpoint multiset diff.  Spark-free:
        scripts/manifest_scale.py measures exactly this call."""
        steps: list[tuple] = []
        prev_dvs = self._store.manifest_json(since).get("dvs") or {}
        for v in range(since + 1, until + 1):
            mj = self._store.manifest_json(v)
            op = mj["operation"]
            if (op in ("compact", "consolidate-metadata")
                    or op.startswith("cluster:")):
                prev_dvs = mj.get("dvs") or {}
                continue  # bytes rearranged, rows identical
            delta = self._store.commit_delta(v, mj)
            if delta is None or op.startswith("rollback->"):
                return None
            added, removed = delta
            dv = (mj.get("delta") or {}).get("dv")
            if op.endswith("-mor") and not dv:
                return None  # dv marker missing: endpoint diff is exact
            # a COW step replacing files that carried DELETION VECTORS
            # must diff the removed files' LIVE content - their
            # parent-version sidecars ride along so the already-MOR-
            # deleted rows are not re-reported as deletes (r11)
            removed_dvs = {f: prev_dvs[f]["path"] for f in removed
                           if f in prev_dvs}
            # a step ADDING files that arrive WITH deletion vectors
            # (clone of a MOR-deleted table: the clone commit is a pure
            # append whose files carry the source's sidecars) must not
            # report the dv'd positions as inserts - those rows were
            # never live in THIS table (ADVICE r11 #1)
            cur_dvs = mj.get("dvs") or {}
            added_dvs = {f: cur_dvs[f]["path"] for f in added
                         if f in cur_dvs}
            if added or removed or dv:
                steps.append((v, mj.get("timestamp_ms") or 0,
                              added, removed, dv, removed_dvs,
                              added_dvs))
            prev_dvs = cur_dvs
        return steps

    def changes(self, since: int, until: int | None = None,
                include_version: bool = False) -> DataFrame:
        """Row-level changes between two snapshots as a DataFrame with a
        ``_change_type`` column (``insert`` / ``delete``; an update is a
        delete+insert pair) - the incremental-consumption read that lets a
        downstream job process only what moved instead of rescanning the
        table (Iceberg's incremental scan / Delta CDF, manifest-only here).

        ``include_version`` (r11) adds Delta-CDF-style
        ``_commit_version`` / ``_commit_timestamp`` columns attributing
        every event to the commit that produced it - derivable exactly
        because each step is computed from its own recorded delta; it
        raises (rather than guessing) when the range requires the
        endpoint-diff fallback, where per-commit attribution does not
        exist.

        PLANNING IS O(CHANGED FILES) (r11, VERDICT r10 #3): each commit
        records its exact added/removed file delta in its manifest, so
        the range plan walks raw manifest JSONs - never materializing a
        full file list - and classifies each step:

        - **append** (removed empty): its added files ARE the inserts -
          read just those, zero diff compute, no shuffle.  The 100 TB
          streaming-sink common case, cost proportional to new data.
        - **rows-unchanged maintenance** (compact / cluster /
          consolidate-metadata): contributes nothing, skipped - a range
          crossing an OPTIMIZE no longer forfeits the fast path.
        - **copy-on-write DML** (removed + added): exact ROW-level diff
          of the removed files against their replacements (VERDICT r10
          missing #1) - an UPDATE of 1 row in a million-row file emits
          exactly 1 delete + 1 insert, at O(touched files) compute,
          never O(table).  Sound because a COW commit's change is BY
          CONSTRUCTION confined to the files it swapped; untouched
          files cannot contribute to the diff.

        The union across steps is the CHANGELOG: a row inserted then
        deleted within the range yields both events (net effect still
        zero for any signed consumer - mv.py's incremental refresh
        folds them exactly; single-step ranges equal the endpoint
        diff).  When any step predates the delta records, exceeded the
        recording bound (whole-table rewrite), or is a rollback (its
        row diff is not its file diff restated), the WHOLE range falls
        back to the exact endpoint multiset diff via exceptAll both
        ways - full-table compute, documented, never silent."""
        head = self.current_version()
        until = head if until is None else until
        if not 1 <= since <= until <= head:
            raise SnapshotError(
                f"{self.path}: bad change range v{since}..v{until} "
                f"(HEAD is v{head})")
        ctype = "_change_type"
        # all reads use UNTIL's unified schema so a schema-evolving range
        # still unions/diffs cleanly (pre-evolution rows surface the new
        # columns as NULL, exactly as a direct read of `until` would)
        um_j = self._store.manifest_json(until)
        ureader = self._reader_for(um_j)

        # -- delta-planned path: raw manifests only, O(changed files) ----
        plan = self._plan_change_range(since, until)
        if plan is not None:
            parts: list[DataFrame] = []

            def _tag(df: DataFrame, change: str, v: int,
                     ts: int) -> DataFrame:
                df = df.withColumn(ctype, F.lit(change))
                if include_version:
                    df = (df.withColumn("_commit_version",
                                        F.lit(v).cast("long"))
                          .withColumn("_commit_timestamp",
                                      F.lit(ts).cast("long")))
                return df

            # without version attribution, all pure-append steps merge
            # into ONE scan (single parquet read, no shuffle - the plan
            # shape the fast-path tests pin); with it, each commit's
            # files carry their own version/timestamp columns
            append_files: list[str] = []
            append_dv_paths: list[str] = []
            for v, ts, added, removed, dv, removed_dvs, added_dvs in plan:
                if dv:
                    # MOR commit (r11): the delete events ARE the rows
                    # at this commit's NEW sidecar positions - an inner
                    # join of the touched files against the sidecar,
                    # O(touched files + positions).  A MOR UPDATE also
                    # carries added files (the rewritten rows): they
                    # fall through to the insert handling below.
                    touched = ureader.parquet(*dv["files"])
                    rendered = self._rendered_paths(touched, dv["files"])
                    old_df = touched.withColumns(
                        {"__graft_fp": F.col("_metadata.file_path")
                         if rendered is not None
                         else self._norm_meta_path(),
                         "__graft_ri": F.col("_metadata.row_index")})
                    pos = (self.spark.read.schema(SIDECAR_SCHEMA)
                           .parquet(dv["path"])
                           .where(F.col("new"))
                           .select(F.col("file").alias("__graft_fp"),
                                   F.col("row_index").alias("__graft_ri")))
                    if rendered is not None:
                        # new=true positions live only on dv["files"],
                        # so the mapping loses nothing
                        pos = self._map_to_rendered(pos, rendered)
                    # the dv marker records this commit's NEW position
                    # count - bound the hint like every other dv join
                    if dv.get("n", 0) <= DV_BROADCAST_MAX_POSITIONS:
                        pos = F.broadcast(pos)
                    dels = (self._position_join(old_df, pos, "inner")
                            .drop("__graft_fp", "__graft_ri"))
                    parts.append(_tag(dels, "delete", v, ts))
                    if not added:
                        continue
                if not removed:
                    if include_version:
                        parts.append(_tag(self._anti_join_dv(
                            ureader.parquet(*added),
                            list(added_dvs.values()),
                            files=added), "insert", v, ts))
                    else:
                        append_files.extend(added)
                        append_dv_paths.extend(added_dvs.values())
                    continue
                old_df = self._anti_join_dv(
                    ureader.parquet(*sorted(removed)),
                    list(removed_dvs.values()),
                    files=sorted(removed))
                if not added:
                    # pure file drop (partition-delete fast path): every
                    # LIVE removed row is a delete, no diff needed
                    parts.append(_tag(old_df, "delete", v, ts))
                    continue
                new_df = self._anti_join_dv(ureader.parquet(*added),
                                            list(added_dvs.values()),
                                            files=added)
                parts.append(_tag(new_df.exceptAll(old_df),
                                  "insert", v, ts))
                parts.append(_tag(old_df.exceptAll(new_df),
                                  "delete", v, ts))
            if append_files:
                parts.insert(0, self._anti_join_dv(
                    ureader.parquet(*append_files), append_dv_paths,
                    files=append_files)
                    .withColumn(ctype, F.lit("insert")))
            if not parts:
                base = self.read(until).where(F.lit(False)) \
                    .withColumn(ctype, F.lit("insert"))
                if include_version:
                    base = (base.withColumn("_commit_version",
                                            F.lit(until).cast("long"))
                            .withColumn("_commit_timestamp",
                                        F.lit(0).cast("long")))
                return base
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
            return out
        if include_version:
            raise SnapshotError(
                f"{self.path}: changes(include_version=True) needs every "
                f"commit in v{since}..v{until} to carry a recorded file "
                "delta; the range contains a pre-r11 manifest, an "
                "oversized whole-table rewrite, or a rollback - per-"
                "commit attribution is not derivable from an endpoint "
                "diff (re-run without include_version for net changes)")

        # -- fallback ----------------------------------------------------
        sm, um = self.manifest(since), self.manifest(until)
        sfiles = set(sm["files"])
        ufiles = um["files"]
        # PRE-r11 manifests (no recorded deltas) still deserve the
        # append-only fast path: detect it the r10 way - file sets only
        # grow across the range (O(versions x files) materialization,
        # the cost such legacy ranges always paid) - and read ONLY the
        # new files instead of a full-table exceptAll (review r11 #5)
        append_only = not self._dvs(sm)
        prev = sfiles
        if append_only:
            for v in range(since + 1, until + 1):
                vm = self.manifest(v)
                cur = set(vm["files"])
                # ANY deletion vectors inside the range disqualify: a
                # MOR delete leaves file lists untouched, so the
                # set-inclusion test alone would misread it as append
                if not prev <= cur or vm.get("dvs"):
                    append_only = False
                    break
                prev = cur
        if append_only:
            new = [f for f in ufiles if f not in sfiles]
            if not new:
                return (self.read(until if ufiles else since)
                        .where(F.lit(False))
                        .withColumn(ctype, F.lit("insert")))
            return (self._anti_join_dv(
                ureader.parquet(*new),
                [v["path"] for f, v in self._dvs(um).items()
                 if f in set(new)], files=new)
                .withColumn(ctype, F.lit("insert")))
        # exact endpoint multiset diff (DV-applied on both endpoints:
        # MOR-deleted rows are not rows of either snapshot; BOTH
        # endpoints read under until's unified schema)
        old_df = (self._anti_join_dv(
            ureader.parquet(*sorted(sfiles)),
            [v["path"] for f, v in self._dvs(sm).items() if f in sfiles],
            files=sorted(sfiles))
            if sfiles else None)
        new_df = (self._anti_join_dv(
            ureader.parquet(*ufiles),
            [v["path"] for f, v in self._dvs(um).items()],
            files=list(ufiles))
            if ufiles else None)
        if new_df is None and old_df is None:
            raise SnapshotError(
                f"{self.path}: both v{since} and v{until} are empty")
        if old_df is None:
            return new_df.withColumn(ctype, F.lit("insert"))
        if new_df is None:
            return old_df.withColumn(ctype, F.lit("delete"))
        ins = new_df.exceptAll(old_df).withColumn(ctype, F.lit("insert"))
        dels = old_df.exceptAll(new_df).withColumn(ctype, F.lit("delete"))
        return ins.unionByName(dels)

    def compact(self, target_file_bytes: int = 128 * 1024 * 1024,
                small_file_bytes: int | None = None,
                bloom_cols: list[str] | None = None,
                bloom_bits: int | None = None,
                where: tuple | list | None = None) -> int:
        """Bin-pack small files into ~``target_file_bytes`` files and
        publish the result as a new snapshot (operation ``compact``).

        The small-file problem is what streaming sinks create at scale:
        a foreachBatch CDC/SCD2 writer committing every trigger leaves one
        tiny file per batch per partition, and a 100 TB table scanned
        through a million 100 KB files spends its time in open() calls,
        not IO.  Lakehouse OPTIMIZE is this exact operation; here it is:

        - files >= ``small_file_bytes`` (default target/2) are carried
          into the new manifest UNTOUCHED - compaction cost is
          proportional to the small-file backlog, never the table;
        - the small files are read once and rewritten as
          ceil(bytes/target) files (driver-side greedy planning over
          O(files) manifest metadata only);
        - the commit is the usual atomic manifest swap: concurrent
          readers keep their snapshot, a crash changes nothing, and the
          pre-compaction version stays time-travelable until vacuum;
        - a row-count check (parquet metadata count, no data IO) verifies
          the rewrite preserved every row before the commit publishes it;
        - rewritten files keep the table's blooms (defaults as in
          :meth:`append`), so OPTIMIZE keeps point-lookup pruning.

        ``where`` (r12; Delta's ``OPTIMIZE ... WHERE``): one
        ``(col, op, value)`` conjunct or a list of them scopes the
        maintenance pass to files whose manifest [min, max] stats CAN
        match - compact one day/region of a 100 TB table without
        touching the rest.  Conservative by construction (a file that
        might match joins the scope; compacting an extra file is
        harmless).  Out-of-scope files - INCLUDING their deletion
        vectors - carry verbatim; in-scope DV'd files materialize.
        Free-form SQL strings are rejected (they cannot scope files
        from stats; run an unscoped compact instead).

        Returns the new version, or the CURRENT version unchanged when
        there is nothing worth compacting (fewer than two small files)."""
        if small_file_bytes is None:
            small_file_bytes = target_file_bytes // 2
        parent = self.current_version()
        m = self.manifest(parent)
        scope = set(m["files"])
        if where is not None:
            if isinstance(where, str):
                raise SnapshotError(
                    "compact(where=...) takes (col, op, value) "
                    "conjunct(s) - a free-form SQL string cannot scope "
                    "files from manifest stats")
            conjuncts = _conjunct_list(where)
            if not conjuncts:
                raise SnapshotError(
                    "compact(where=[]) is empty - omit where for a "
                    "whole-table pass")
            scope = set(self.prune_files(m, conjuncts))
        sizes = {f: os.path.getsize(f) for f in m["files"]}
        dvm = self._dvs(m)
        # any IN-SCOPE file carrying a DELETION VECTOR joins the
        # rewrite set regardless of size (r11): OPTIMIZE is the MOR
        # materialization lever - the rewrite applies the positions and
        # drops the sidecar, exactly Delta's OPTIMIZE-on-DV behavior
        small = [f for f in m["files"]
                 if f in scope and (sizes[f] < small_file_bytes
                                    or f in dvm)]
        if len(small) < 2 and not any(f in dvm for f in small):
            return parent
        small_bytes = sum(sizes[f] for f in small)
        n_out = max(1, -(-small_bytes // target_file_bytes))
        # rewrite under the UNIFIED schema (a column added after some
        # small files were written must not be dropped) with DVs applied
        small_df = self._scan_subset(m, small)
        # expected row count from parquet footers minus DV position
        # counts - metadata only (r12): the old small_df.count() ran a
        # full second scan (with the DV anti-join) of every small file
        # just to learn a number the manifest already knows; the write
        # below is now the only data pass, and the n_new check still
        # verifies the rewrite against footer truth
        n_small = self._logical_rows(m, small)
        files, n_new, stats, wblooms = self._write_files_bloom(
            small_df.coalesce(n_out), m, bloom_cols, bloom_bits)
        self._check_rows("compaction", n_small, n_new)
        # kept (untouched) files keep their stats, blooms and - in a
        # where-scoped pass - deletion vectors; rewritten files get fresh
        # bitmaps under the table's bloom policy.  The fold shape (r9,
        # VERDICT r8 #5) re-segments everything into at most ONE fresh
        # segment, so OPTIMIZE also folds the accreted segment backlog
        return self._store.commit(
            m, "compact", rows=m["rows"], add=files, stats=stats,
            blooms=wblooms, remove=small, shape="fold")

    def cluster(self, cols: list[str], n_files: int | None = None,
                target_file_bytes: int = 128 * 1024 * 1024,
                bits: int | None = None,
                bloom_cols: list[str] | None = None,
                bloom_bits: int | None = None) -> int:
        """OPTIMIZE ZORDER BY: rewrite the current snapshot clustered on
        ``cols`` (operators/zorder.py interleaved rank codes) and publish
        it as one new commit - after which every output file covers a
        compact hyper-rectangle of the column space, so the manifest's
        per-file [min, max] stats prune MULTI-column predicates instead
        of only the incidental write order (the Delta OPTIMIZE ZORDER /
        Iceberg rewrite-with-sort-order capability, on the same manifest
        machinery as compact()).

        Like compact: readers pinned to older snapshots are undisturbed,
        the pre-cluster version stays time-travelable until vacuum, a
        row-count check guards the rewrite before anything publishes,
        and ``changes()`` correctly reports nothing for the commit (rows
        identical, bytes rearranged); the clustered files keep the
        table's blooms (defaults as in :meth:`append`).  Cost: one full
        read + clustered write - an OPTIMIZE maintenance job, scheduled
        off-peak, not a query-path operation."""
        from aliyun_maxcompute_data_collectors_spark.operators.zorder import (
            DEFAULT_BITS,
            zorder_by,
        )

        parent = self.current_version()
        m = self.manifest(parent)
        if not m["files"]:
            raise SnapshotError(f"{self.path}: nothing to cluster")
        if n_files is None:
            total = sum(os.path.getsize(f) for f in m["files"])
            n_files = max(1, -(-total // target_file_bytes))
        # the manifest already tracks the exact logical row count - pass
        # it through so the rank normalization skips its full count pass
        clustered = zorder_by(self.read(parent), cols, n_files=n_files,
                              bits=bits or DEFAULT_BITS, n_rows=m["rows"])
        files, n, stats, wblooms = self._write_files_bloom(
            clustered, m, bloom_cols, bloom_bits)
        self._check_rows("cluster", m["rows"], n)
        return self._store.commit(
            m, f"cluster:zorder={','.join(cols)}", rows=n, add=files,
            stats=stats, blooms=wblooms, shape="replace")

    def clone(self, dest_path: str,
              version: int | None = None) -> "SnapshotTable":
        """SHALLOW CLONE (Delta/Iceberg's zero-copy table copy): create
        a NEW snapshot table at ``dest_path`` whose first snapshot
        references THIS table's data files - no data is copied, the
        clone commit is O(metadata).  The clone then evolves
        independently: its appends/DML/compaction write into its own
        root, and copy-on-write means a mutation never touches a shared
        file.  Use it to experiment on a 100 TB table (try a risky
        MERGE, validate, throw the clone away) at metadata cost.

        ``version`` pins the clone to a historical snapshot (defaults
        to HEAD).

        The clone is recorded as a BACK-REFERENCE marker under the
        source's ``_snapshots/clones/`` (r10, VERDICT r9 #7): the
        source's ``vacuum`` reads live markers and keeps every file a
        still-existing clone's manifests reference, so vacuuming the
        source no longer breaks clones silently.  Dropping the clone
        (deleting its directory) releases the protection on the next
        source vacuum, which sweeps the stale marker; an explicit
        ``vacuum(ignore_clones=True)`` overrides.  The clone's own
        vacuum is safe: it never deletes outside its root (files/ dirs
        are matched under the clone's ``_snapshots/files``)."""
        m = self.manifest(version)
        dest = SnapshotTable.init(self.spark, dest_path)
        dest._store.commit(m, f"clone:{self.path}@v{m['version']}",
                           rows=m["rows"], shape="fold",
                           onto=dest.current_version())
        cdir = os.path.join(self._root, "clones")
        os.makedirs(cdir, exist_ok=True)
        _fsync_write(
            os.path.join(cdir, f"{uuid.uuid4().hex}.json"),
            json.dumps({"dest": os.path.abspath(dest_path),
                        "version": m["version"],
                        "timestamp_ms": int(time.time() * 1000)}))
        return dest

    def consolidate_metadata(self) -> int:
        """Fold every stats/file-list segment the current snapshot carries
        into at most ONE fresh segment (or back inline when small) and
        publish the result as a new commit - Iceberg's rewrite-manifests
        housekeeping, with ZERO data IO: only seg-*.json metadata is read
        and rewritten.  Commits trigger the same fold
        automatically every ``MAX_SEGMENTS`` commits; this method is the
        on-demand form for maintenance windows.  Returns the new version,
        or the current one unchanged when nothing is segmented.
        ``changes()`` correctly reports nothing for the commit (the file
        list is untouched)."""
        parent = self.current_version()
        m = self.manifest(parent)
        if not (m.get("segments") or m.get("file_segments")):
            return parent
        return self._store.commit(m, "consolidate-metadata",
                                  rows=m["rows"], shape="fold")

    def detail(self) -> dict:
        """DESCRIBE DETAIL-style table metadata, O(metadata): current
        version, row/file counts, on-disk data bytes, segment/removal
        shape, bloom-maintained columns, schema column count."""
        v = self.current_version()
        m = self.manifest(v)
        total = 0
        for f in m["files"]:
            try:
                total += os.path.getsize(f)
            except OSError:
                pass
        bloom_cols, bloom_bits = self.bloom_columns(v)
        n_schema_cols = None
        if m.get("schema"):
            n_schema_cols = len(json.loads(m["schema"]).get("fields", []))
        return {
            "path": self.path,
            "version": v,
            "operation": m["operation"],
            "timestamp_ms": m["timestamp_ms"],
            "rows": m["rows"],
            "num_files": len(m["files"]),
            "size_bytes": total,
            "num_file_segments": len(m.get("file_segments") or []),
            "num_stats_segments": len(m.get("segments") or []),
            "num_removed_files": len(m.get("removed_files") or []),
            "bloom_columns": bloom_cols,
            "bloom_bits": bloom_bits,
            "num_schema_columns": n_schema_cols,
            "num_versions": len(self.versions()),
            "num_dv_files": len(m.get("dvs") or {}),
            "dv_deleted_rows": sum(v["n"] for v in
                                   (m.get("dvs") or {}).values()),
        }

    def vacuum(self, keep_last: int = 2,
               ignore_clones: bool = False,
               older_than_ms: int | None = None) -> list[str]:
        """Drop staging dirs unreferenced by the ``keep_last`` most recent
        snapshots (plus HEAD), and their manifests.  Returns removed dirs.
        Run only when no reader is pinned to an older snapshot - the same
        contract as lakehouse VACUUM retention.

        Files referenced by a live SHALLOW CLONE (a ``_snapshots/clones/``
        marker whose destination still exists) are kept, however old the
        snapshot that produced them (r10, VERDICT r9 #7: vacuuming a
        cloned-from table used to break the clone silently).  Markers for
        deleted clones are swept; ``ignore_clones=True`` is the explicit
        escape hatch (the pre-r10 behavior).

        ``older_than_ms`` adds TIME-BASED retention (the Delta ``RETAIN
        n HOURS`` shape): every snapshot committed AT or AFTER the
        epoch-millis instant survives, in ADDITION to the ``keep_last``
        newest - protections union, so passing both never keeps less
        than either alone."""
        versions = self.versions()
        vs = [m["version"] for m in versions]
        keep = set(vs[-keep_last:]) | {self.current_version()}
        if older_than_ms is not None:
            keep |= {m["version"] for m in versions
                     if m["timestamp_ms"] >= older_than_ms}
        live: set[str] = set()
        for v in keep:
            m = self.manifest(v)
            for f in m["files"]:
                live.add(os.path.dirname(f))
            for dv in (m.get("dvs") or {}).values():
                live.add(dv["path"])  # deletion-vector sidecar dirs
        cdir = os.path.join(self._root, "clones")
        if not ignore_clones and os.path.isdir(cdir):
            for name in sorted(os.listdir(cdir)):
                marker = os.path.join(cdir, name)
                try:
                    with open(marker) as f:
                        ref = json.load(f)
                    droot = os.path.join(ref["dest"], "_snapshots")
                except Exception:
                    continue  # unreadable marker: keep it, stay safe
                if not os.path.isdir(droot):
                    os.remove(marker)  # clone dropped: protection lapses
                    continue
                ctab = ManifestStore(ref["dest"])
                for cv in [x["version"] for x in ctab.versions()]:
                    cm = ctab.manifest(cv)
                    for f in cm["files"]:
                        live.add(os.path.dirname(f))
                    for dv in (cm.get("dvs") or {}).values():
                        live.add(dv["path"])
        fdir = os.path.join(self._root, "files")
        removed = []
        for d in os.listdir(fdir):
            full = os.path.join(fdir, d)
            if full not in live:
                shutil.rmtree(full)
                removed.append(full)
        return removed + self._store.sweep(
            keep, [v for v in vs if v not in keep])


def sync_changes(src: SnapshotTable, dst: SnapshotTable,
                 keys: list[str], since: int | None = None) -> int:
    """ONE-WAY INCREMENTAL REPLICATION (Iceberg incremental-scan /
    Delta CDF consumer shape): bring ``dst`` up to date with ``src`` by
    applying only what changed since the last sync, as ONE key-scoped
    copy-on-write commit - the downstream-copy maintenance a 100 TB
    table needs without rescanning or rewriting either side.

    - ``src.changes(since, head]`` yields the net row diff; only its
      TOUCHED KEYS matter: dst's rows for those keys are replaced by
      src@head's rows for them.  This handles inserts, updates, deletes
      and MULTI-ROW keys uniformly - no per-key cardinality assumption
      (unlike a MERGE).
    - phase 1 prunes dst candidate files from the touched keys'
      [min, max] (manifest stats, zero IO) and pins exact files with
      one semi-join; phase 2 rewrites only those files as (their
      non-touched-key rows) UNION (src@head's rows for the touched
      keys) and publishes ONE atomic commit.  Cost is O(changes +
      touched dst files), never O(table) on either side.

    The watermark (last synced src version) is stored under dst's
    ``_snapshots/sync/``, keyed by the source path, AFTER the commit
    publishes - a crash between commit and watermark re-applies the
    same range on the next call, which is IDEMPOTENT (key-scoped
    replacement converges).  ``since`` overrides the stored watermark.
    Returns the new dst version, or the current one when nothing
    changed.

    r11: the dst-side derive+publish is wrapped in
    :func:`retry_on_conflict` (a concurrent dst commit between the
    read and the publish retries against the new HEAD instead of
    raising to the caller - safe because replay is idempotent), and
    NULL values in the replication keys raise loudly instead of
    silently never replicating (the semi/anti joins are null-unsafe
    by design - a NULL-keyed row would diverge dst forever)."""
    import hashlib

    head = src.current_version()
    state_dir = os.path.join(dst._root, "sync")
    state_path = os.path.join(state_dir, "src-{}.json".format(
        hashlib.md5(os.path.abspath(src.path).encode()).hexdigest()[:16]))
    if since is None:
        since = 1
        if os.path.exists(state_path):
            with open(state_path) as f:
                since = json.load(f)["version"]

    def _save_watermark() -> None:
        os.makedirs(state_dir, exist_ok=True)
        _fsync_write(state_path, json.dumps(
            {"src": os.path.abspath(src.path), "version": head,
             "timestamp_ms": int(time.time() * 1000)}))

    if head <= since:
        return dst.current_version()
    ch = src.changes(since, head)
    touched_keys = ch.select(*keys).distinct().localCheckpoint(eager=True)
    if touched_keys.isEmpty():
        _save_watermark()  # e.g. only compact/cluster commits in range
        return dst.current_version()
    # NULL replication keys would silently never replicate (ADVICE r10
    # #4: the semi/anti joins below are null-UNSAFE, so NULL-keyed src
    # rows are excluded from `alive` on every sync - including the
    # initial backfill - and dst diverges forever with no error).  Fail
    # LOUDLY instead; callers with NULL keys need a different key set.
    null_pred = None
    for k in keys:
        c = F.col(k).isNull()
        null_pred = c if null_pred is None else (null_pred | c)
    if touched_keys.where(null_pred).limit(1).count():
        raise SnapshotError(
            f"sync_changes: source changes contain NULL values in "
            f"replication keys {keys} - NULL-keyed rows cannot be "
            "key-scoped-replicated (the semi/anti joins would silently "
            "drop them and dst would diverge); choose non-null keys or "
            "filter/repair the source")
    alive = src.read(head).join(touched_keys, keys, "left_semi")

    def _apply() -> int:
        # the ENTIRE dst-side derive runs per attempt, so a retry after
        # a racing dst commit re-reads the new HEAD and re-pins files
        # (VERDICT r10 #6); a lost attempt's staged files are vacuum
        # garbage, and the watermark (written after the commit) makes
        # any replay idempotent - key-scoped replacement converges.
        parent = dst.current_version()
        m = dst.manifest(parent)
        tfiles: list[str] = []
        if m["files"]:
            aggs = []
            for k in keys:
                aggs += [F.min(k).alias(f"__lo_{k}"),
                         F.max(k).alias(f"__hi_{k}")]
            row = touched_keys.agg(*aggs).collect()[0]
            conj = [(k, "between", (row[f"__lo_{k}"], row[f"__hi_{k}"]))
                    for k in keys if row[f"__lo_{k}"] is not None]
            candidates = dst.prune_files(m, conj) if conj else m["files"]
            if candidates:
                tagged = (dst._scan_subset(m, candidates,
                                           file_col="__graft_file")
                          if dst._dvs(m) else
                          dst._reader_for(m).parquet(*candidates)
                          .withColumn("__graft_file",
                                      F.input_file_name()))
                hits = (tagged.join(touched_keys, keys, "left_semi")
                        .select("__graft_file").distinct().collect())
                tset = set(dst._map_hits_to_manifest(
                    [r["__graft_file"] for r in hits], candidates,
                    "sync").values())
                tfiles = [f for f in m["files"] if f in tset]
        if tfiles:
            sub = dst._scan_subset(m, tfiles)
            n_touched = dst._logical_rows(m, tfiles)
            out = sub.join(touched_keys, keys, "left_anti").unionByName(
                alive, allowMissingColumns=True)
        else:
            n_touched = 0
            out = alive
        unified = unify_schemas(m.get("schema"), out.schema)
        files, n_new, stats = dst._write_files(out)
        return dst._store.commit(
            m, "sync", rows=m["rows"] - n_touched + n_new, add=files,
            stats=stats, remove=tfiles, schema=unified.json())

    v = retry_on_conflict(_apply)
    _save_watermark()
    return v


def scd2_apply_cow(table: SnapshotTable, batch: DataFrame,
                   keys: list[str], time_col: str,
                   attr_cols: list[str] | None = None) -> int:
    """Apply one SCD2 changelog batch as a COPY-ON-WRITE commit: the new
    dimension differs from the old ONLY on the batch's keys, so only
    files holding those keys rewrite - per-batch write cost is
    O(batch + touched files), never the dimension (the
    ``operators.scd.scd2_apply_batch`` COMPUTE was already
    batch-proportional; this makes the WRITE match it).

    It is the snapshot DML planner with one ``delete`` clause: the batch
    is checkpointed with its per-key [min, max] observed on that job
    (manifest stats prune the candidate files, zero IO), then ONE scan
    of the candidates joined to the batch's distinct keys captures
    every row of a touched key as the change set.  The copy-on-write
    publisher rewrites the touched files as (their other rows) UNION
    (the touched keys' history rebuilt through scd2_apply_batch - so
    LATE rows splice correctly and replay stays idempotent, the same
    guarantees as the full rebuild), keeping the table's blooms.  A
    batch of entirely NEW keys appends without touching any file.
    Returns the committed version."""
    from aliyun_maxcompute_data_collectors_spark.operators.scd import (
        scd2_apply_batch,
        scd2_build,
    )

    m = table.manifest()
    if not m["files"]:
        return table.overwrite(
            scd2_build(batch, keys, time_col, attr_cols),
            operation="scd2-init")
    batch, candidates, n_batch = table._checkpoint_candidates(m, batch,
                                                              keys)
    on = " AND ".join(f"t.`{k}` = s.`{k}`" for k in keys)
    cs = table._change_set(m, candidates, [(None, "delete")],
                           source=batch.select(*keys).distinct(), on=on,
                           target_alias="t")
    if not cs.n:
        # every key is new: pure append of its built history
        return table.append(scd2_build(batch, keys, time_col, attr_cols))
    cs.order = list(keys)
    history = cs.rows.select(*cs.data_cols)
    table._set_inserts(cs, scd2_apply_batch(history, batch, keys, time_col,
                                            attr_cols),
                       bound=cs.n + n_batch)
    return table._publish_cow(cs, "scd2-merge", None, None)


def scd2_foreach_batch_writer_versioned(table: SnapshotTable,
                                        keys: list[str], time_col: str,
                                        attr_cols: list[str] | None = None,
                                        strategy: str = "merge",
                                        conflict_attempts: int = 5):
    """foreachBatch hook: streaming SCD2 maintenance onto a snapshot table
    - the versioned twin of streaming/cdc.scd2_foreach_batch_writer, with
    the same no-localCheckpoint property as the CDC writer here (the
    rebuilt dimension lazily reads immutable snapshot files).

    ``strategy="merge"`` (default since r9) applies each batch through
    :func:`scd2_apply_cow` - per-trigger write cost O(batch + touched
    files); ``strategy="overwrite"`` keeps the full-dimension rewrite
    (sensible only for small dimensions).

    Each batch commit runs under :func:`retry_on_conflict`
    (``conflict_attempts`` tries), so a maintenance ``compact()``/
    ``vacuum`` racing the stream on the same table no longer kills the
    query on the first optimistic-concurrency collision (r10)."""
    if strategy not in ("merge", "overwrite"):
        raise ValueError(f"unknown SCD2 strategy {strategy!r}")
    from aliyun_maxcompute_data_collectors_spark.operators.scd import scd2_apply_batch

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        if strategy == "merge":
            retry_on_conflict(
                lambda: scd2_apply_cow(table, batch_df, keys, time_col,
                                       attr_cols),
                attempts=conflict_attempts)
            return
        retry_on_conflict(
            lambda: table.overwrite(scd2_apply_batch(
                table.read(), batch_df, keys, time_col, attr_cols)),
            attempts=conflict_attempts)

    return _apply


def cdc_apply_merge(table: SnapshotTable, ops: DataFrame,
                    key_cols: list[str], order_cols: list[str],
                    op_col: str = "op", mor: bool = False) -> int:
    """Apply one CDC ops batch onto a snapshot table as ONE MERGE:
    reduce the batch to its net effect per key (newest op in
    ``order_cols`` order), then :meth:`SnapshotTable.merge` - matched
    deletes drop the row, matched upserts set the value columns,
    unmatched non-delete ops insert.  The merge plans one positional
    change set over the files whose key ranges overlap the batch and
    publishes it copy-on-write (default: only files holding touched
    keys are rewritten, so the per-batch cost is O(batch + touched
    files), never O(table) - the Delta streaming-upsert shape) or, with
    ``mor=True``, merge-on-read (deletion-vector positions plus
    appended images and inserts: per-trigger WRITE cost O(batch), no
    file rewrite; schedule compact() to materialize accreted vectors).
    Cardinality validation is skipped: ``latest_ops`` leaves exactly one
    source row per key by construction.  Written files keep the table's
    blooms.  Returns the committed version (or the current one for an
    all-noop batch)."""
    from aliyun_maxcompute_data_collectors_spark.streaming.cdc import (
        OP_DELETE,
        latest_ops,
    )

    last = latest_ops(ops, key_cols, order_cols, op_col)
    m = table.manifest()
    if m.get("schema"):
        tcols = _manifest_schema(m).fieldNames()
    else:
        # schema-less fallback: the ordering columns are changelog
        # metadata, not table columns - including them would quietly
        # ADD them to the table via additive evolution (ADVICE r9, low)
        tcols = [c for c in ops.columns
                 if c != op_col and c not in order_cols]
    value_cols = [c for c in tcols if c not in key_cols]
    on = " AND ".join(f"t.{k} = s.{k}" for k in key_cols)
    return table.merge(
        last, on,
        matched=[(f"s.{op_col} = '{OP_DELETE}'", "delete"),
                 (None, {c: f"s.{c}" for c in value_cols})],
        not_matched=(f"s.{op_col} <> '{OP_DELETE}'",
                     {c: f"s.{c}" for c in tcols}),
        validate_cardinality=False,
        mor=mor,
        source_keys=key_cols)


def cdc_foreach_batch_writer_versioned(table: SnapshotTable,
                                       key_cols: list[str],
                                       order_cols: list[str],
                                       op_col: str = "op",
                                       strategy: str = "merge",
                                       conflict_attempts: int = 5,
                                       mor: bool = False):
    """foreachBatch hook: CDC apply onto a snapshot table.  Unlike the
    plain-parquet writer (streaming/cdc.cdc_foreach_batch_writer) this
    needs NO eager localCheckpoint - the plan lazily reads the current
    snapshot's immutable files while the commit writes NEW files, and a
    crash mid-batch leaves HEAD on the previous snapshot (the stream
    checkpoint re-delivers the batch).

    ``strategy="merge"`` (default since r9) applies each batch as a
    copy-on-write MERGE - per-trigger cost O(batch + touched files),
    the shape a streaming upsert onto a 100 TB table needs;
    ``strategy="overwrite"`` keeps the pre-r9 full read-merge-overwrite
    (every batch rewrites the table - only sensible for dimension-sized
    targets where the rewrite is cheaper than the merge join).

    Each batch commit runs under :func:`retry_on_conflict`
    (``conflict_attempts`` tries): on a collision with a concurrent
    maintenance commit the merge re-reads the NEW HEAD and re-derives
    its touched files, so the retry applies the batch exactly once
    (r10, VERDICT r9 #4)."""
    if strategy not in ("merge", "overwrite"):
        raise ValueError(f"unknown CDC strategy {strategy!r}")
    from aliyun_maxcompute_data_collectors_spark.streaming.cdc import merge_cdc_into

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        if strategy == "merge":
            retry_on_conflict(
                lambda: cdc_apply_merge(table, batch_df, key_cols,
                                        order_cols, op_col, mor=mor),
                attempts=conflict_attempts)
            return
        retry_on_conflict(
            lambda: table.overwrite(merge_cdc_into(
                table.read(), batch_df, key_cols, order_cols, op_col)),
            attempts=conflict_attempts)

    return _apply
