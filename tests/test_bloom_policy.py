"""The snapshot table's one bloom policy: every write keeps the table's
bloom columns unless it opts out, a bloom prunes only on a literal of
the column's own type, the write-job bloom build logs its fallbacks,
and the Spark and Python bloom positions agree bit for bit."""

from __future__ import annotations

import contextlib
import functools
import logging
import uuid

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from manifest_reference import legacy_json_segments
from pyspark.sql import functions as F

from aliyun_maxcompute_data_collectors_spark.manifest_store import (
    ManifestStore,
    bloom_bitmap,
    bloom_entry,
    resolve_stats,
)
from aliyun_maxcompute_data_collectors_spark.snapshots import (
    SnapshotTable,
    _bloom_position,
    cdc_apply_merge,
    prune_manifest_files,
)

M = 1 << 12  # the test tables' bloom width; 2^15 is the default
LOGGER = "aliyun_maxcompute_data_collectors_spark.snapshots"


def _rows(spark, keys, v=0):
    return spark.createDataFrame(
        [(k, f"{k:05d}", k + v) for k in keys], "k long, code string, v long")


def _bloomed_table(spark, path, keys=range(400), files=4, **thresholds):
    t = SnapshotTable.init(spark, path, **thresholds)
    t.append(_rows(spark, keys).repartition(files),
             bloom_cols=["code", "k"], bloom_bits=M)
    return t


def _unbloomed(t, cols=("code", "k"), m=M):
    """Live files lacking an m-bit bloom on one of ``cols``."""
    man = t.manifest()
    _, blooms = resolve_stats(man)
    return [f for f in man["files"]
            if any(((blooms.get(f) or {}).get(c) or {}).get("m") != m
                   for c in cols)]


def _ops(spark, rows):
    return spark.createDataFrame(
        rows, "k long, code string, v long, op string, seq long")


def test_every_write_keeps_the_tables_blooms(spark, tmp_path):
    from aliyun_maxcompute_data_collectors_spark.engine import Engine

    path = str(tmp_path / "t")
    t = _bloomed_table(spark, path)
    eng = Engine(warehouse=str(tmp_path / "wh"), spark=spark)
    eng.register_snapshot_table("bt", path)
    src = functools.partial(_rows, spark, [12, 13, 450], v=1000)
    on = "t.k = s.k"
    upsert = dict(matched=[(None, {"v": "s.v"})], not_matched=(None, "*"))
    steps = [
        ("delete", lambda: t.delete(("k", "==", 5))),
        ("delete-mor", lambda: t.delete(("k", "==", 6), mor=True)),
        ("update", lambda: t.update({"v": "v + 1"}, ("k", "==", 7))),
        ("update-mor", lambda: t.update({"v": "v + 1"}, ("k", "==", 8),
                                        mor=True)),
        ("merge", lambda: t.merge(src(), on, **upsert)),
        ("merge-mor", lambda: t.merge(src(), on, mor=True, **upsert)),
        ("replace_where", lambda: t.replace_where(
            _rows(spark, range(300, 320), v=7), ("k", "between", (300, 319)))),
        ("mirror", lambda: t.mirror(_rows(spark, range(1, 460)), ["k"])),
        ("mirror-mor", lambda: t.mirror(_rows(spark, range(2, 460)), ["k"],
                                        mor=True)),
        ("cdc", lambda: cdc_apply_merge(t, _ops(spark, [
            (20, "00020", 1, "U", 1), (21, None, None, "D", 1),
            (600, "00600", 6, "I", 1)]), ["k"], ["seq"])),
        ("cdc-mor", lambda: cdc_apply_merge(t, _ops(spark, [
            (30, "00030", 1, "U", 1), (31, None, None, "D", 1),
            (601, "00601", 6, "I", 1)]), ["k"], ["seq"], mor=True)),
        ("compact", lambda: t.compact(target_file_bytes=1 << 20)),
        ("cluster", lambda: t.cluster(["k", "v"], n_files=2)),
        ("sql-optimize", lambda: eng.sql("OPTIMIZE bt")),
        ("sql-optimize-zorder",
         lambda: eng.sql("OPTIMIZE bt ZORDER BY (k, v)")),
        ("append", lambda: t.append(_rows(spark, range(700, 710)))),
    ]
    for name, op in steps:
        before = t.current_version()
        op()
        assert t.current_version() > before, name
        assert not _unbloomed(t), name
    keys = sorted(r["k"] for r in t.read().collect())
    assert keys == sorted(set(range(2, 460)) - {21, 31}
                          | {600, 601} | set(range(700, 710)))
    assert t.bloom_columns() == (["code", "k"], M)


def test_cdc_merge_keeps_absent_key_pruning(spark, tmp_path, monkeypatch):
    """Round-robin files overlap in [min, max], so only blooms prune a
    point lookup.  After a CDC merge that rewrites files, an absent key
    keeps fewer files than the same merge without blooms kept."""
    ops = _ops(spark, [(k, f"{k:05d}", -1, "U", 1) for k in (0, 2, 4, 6)])
    kept = {}
    for mode in ("policy", "dropped"):
        t = _bloomed_table(spark, str(tmp_path / mode),
                           keys=range(0, 1600, 2))
        if mode == "dropped":  # the former default: rewrites drop blooms
            monkeypatch.setattr(t, "merge", functools.partial(
                SnapshotTable.merge, t, bloom_cols=[]))
        cdc_apply_merge(t, ops, ["k"], ["seq"])
        m = t.manifest()
        assert m["operation"] == "merge"
        kept[mode] = len(t.prune_files(m, [("k", "==", 801)]))
        assert t.read(where=("k", "==", 2)).collect()[0]["v"] == -1
    assert kept["policy"] < kept["dropped"]
    assert kept["policy"] == 0


def test_bloom_policy_edges(spark, tmp_path):
    t = _bloomed_table(spark, str(tmp_path / "t"), keys=range(40), files=2)
    # bloom_cols=[] opts out
    t.append(_rows(spark, [100]), bloom_cols=[])
    assert len(_unbloomed(t)) == 1
    # an append omitting a bloomed column blooms the columns it carries
    t.append(spark.createDataFrame([(200, 1)], "k long, v long"))
    (new,) = set(t.manifest()["files"]) - set(t.manifest(3)["files"])
    _, blooms = resolve_stats(t.manifest())
    assert set(blooms[new]) == {"k"} and blooms[new]["k"]["m"] == M
    assert t.read(where=("k", "==", 200)).count() == 1
    # explicit width, inherited columns
    t.append(_rows(spark, [300]), bloom_bits=1 << 10)
    (new,) = set(t.manifest()["files"]) - set(t.manifest(4)["files"])
    _, blooms = resolve_stats(t.manifest())
    assert {c: b["m"] for c, b in blooms[new].items()} == \
        {"code": 1 << 10, "k": 1 << 10}
    assert t.bloom_columns() == (["code", "k"], M)


def _jobs(spark, fn) -> int:
    sc = spark.sparkContext
    group = f"bloom-policy-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_unbloomed_table_launches_no_extra_job(spark, tmp_path):
    tabs = {}
    for mode in ("default", "opt-out"):
        t = SnapshotTable.init(spark, str(tmp_path / mode))
        t.append(_rows(spark, range(40)).repartition(2), bloom_cols=[])
        tabs[mode] = t
    jobs = {}
    for mode, t in tabs.items():
        kw = {} if mode == "default" else {"bloom_cols": []}
        jobs[mode] = (
            _jobs(spark, lambda: t.append(_rows(spark, [50, 51]), **kw)),
            _jobs(spark, lambda: t.update({"v": "-1"}, ("k", "==", 3),
                                          **kw)),
            _jobs(spark, lambda: t.compact(target_file_bytes=1 << 20,
                                           **kw)))
        assert t.bloom_columns() == ([], 0)
        assert not resolve_stats(t.manifest())[1]
    assert jobs["default"] == jobs["opt-out"]
    assert all(n > 0 for n in jobs["default"])


_LAYOUTS = {"inline": {}, "stats-segment": {"inline_stats_files": 1},
            "json-segment": {"inline_files": 1},
            "parquet-segment": {"inline_files": 1}}


def _writer(layout):
    """Legacy JSON segments for the ``json-segment`` layout, the current
    writer otherwise."""
    return (legacy_json_segments() if layout == "json-segment"
            else contextlib.nullcontext())


@pytest.mark.parametrize("layout", sorted(_LAYOUTS))
def test_live_bloom_columns_reads_live_files_only(tmp_path, layout):
    """The policy's columns and width come from the live files' entries
    in every layout; a removed file's columns and width leave with it."""
    from aliyun_maxcompute_data_collectors_spark.manifest_store import (
        live_bloom_columns,
    )

    store = ManifestStore.init(str(tmp_path / "t"), **_LAYOUTS[layout])
    blooms = {"/d/a": {"k": bloom_entry([1], 1 << 10)},
              "/d/b": {"k": bloom_entry([2], 1 << 12)},
              "/d/c": {"k": bloom_entry([3], 1 << 14),
                       "code": bloom_entry([4], 1 << 8)},
              "/d/e": {}}
    with _writer(layout):
        store.commit(store.manifest(), "append", rows=4,
                     add=sorted(blooms), blooms=blooms)
    assert live_bloom_columns(store.manifest()) == (["code", "k"], 1 << 14)
    store.commit(store.manifest(), "delete", rows=3, remove=["/d/c"])
    m = store.manifest()
    assert sorted(m["files"]) == ["/d/a", "/d/b", "/d/e"]
    assert live_bloom_columns(m) == (["k"], 1 << 12)
    store.commit(m, "delete", rows=1, remove=["/d/a", "/d/b"])
    assert live_bloom_columns(store.manifest()) == ([], 0)


# -- a bloom prunes only on a literal of the column's type -------------------

PROBES = [("k", "==", "07"), ("k", "==", " 7"), ("k", "==", "7"),
          ("k", "==", 7), ("k", "==", 7.0), ("code", "==", 7),
          ("code", "==", "00007"), ("code", "==", "7"),
          ("d", "==", "2024-1-8"), ("d", "==", "2024-01-08"),
          ("d", "==", "2024-01-08 00:00:00")]


def _typed_table(spark, path):
    import datetime as dt

    rows = [(k, f"{k:05d}", dt.date(2024, 1, 1) + dt.timedelta(days=k),
             0) for k in range(20)]
    df = spark.createDataFrame(rows, "k bigint, code string, d date, v long")
    t = SnapshotTable.init(spark, path)
    t.append(df.repartition(2), bloom_cols=["k", "code", "d"])
    return t


@pytest.mark.parametrize("probe", PROBES, ids=[repr(p[2]) + "@" + p[0]
                                               for p in PROBES])
def test_bloom_prunes_only_on_same_type_literals(spark, tmp_path, probe):
    """read/delete/update give exactly Spark's ``col == lit(v)`` rows;
    a literal Spark casts before comparing never reaches the bloom."""
    col, _, value = probe
    t = _typed_table(spark, str(tmp_path / "t"))
    v0 = t.current_version()
    base = t.read()
    hit = F.col(col) == F.lit(value)
    want = sorted(r["k"] for r in base.where(hit).collect())
    assert sorted(r["k"] for r in t.read(where=probe).collect()) == want
    t.update({"v": "1"}, probe)
    assert sorted(r["k"] for r in t.read().where("v = 1").collect()) == want
    t.rollback(v0)
    t.delete(probe)
    left = sorted(r["k"] for r in t.read().collect())
    assert left == sorted(set(range(20)) - set(want))


def _schema(**cols):
    import json

    return json.dumps({"type": "struct", "fields": [
        {"name": c, "type": ty, "nullable": True, "metadata": {}}
        for c, ty in cols.items()]})


def _synthetic_blooms(files: dict, m: int = 1 << 10) -> dict:
    """{file: {col: entry}} bloomed exactly as the writers do, from each
    file's {col: values}."""
    return {f: {c: bloom_entry([_bloom_position(v, m) for v in vals], m)
                for c, vals in cols.items()}
            for f, cols in files.items()}


@pytest.mark.parametrize("layout", ["inline", "json-segment",
                                    "parquet-segment"])
def test_bloom_literal_type_guard_without_spark(tmp_path, layout):
    contents = {f"/d/f{i}.parquet": {"k": [i * 10 + 7], "code": [f"{i:05d}"]}
                for i in range(3)}
    blooms = _synthetic_blooms(contents)
    store = ManifestStore.init(str(tmp_path / "t"), **_LAYOUTS[layout])
    with _writer(layout):
        store.commit(store.manifest(), "append", rows=3,
                     add=list(contents), blooms=blooms,
                     schema=_schema(k="long", code="string"))
    m = store.manifest()
    assert bool(m.get("file_segments")) == (layout != "inline")
    assert all(p.endswith(".json" if layout == "json-segment"
                          else ".parquet") for p in m.get("file_segments")
               or [])
    files = sorted(contents)

    def kept(*conj):
        return sorted(prune_manifest_files(m, list(conj)))

    # same-type literals prune through the bloom
    assert kept(("k", "==", 17)) == [files[1]]
    assert kept(("code", "==", "00002")) == [files[2]]
    assert kept(("k", "==", 1_000)) == []
    # cast-compared literals never reach it
    for conj in [("k", "==", "17"), ("k", "==", "017"), ("code", "==", 2),
                 ("k", "==", 17.0), ("k", "==", True)]:
        assert kept(conj) == files, conj
    # no schema: no bloom prune at all
    bare = {k: v for k, v in m.items() if k != "schema"}
    assert sorted(prune_manifest_files(bare, [("k", "==", 1_000)])) == files
    # integral widths and plain strings only
    for ty, lit in [("integer", 17), ("short", 17), ("byte", 17)]:
        typed = {**m, "schema": _schema(k=ty, code="string")}
        assert prune_manifest_files(typed, [("k", "==", lit)]) == [files[1]]
    for ty in ("double", "decimal(10,0)", "date", "char(5)"):
        typed = {**m, "schema": _schema(k=ty, code=ty)}
        assert sorted(prune_manifest_files(
            typed, [("k", "==", 1_000), ("code", "==", "x")])) == files


# -- fallbacks of the write-job bloom build are logged ----------------------

def test_reserved_column_falls_back_logged(spark, table_path, caplog):
    rows = [(i, f"c{i % 13:02d}", i % 3) for i in range(60)]
    df = spark.createDataFrame(rows, "id long, code string, __graft_pid int")
    t = SnapshotTable.init(spark, table_path)
    with caplog.at_level(logging.WARNING, logger=LOGGER):
        t.append(df.repartition(3), bloom_cols=["code"], bloom_bits=M)
    msgs = [r.getMessage() for r in caplog.records if r.name == LOGGER]
    assert len(msgs) == 1 and "__graft_pid is reserved" in msgs[0]
    m = t.manifest()
    readback = t._collect_blooms(m["files"], ["code"], M)
    assert len(m["blooms"]) == 3
    for f, entry in m["blooms"].items():
        assert bloom_bitmap(entry["code"]) == \
            bloom_bitmap(readback[f]["code"])
    # the fused path logs nothing
    caplog.clear()
    with caplog.at_level(logging.WARNING, logger=LOGGER):
        t.append(df.drop("__graft_pid").repartition(2))
    assert not [r for r in caplog.records if r.name == LOGGER]


@pytest.fixture()
def table_path(tmp_path):
    return str(tmp_path / "t")


# -- Spark _bloom_pos and Python _bloom_position agree bit for bit ----------

_INT_EDGES = [0, 1, -1, 7, -7, 2**31 - 1, -2**31, 2**53 + 1,
              2**63 - 1, -2**63, -2**63 + 1]
_STR_EDGES = ["", " ", "  7", "\t", "\x00", "a\x00b", "é", "日本語",
              "🙂", "0007", "2024-01-08"]


@given(st.lists(st.integers(-2**63, 2**63 - 1), max_size=60),
       st.lists(st.text(max_size=12), max_size=60),
       st.sampled_from([1, 7, 1 << 10, 1 << 15, 1 << 22, 1 << 30]))
@settings(max_examples=8, deadline=None)
def test_spark_and_python_bloom_positions_agree(spark, ints, strs, m):
    ints = ints + _INT_EDGES
    strs = strs + _STR_EDGES
    n = max(len(ints), len(strs))
    rows = [(ints[i] if i < len(ints) else None,
             strs[i] if i < len(strs) else None) for i in range(n)]
    df = spark.createDataFrame(rows, "i long, s string")
    got = df.select("i", "s", SnapshotTable._bloom_pos("i", m).alias("pi"),
                    SnapshotTable._bloom_pos("s", m).alias("ps")).collect()
    assert len(got) == n
    for r in got:
        if r["i"] is not None:
            assert r["pi"] == _bloom_position(r["i"], m), r["i"]
        if r["s"] is not None:
            assert r["ps"] == _bloom_position(r["s"], m), repr(r["s"])
    for v in (True, False, 1.5, float("nan"), None):
        assert _bloom_position(v, m) is None


def test_scd2_apply_cow_keeps_the_tables_blooms(spark, tmp_path):
    """An SCD2 batch rewrites the files holding its keys under the
    table's bloom policy, like every other write."""
    from aliyun_maxcompute_data_collectors_spark.operators.scd import scd2_build
    from aliyun_maxcompute_data_collectors_spark.snapshots import scd2_apply_cow

    t = SnapshotTable.init(spark, str(tmp_path / "dim"))
    log = spark.createDataFrame([(k, f"v{k}", 10) for k in range(400)],
                                "k long, v string, ts long")
    t.append(scd2_build(log, "k", "ts").repartitionByRange(4, "k"),
             bloom_cols=["k"], bloom_bits=M)
    before = set(t.manifest()["files"])
    scd2_apply_cow(t, spark.createDataFrame(
        [(5, "x", 20)], "k long, v string, ts long"), ["k"], "ts")
    m = t.manifest()
    assert m["operation"] == "scd2-merge"
    assert len(before & set(m["files"])) == 3
    assert not _unbloomed(t, cols=("k",))
    assert t.bloom_columns() == (["k"], M)
    assert sorted((r["v"], r["is_current"]) for r in t.read(
        where=("k", "==", 5)).collect()) == [("v5", False), ("x", True)]
