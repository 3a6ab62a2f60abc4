"""Merge-on-read deletion vectors (r11): positional deletes recorded in
parquet sidecars instead of rewriting data files - Delta deletion
vectors / Iceberg positional deletes, built on the manifest layer.

Invariants pinned here:
- a MOR delete never touches data files (physical list identical);
- every read path (SnapshotTable.read, prune+where, the format API with
  and without pushdown) subtracts positions exactly;
- logical row counts (manifest rows, DML row guards) subtract DVs;
- repeat deletes fold to ONE live sidecar per file and never
  double-count (the capture scan is itself DV-applied);
- COW DML and compact() MATERIALIZE the vectors (rewrite, drop entry);
- changes()/CDF emit exact row-level delete events for MOR commits and
  never re-report already-MOR-deleted rows when a later COW step
  replaces the file;
- vacuum keeps live sidecars and sweeps dead ones;
- the file-level CDF surfaces (batch + stream) refuse MOR ranges loudly
  instead of silently missing deletes.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from aliyun_maxcompute_data_collectors_spark.snapshots import (
    SnapshotError,
    SnapshotTable,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "id long, v string")


@pytest.fixture()
def table(spark, tmp_path):
    return SnapshotTable.init(spark, str(tmp_path / "t"))


def test_mor_delete_basic(spark, table):
    table.append(_df(spark, [(i, f"a{i}") for i in range(100)]).coalesce(1))
    table.append(_df(spark, [(i, f"b{i}") for i in range(100, 200)])
                 .coalesce(1))
    v_pre = table.current_version()
    files_pre = sorted(table.manifest()["files"])

    v_mor = table.delete(("id", "==", 150), mor=True)
    m = table.manifest()
    # data files UNTOUCHED - that is the whole point
    assert sorted(m["files"]) == files_pre
    assert m["operation"] == "delete-mor"
    assert m["rows"] == 199
    # exactly one file carries a DV, with one position
    dvs = m["dvs"]
    assert len(dvs) == 1
    (f, ent), = dvs.items()
    assert ent["n"] == 1 and os.path.exists(ent["path"])
    # reads subtract the position
    assert table.read().count() == 199
    assert table.read().where("id = 150").count() == 0
    # the OTHER rows of the dv'd file survive
    assert table.read().where("id = 151").count() == 1
    # time travel: pre-delete snapshot still shows the row
    assert table.read(v_pre).where("id = 150").count() == 1
    # manifest prune + DV compose
    got = sorted(r["id"] for r in
                 table.read(where=("id", "between", (149, 152))).collect())
    assert got == [149, 151, 152]
    # operation metrics
    vrow = [x for x in table.versions() if x["version"] == v_mor][0]
    assert (vrow["num_added_files"], vrow["num_removed_files"]) == (0, 0)
    # row-level CDF: exactly ONE delete event, at O(touched)
    ch = table.changes(v_pre, v_mor)
    got = [(r["id"], r["v"], r["_change_type"]) for r in ch.collect()]
    assert got == [(150, "b150", "delete")]
    # include_version attribution works for MOR steps
    chv = table.changes(v_pre, v_mor, include_version=True).collect()
    assert chv[0]["_commit_version"] == v_mor


def test_mor_repeat_deletes_fold_and_never_double_count(spark, table):
    table.append(_df(spark, [(i, "x") for i in range(50)]).coalesce(1))
    table.delete(("id", "<", 10), mor=True)
    m1 = table.manifest()
    (f1, e1), = m1["dvs"].items()
    assert e1["n"] == 10 and m1["rows"] == 40
    # overlapping predicate: already-deleted rows match NOTHING live
    table.delete(("id", "<", 15), mor=True)
    m2 = table.manifest()
    (f2, e2), = m2["dvs"].items()
    assert f2 == f1
    assert e2["n"] == 15 and m2["rows"] == 35  # 5 new, not 15 again
    assert e2["path"] != e1["path"]  # folded into ONE live sidecar
    assert table.read().count() == 35
    assert sorted(r["id"] for r in table.read().collect()) == \
        list(range(15, 50))
    # delete matching nothing live: no empty commit
    head = table.current_version()
    assert table.delete(("id", "<", 15), mor=True) == head
    # per-commit CDF of the second delete: exactly the 5 NEW positions
    ch = table.changes(head - 1, head)
    assert sorted(r["id"] for r in ch.collect()) == list(range(10, 15))
    assert ch.where("_change_type <> 'delete'").count() == 0


def test_mor_dedup_fold_sidecar_internals(spark, table):
    """r13 dedup fold: the pure-DELETE capture scan is no longer
    DV-applied - already-deleted rows matching the predicate re-enter
    the staged job marked new=true and MUST be re-marked new=false by
    the min(new) fold against the prior sidecar, with each position
    appearing EXACTLY once.  Pins the staged sidecar's internal shape,
    not just the externally visible counts."""
    table.append(_df(spark, [(i, "x") for i in range(40)]).coalesce(1))
    table.delete(("id", "<", 10), mor=True)
    # overlapping second delete: ids 0..9 are dead but match the pred
    table.delete(("id", "<", 16), mor=True)
    m = table.manifest()
    (f, ent), = m["dvs"].items()
    assert ent["n"] == 16
    side = spark.read.parquet(ent["path"]).collect()
    pos = [(r["file"], r["row_index"], bool(r["new"])) for r in side]
    # every position exactly once (dedup), no duplicate keys at all
    keys = [(p[0], p[1]) for p in pos]
    assert len(keys) == len(set(keys)) == 16
    # rows dead BEFORE this commit are new=false; only 10..15 are new
    new_rows = sorted(p[1] for p in pos if p[2])
    old_rows = sorted(p[1] for p in pos if not p[2])
    assert new_rows == list(range(10, 16))
    assert old_rows == list(range(0, 10))


def test_mor_then_cow_materializes_and_cdf_stays_exact(spark, table):
    table.append(_df(spark, [(i, f"v{i}") for i in range(20)]).coalesce(1))
    v0 = table.current_version()
    v1 = table.delete(("id", "==", 3), mor=True)
    # COW update of another row in the SAME file: the rewrite must
    # apply the DV (row 3 stays gone) and drop the dv entry
    v2 = table.update({"v": "'UPD'"}, ("id", "==", 7))
    m = table.manifest()
    assert not m.get("dvs")
    assert m["rows"] == 19
    got = {r["id"]: r["v"] for r in table.read().collect()}
    assert 3 not in got and got[7] == "UPD" and len(got) == 19
    # the COW step's CDF must NOT re-report row 3 (it was already
    # MOR-deleted): exactly del(7,v7) + ins(7,UPD)
    ch = sorted((r["id"], r["v"], r["_change_type"])
                for r in table.changes(v1, v2).collect())
    assert ch == [(7, "UPD", "insert"), (7, "v7", "delete")]
    # whole-range algebra: v0 -> head nets to del 3, del 7old, ins 7new
    ch = sorted((r["id"], r["_change_type"])
                for r in table.changes(v0).collect())
    assert ch == [(3, "delete"), (7, "delete"), (7, "insert")]


def test_mor_compact_materializes_any_size(spark, table):
    table.append(_df(spark, [(i, "x") for i in range(1000)]).coalesce(1))
    table.delete(("id", "<", 100), mor=True)
    assert table.manifest()["dvs"]
    # the dv'd file joins the rewrite set regardless of size threshold
    table.compact(target_file_bytes=1 << 30, small_file_bytes=1)
    m = table.manifest()
    assert m["operation"] == "compact" and not m.get("dvs")
    assert m["rows"] == 900 and table.read().count() == 900
    # physical bytes no longer hold the deleted rows
    import pyarrow.parquet as pq
    assert sum(pq.ParquetFile(f).metadata.num_rows
               for f in m["files"]) == 900


def test_mor_file_drop_fast_path_counts_live_rows_only(spark, table):
    # file A: ids 0-9; MOR-delete 0-4; then COW-delete 5-9 (all LIVE
    # rows).  The fast path must see n_touched(live)=5 == n_del=5 and
    # drop the file - and must NOT have counted the 5 dead rows
    table.append(_df(spark, [(i, "x") for i in range(10)]).coalesce(1))
    table.append(_df(spark, [(i, "y") for i in range(100, 110)])
                 .coalesce(1))
    table.delete(("id", "<", 5), mor=True)
    table.delete(("id", "between", (5, 9)))  # COW
    m = table.manifest()
    assert len(m["files"]) == 1  # file A dropped outright, B carried
    assert m["rows"] == 10 and not m.get("dvs")
    assert sorted(r["id"] for r in table.read().collect()) == \
        list(range(100, 110))


def test_mor_format_api_reads_and_cdf_guards(spark, tmp_path):
    from aliyun_maxcompute_data_collectors_spark.sources.pyds import (
        register_python_datasources,
    )

    root = str(tmp_path / "fmt")
    tab = SnapshotTable.init(spark, root)
    tab.append(_df(spark, [(i, f"r{i}") for i in range(60)]).repartition(3))
    v_pre = tab.current_version()
    tab.delete(("id", "between", (10, 19)), mor=True)
    register_python_datasources(spark)

    # plain batch read through the format API applies the DV exactly
    got = (spark.read.format("graft_snapshot").option("path", root)
           .load())
    assert got.count() == 50
    assert got.where("id = 15").count() == 0
    assert sorted(r["id"] for r in got.collect()) == \
        [i for i in range(60) if not 10 <= i <= 19]
    # time travel through the format API: pre-delete version intact
    old = (spark.read.format("graft_snapshot").option("path", root)
           .option("version", str(v_pre)).load())
    assert old.count() == 60
    # file-level CDF refuses the MOR range loudly (silent missing
    # deletes would be a wrong answer)
    with pytest.raises(Exception, match="merge-on-read"):
        (spark.read.format("graft_snapshot").option("path", root)
         .option("change_feed", "true")
         .option("starting_version", str(v_pre)).load().collect())


def test_mor_dvs_survive_format_api_writes(spark, tmp_path):
    """Review r11 #1 regression: a DSv2 batch append (and a streaming
    sink epoch) onto a DV-carrying table must CARRY the dvs map -
    dropping it silently resurrected every MOR-deleted row."""
    from aliyun_maxcompute_data_collectors_spark.sources.pyds import (
        register_python_datasources,
    )

    root = str(tmp_path / "wfmt")
    tab = SnapshotTable.init(spark, root)
    tab.append(_df(spark, [(i, "x") for i in range(40)]).coalesce(1))
    tab.delete(("id", "<", 10), mor=True)
    assert tab.read().count() == 30
    register_python_datasources(spark)
    # DSv2 batch append
    (_df(spark, [(100, "new")]).write.format("graft_snapshot")
     .option("path", root).mode("append").save())
    m = tab.manifest()
    assert m.get("dvs"), "append dropped the deletion vectors"
    assert tab.read().count() == 31
    assert tab.read().where("id < 10").count() == 0
    # streaming sink epoch
    indir = os.path.join(root, "in")
    _df(spark, [(200, "s")]).coalesce(1).write.parquet(indir)
    q = (spark.readStream.schema("id long, v string").parquet(indir)
         .writeStream.format("graft_snapshot").option("path", root)
         .option("checkpointLocation", os.path.join(root, "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    assert tab.manifest().get("dvs"), "stream sink dropped the DVs"
    assert tab.read().count() == 32
    assert tab.read().where("id < 10").count() == 0


def test_mor_cdf_stream_start_at_mor_head_does_not_wedge(spark, tmp_path):
    """Review r11 #3 regression: a change_feed stream whose
    starting_version IS a MOR commit must start (offset bookkeeping
    never consumes the start version); it fails only when asked to
    CONSUME a later MOR commit."""
    from aliyun_maxcompute_data_collectors_spark.sources.pyds import (
        register_python_datasources,
    )

    root = str(tmp_path / "cdfw")
    tab = SnapshotTable.init(spark, root)
    tab.append(_df(spark, [(i, "x") for i in range(20)]).coalesce(1))
    v_mor = tab.delete(("id", "==", 1), mor=True)  # a MOR commit
    register_python_datasources(spark)
    # starting_version IS the MOR commit: offset bookkeeping counts it
    # as consumed without raising (the r10-shape dv check wedged here)
    sdf = (spark.readStream.format("graft_snapshot").option("path", root)
           .option("change_feed", "true")
           .option("starting_version", str(v_mor)).load())
    tab.append(_df(spark, [(500, "z")]).coalesce(1))
    out, ck = os.path.join(root, "out"), os.path.join(root, "ck")
    q = (sdf.writeStream.format("parquet").option("path", out)
         .option("checkpointLocation", ck)
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    assert got.count() == 1
    assert got.collect()[0]["id"] == 500


def test_changes_legacy_append_range_keeps_fast_path(spark, table):
    """Review r11 #5 regression: a pre-r11 (delta-less) append-only
    range must still plan as read-new-files-only, never a full-table
    exceptAll diff."""
    import json as _json

    table.append(_df(spark, [(1, "a"), (2, "b")]).coalesce(1))
    v = table.current_version()
    table.append(_df(spark, [(3, "c")]).coalesce(1))
    table.append(_df(spark, [(4, "d")]).coalesce(1))
    # strip every delta record, as a pre-r11 writer would have left it
    for ver in range(1, table.current_version() + 1):
        mp = table._store.manifest_path(ver)
        mj = table._store.manifest_json(ver)
        mj.pop("delta", None)
        with open(mp, "w") as f:
            _json.dump(mj, f)
    ch = table.changes(v)
    assert sorted(r["id"] for r in ch.collect()) == [3, 4]
    plan = ch._jdf.queryExecution().executedPlan().toString()
    assert "Except" not in plan


def test_mor_vacuum_keeps_live_sidecars(spark, table):
    table.append(_df(spark, [(i, "x") for i in range(30)]).coalesce(1))
    table.delete(("id", "<", 5), mor=True)
    dv_dir = list(table.manifest()["dvs"].values())[0]["path"]
    table.append(_df(spark, [(100, "z")]).coalesce(1))
    table.vacuum(keep_last=1)
    # sidecar referenced by HEAD survives; reads stay exact
    assert os.path.exists(dv_dir)
    assert table.read().count() == 26
    # materialize, then vacuum: the sidecar becomes garbage and goes
    table.compact(target_file_bytes=1 << 30, small_file_bytes=1)
    table.vacuum(keep_last=1)
    assert not os.path.exists(dv_dir)
    assert table.read().count() == 26


def test_mor_merge_and_replace_where_on_dv_files(spark, table):
    table.append(_df(spark, [(i, f"v{i}") for i in range(20)]).coalesce(1))
    table.delete(("id", "==", 2), mor=True)
    # MERGE touching the dv'd file: rewrite applies the DV
    src = spark.createDataFrame([(5, "M5"), (99, "M99")], "id long, v string")
    table.merge(src, "t.id = s.id",
                matched=[(None, {"v": "s.v"})], not_matched=(None, "*"))
    got = {r["id"]: r["v"] for r in table.read().collect()}
    assert 2 not in got and got[5] == "M5" and got[99] == "M99"
    assert len(got) == 20  # 20 - deleted 2 + inserted 99
    assert not table.manifest().get("dvs")
    # replace_where after a fresh MOR delete
    table.delete(("id", "==", 7), mor=True)
    table.replace_where(_df(spark, [(8, "R8")]), ("id", "==", 8))
    got = {r["id"]: r["v"] for r in table.read().collect()}
    assert 7 not in got and got[8] == "R8" and 2 not in got
    assert not table.manifest().get("dvs")


def test_mor_update_basic(spark, table):
    table.append(_df(spark, [(i, f"v{i}") for i in range(100)]).coalesce(1))
    v_pre = table.current_version()
    files_pre = sorted(table.manifest()["files"])

    v_u = table.update({"v": "concat(v, '+')"},
                       ("id", "between", (10, 12)), mor=True)
    m = table.manifest()
    assert m["operation"] == "update-mor"
    # original file untouched; matched rows re-appended as a new file
    assert set(files_pre) <= set(m["files"])
    assert len(m["files"]) == len(files_pre) + 1
    assert m["rows"] == 100
    dvs = m["dvs"]
    assert len(dvs) == 1 and list(dvs.values())[0]["n"] == 3
    got = {r["id"]: r["v"] for r in table.read().collect()}
    assert len(got) == 100
    assert got[10] == "v10+" and got[11] == "v11+" and got[13] == "v13"
    # time travel: pre-update values intact
    old = {r["id"]: r["v"] for r in table.read(v_pre).collect()}
    assert old[10] == "v10"
    # CDF: exactly 3 delete + 3 insert pairs, version-attributed
    ch = table.changes(v_pre, v_u, include_version=True)
    ev = sorted((r["id"], r["v"], r["_change_type"]) for r in ch.collect())
    assert ev == [(10, "v10", "delete"), (10, "v10+", "insert"),
                  (11, "v11", "delete"), (11, "v11+", "insert"),
                  (12, "v12", "delete"), (12, "v12+", "insert")]
    assert {r["_commit_version"] for r in ch.collect()} == {v_u}

    # stacked MOR ops on the same file: update then delete the updated
    # row - reads and counts stay exact, positions fold
    table.delete(("id", "==", 10), mor=True)
    got = {r["id"]: r["v"] for r in table.read().collect()}
    assert 10 not in got and len(got) == 99
    # the deleted position belongs to the NEW file (the updated copy);
    # the original file's DV still holds the 3 old positions
    assert table.manifest()["rows"] == 99

    # update a MOR-updated row again: operates on the live copy
    table.update({"v": "'FINAL'"}, ("id", "==", 11), mor=True)
    got = {r["id"]: r["v"] for r in table.read().collect()}
    assert got[11] == "FINAL" and len(got) == 99

    # compact materializes everything
    table.compact(target_file_bytes=1 << 30, small_file_bytes=1)
    m = table.manifest()
    assert not m.get("dvs") and m["rows"] == 99
    got2 = {r["id"]: r["v"] for r in table.read().collect()}
    assert got2 == got


def test_mor_update_unknown_column_raises(spark, table):
    table.append(_df(spark, [(1, "a")]).coalesce(1))
    with pytest.raises(SnapshotError, match="unknown columns"):
        table.update({"nope": "1"}, ("id", "==", 1), mor=True)
    # no-match update publishes nothing
    head = table.current_version()
    assert table.update({"v": "'x'"}, ("id", "==", 99), mor=True) == head


def test_mor_merge_matches_cow_merge(spark, tmp_path):
    """PARITY PIN: merge(mor=True) and merge(cow) produce identical
    tables for the same inputs - update+delete+insert clauses, a
    conditional clause that leaves some matched rows untouched, and
    rows that were already MOR-deleted before the merge."""
    rows = [(i, f"v{i}", i % 3) for i in range(60)]
    src_rows = [(5, "S5", 0), (10, "S10", 1), (11, "S11", 2),
                (100, "S100", 0), (101, "S101", 1)]
    kw = dict(
        on="t.id = s.id",
        matched=[("s.flag = 1", "delete"),          # 10, 101->n/a
                 ("s.flag = 0", {"v": "s.v"})],     # 5 updated; 11 (flag 2) kept
        not_matched=(None, "*"),
        source_keys=["id"])

    results = {}
    for mode in ("cow", "mor"):
        t = SnapshotTable.init(spark, str(tmp_path / mode))
        t.append(spark.createDataFrame(rows, "id long, v string, flag long")
                 .coalesce(2))
        t.delete(("id", "==", 7), mor=True)  # pre-existing DV both sides
        src = spark.createDataFrame(src_rows, "id long, v string, flag long")
        t.merge(src, mor=(mode == "mor"), **kw)
        results[mode] = {
            "rows": sorted((r["id"], r["v"], r["flag"])
                           for r in t.read().collect()),
            "count": t.manifest()["rows"],
        }
        if mode == "mor":
            m = t.manifest()
            assert m["operation"] == "merge-mor"
            # matched-file bytes untouched: DV'd, not rewritten
            assert m.get("dvs")
    assert results["mor"] == results["cow"]
    got = dict((i, v) for i, v, _ in results["mor"]["rows"])
    assert got[5] == "S5"          # update clause
    assert 10 not in got           # delete clause
    assert got[11] == "v11"        # matched, no clause applied -> kept
    assert got[100] == "S100" and got[101] == "S101"  # inserts
    assert 7 not in got            # pre-existing MOR delete respected


def test_mor_merge_cdf_and_guards(spark, table):
    table.append(_df(spark, [(i, f"v{i}") for i in range(30)]).coalesce(1))
    v0 = table.current_version()
    src = spark.createDataFrame([(3, "U3"), (99, "I99")], "id long, v string")
    v1 = table.merge(src, "t.id = s.id", mor=True,
                     matched=[(None, {"v": "s.v"})], not_matched=(None, "*"))
    ev = sorted((r["id"], r["v"], r["_change_type"])
                for r in table.changes(v0, v1).collect())
    assert ev == [(3, "U3", "insert"), (3, "v3", "delete"),
                  (99, "I99", "insert")]
    # algebra across a mor-merge
    assert table.read().count() == 31
    # cardinality violation still raises
    dup_src = spark.createDataFrame([(5, "a"), (5, "b")], "id long, v string")
    with pytest.raises(ValueError, match="cardinality"):
        table.merge(dup_src, "t.id = s.id", mor=True,
                    matched=[(None, {"v": "s.v"})])
    # no-op merge (nothing matches a clause, nothing inserts)
    head = table.current_version()
    miss = spark.createDataFrame([(3, "x")], "id long, v string")
    assert table.merge(miss, "t.id = s.id AND s.v = 'nope'", mor=True,
                       matched=[(None, {"v": "s.v"})]) == head


@pytest.mark.parametrize("mor", [False, True])
def test_unvalidated_merge_refuses_a_twice_matched_row(spark, tmp_path, mor):
    """With validate_cardinality=False (the cdc_apply_merge shape) a
    target row matched by two source rows must abort the merge in both
    modes - merge-on-read used to stage its position twice and commit
    ``rows`` one too low - and leave the table at its pre-state."""
    t = SnapshotTable.init(spark, str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a"), (2, "b")]).coalesce(1))
    pre_rows = sorted(map(tuple, t.read().collect()))
    pre_manifest = t.manifest()
    src = _df(spark, [(1, "x"), (1, "y")])
    with pytest.raises(SnapshotError):
        t.merge(src, "t.id = s.id", matched=[(None, {"v": "s.v"})],
                validate_cardinality=False, mor=mor)
    assert sorted(map(tuple, t.read().collect())) == pre_rows
    assert t.manifest() == pre_manifest


def test_mor_cdc_writer_batches(spark, tmp_path):
    """The versioned CDC writer with mor=True: every trigger lands as a
    merge-mor commit (sidecar + appended images, no file rewrites) and
    the table state matches the COW strategy exactly."""
    from aliyun_maxcompute_data_collectors_spark.snapshots import (
        cdc_foreach_batch_writer_versioned,
    )

    batches = [
        [(1, "a", 1, "I"), (2, "b", 1, "I"), (3, "c", 1, "I")],
        [(2, "B", 2, "U"), (3, None, 2, "D"), (4, "d", 2, "I")],
        [(4, "D4", 3, "U"), (1, None, 3, "D")],
    ]
    state = {}
    for mode in (False, True):
        t = SnapshotTable.init(spark, str(tmp_path / f"cdc{mode}"))
        t.append(spark.createDataFrame([(0, "seed")], "id long, v string")
                 .coalesce(1))
        apply_ = cdc_foreach_batch_writer_versioned(
            t, ["id"], ["ts"], mor=mode)
        for i, b in enumerate(batches):
            apply_(spark.createDataFrame(
                b, "id long, v string, ts long, op string"), i)
        state[mode] = sorted((r["id"], r["v"]) for r in t.read().collect())
        if mode:
            ops = [x["operation"] for x in t.versions()]
            assert ops.count("merge-mor") == 3
            assert t.manifest()["rows"] == len(state[mode])
    assert state[True] == state[False] == \
        [(0, "seed"), (2, "B"), (4, "D4")]


def test_mor_scd2_sync_on_dv_destination(spark, tmp_path):
    """sync_changes onto a dst that carries DVs: the key-scoped COW
    rewrite applies them for touched files and counts logically."""
    from aliyun_maxcompute_data_collectors_spark.snapshots import sync_changes

    src = SnapshotTable.init(spark, str(tmp_path / "s"))
    dst = SnapshotTable.init(spark, str(tmp_path / "d"))
    kv = spark.range(0, 100).selectExpr("id AS k", "id % 7 AS v")
    src.append(kv.coalesce(1))
    sync_changes(src, dst, ["k"])
    # dst diverges via a local MOR delete; the next sync of touched
    # keys must still converge for those keys
    dst.delete(("k", "between", (0, 4)), mor=True)
    src.update({"v": "v + 100"}, ("k", "between", (0, 9)))
    sync_changes(src, dst, ["k"])
    got = {r["k"]: r["v"] for r in dst.read().collect()}
    for k in range(10):
        assert got[k] == k % 7 + 100  # touched keys re-replicated
    assert len(got) == 100 and not dst.manifest().get("dvs")


def test_clone_of_mor_table_changes_and_stream_apply_dvs(spark, tmp_path):
    """ADVICE r11 #1: clone() records the cloned files as delta_added,
    but those files arrive WITH deletion vectors - changes() and the
    CDF stream must not resurrect MOR-deleted rows as inserts."""
    from aliyun_maxcompute_data_collectors_spark.sources.pyds import (
        register_python_datasources,
    )

    src = SnapshotTable.init(spark, str(tmp_path / "src"))
    src.append(_df(spark, [(i, f"a{i}") for i in range(10)]).coalesce(1))
    src.delete(("id", "==", 3), mor=True)
    clone = src.clone(str(tmp_path / "clone"))
    assert sorted(r["id"] for r in clone.read().collect()) == \
        [i for i in range(10) if i != 3]
    # row-level changes over the clone commit: 9 inserts, never id=3
    ch = clone.changes(1)
    got = [(r["id"], r["_change_type"]) for r in ch.collect()]
    assert sorted(i for i, c in got if c == "insert") == \
        [i for i in range(10) if i != 3]
    assert not [i for i, c in got if c == "delete"]
    # with per-commit attribution too
    chv = clone.changes(1, include_version=True)
    rows = chv.collect()
    assert sorted(r["id"] for r in rows) == \
        [i for i in range(10) if i != 3]
    assert {r["_commit_version"] for r in rows} == {2}
    # the CDF stream over the clone history sees the same 9 inserts
    register_python_datasources(spark)
    sdf = (spark.readStream.format("graft_snapshot")
           .option("path", str(tmp_path / "clone"))
           .option("change_feed", "true")
           .option("starting_version", "1").load())
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    q = (sdf.writeStream.format("parquet").option("path", out)
         .option("checkpointLocation", ck)
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got_s = spark.read.parquet(out)
    assert sorted(r["id"] for r in got_s.collect()) == \
        [i for i in range(10) if i != 3]
    assert {r["_change_type"] for r in got_s.collect()} == {"insert"}
    # the BATCH CDF read applies the clone's sidecars too
    got_b = (spark.read.format("graft_snapshot")
             .option("path", str(tmp_path / "clone"))
             .option("change_feed", "true")
             .option("starting_version", "1").load())
    assert sorted(r["id"] for r in got_b.collect()) == \
        [i for i in range(10) if i != 3]


def test_cdf_stream_cow_over_dv_excludes_mor_deleted_rows(spark, tmp_path):
    """A CDF stream starting AFTER a MOR commit that then consumes a
    COW delete rewriting the dv'd file must emit only LIVE rows as
    deletes - never the already-MOR-deleted position."""
    from aliyun_maxcompute_data_collectors_spark.sources.pyds import (
        register_python_datasources,
    )

    root = str(tmp_path / "t")
    tab = SnapshotTable.init(spark, root)
    tab.append(_df(spark, [(i, "x") for i in range(20)]).coalesce(1))
    v_mor = tab.delete(("id", "==", 1), mor=True)
    register_python_datasources(spark)
    sdf = (spark.readStream.format("graft_snapshot").option("path", root)
           .option("change_feed", "true")
           .option("starting_version", str(v_mor)).load())
    tab.delete(("id", "==", 5))  # COW: rewrites the dv'd file
    out, ck = os.path.join(root, "out"), os.path.join(root, "ck")
    q = (sdf.writeStream.format("parquet").option("path", out)
         .option("checkpointLocation", ck)
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    dels = sorted(r["id"] for r in got.collect()
                  if r["_change_type"] == "delete")
    ins = sorted(r["id"] for r in got.collect()
                 if r["_change_type"] == "insert")
    # deletes: the 19 live rows of the removed file (id=1 already gone)
    assert dels == [i for i in range(20) if i != 1]
    # inserts: the rewritten file's 18 rows
    assert ins == [i for i in range(20) if i not in (1, 5)]


def test_merge_mor_write_anomaly_aborts_before_commit(spark, table,
                                                      monkeypatch):
    """ADVICE r11 #3: _merge_mor must refuse to commit when the written
    row count disagrees with matched-updates + inserts (mirrors the
    update-mor guard)."""
    table.append(_df(spark, [(i, f"a{i}") for i in range(10)]).coalesce(1))
    v_pre = table.current_version()
    src = spark.createDataFrame([(1, "B1"), (99, "N99")], "id long, v string")
    real = SnapshotTable._write_files

    def lossy(self, df):
        files, n, stats = real(self, df)
        return files, n - 1, stats  # simulate a dropped row

    monkeypatch.setattr(SnapshotTable, "_write_files", lossy)
    with pytest.raises(SnapshotError, match="merge-mor row-count"):
        table.merge(src, on="t.id = s.id",
                    matched=[(None, {"v": "s.v"})],
                    not_matched=(None, "*"),
                    target_alias="t", source_alias="s", mor=True)
    assert table.current_version() == v_pre  # nothing committed


def test_dv_broadcast_bound_switches_join_strategy(spark, table,
                                                   monkeypatch):
    """VERDICT r11 #1: the DV anti-join broadcasts only while the
    accumulated position count (sidecar footers, manifest-known) stays
    under DV_BROADCAST_MAX_POSITIONS; past it the hint is dropped so
    AQE may pick a shuffled join instead of marching into the 8 GB
    broadcast cap."""
    import aliyun_maxcompute_data_collectors_spark.snapshots as S

    table.append(_df(spark, [(i, "x") for i in range(100)]).coalesce(1))
    table.delete(("id", "<", 10), mor=True)

    # autoBroadcastJoinThreshold off isolates the HINT's effect: with
    # the hint the join still broadcasts; without it AQE/planner is
    # free to (and here must) pick a non-broadcast strategy
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

        def _anti_strategies(plan: str) -> set:
            # the strategy of the LeftAnti DV join specifically: the
            # build side legitimately contains a tiny broadcast join
            # (the r12 rendered-path map, one row per dirty file), so
            # a bare "BroadcastHashJoin in plan" check is too coarse.
            # Node name via regex (ADVICE r12 #3): under whole-stage
            # codegen the line is "*(2) BroadcastHashJoin ..." and a
            # split on "(" reduced it to "*", making the assertions
            # formatting-dependent
            import re
            return {m.group(1)
                    for line in plan.splitlines() if "LeftAnti" in line
                    for m in [re.search(r"(\w+Join)\b", line)] if m}

        plan = table.read()._jdf.queryExecution().executedPlan().toString()
        assert any("Broadcast" in s
                   for s in _anti_strategies(plan))  # forced by the hint

        monkeypatch.setattr(S, "DV_BROADCAST_MAX_POSITIONS", 0)
        plan0 = (table.read()._jdf.queryExecution().executedPlan()
                 .toString())
        strategies = _anti_strategies(plan0)
        assert strategies and all("Broadcast" not in s
                                  for s in strategies)  # hint dropped
        # results identical either way
        assert sorted(r["id"] for r in table.read().collect()) == \
            list(range(10, 100))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_dv_joins_hash_one_long_key_and_compare_the_pair(spark, table):
    """Every deletion-vector join hashes ONE long key, so a broadcast
    build side is a LongHashedRelation, not an UnsafeHashedRelation
    holding a whole Tungsten page per copy; the (file, row) pair is
    compared in the join condition, so results stay exact."""
    import re

    table.append(_df(spark, [(i, "x") for i in range(100)]).repartition(3))
    v0 = table.current_version()
    table.delete(("id", "<", 10), mor=True)
    table.delete(("id", "between", (50, 54)), mor=True)

    plan = table.read()._jdf.queryExecution().executedPlan().toString()
    joins = [line for line in plan.splitlines() if "LeftAnti" in line]
    assert joins
    for line in joins:
        keys = re.search(r"Join \[([^\]]*)\], \[([^\]]*)\]", line)
        assert keys and "," not in keys.group(1) + keys.group(2), line
        assert "__graft_pfp" in line and "__graft_pri" in line, line

    want = [i for i in range(100) if not (i < 10 or 50 <= i <= 54)]
    assert sorted(r["id"] for r in table.read().collect()) == want
    deleted = table.changes(v0, table.current_version()).collect()
    assert sorted(r["id"] for r in deleted) == \
        list(range(10)) + list(range(50, 55))
    assert {r["_change_type"] for r in deleted} == {"delete"}


def test_mor_refuses_bulk_positions_and_points_at_cow(spark, table,
                                                      monkeypatch):
    """VERDICT r11 #2: a mor=True DML matching more positions than the
    single-task sidecar write is built for refuses loudly; the same
    statement under COW succeeds."""
    import aliyun_maxcompute_data_collectors_spark.snapshots as S

    table.append(_df(spark, [(i, "x") for i in range(100)]).coalesce(1))
    monkeypatch.setattr(S, "MOR_MAX_NEW_POSITIONS", 5)
    with pytest.raises(SnapshotError, match="mor=False"):
        table.delete(("id", "<", 50), mor=True)
    assert table.read().count() == 100  # nothing committed
    table.delete(("id", "<", 50))  # COW path takes the bulk delete
    assert table.read().count() == 50
    # under the bound MOR still works
    table.delete(("id", "==", 60), mor=True)
    assert table.read().count() == 49


def test_mor_merge_not_matched_by_source_parity_and_cdf(spark, tmp_path):
    """r12 (VERDICT r11 missing #2): WHEN NOT MATCHED BY SOURCE under
    merge-on-read resolves unmatched target rows to deletion-vector
    positions (delete clauses) / re-emitted images (SET clauses)
    instead of rewriting files - result-identical to the COW path,
    with the matched files' bytes untouched and exact CDF events."""
    rows = [(i, f"v{i}", i % 3) for i in range(40)]
    src_rows = [(5, "S5", 0), (100, "S100", 0)]
    kw = dict(
        on="t.id = s.id",
        matched=[(None, {"v": "s.v"})],
        not_matched=(None, "*"),
        # ordered: ids >= 30 unmatched -> delete; other unmatched
        # multiples of 10 -> flagged stale; everything else kept
        not_matched_by_source=[("t.id >= 30", "delete"),
                               ("t.id % 10 = 0", {"v": "'stale'"})])

    results = {}
    for mode in ("cow", "mor"):
        t = SnapshotTable.init(spark, str(tmp_path / mode))
        t.append(spark.createDataFrame(rows, "id long, v string, flag long")
                 .coalesce(2))
        t.delete(("id", "==", 35), mor=True)  # pre-existing DV both sides
        src = spark.createDataFrame(src_rows, "id long, v string, flag long")
        v_pre = t.current_version()
        v_post = t.merge(src, mor=(mode == "mor"), **kw)
        results[mode] = sorted((r["id"], r["v"], r["flag"])
                               for r in t.read().collect())
        assert t.manifest()["rows"] == len(results[mode])
        if mode == "mor":
            m = t.manifest()
            assert m["operation"] == "merge-mor" and m.get("dvs")
            # original data files still in the manifest (no rewrite)
            assert len(m["files"]) > 2  # 2 originals + appended images
            # CDF: deletes for the dropped range (35 already gone),
            # delete+insert pairs for updated/stale rows
            ev = [(r["id"], r["v"], r["_change_type"])
                  for r in t.changes(v_pre, v_post).collect()]
            dels = sorted(i for i, _, c in ev if c == "delete")
            assert dels == [0, 5, 10, 20] + \
                [i for i in range(30, 40) if i != 35]
            assert (100, "S100", "insert") in ev
            assert (0, "stale", "insert") in ev
    assert results["mor"] == results["cow"]
    got = {i: v for i, v, _ in results["mor"]}
    assert got[5] == "S5"                      # matched update
    assert all(i not in got for i in range(30, 40))  # nmbs delete
    assert got[0] == got[10] == got[20] == "stale"   # nmbs SET
    assert got[1] == "v1" and got[11] == "v11"       # untouched kept
    assert got[100] == "S100"                  # insert


def test_norm_meta_path_matches_regex_reference(spark):
    """r12: the string-ops path normalization (the hot per-row expr of
    every DV-applied scan) must equal the anchored-regex reference on
    every scheme/slash shape."""
    from pyspark.sql import Row

    cases = ["file:/tmp/a.parquet", "file:///tmp/a.parquet",
             "file://tmp/a.parquet", "/tmp/a.parquet",
             "//tmp/a.parquet", "hdfs://nn/tmp/a.parquet",
             "s3a://bkt/k.parquet", "rel/a.parquet",
             "file:////x", "file:x"]
    df = spark.createDataFrame(
        [Row(x=c) for c in cases]).selectExpr(
            "named_struct('file_path', x, 'row_index', 0L) AS _metadata")
    ref = F.regexp_replace(
        F.regexp_replace(F.col("_metadata.file_path"), "^file:", ""),
        "^/+", "/")
    got = df.select(
        F.col("_metadata.file_path").alias("in"),
        SnapshotTable._norm_meta_path().alias("new"),
        ref.alias("old")).collect()
    for r in got:
        assert r["new"] == r["old"], r


def test_mirror_full_sync_cow_and_mor(spark, table):
    """r12: mirror() makes the table equal the source on keys in one
    commit - updates, inserts, and unmatched-target deletes - under
    both COW and MOR; MOR keeps the original files (DV positions) and
    the change feed is proportional to what changed."""
    table.append(_df(spark, [(i, f"v{i}") for i in range(20)]).coalesce(1))
    truth = [(i, f"v{i}") for i in range(5, 15)]       # drop 0-4, 15-19
    truth[0] = (5, "NEW5")                             # change one
    truth.append((100, "I100"))                        # add one
    src = spark.createDataFrame(truth, "id long, v string")
    v_pre = table.current_version()
    files_pre = set(table.manifest()["files"])
    v = table.mirror(src, ["id"], mor=True)
    assert sorted((r["id"], r["v"]) for r in table.read().collect()) == \
        sorted(truth)
    m = table.manifest()
    assert m["rows"] == len(truth)
    assert files_pre <= set(m["files"])  # originals untouched (MOR)
    assert m.get("dvs")
    # change feed: deletes = dropped rows + old image of id 5; inserts
    # = new image of 5 + the insert
    ev = sorted((r["id"], r["_change_type"])
                for r in table.changes(v_pre, v).collect())
    assert ev == sorted(
        [(i, "delete") for i in list(range(5)) + list(range(15, 20))]
        + [(5, "delete"), (5, "insert"), (100, "insert")])
    # idempotent: mirroring the same truth again commits nothing
    assert table.mirror(src, ["id"], mor=True) in (v, v + 1)
    assert table.read().count() == len(truth)
    # COW parity on a fresh table
    t2 = SnapshotTable.init(spark, table.path + "_cow")
    t2.append(_df(spark, [(i, f"v{i}") for i in range(20)]).coalesce(1))
    t2.mirror(src, ["id"])
    assert sorted((r["id"], r["v"]) for r in t2.read().collect()) == \
        sorted(truth)
    # source missing a column raises
    with pytest.raises(SnapshotError, match="lacks table columns"):
        table.mirror(src.select("id"), ["id"])
    with pytest.raises(SnapshotError, match="not table columns"):
        table.mirror(src, ["nope"])


def test_rendered_paths_match_metadata_on_exotic_path(spark, tmp_path):
    """ADVICE r12 #1: the pre-rendered DV fast path assumes
    ``_metadata.file_path`` byte-equals ``hadoop.fs.Path(file).toString()``
    for every scanned file.  Pin that equality on a directory whose name
    contains a space AND a percent sign - the URL-encoding shape where a
    future Spark could diverge silently.  On such paths the rendering
    does NOT round back onto the manifest's literal path strings, so the
    designed behavior is: ``_rendered_paths`` declines (fast path off,
    per-row normalization fallback keeps reads exact) and MOR DML aborts
    LOUDLY before writing anything rather than committing positions in a
    namespace its consumers can't join."""
    root = tmp_path / "dir with space%20pct" / "t"
    table = SnapshotTable.init(spark, str(root))
    table.append(_df(spark, [(i, f"a{i}") for i in range(20)]).coalesce(1))
    m = table.manifest()

    # THE pinned equality: executor-side _metadata.file_path rendering
    # == driver-side hadoop Path(inputFile).toString(), byte-for-byte,
    # on the %-encoding-heavy shape
    scan = spark.read.parquet(*m["files"])
    jpath = spark._jvm.org.apache.hadoop.fs.Path
    driver_rendered = {jpath(rf).toString() for rf in scan.inputFiles()}
    executor_meta = {
        r[0] for r in scan.select(F.col("_metadata.file_path"))
        .distinct().collect()
    }
    assert driver_rendered == executor_meta

    # the fast path correctly DECLINES (encoded rendering does not map
    # onto the literal manifest strings) instead of mis-mapping
    assert table._rendered_paths(
        table._scan_subset(m, m["files"]), m["files"]) is None
    # plain reads stay exact over the exotic path
    assert sorted(r["id"] for r in table.read().collect()) == \
        list(range(20))
    # MOR DML hits the unmappable-hit guard loudly, nothing committed
    head = table.current_version()
    with pytest.raises(SnapshotError, match="does not map back"):
        table.delete(("id", "==", 3), mor=True)
    assert table.current_version() == head
    assert table.read().count() == 20


def test_mor_dv_fraction_bound_refuses_mostly_dead_file(spark, table,
                                                        monkeypatch):
    """VERDICT r12 #1: the DV-fraction admission bound.  Accumulating
    vectors past MOR_MAX_DV_FRACTION of a file's physical rows refuses
    loudly (the read tax would compound forever); compact() clears the
    vectors and MOR DML is admitted again."""
    import aliyun_maxcompute_data_collectors_spark.snapshots as S

    table.append(_df(spark, [(i, "x") for i in range(100)]).coalesce(1))
    table.delete(("id", "<", 40), mor=True)  # 40% - admitted
    head = table.current_version()
    with pytest.raises(SnapshotError, match="MOR_MAX_DV_FRACTION"):
        table.delete(("id", "<", 60), mor=True)  # would fold to 60%
    assert table.current_version() == head  # nothing committed
    assert table.read().count() == 60
    # compact() materializes the vectors; the same DML is admitted again
    table.compact()
    assert not table.manifest().get("dvs")
    table.delete(("id", "<", 60), mor=True)  # 20/60 = 33% of the rewrite
    assert table.read().count() == 40
    # the bound is tunable
    monkeypatch.setattr(S, "MOR_MAX_DV_FRACTION", 0.0)
    with pytest.raises(SnapshotError, match="MOR_MAX_DV_FRACTION"):
        table.delete(("id", "==", 70), mor=True)
