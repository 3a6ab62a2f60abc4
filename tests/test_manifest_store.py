"""ManifestStore without Spark: a model-based state machine over every
manifest layout, crash injection at each durable step of a commit, the
directory-fsync durability pin, the bloom-entry codec and the
pyspark-free import.

Nothing here starts a JVM.  Hypothesis budgets follow the suite's
tiers: quarter by default, ``SPARK_GRAFT_TEST_TIER=full`` for all
examples."""

from __future__ import annotations

import contextlib
import gzip
import json
import os
import random
import shutil
import subprocess
import sys
import tempfile
from unittest import mock

import numpy as np
import pytest
from hypothesis import HealthCheck, settings
from hypothesis import strategies as st
from hypothesis.stateful import (
    RuleBasedStateMachine,
    initialize,
    invariant,
    precondition,
    rule,
)
from manifest_reference import legacy_json_segments

import aliyun_maxcompute_data_collectors_spark.manifest_store as S
from aliyun_maxcompute_data_collectors_spark.manifest_store import (
    ManifestStore,
    bloom_bitmap,
    bloom_entry,
    bloom_may_contain,
    prune_manifest_files,
    resolve_stats,
)

_FULL_TIER = os.environ.get("SPARK_GRAFT_TEST_TIER", "").lower() == "full"


def _ex(n: int) -> int:
    return n if _FULL_TIER else max(5, n // 4)


# ---------------------------------------------------------------------------
# bloom entries: legacy form and codec helpers
# ---------------------------------------------------------------------------

_REAL_PARQUET_SEGMENT = S._write_parquet_segment


def _hex_entry(entry: dict) -> dict:
    """The ``{"m", "hex"}`` form tables written before compression hold."""
    return {"m": entry["m"], "hex": bloom_bitmap(entry).hex()}


def _legacy_parquet_segment(path: str, payload: dict) -> str:
    """The parquet segment writer before compression: ``b_m:``/``b_hex:``
    bloom columns."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    blooms = payload.get("blooms") or {}
    _REAL_PARQUET_SEGMENT(path, {
        "files": S._Segment(None, payload).files,
        "stats": payload.get("stats") or {}})
    table = pq.read_table(path)
    for c in sorted({c for b in blooms.values() for c in b}):
        es = [(blooms.get(f) or {}).get(c)
              for f in table.column("file").to_pylist()]
        table = table.append_column(
            f"b_m:{c}", pa.array([e and e["m"] for e in es], pa.int64()))
        table = table.append_column(
            f"b_hex:{c}",
            pa.array([e and bloom_bitmap(e).hex() for e in es], pa.string()))
    pq.write_table(table, path)
    return path


def _legacy_writer():
    """Patches that make commits store blooms as the pre-compression
    code did: entries verbatim, parquet segments with hex columns."""
    return [mock.patch.object(S, "_compress_blooms", lambda b: b),
            mock.patch.object(S, "_write_parquet_segment",
                              _legacy_parquet_segment)]


# how a commit drawn by the model writes its metadata: "hex" stores
# blooms as the pre-compression writer did, "json" writes its segments
# as the JSON writer of older tables did; "" is the current writer
WRITERS = ("", "hex", "json", "json+hex")


def _bits(bitmap: bytes, m: int) -> np.ndarray:
    return np.unpackbits(np.frombuffer(bitmap, np.uint8),
                         bitorder="little")[:m].astype(bool)


# ---------------------------------------------------------------------------
# model-based state machine
# ---------------------------------------------------------------------------

class StoreModel(RuleBasedStateMachine):
    """Every commit shape against a pure-Python model: per version, the
    ordered live file list, each live file's stats, the deletion-vector
    map and the file diff against the parent (None when the commit
    records none).  Thresholds are drawn small so inline, stats-
    segmented, file-segmented, removal-list and fold layouts all occur.
    Every added file carries a bloom.  Each commit draws its writer
    (``WRITERS``): one drawn ``hex`` stores its blooms as the
    pre-compression writer did, one drawn ``json`` writes legacy JSON
    segments (gzip'd, plain, or by the old writer's rule - drawn once
    per table), so hex and compressed entries, and JSON and parquet
    segments, mix in every layout; every live file's bloom must decode
    to its own bit set and every fold lands in parquet."""

    def __init__(self):
        super().__init__()
        self.tmp = tempfile.mkdtemp(prefix="msmodel_")
        self.n = 0
        self.versions: dict[int, dict] = {}

    def teardown(self):
        shutil.rmtree(self.tmp, ignore_errors=True)

    @initialize(inline_files=st.integers(1, 4),
                inline_stats_files=st.integers(1, 4),
                max_segments=st.integers(1, 4),
                removed_files_max=st.integers(1, 4),
                json_gzip=st.sampled_from([None, True, False]))
    def create(self, json_gzip, **thresholds):
        self.json_gzip = json_gzip
        self.store = ManifestStore.init(os.path.join(self.tmp, "t"),
                                        **thresholds)
        self.versions[1] = {"files": [], "dvs": {}, "delta": ([], [])}

    # -- helpers -------------------------------------------------------------
    @property
    def head(self) -> dict:
        return self.versions[self.store.current_version()]

    def _new(self, k: int) -> list[str]:
        out = []
        for _ in range(k):
            self.n += 1
            out.append(f"/data/f{self.n:05d}.parquet")
        return out

    @staticmethod
    def _stats(files) -> dict:
        return {f: {"x": [int(f[7:12]), int(f[7:12]) + 1]} for f in files}

    @staticmethod
    def _bloom_bits(f: str) -> tuple[int, list[int]]:
        i = int(f[7:12])
        m = 1 << (10 + i % 3)
        return m, sorted(random.Random(i).sample(range(m), i % 40))

    def _blooms(self, files, legacy: bool) -> dict:
        out = {}
        for f in files:
            m, positions = self._bloom_bits(f)
            e = bloom_entry(positions, m)
            out[f] = {"c": _hex_entry(e) if legacy else e}
        return out

    def _commit(self, operation, live, live_dvs, diff, legacy="",
                **kw) -> None:
        hexed = "hex" in legacy
        if "add" in kw:
            kw["blooms"] = self._blooms(kw["add"], hexed)
        parent = self.store.manifest_json(self.store.current_version())
        with contextlib.ExitStack() as stack:
            for p in _legacy_writer() if hexed else []:
                stack.enter_context(p)
            if "json" in legacy:
                stack.enter_context(legacy_json_segments(self.json_gzip))
            v = self.store.commit(self.store.manifest(), operation,
                                  rows=len(live), **kw)
        self.versions[v] = {"files": live, "dvs": live_dvs, "delta": diff,
                            "legacy": legacy}
        self._check_layout(v, parent, live, kw)

    def _check_layout(self, v, parent, live, kw) -> None:
        """Segments stay within ``max_segments``, and a commit on a
        segmented base that hits no declared fold trigger carries every
        segment as it is and writes entries for its added files only:
        its metadata is O(added + inline list), never O(table)."""
        st = self.store
        mj = st.manifest_json(v)
        segs = mj.get("segments") or []
        fsegs = mj.get("file_segments") or []
        assert len(segs) + len(fsegs) <= st.max_segments, v
        p_segs = parent.get("segments") or []
        p_fsegs = parent.get("file_segments") or []
        if kw.get("shape", "append") != "append" or not (p_segs or p_fsegs):
            return
        if p_fsegs:
            removed = set(parent.get("removed_files") or []) \
                | set(kw.get("remove") or ())
            fold = (len(p_fsegs) + len(p_segs) + 1 > st.max_segments
                    or len(removed) > st.removed_files_max)
        else:
            fold = (len(live) > st.inline_files
                    or len(p_segs) + 1 > st.max_segments)
        if fold:
            return
        carried = p_segs + p_fsegs
        assert set(carried) <= set(segs + fsegs), v
        fresh = [p for p in segs + fsegs if p not in carried]
        assert len(fresh) <= 1, v
        for p in fresh:
            d = S._load_segment(p)
            written = (set(d.get("files") or []) | set(d.get("stats") or {})
                       | set(d.get("blooms") or {}))
            assert written <= set(kw.get("add") or ()), v

    def _pick(self, data, live) -> list[str]:
        picked = data.draw(st.lists(st.sampled_from(live), unique=True,
                                    min_size=1, max_size=3))
        return [f for f in live if f in picked]

    # -- rules ---------------------------------------------------------------
    @rule(k=st.integers(1, 3), legacy=st.sampled_from(WRITERS))
    def append(self, k, legacy):
        head, add = self.head, self._new(k)
        self._commit("append", head["files"] + add, head["dvs"],
                     (add, []), legacy, add=add, stats=self._stats(add))

    @precondition(lambda self: self.versions and self.head["files"])
    @rule(data=st.data(), k=st.integers(0, 2),
          legacy=st.sampled_from(WRITERS))
    def cow(self, data, k, legacy):
        head, add = self.head, self._new(k)
        gone = self._pick(data, head["files"])
        live = [f for f in head["files"] if f not in gone] + add
        dvs = {f: d for f, d in head["dvs"].items() if f not in gone}
        self._commit("delete", live, dvs, (add, gone), legacy, add=add,
                     stats=self._stats(add), remove=gone)

    @rule(k=st.integers(0, 3), legacy=st.sampled_from(WRITERS))
    def replace(self, k, legacy):
        head, add = self.head, self._new(k)
        self._commit("overwrite", add, {}, (add, head["files"]), legacy,
                     add=add, stats=self._stats(add), shape="replace")

    @precondition(lambda self: self.versions and self.head["files"])
    @rule(data=st.data(), k=st.integers(0, 2),
          legacy=st.sampled_from(WRITERS))
    def fold(self, data, k, legacy):
        head, add = self.head, self._new(k)
        gone = (self._pick(data, head["files"])
                if data.draw(st.booleans()) else [])
        live = [f for f in head["files"] if f not in gone] + add
        dvs = {f: d for f, d in head["dvs"].items() if f not in gone}
        self._commit("compact", live, dvs, (add, gone), legacy, add=add,
                     stats=self._stats(add), remove=gone, shape="fold")

    @precondition(lambda self: self.versions and self.head["files"])
    @rule(data=st.data())
    def set_dvs(self, data):
        head = self.head
        hit = self._pick(data, head["files"])
        self.n += 1
        side = f"/data/dv{self.n:05d}"
        new = {f: {"path": side, "n": 1 + (head["dvs"].get(f) or {})
                   .get("n", 0)} for f in hit}
        self._commit("delete-mor", head["files"], {**head["dvs"], **new},
                     ([], []), dvs=new,
                     delta_dv={"path": side, "files": hit, "n": len(hit)})

    @precondition(lambda self: len(self.versions) > 1)
    @rule(data=st.data())
    def rollback(self, data):
        v = data.draw(st.sampled_from(sorted(self.versions)))
        head = self.store.current_version()
        target = self.versions[v]
        nv = self.store.commit(self.store.manifest(v), f"rollback->v{v}",
                               rows=len(target["files"]), onto=head)
        self.versions[nv] = {"files": target["files"], "dvs": target["dvs"],
                             "delta": None}

    # -- checks --------------------------------------------------------------
    @invariant()
    def every_version_matches_model(self):
        if not self.versions:
            return
        assert not os.path.exists(os.path.join(self.store.root,
                                               "COMMIT_LOCK"))
        for v, want in self.versions.items():
            m = self.store.manifest(v)
            # no removed file ever comes back, order included
            assert m["files"] == want["files"], v
            parent = m["parent"]
            delta = self.store.commit_delta(v)
            if want["delta"] is None:
                assert delta is None, v
            elif delta is not None:
                old = set(self.versions[parent]["files"]) if parent else set()
                new = set(want["files"])
                assert set(delta[0]) == new - old, v
                assert set(delta[1]) == old - new, v
            stats, blooms = resolve_stats(m)
            assert {f: stats.get(f) for f in m["files"]} == \
                self._stats(m["files"]), v
            for f in m["files"]:
                want_m, want_bits = self._bloom_bits(f)
                e = blooms[f]["c"]
                assert e["m"] == want_m, (v, f)
                got = np.flatnonzero(_bits(bloom_bitmap(e), want_m))
                assert got.tolist() == want_bits, (v, f)
            if "hex" not in want.get("legacy", ""):
                # a commit stores every entry it writes compressed: the
                # inline ones and those of the segments it writes
                written = [m.get("blooms") or {}] + [
                    S._load_segment(p).blooms
                    for p in (m.get("segments") or [])
                    + (m.get("file_segments") or [])
                    if os.path.basename(p).startswith(f"seg-{v:08d}-")]
                assert all("z" in e for b in written for per in b.values()
                           for e in per.values()), v
            if not want.get("legacy"):
                # the current writer writes parquet segments only
                assert all(p.endswith(".parquet") for p in
                           (m.get("segments") or [])
                           + (m.get("file_segments") or [])
                           if os.path.basename(p).startswith(
                               f"seg-{v:08d}-")), v
            dvs = m.get("dvs") or {}
            assert set(dvs) <= set(m["files"]), v
            assert dvs == want["dvs"], v


StoreModel.TestCase.settings = settings(
    max_examples=_ex(120), stateful_step_count=20, deadline=None,
    suppress_health_check=[HealthCheck.too_slow])
TestStoreModel = StoreModel.TestCase


# ---------------------------------------------------------------------------
# bloom codec
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("log2m", [12, 15, 18, 22])
@pytest.mark.parametrize("density", [0.0, 0.001, 0.01, 0.1, 0.5, 1.0])
def test_bloom_codec_round_trips(log2m, density):
    """The compressed entry decodes to exactly the reference bit array,
    and membership answers match it, from empty to saturated bitmaps;
    the legacy hex form of the same bitmap answers identically."""
    m = 1 << log2m
    rng = np.random.default_rng(log2m * 1000 + int(density * 1000))
    positions = rng.integers(0, m, int(m * density))
    if density == 1.0:
        positions = np.arange(m)
    ref_bytes = bytearray(m // 8)  # the per-position loop numpy replaced
    for p in positions.tolist():
        ref_bytes[p >> 3] |= 1 << (p & 7)
    ref = _bits(bytes(ref_bytes), m)
    e = bloom_entry(positions, m)
    assert set(e) == {"m", "z"} and e["m"] == m
    json.loads(json.dumps(e))  # plain JSON
    for form in (e, _hex_entry(e)):
        raw = bloom_bitmap(form)
        assert raw == ref_bytes
        probe = np.concatenate([positions[:200],
                                rng.integers(0, m, 200)]).tolist()
        assert [bloom_may_contain(raw, p) for p in probe] == \
            [bool(ref[p]) for p in probe]
    # hex -> compressed re-encoding is lossless
    again = S._compress_blooms({"f": {"c": _hex_entry(e)}})["f"]["c"]
    assert again == e


def test_bloom_entry_costs_its_content():
    """500 keys in m = 2^15 (the default width) store in at most a sixth
    of the 8,192-character hex bitmap."""
    m = 1 << 15
    e = bloom_entry(random.Random(0).sample(range(m), 500), m)
    hex_len = len(_hex_entry(e)["hex"])
    assert hex_len == 8192
    assert len(json.dumps(e)) <= hex_len / 6


@pytest.mark.parametrize("entry", [
    None, "z", 7, [], {}, {"m": 64}, {"m": 64, "z": "!!not base64!!"},
    {"m": 64, "z": "AAAA"}, {"m": 64, "z": 5}, {"m": 64, "hex": "zz"},
    {"m": 64, "hex": None}])
def test_unknown_bloom_entries_decode_to_none(entry):
    assert bloom_bitmap(entry) is None
    assert S._compress_blooms({"f": {"c": entry}}) == {"f": {"c": entry}}


@pytest.mark.parametrize("thresholds, json_segments", [
    ({}, False), ({"inline_stats_files": 1}, False),
    ({"inline_files": 1}, True), ({"inline_files": 1}, False)],
    ids=["inline", "stats-segments", "file-segments", "parquet"])
def test_unknown_bloom_entries_commit(tmp_path, thresholds, json_segments):
    """Entries of unknown shape are carried or dropped, never raised on,
    and never reach a parquet bloom column - also when a legacy JSON
    file segment holding them folds into parquet."""
    store = ManifestStore.init(str(tmp_path / "t"), **thresholds)
    good = bloom_entry([3, 9], 64)
    odd = {"m": "x", "z": "??"}
    with (legacy_json_segments() if json_segments
          else contextlib.nullcontext()):
        store.commit(store.manifest(), "append", rows=2, add=["/a", "/b"],
                     blooms={"/a": {"c": good, "d": odd},
                             "/b": {"c": odd}})
    m = store.manifest()
    store.commit(m, "compact", rows=2, remove=[], shape="fold")
    _, blooms = resolve_stats(store.manifest())
    assert blooms["/a"]["c"] == good
    for e in (blooms["/a"].get("d"), blooms.get("/b", {}).get("c")):
        assert e is None or bloom_bitmap(e) is None


# ---------------------------------------------------------------------------
# crash injection
# ---------------------------------------------------------------------------

def _files(prefix: str, k: int) -> list[str]:
    return [f"/data/{prefix}{i:03d}.parquet" for i in range(k)]


def _stats(files) -> dict:
    return {f: {"x": [i, i + 1]} for i, f in enumerate(files)}


def _append(store, add, **kw):
    m = store.manifest()
    return store.commit(m, "append", rows=m["rows"] + len(add), add=add,
                        stats=_stats(add), **kw)


def _seeded(path: str, thresholds: dict, n_appends: int) -> ManifestStore:
    store = ManifestStore.init(path, **thresholds)
    for i in range(n_appends):
        _append(store, _files(f"s{i}_", 2))
    return store


def _do_append(store):
    return _append(store, _files("new", 3))


def _do_cow(store):
    m = store.manifest()
    return store.commit(m, "delete", rows=m["rows"] - 1,
                        add=_files("rw", 1), stats=_stats(_files("rw", 1)),
                        remove=m["files"][:2])


def _do_replace(store):
    return store.commit(store.manifest(), "overwrite", rows=2,
                        add=_files("ow", 2), stats=_stats(_files("ow", 2)),
                        shape="replace")


def _do_fold(store):
    m = store.manifest()
    return store.commit(m, "compact", rows=m["rows"], add=_files("cp", 1),
                        stats=_stats(_files("cp", 1)),
                        remove=m["files"][-2:], shape="fold")


def _do_rollback(store):
    return store.commit(store.manifest(2), "rollback->v2", rows=2,
                        onto=store.current_version())


CRASH_CASES = {
    # (thresholds, seeding appends, commit)
    "append-inline": ({}, 2, _do_append),
    "append-crossing": ({"inline_files": 4}, 1, _do_append),
    "append-segmented-json": ({"inline_files": 2}, 3, _do_append),
    "append-stats-segments": ({"inline_stats_files": 1}, 2, _do_append),
    "append-housekeeping-fold": ({"inline_files": 1, "max_segments": 2},
                                 3, _do_append),
    "cow-removal-list": ({"inline_files": 2}, 3, _do_cow),
    "cow-removal-fold": ({"inline_files": 2, "removed_files_max": 1},
                         3, _do_cow),
    "cow-inline": ({}, 3, _do_cow),
    "replace": ({"inline_files": 2}, 3, _do_replace),
    "fold-parquet": ({"inline_files": 2}, 3, _do_fold),
    "rollback": ({"inline_files": 2}, 3, _do_rollback),
}


class _Crash(Exception):
    pass


class _Injector:
    """Counts the durable steps a commit reaches - ``os.fsync``,
    ``os.rename`` and segment writes - and raises at the ``fail_at``-th
    one (never, when None).  ``published`` records that HEAD was renamed
    into place before the failure."""

    def __init__(self, monkeypatch, fail_at: int | None):
        self.n, self.fail_at, self.published = 0, fail_at, False
        real_fsync, real_rename = os.fsync, os.rename
        real_seg = ManifestStore.write_segment

        def step():
            self.n += 1
            if self.n == self.fail_at:
                raise _Crash(self.n)

        def fsync(fd):
            step()
            return real_fsync(fd)

        def rename(src, dst):
            step()
            real_rename(src, dst)
            if os.path.basename(dst) == "HEAD":
                self.published = True

        def write_segment(store, version, payload):
            step()
            return real_seg(store, version, payload)

        monkeypatch.setattr(os, "fsync", fsync)
        monkeypatch.setattr(os, "rename", rename)
        monkeypatch.setattr(ManifestStore, "write_segment", write_segment)


def _state(store: ManifestStore) -> tuple:
    m = store.manifest()
    stats, _ = resolve_stats(m)
    return (m["version"], m["files"], {f: stats.get(f) for f in m["files"]},
            m.get("dvs"), store.commit_delta(m["version"]))


@pytest.mark.parametrize("case", sorted(CRASH_CASES))
def test_crash_at_every_commit_step(tmp_path, monkeypatch, case):
    """Raise at the N-th fsync, rename or segment write of one commit,
    for every N the commit reaches.  Before the HEAD rename (the commit
    point) the store reads exactly the pre-commit state; a failure at
    the directory fsync after it leaves the complete post-commit state.
    Either way COMMIT_LOCK is gone and the next commit succeeds."""
    thresholds, seeds, do = CRASH_CASES[case]

    ref = _seeded(str(tmp_path / "ref"), thresholds, seeds)
    pre = _state(ref)
    with monkeypatch.context() as mp:
        count = _Injector(mp, None)
        do(ref)
    post = _state(ref)
    assert count.n >= 4, count.n  # >= manifest + HEAD, file + dir fsyncs

    for n in range(1, count.n + 1):
        store = _seeded(str(tmp_path / f"c{n}"), thresholds, seeds)
        with monkeypatch.context() as mp:
            inj = _Injector(mp, n)
            with pytest.raises(_Crash):
                do(store)
        assert _state(store) == (post if inj.published else pre), (case, n)
        assert not os.path.exists(os.path.join(store.root, "COMMIT_LOCK"))
        if inj.published:
            _append(store, _files("next", 1))
        else:
            do(store)
            assert _state(store) == post, (case, n)


def test_commit_fsyncs_directory_after_each_rename(tmp_path, monkeypatch):
    """Durability: every rename that publishes a segment, a manifest or
    HEAD is followed by an fsync of the directory holding it - without
    it a power loss can undo the rename after the commit returned."""
    store = ManifestStore.init(str(tmp_path / "d"), inline_files=1)
    _append(store, _files("a", 1))
    events: list[tuple[str, str]] = []
    fd_paths: dict[int, str] = {}
    real_open, real_close = os.open, os.close
    real_fsync, real_rename = os.fsync, os.rename

    def op(path, flags, *a, **kw):
        fd = real_open(path, flags, *a, **kw)
        fd_paths[fd] = os.fspath(path)
        return fd

    def close(fd):
        fd_paths.pop(fd, None)
        return real_close(fd)

    def fsync(fd):
        p = fd_paths.get(fd)
        if p is not None and os.path.isdir(p):
            events.append(("fsync_dir", os.path.normpath(p)))
        return real_fsync(fd)

    def rename(src, dst):
        real_rename(src, dst)
        events.append(("rename", os.fspath(dst)))

    monkeypatch.setattr(os, "open", op)
    monkeypatch.setattr(os, "close", close)
    monkeypatch.setattr(os, "fsync", fsync)
    monkeypatch.setattr(os, "rename", rename)
    v = _append(store, _files("b", 2))   # crosses: writes a parquet segment
    monkeypatch.undo()

    renames = [i for i, e in enumerate(events) if e[0] == "rename"]
    published = [events[i][1] for i in renames]
    assert published[-2:] == [store.manifest_path(v), store.head_path()]
    assert any(p.endswith(".parquet") for p in published)
    for i in renames:
        assert events[i + 1] == (
            "fsync_dir", os.path.dirname(events[i][1])), events
    n_dir = sum(e[0] == "fsync_dir" for e in events)
    assert n_dir == len(renames) == 3


def test_manifest_store_imports_without_pyspark(tmp_path):
    """The store is Spark-free by construction, not by assumption:
    import it (and commit through it) with pyspark made unimportable."""
    code = (
        "import sys, os\n"
        "sys.modules['pyspark'] = None\n"
        "from aliyun_maxcompute_data_collectors_spark.manifest_store "
        "import ManifestStore\n"
        "s = ManifestStore.init(sys.argv[1], inline_files=1)\n"
        "for i in range(3):\n"
        "    m = s.manifest()\n"
        "    s.commit(m, 'append', rows=i + 1, add=[f'/d/f{i}'])\n"
        "assert s.manifest()['files'] == ['/d/f0', '/d/f1', '/d/f2']\n"
        "assert not [k for k in sys.modules if k.startswith('pyspark.')]\n"
        "print('spark-free')\n")
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run([sys.executable, "-c", code, str(tmp_path / "t")],
                         cwd=root, capture_output=True, text=True,
                         timeout=120)
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == "spark-free"



def test_parquet_segment_reads_bloom_bytes_only_when_used(tmp_path):
    """Listing a table's files reads only the segments' ``file`` column;
    stats and bloom columns load on first use, and the segment cache
    is charged exactly the bytes each segment holds."""
    store = ManifestStore.init(str(tmp_path / "t"), inline_files=2,
                               inline_stats_files=1)
    add = _files("p", 40)
    blooms = {f: {"c": bloom_entry([i, i + 7], 1 << 12)}
              for i, f in enumerate(add)}
    _append(store, add, blooms=blooms)

    def cached():
        with S._SEG_CACHE_LOCK:
            return {p: e for p, e in S._SEG_CACHE.items()}

    S._seg_cache_clear()
    m = store.manifest()
    assert m["files"] == add
    segs = cached()
    assert segs and all(p.endswith(".parquet") for p in segs)
    assert all(set(seg._cols) == {"file"} for seg, _ in segs.values())
    assert S.live_bloom_columns(m) == (["c"], 1 << 12)
    # the bloom policy reads the widths, never the bitmaps
    assert not any(n.startswith("b_z:") for seg, _ in cached().values()
                   for n in seg._cols)
    stats, got = resolve_stats(m)
    assert stats == _stats(add)
    assert {f: got[f]["c"] for f in add} == {f: b["c"]
                                             for f, b in blooms.items()}
    loaded = cached()
    assert any(n.startswith("b_z:") for seg, _ in loaded.values()
               for n in seg._cols)
    for seg, size in loaded.values():
        assert size == seg.nbytes == sum(c.nbytes
                                         for c in seg._cols.values())
    assert S._SEG_CACHE_BYTES == sum(size for _, size in loaded.values())
    S._seg_cache_clear()


# ---------------------------------------------------------------------------
# on-disk encoding: gzip'd compact JSON manifests and parquet segments;
# plain JSON and JSON segments still read
# ---------------------------------------------------------------------------

def _plain_json(obj) -> bytes:
    """What writers before gzip stored: plain JSON text."""
    return json.dumps(obj, indent=1, allow_nan=False).encode()


def _decoded(path: str) -> bytes:
    with open(path, "rb") as f:
        raw = f.read()
    assert raw[:2] == b"\x1f\x8b", path
    return gzip.decompress(raw)


def test_manifest_and_json_segment_are_gzipped_compact_json(tmp_path):
    """Manifests round-trip as gzip'd compact JSON and segments are
    parquet.  A legacy JSON segment - plain when it carries bloom
    entries, gzip'd otherwise - reads the same, and the next commit
    beside it writes parquet."""
    store = ManifestStore.init(str(tmp_path / "t"), inline_stats_files=1)
    add = _files("g", 3)
    blooms = {f: {"c": bloom_entry([i, 9], 64)} for i, f in enumerate(add)}
    v = _append(store, add, blooms=blooms,
                dvs={add[0]: {"path": "/dv/0", "n": 2}})
    mj = store.manifest_json(v)
    assert _decoded(store.manifest_path(v)) == json.dumps(
        mj, separators=(",", ":")).encode()
    assert mj["dvs"] == {add[0]: {"path": "/dv/0", "n": 2}}
    (seg,) = mj["segments"]
    assert seg.endswith(".parquet")
    assert S._Segment(seg).stats == _stats(add)
    assert S._Segment(seg).blooms == blooms

    legacy = ManifestStore.init(str(tmp_path / "l"), inline_stats_files=1)
    with legacy_json_segments():
        _append(legacy, add, blooms=blooms)
        more = _files("h", 2)
        v = _append(legacy, more)
    bloomed, plain = legacy.manifest_json(v)["segments"]
    with open(bloomed, "rb") as f:
        assert json.loads(f.read()) == {"stats": _stats(add),
                                        "blooms": blooms}
    assert json.loads(_decoded(plain)) == {"stats": _stats(more),
                                           "blooms": {}}
    v = _append(legacy, _files("p", 1))
    assert legacy.manifest_json(v)["segments"][-1].endswith(".parquet")
    _, got = resolve_stats(legacy.manifest())
    assert got == blooms
    assert legacy.versions()[-1]["operation"] == "append"


def test_repeated_commit_is_byte_identical(tmp_path, monkeypatch):
    """Equal metadata gives equal bytes: no gzip mtime, no whitespace
    that depends on anything but the content."""
    monkeypatch.setattr(S.time, "time", lambda: 1_700_000_000.0)
    path = str(tmp_path / "t")
    runs = []
    for _ in range(2):
        shutil.rmtree(path, ignore_errors=True)
        store = ManifestStore.init(path)
        add = _files("b", 4)
        _append(store, add, blooms={f: {"c": bloom_entry([1, 5], 64)}
                                    for f in add})
        runs.append([open(store.manifest_path(v), "rb").read()
                     for v in (1, 2)])
    assert runs[0] == runs[1]
    assert runs[0][1][4:8] == b"\0\0\0\0"  # gzip header mtime


def test_plain_json_table_reads_and_commits(tmp_path):
    """A table written before gzip (plain-JSON manifests and segments)
    reads, time-travels and gives its commit deltas unchanged, and a
    commit on top writes gzip'd files beside the plain ones."""
    path = str(tmp_path / "t")
    with mock.patch.object(S, "_encode_json", _plain_json), \
            legacy_json_segments(gzipped=False):
        store = _seeded(path, {"inline_files": 3, "inline_stats_files": 1},
                        3)
    mdir = os.path.join(store.root, "manifests")
    legacy = sorted(os.listdir(mdir))
    assert any(n.startswith("seg-") for n in legacy)
    for n in legacy:
        with open(os.path.join(mdir, n), "rb") as f:
            assert f.read(1) == b"{", n
    S._seg_cache_clear()
    store = ManifestStore(path)
    want = [_files(f"s{i}_", 2) for i in range(3)]
    for v in (2, 3, 4):
        m = store.manifest(v)
        assert m["files"] == [f for fs in want[:v - 1] for f in fs], v
        assert store.commit_delta(v) == (want[v - 2], []), v
        stats, _ = resolve_stats(m)
        assert {f: stats[f] for f in m["files"]} == {
            f: s for fs in want[:v - 1] for f, s in _stats(fs).items()}
    assert [r["version"] for r in store.versions()] == [1, 2, 3, 4]
    v5 = _do_cow(store)
    assert store.manifest(v5)["files"] == want[1] + want[2] + _files("rw", 1)
    assert store.commit_delta(v5) == (_files("rw", 1), want[0])
    _decoded(store.manifest_path(v5))
    assert store.manifest(4)["files"] == [f for fs in want for f in fs]


def test_mixed_generation_table_reads_prunes_and_folds(tmp_path):
    """A table whose older commits wrote JSON segments (plain with hex
    blooms, gzip'd with base64 ones) and whose newer commits wrote
    parquet: every version reads and time-travels, the table prunes as
    one by stats and by bloom, a copy-on-write commit removes files of
    both generations, and a fold leaves one parquet segment."""
    schema = json.dumps({"type": "struct", "fields": [
        {"name": "c", "type": "long", "nullable": True, "metadata": {}}]})
    store = ManifestStore.init(str(tmp_path / "t"), inline_files=2,
                               inline_stats_files=1)
    gens = [_files(f"g{g}_", 2) for g in range(4)]
    key = {f: 100 + i for i, f in enumerate(sum(gens, []))}
    # (writer patches, hex blooms) per generation: gzip'd JSON, plain
    # JSON keeping hex entries verbatim, then the current writer twice
    writers = [([legacy_json_segments(True)], False),
               (_legacy_writer()[:1] + [legacy_json_segments(False)], True),
               ([], False), ([], False)]
    for add, (patches, hexed) in zip(gens, writers):
        with contextlib.ExitStack() as stack:
            for p in patches:
                stack.enter_context(p)
            blooms = {}
            for f in add:
                e = bloom_entry([S._bloom_position(key[f], 1024)], 1024)
                blooms[f] = {"c": _hex_entry(e) if hexed else e}
            m = store.manifest()
            store.commit(m, "append", rows=m["rows"] + 2, add=add,
                         schema=schema, blooms=blooms,
                         stats={f: {"x": [key[f], key[f]]} for f in add})
    m = store.manifest()
    segs = m.get("segments", []) + m["file_segments"]
    assert {os.path.splitext(p)[1] for p in segs} == {".json", ".parquet"}

    def pruned(mf):
        for f in mf["files"]:
            assert prune_manifest_files(mf, [("x", "==", key[f])]) == [f]
            assert f in prune_manifest_files(mf, [("c", "==", key[f])])
        assert prune_manifest_files(mf, [("x", ">", 10 ** 6)]) == []

    for v in range(2, 6):
        want = sum(gens[:v - 1], [])
        mv = store.manifest(v)
        assert mv["files"] == want, v
        stats, _ = resolve_stats(mv)
        assert {f: stats[f] for f in want} == {
            f: {"x": [key[f], key[f]]} for f in want}, v
        pruned(mv)
    _, blooms = resolve_stats(m)
    assert {"hex", "z"} <= {k for f in m["files"] for k in blooms[f]["c"]}
    gone = [gens[0][0], gens[3][1]]
    store.commit(m, "delete", rows=m["rows"] - 2, remove=gone)
    m = store.manifest()
    assert m["files"] == [f for f in sum(gens, []) if f not in gone]
    pruned(m)
    store.commit(m, "compact", rows=m["rows"], remove=[], shape="fold")
    m = store.manifest()
    (seg,) = m["file_segments"]
    assert seg.endswith(".parquet") and not m.get("segments")
    assert m["files"] == [f for f in sum(gens, []) if f not in gone]
    pruned(m)
    _, blooms = resolve_stats(m)
    assert all("z" in blooms[f]["c"] for f in m["files"])
    assert store.manifest(5)["files"] == sum(gens, [])


def test_segment_cache_charges_decoded_json_bytes(tmp_path):
    """A gzip'd JSON segment costs the cache its decoded bytes, the
    in-memory proxy, not its 2-5x smaller file size."""
    store = ManifestStore.init(str(tmp_path / "t"), inline_stats_files=1)
    with legacy_json_segments():
        _append(store, _files("c", 50))
    (seg,) = store.manifest()["segments"]
    S._seg_cache_clear()
    S._load_segment(seg)
    with S._SEG_CACHE_LOCK:
        (_, size), = S._SEG_CACHE.values()
    assert size == len(_decoded(seg)) > 2 * os.path.getsize(seg)
    assert S._SEG_CACHE_BYTES == size
    S._seg_cache_clear()
