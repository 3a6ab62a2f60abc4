"""Measure snapshot-table manifest costs vs file count (VERDICT r7 #3).

The single-JSON manifest carries the full file list + per-file stats
(+ optional blooms) and is rewritten on EVERY commit; this script
isolates the metadata costs from data IO by committing synthetic file
lists through the real ``ManifestStore.commit`` / ``manifest()`` /
``prune_manifest_files`` code paths (no Spark):

- commit latency: append 100 new files to a table already holding N
  (parent manifest load + stats carry + json dump + fsync)
- cold manifest load alone (segment cache cleared)
- planning latency: manifest load + stats-based pruning of one conjunct
- bloom policy resolution: the cold ``SnapshotTable.bloom_columns()``
  every default-policy write resolves (manifest load + which columns
  the live files bloom, at what width) - it must not cost more than
  the cold plan
- manifest and segment sizes, on disk and decoded (a gzip'd JSON
  manifest inflated; a parquet segment's arrow table with every column
  loaded), so the decode cost above shows next to the bytes it saves

Run:  python scripts/manifest_scale.py [--blooms] [--sizes N,N,...]
Output: one JSON line per (N, variant) -> SCALE.md curve.  N is the
table's size before the timed 100-file append.  The default sizes span
every layout: 300 and 3,996 files keep the file list inline with their
stats in segments (``--sizes 3996`` times a table of 4,096 inline
files), 1e4 and up segment the file list too.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import sys
import tempfile
import time

# plan_s times segment decode and pruning; import pyarrow's compute
# kernels, its parquet reader (whose table reads load pyarrow.dataset)
# and pandas (which arrow conversions load) up front so the one-time
# module import is not billed to the first size's cold plan
import pandas  # noqa: E402,F401
import pyarrow.compute  # noqa: E402,F401
import pyarrow.dataset  # noqa: E402,F401
import pyarrow.parquet  # noqa: E402,F401

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from aliyun_maxcompute_data_collectors_spark.manifest_store import (  # noqa: E402
    ManifestStore,
    _read_json,
    _seg_cache_clear,
    bloom_entry,
)
from aliyun_maxcompute_data_collectors_spark.snapshots import (  # noqa: E402
    SnapshotTable,
    prune_manifest_files,
)


def synth_stats(path: str, i: int) -> dict:
    # realistic shape: three statted int columns with disjoint ranges
    return {"id": [i * 1000, (i + 1) * 1000 - 1],
            "ts": [1_700_000_000 + i, 1_700_000_000 + i + 86400],
            "bucket": [i % 32, i % 32]}


def synth_bloom(i: int, m: int = 1 << 15, keys: int = 500) -> dict:
    # realistic shape: ~500 distinct keys per file at the default width
    # (the lakehouse_dml set-up append), built by the package encoder
    pos = random.Random(i).sample(range(m), keys)
    return {"code": bloom_entry(pos, m)}


def on_disk_and_decoded(path: str) -> tuple[int, int]:
    """(bytes on disk, bytes decoded) of one manifest or segment file."""
    if path.endswith(".parquet"):
        import pyarrow.parquet as pq
        return os.path.getsize(path), pq.read_table(path).nbytes
    return os.path.getsize(path), _read_json(path)[1]


def build_table(root: str, n_files: int, blooms: bool) -> ManifestStore:
    tab = ManifestStore.init(root)
    files = [os.path.join(root, "_snapshots", "files", f"seed/{i:07d}.parquet")
             for i in range(n_files)]
    stats = {f: synth_stats(f, i) for i, f in enumerate(files)}
    bl = ({f: synth_bloom(i) for i, f in enumerate(files)} if blooms
          else None)
    tab.commit(tab.manifest(), "append", rows=n_files * 1000, add=files,
               stats=stats, blooms=bl)
    return tab


def bench_one(n_files: int, blooms: bool) -> dict:
    root = tempfile.mkdtemp(prefix=f"mscale_{n_files}_")
    try:
        tab = build_table(root, n_files, blooms)
        pm = tab.manifest()
        new = [os.path.join(root, "_snapshots", "files",
                            f"new/{i:05d}.parquet") for i in range(100)]
        new_stats = {f: synth_stats(f, n_files + i)
                     for i, f in enumerate(new)}
        new_bl = ({f: synth_bloom(n_files + i) for i, f in enumerate(new)}
                  if blooms else None)
        t0 = time.perf_counter()
        tab.commit(pm, "append", rows=pm["rows"] + 100 * 1000, add=new,
                   stats=new_stats, blooms=new_bl)
        commit_s = time.perf_counter() - t0
        # the cold file list alone: what every DML, read and bloom-policy
        # resolution pays first (a parquet segment reads only its
        # ``file`` column here, never the bloom bytes)
        _seg_cache_clear()
        t0 = time.perf_counter()
        tab.manifest()
        manifest_cold_s = time.perf_counter() - t0
        # planning: cold manifest load + one-conjunct prune.  Clear the
        # segment cache so "cold" really pays the segment decode (r10;
        # the r9 number was semi-warm - the preceding commit had loaded
        # the segments already)
        _seg_cache_clear()
        t0 = time.perf_counter()
        m = tab.manifest()
        kept = prune_manifest_files(m, [("id", "between",
                                         (5_000, 9_000))])
        plan_s = time.perf_counter() - t0
        # warm: segments are immutable and lru-cached for the process
        t0 = time.perf_counter()
        prune_manifest_files(tab.manifest(), [("id", "between",
                                               (5_000, 9_000))])
        plan_warm_s = time.perf_counter() - t0
        _seg_cache_clear()
        t0 = time.perf_counter()
        policy = SnapshotTable(None, root).bloom_columns()
        policy_cold_s = time.perf_counter() - t0
        assert policy == ((["code"], 1 << 15) if blooms else ([], 0))
        # COW DML commit (r9 removal lists): drop 10 files from the
        # table, as SnapshotTable's copy-on-write DML does.  On a
        # segmented parent the carried segments ride unchanged and the
        # 10 paths land on the manifest's removal list (O(touched));
        # inline parents rewrite the list directly (O(table) JSON).
        m2 = tab.manifest()
        t0 = time.perf_counter()
        tab.commit(m2, "delete", rows=m2["rows"] - 10 * 1000,
                   remove=m2["files"][:10])
        dml_commit_s = time.perf_counter() - t0
        assert len(tab.manifest()["files"]) == len(m2["files"]) - 10
        # manifest/segment footprint of the steady-state table, captured
        # BEFORE the CDF-appends below inflate the inline variants
        size, size_dec = on_disk_and_decoded(
            tab.manifest_path(tab.current_version()))
        seg_sizes = [on_disk_and_decoded(os.path.join(tab.root, "manifests",
                                                      f))
                     for f in os.listdir(os.path.join(tab.root, "manifests"))
                     if f.startswith("seg-")]
        # CDF RANGE PLANNING over 50 commits (r11, VERDICT r10 #3): 49
        # more appends (100 files each, recording per-commit deltas as
        # SnapshotTable.append does) + the DML commit above, then plan
        # the whole range TRUE-cold through the exact changes() planner.
        # Pre-r11 this materialized every version's full list -
        # O(versions x files), ~100x the cold materialize at 1e6; now
        # it reads 50 raw manifest JSONs + their O(delta) lists.
        cdf_since = tab.current_version()
        for c in range(49):
            pmc = tab.manifest()
            newc = [os.path.join(root, "_snapshots", "files",
                                 f"cdf{c:02d}/{i:05d}.parquet")
                    for i in range(100)]
            tab.commit(pmc, "append", rows=pmc["rows"] + 100 * 1000,
                       add=newc,
                       stats={f: synth_stats(f, i)
                              for i, f in enumerate(newc)})
        _seg_cache_clear()
        planner = SnapshotTable(None, root)
        t0 = time.perf_counter()
        plan = planner._plan_change_range(cdf_since, tab.current_version())
        cdf_plan_s = time.perf_counter() - t0
        assert plan is not None
        assert sum(len(s[2]) for s in plan) == 49 * 100
        return {"n_files": n_files, "blooms": blooms,
                "commit_s": round(commit_s, 4),
                "dml_commit_s": round(dml_commit_s, 4),
                "manifest_cold_s": round(manifest_cold_s, 4),
                "plan_s": round(plan_s, 4),
                "plan_warm_s": round(plan_warm_s, 4),
                "bloom_policy_cold_s": round(policy_cold_s, 4),
                "cdf_plan_50v_s": round(cdf_plan_s, 4),
                "manifest_bytes": size, "manifest_decoded_bytes": size_dec,
                "segment_bytes": sum(disk for disk, _ in seg_sizes),
                "segment_decoded_bytes": sum(dec for _, dec in seg_sizes),
                "kept": len(kept)}
    finally:
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    blooms = "--blooms" in sys.argv
    # 1e6 files ~ 128 TB at 128 MB/file: the file-list segmentation
    # target point (VERDICT r8 #1 done-criteria)
    sizes = ([300, 1_000, 3_996, 10_000, 100_000, 1_000_000] if not blooms
             else [300, 1_000, 3_996, 10_000, 100_000])
    if "--sizes" in sys.argv:
        sizes = [int(n) for n in
                 sys.argv[sys.argv.index("--sizes") + 1].split(",")]
    for n in sizes:
        print(json.dumps(bench_one(n, blooms)), flush=True)
