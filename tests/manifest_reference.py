"""Test-side references for the manifest store (no Spark).

- :func:`interval_may_match` is the scalar interval check the package's
  arrow prune kernel is held to: the kernel may keep a file this check
  drops only where it cannot compare exactly, and never drops a file
  this check keeps.
- :func:`legacy_json_segments` makes commits write their segments the
  way writers before parquet-only segments did below 65,536 files:
  compact JSON, gzip'd (level 1, mtime 0) unless the segment carries
  bloom entries.  Tables written so must keep reading, pruning and
  folding.
"""

from __future__ import annotations

import gzip
import json
import math
import os
import uuid
from unittest import mock

import aliyun_maxcompute_data_collectors_spark.manifest_store as S


def interval_may_match(lo, hi, op: str, value) -> bool:
    """Can any row with col in [lo, hi] satisfy ``col <op> value``?
    NULL rows never satisfy a comparison, so value-interval logic is
    null-safe.  Any NaN operand makes every comparison below return
    False, which would WRONGLY prune - never prune on NaN.  An
    incomparable literal never prunes either."""
    ops = [lo, hi] + (list(value) if op == "between" else [value])
    if any(isinstance(v, float) and math.isnan(v) for v in ops):
        return True
    try:
        if op in ("==", "="):
            return lo <= value <= hi
        if op == "<":
            return lo < value
        if op == "<=":
            return lo <= value
        if op == ">":
            return hi > value
        if op == ">=":
            return hi >= value
        if op == "between":
            a, b = value
            return not (hi < a or lo > b)
    except TypeError:
        return True
    raise ValueError(f"unsupported prune op {op!r}")


def write_json_segment(store: S.ManifestStore, version: int, payload: dict,
                       gzipped: bool | None = None) -> str:
    """One segment as the JSON writer stored it; ``gzipped`` None picks
    the writer's rule (plain when the payload carries blooms), False
    gives the plain JSON of writers before gzip."""
    path = os.path.join(store.root, "manifests",
                        f"seg-{version:08d}-{uuid.uuid4().hex}.json")
    text = json.dumps(payload, separators=(",", ":"),
                      allow_nan=False).encode()
    if gzipped is None:
        gzipped = not payload.get("blooms")
    S._fsync_write(path, gzip.compress(text, 1, mtime=0) if gzipped
                   else text)
    return path


def legacy_json_segments(gzipped: bool | None = None):
    """A patch under which every segment a commit writes is JSON."""
    return mock.patch.object(
        S.ManifestStore, "write_segment",
        lambda store, version, payload: write_json_segment(
            store, version, payload, gzipped))
