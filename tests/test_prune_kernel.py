"""The prune kernel without Spark: a one-sided-error property.

Hypothesis draws per-file [min, max] stats of every recorded type (ints
up to the int64 edges and around 2^53, floats with NaN and infinities,
bools, dates, naive and aware timestamps, a column mixing ints and
floats), missing entries, empty files and the contents of one bloomed
column, and conjuncts in the grammar the pruner accepts with literals
of every type, half of them at or beside a recorded value.  It checks
that :func:`prune_manifest_files`

- never drops a file the scalar reference :func:`interval_may_match`
  keeps, and matches it exactly wherever the kernel can compare
  exactly;
- keeps identical lists over every layout the store writes or reads:
  inline, stats-segmented, file-segmented, and legacy JSON segments.

Nothing here starts a JVM.  Hypothesis budgets follow the suite's
tiers: quarter by default, ``SPARK_GRAFT_TEST_TIER=full`` for all
examples."""

from __future__ import annotations

import contextlib
import datetime as dt
import json
import math
import os
import tempfile

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from manifest_reference import interval_may_match, legacy_json_segments

from aliyun_maxcompute_data_collectors_spark.manifest_store import (
    ManifestStore,
    _bloom_position,
    _stat_to_json,
    bloom_bitmap,
    bloom_entry,
    bloom_may_contain,
    prune_manifest_files,
)

_FULL_TIER = os.environ.get("SPARK_GRAFT_TEST_TIER", "").lower() == "full"

_P53, _I64 = 1 << 53, 1 << 63
_INT_EDGES = [_I64 - 1, -_I64, 0, 1, -1]
_FLOAT_EDGES = [float(_P53), float(_P53) + 2, float(_P53) - 1,
                -float(_P53), math.inf, -math.inf, 0.5, -0.0]
_UTC = dt.timezone.utc
_BLOOM_M = 64

# ints past 2^53 are where float64 stops being exact: their neighbours
# are drawn as often as the rest of the int64 range, NaN as often as
# any other float
ints = st.one_of(st.integers(-_I64, _I64 - 1), st.sampled_from(_INT_EDGES),
                 st.integers(-4, 4).map(lambda d: _P53 + d),
                 st.integers(-4, 4).map(lambda d: -_P53 + d))
floats = st.one_of(st.floats(), st.sampled_from(_FLOAT_EDGES),
                   st.just(math.nan))
dates = st.dates()
naive = st.datetimes()
aware = st.datetimes(
    min_value=dt.datetime(1900, 1, 1), max_value=dt.datetime(2200, 1, 1),
    timezones=st.sampled_from([_UTC, dt.timezone(dt.timedelta(hours=5)),
                               dt.timezone(dt.timedelta(hours=-3))]))

# column -> value strategy of its stats
COLUMNS = {"i": ints, "f": floats, "b": st.booleans(), "d": dates,
           "t": naive, "z": aware, "m": st.one_of(st.integers(-9, 9),
                                                   st.floats(-9, 9))}
SCHEMA = json.dumps({"type": "struct", "fields": [
    {"name": "k", "type": "long", "nullable": True, "metadata": {}}]})

literals = st.one_of(ints, floats, st.booleans(), dates, naive, aware,
                     st.text(max_size=3), st.none(),
                     st.integers(-3, 45))


def _ordered(pair):
    a, b = pair
    try:
        return [a, b] if not b < a else [b, a]
    except TypeError:
        return [a, b]


@st.composite
def tables(draw):
    """{file: {"stats": {col: [lo, hi]}, "k": [contents]}}."""
    out = {}
    for i in range(draw(st.integers(0, 8))):
        stats = {}
        for c, values in COLUMNS.items():
            if draw(st.booleans()):
                if c == "m":
                    values = draw(st.sampled_from(
                        [st.integers(-9, 9), st.floats(-9, 9)]))
                stats[c] = _ordered(draw(st.tuples(values, values)))
        keys = draw(st.lists(st.integers(0, 40), max_size=4))
        if keys:
            stats["k"] = [min(keys), max(keys)]
        out[f"/d/f{i}.parquet"] = {"stats": stats, "k": keys}
    return out


def _near(x) -> list:
    """Literals at and around a recorded stat value: where a bound that
    is off by one, or compared in the wrong type, prunes wrongly."""
    if isinstance(x, bool):
        return [x, not x, int(x)]
    if isinstance(x, int):
        return [x, x - 1, x + 1, float(x), x - 0.5, x + 0.5]
    if isinstance(x, float):
        out = [x, math.nan]
        if math.isfinite(x):
            out += [math.nextafter(x, -math.inf), math.nextafter(x, math.inf)]
            if x.is_integer() and abs(x) < 2.0 ** 63:
                out.append(int(x))
        return out
    if isinstance(x, dt.datetime):
        step = dt.timedelta(microseconds=1)
        return [x, x - step, x + step, x.replace(tzinfo=None)]
    step = dt.timedelta(days=1)
    return [x, x - step, x + step, dt.datetime(x.year, x.month, x.day)]


@st.composite
def literal(draw, values: list):
    """Half the time a literal at or beside one of ``values``."""
    if values and draw(st.booleans()):
        try:
            return draw(st.sampled_from(_near(draw(st.sampled_from(values)))))
        except OverflowError:  # a date or datetime at its type's limit
            pass
    return draw(literals)


@st.composite
def conjuncts(draw, table: dict):
    col = draw(st.sampled_from(sorted(COLUMNS) + ["k", "missing"]))
    op = draw(st.sampled_from(["==", "=", "<", "<=", ">", ">=",
                               "between"]))
    values = [x for t in table.values() for x in t["stats"].get(col, ())]
    if op == "between":
        return (col, op, (draw(literal(values)), draw(literal(values))))
    return (col, op, draw(literal(values)))


def _reference_keeps(stats: dict, conj: list) -> bool:
    for col, op, value in conj:
        iv = stats.get(col)
        if iv is not None and not interval_may_match(iv[0], iv[1], op,
                                                     value):
            return False
    return True


def _exact(values: list, v) -> bool:
    """Must the kernel match the reference exactly for literal ``v`` on a
    column whose recorded values are ``values``?  Not when the column
    has no one arrow type, nor for the pairs Python compares and the
    kernel declines: a bool against a number, an int past 2^53 against
    floats, a bound past the int64 range."""
    kinds = {type(x) for x in values}
    if not kinds or (isinstance(v, float) and math.isnan(v)):
        return True
    if len(kinds) > 1 or (kinds == {dt.datetime} and len(
            {x.tzinfo is None for x in values}) > 1):
        return False
    (k,) = kinds
    numeric = (bool, int, float)
    if k not in numeric or type(v) not in numeric:
        return True
    if k is bool or type(v) is bool:
        return k is type(v)
    if isinstance(v, int):
        return (-_I64 <= v < _I64) and (k is int or abs(v) <= _P53)
    return k is float or (math.isfinite(v) and abs(v) < 1 << 62)


def _comparable(values: list, v) -> bool:
    try:
        for x in values:
            x < v
        return True
    except TypeError:
        return False


# the layouts the store writes and reads: thresholds, and per commit
# whether it writes legacy JSON segments.  The one-commit layouts hold
# every file's stats in one source; the two-commit ones split them over
# two segments, of one generation or of two.
LAYOUTS = {
    "inline": ({}, (False,)),
    "stats-segmented": ({"inline_stats_files": 0}, (False,)),
    "file-segmented": ({"inline_files": 0}, (False,)),
    "json-stats-segmented": ({"inline_stats_files": 0}, (True,)),
    "json-file-segmented": ({"inline_files": 0}, (True,)),
    "two-segments": ({"inline_files": 0}, (False, False)),
    "mixed-generations": ({"inline_files": 0}, (True, False)),
}


def _committed(root: str, table: dict) -> tuple[dict, dict]:
    """({layout: the table committed under it, as
    :meth:`ManifestStore.manifest` returns it}, the files' blooms)."""
    files = list(table)
    stats = {f: {c: [_stat_to_json(x) for x in iv]
                 for c, iv in t["stats"].items()} for f, t in table.items()}
    blooms = {f: {"k": bloom_entry([_bloom_position(x, _BLOOM_M)
                                    for x in t["k"]], _BLOOM_M)}
              for f, t in table.items()}
    out = {}
    for name, (thresholds, legacy) in LAYOUTS.items():
        store = ManifestStore.init(os.path.join(root, name), **thresholds)
        cut = len(files) // 2 if len(legacy) == 2 else 0
        for add, old in zip((files[:cut], files[cut:])[-len(legacy):],
                            legacy):
            with legacy_json_segments() if old else contextlib.nullcontext():
                m = store.manifest()
                store.commit(m, "append", rows=0, add=add, schema=SCHEMA,
                             stats={f: stats[f] for f in add},
                             blooms={f: blooms[f] for f in add})
        out[name] = store.manifest()
    return out, blooms


def _bloom_excludes(entry: dict, conj: list) -> bool:
    """The test-side bloom probe: an int equality on ``k`` whose bit is
    clear."""
    bits = bloom_bitmap(entry)
    return any(col == "k" and op in ("==", "=") and type(v) is int
               and not bloom_may_contain(bits, _bloom_position(v, _BLOOM_M))
               for col, op, v in conj)


def _drawn(data) -> tuple[dict, list]:
    table = data.draw(tables(), label="table")
    conj = data.draw(st.lists(conjuncts(table), min_size=1, max_size=3),
                     label="conj")
    return table, conj


_SETTINGS = dict(deadline=None, suppress_health_check=[
    HealthCheck.too_slow, HealthCheck.data_too_large])


@settings(max_examples=2000 if _FULL_TIER else 500, **_SETTINGS)
@given(data=st.data())
def test_prune_kernel_is_one_sided_and_exact(data):
    """On an in-memory manifest holding the drawn values themselves."""
    table, conj = _drawn(data)
    files = list(table)
    raw = {"files": files, "stats": {f: t["stats"]
                                     for f, t in table.items()}}
    kept = prune_manifest_files(raw, conj)
    ref = [f for f in files if _reference_keeps(table[f]["stats"], conj)]
    assert set(ref) <= set(kept), (conj, ref, kept)
    assert kept == [f for f in files if f in set(kept)]
    # each conjunct alone: exact wherever the kernel can compare
    # exactly, and the conjunction keeps what every conjunct keeps
    alone = []
    for c in conj:
        k1 = prune_manifest_files(raw, [c])
        r1 = [f for f in files if _reference_keeps(table[f]["stats"], [c])]
        values = [x for t in table.values()
                  for x in t["stats"].get(c[0], ())]
        lits = c[2] if c[1] == "between" else (c[2],)
        # the reference's between stops at its first excluding bound;
        # the kernel compares both bounds or neither
        if all(_exact(values, v) for v in lits) and len(
                {_comparable(values, v) for v in lits}) == 1:
            assert k1 == r1, (c, k1, r1)
        alone.append(set(k1))
    assert set(kept) == set.intersection(*alone)


@settings(max_examples=400 if _FULL_TIER else 100, **_SETTINGS)
@given(data=st.data())
def test_prune_kernel_is_layout_blind(data):
    """On the drawn table committed under every layout."""
    table, conj = _drawn(data)
    files = list(table)
    ref = [f for f in files if _reference_keeps(table[f]["stats"], conj)]
    with tempfile.TemporaryDirectory(prefix="prunekernel_") as root:
        layouts, blooms = _committed(root, table)
        got = {name: prune_manifest_files(m, conj)
               for name, m in layouts.items()}
    # a column is left out of a source where its values take more than
    # one type: split over two segments, each half may still prune
    mixed = any(len({type(x) for t in table.values()
                     for x in t["stats"].get(c[0], ())}) > 1 for c in conj)
    for name, (_, legacy) in LAYOUTS.items():
        if len(legacy) == 1 or not mixed:
            assert got[name] == got["inline"], (name, got)
    # committed stats went through JSON and parquet: still one-sided
    # against the drawn values, and a file holding a matching row of
    # the bloomed column is never dropped
    safe = [f for f in ref if not _bloom_excludes(blooms[f]["k"], conj)]
    rows_match = [f for f in files if all(c[0] == "k" for c in conj) and any(
        all(interval_may_match(x, x, op, v) for _, op, v in conj)
        for x in table[f]["k"])]
    for name, g in got.items():
        assert set(safe) <= set(g), (name, conj, safe, g)
        assert set(rows_match) <= set(g), (name, conj, rows_match, g)
