#!/usr/bin/env python
"""Vanilla-session driver-loop simulation (gate step 3).

Round 5 (VERDICT r4 ask #8): the round-4 late additions entered the
first-50 rotation without ever passing a vanilla-session run.  This script
makes that structurally impossible: it reproduces the driver's verify loop
— a PLAIN SparkSession (none of pkg/session.py's engine configs), the
first 50 ``queries()`` entries compared against ``oracle_sql()`` via DuckDB
with the driver's pandas canonicalization (raw-frame ``sort_values``, so
list-valued cells throw exactly like the driver's red row), everything
past position 50 executed count-only.  ``gate.sh`` fails unless every
first-50 slot is green here, so a query physically cannot hold a rotation
slot without a vanilla-session pass.  Every query, in either part, also
fails if it leaves a changed SQL conf or a new CacheManager entry behind.

Usage: python scripts/driver_sim.py [sf_dir]   (default /root/testdata/sf0.01)
"""

from __future__ import annotations

import importlib.util
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tests"))

DRIVER_WINDOW = 50


def _load(path, name):
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    from pyspark.sql import SparkSession
    spark = (SparkSession.builder.master("local[8]")
             .appName("driver-sim").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    entry_mod = _load(os.path.join(REPO, "__spark_entry__.py"), "__spark_entry__")
    # Reuse the driver-faithful canonicalizer from the local harness so the
    # two stay in lockstep (it mirrors the driver's sort_values/hash shape).
    harness = _load(os.path.join(REPO, "tests", "test_correctness.py"),
                    "_gate_harness")

    assert len(entry_mod.entry(spark).collect()) > 0, "entry smoke failed"

    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    names = list(queries)
    front, rest = names[:DRIVER_WINDOW], names[DRIVER_WINDOW:]

    def _sql_conf_snapshot():
        # every explicitly-set SQL conf (the surface a leaking query would
        # mutate); SparkConf entries are immutable post-launch
        return {r["key"]: r["value"] for r in spark.sql("SET").collect()}

    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    conf_before_all = _sql_conf_snapshot()
    cached_before = cache_manager.cachedData().size()

    def _leaks(name):
        """Session state ``name`` left behind, reported once per leaker.

        VERDICT r6 ask #3: no query may mutate session SQL conf without
        restoring it - a leaked conf silently changes every later query in
        the shared driver session (e.g. a raised cteRecursionRowLimit
        disabling the runaway-row valve).  Likewise no query may leave an
        entry in the CacheManager: nothing clears it but an explicit
        unpersist, so each leaked entry pins its cached relation and
        executed plan in driver heap for the rest of the session.
        Diffing after EVERY query makes both classes structurally
        impossible."""
        nonlocal conf_before_all, cached_before
        out = []
        conf_now = _sql_conf_snapshot()
        if conf_now != conf_before_all:
            changed = {k: (conf_before_all.get(k), conf_now.get(k))
                       for k in set(conf_before_all) | set(conf_now)
                       if conf_before_all.get(k) != conf_now.get(k)}
            out.append((name, f"ConfLeak: {changed}"))
            print(f"  CONF LEAK     {name}: {changed}")
            conf_before_all = conf_now
        cached_now = cache_manager.cachedData().size()
        if cached_now > cached_before:
            out.append((name, f"CacheLeak: +{cached_now - cached_before} "
                              "CacheManager entries"))
            print(f"  CACHE LEAK    {name}: +{cached_now - cached_before} entries")
        cached_before = cached_now
        return out

    con = harness._duck(sf_dir)
    red = []
    for name in front:
        try:
            sdf = queries[name](spark, sf_dir)
            nonscalar = [f.name for f in sdf.schema.fields
                         if f.dataType.typeName() in ("array", "map", "struct")]
            if nonscalar:
                raise TypeError(f"non-scalar output columns {nonscalar}")
            spdf = sdf.toPandas()
            if name not in oracles:
                # rows-only contract: the scalar-schema guard above plus
                # successful execution through toPandas IS the entire check
                # the driver applies to oracle-less queries (ADVICE r5 #3:
                # the old `len < 0` assertion was vacuous dead code)
                print(f"  rows-only OK  {name} ({len(spdf)} rows)")
                continue
            cur = con.execute(oracles[name])
            duck_dates = harness._duck_date_cols(cur.description)
            dpdf = cur.df()
            if sorted(c.lower() for c in spdf.columns) != sorted(
                    str(c).lower() for c in dpdf.columns):
                raise AssertionError(
                    f"schema {list(spdf.columns)} vs {list(dpdf.columns)}")
            if len(spdf) != len(dpdf):
                raise AssertionError(f"rows {len(spdf)} vs {len(dpdf)}")
            s = harness._frame_keys(spdf, harness._spark_date_cols(sdf))
            d = harness._frame_keys(dpdf, duck_dates)
            if s != d:
                mism = [(a, b) for a, b in zip(s, d) if a != b][:2]
                raise AssertionError(f"hash mismatch, e.g. {mism}")
        except Exception as e:  # noqa: BLE001 - driver records any raise as red
            red.append((name, f"{type(e).__name__}: {e}"))
            print(f"  RED           {name}: {str(e)[:100]}")
        red += _leaks(name)
    print(f"first-{DRIVER_WINDOW} window: {len(front) - len(red)}/{len(front)} green")

    tail_bad = []
    for name in rest:
        try:
            queries[name](spark, sf_dir).count()
        except Exception as e:  # noqa: BLE001
            tail_bad.append((name, str(e)[:80]))
        tail_bad += _leaks(name)
    print(f"tail (count-only): {len(rest) - len(tail_bad)}/{len(rest)} OK")

    if red or tail_bad:
        print(f"DRIVER-SIM FAILED: first-50 red={red} tail={tail_bad}")
        return 1
    print(f"DRIVER-SIM OK: entry + {len(front)} hash-checked + {len(rest)} executed")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
