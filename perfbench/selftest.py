"""Counter determinism self-test.

    python3 perfbench/selftest.py --workload lakehouse_dml --seed 1 --seconds 10

Runs the traced benchmark twice with the same seed and compares, span by
span, the counters a performance claim may rest on: jobs, stages, tasks,
fsyncs, py4j calls and files written.  Runs are time-bounded, so only the
ops both runs reached are compared; set-up spans and the spans after the
loop are compared in order.  A count listed in ``NON_REPEATING`` is
reported but does not fail the test; README.md lists the same counts.
Exits non-zero when any other count differs.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
COUNTERS = ("jobs", "stages", "tasks", "fsyncs", "py4j_calls", "files_written")
# (span name, counter) pairs seen to differ between same-seed runs
NON_REPEATING: set[tuple[str, str]] = set()


def _keyed(spans: list[dict]) -> dict:
    """(phase, op, position within phase) -> span."""
    out, pos = {}, {}
    seen_op = False
    for s in spans:
        if s["op"] is not None:
            seen_op = True
            phase = ("op", s["op"])
        else:
            phase = ("post" if seen_op else "setup", None)
        k = pos.get(phase, 0)
        pos[phase] = k + 1
        out[phase + (k,)] = s
    return out


def _counts(s: dict) -> dict:
    inc = s.get("inc", {})
    return {"jobs": inc.get("jobs", 0), "stages": inc.get("stages", 0),
            "tasks": inc.get("tasks", 0), "fsyncs": inc.get("fsyncs", 0),
            "py4j_calls": inc.get("py4j_calls", 0), "files_written": s.get("files_written")}


def compare(a: list[dict], b: list[dict]) -> tuple[int, list[tuple]]:
    ka, kb = _keyed(a), _keyed(b)
    ops_a = {k[1] for k in ka if k[0] == "op"}
    ops_b = {k[1] for k in kb if k[0] == "op"}
    common_ops = ops_a & ops_b
    compared, diffs = 0, []
    for key in sorted(set(ka) & set(kb), key=str):
        if key[0] == "op" and key[1] not in common_ops:
            continue
        if key[0] == "post" and ops_a != ops_b:
            continue   # post-loop probes read state the loop left behind
        sa, sb = ka[key], kb[key]
        if sa["name"] != sb["name"]:
            diffs.append((key, sa["name"], "name", sa["name"], sb["name"]))
            continue
        ca, cb = _counts(sa), _counts(sb)
        for c in COUNTERS:
            compared += 1
            if ca[c] != cb[c]:
                diffs.append((key, sa["name"], c, ca[c], cb[c]))
    return compared, diffs


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    args = ap.parse_args(argv)
    out_dir = os.path.abspath(os.path.join(".perfbench", "selftest"))
    os.makedirs(out_dir, exist_ok=True)
    runs = []
    for r in range(2):
        path = os.path.join(out_dir, f"{args.workload}-s{args.seed}-{r}.json")
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
               "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "1",
               "--spans-out", path]
        subprocess.run(cmd, check=True, stdout=subprocess.DEVNULL, timeout=600)
        with open(path) as f:
            runs.append(json.load(f)["spans"])
    compared, diffs = compare(*runs)
    bad = [d for d in diffs if (d[1], d[2]) not in NON_REPEATING]
    print(f"selftest {args.workload} seed={args.seed}: {compared} counts compared, "
          f"{len(diffs)} differ, {len(bad)} not listed as non-repeating")
    for key, name, counter, va, vb in diffs:
        tag = "" if (name, counter) in NON_REPEATING else "  <- unlisted"
        print(f"  {key} {name} {counter}: {va} != {vb}{tag}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
