"""Benchmark entry point.

    python3 perfbench/run.py --workload bulk_ingest --seed 1 --seconds 10 --trace 0

Runs one workload as a closed loop with one client for ``--seconds``,
checks every output against an independent oracle, prints a report and, as
the last line of standard output, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``.  ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` reruns with spans and counters and
reports the per-layer metrics (see README.md).  Exits non-zero when any
check failed or the package cannot be imported.
"""

from __future__ import annotations

import argparse
import importlib
import json
import math
import os
import signal
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import harness  # noqa: E402
import layers  # noqa: E402
import spans as tracing  # noqa: E402

WORKLOADS = {
    "bulk_ingest": ("bulk_ingest", "BulkIngest"),
    "lakehouse_dml": ("lakehouse_dml", "LakehouseDml"),
    "query_mix": ("query_mix", "QueryMix"),
    "corpus_dedup": ("corpus_dedup", "CorpusDedup"),
}

# the metrics BENCHMARK.json gates, in the JSON line of an untraced run
END_TO_END = [("setup_s", "s"), ("peak_rss_mb", "MB"), ("jvm_heap_live_mb", "MB"),
              ("op_cpu_s_mean", "s"), ("bytes_per_live_byte", "ratio")]
# printed in the report only: on a shared host the spread of wall times over
# seeds comes too close to 0.25, the largest bound BENCHMARK.json may set;
# the JIT share is a part of op_cpu_s_mean (README.md, "End-to-end metrics")
REPORT_ONLY = [("setup_cpu_s", "s"), ("session_s", "s"), ("op_jit_cpu_s_mean", "s"),
               ("op_s_mean", "s"), ("rows_per_s", "rows/s"), ("jobs_per_op", "count")]


def _package_importable() -> bool:
    """The benchmark measures the package in this checkout, never an
    installed copy."""
    if not os.path.isdir(os.path.join(REPO, "aliyun_maxcompute_data_collectors_spark")):
        print(f"perfbench: no aliyun_maxcompute_data_collectors_spark package in {REPO}",
              file=sys.stderr)
        return False
    sys.path.insert(0, REPO)
    try:
        importlib.import_module("aliyun_maxcompute_data_collectors_spark.session")
    except ImportError as e:
        print(f"perfbench: cannot import the package from {REPO}: {e}", file=sys.stderr)
        return False
    return True


def run(workload: str, seed: int, seconds: float, trace: bool, spans_out: str | None) -> int:
    rd = harness.RunDir(workload, seed, trace)
    try:
        return _run(rd, workload, seed, seconds, trace, spans_out)
    finally:
        # a session that failed half-way may leave its JVM behind
        harness.end_processes(set(), timeout_s=5.0)
        rd.remove()


def _run(rd, workload, seed, seconds, trace, spans_out) -> int:
    mod, cls = WORKLOADS[workload]
    Workload = getattr(importlib.import_module(mod), cls)
    host = {"calib_before_s": harness.host_calib_s(), "load1_before": harness.host_load1()}
    t0 = time.perf_counter()
    spark = harness.start_spark(rd, event_log=trace)
    session_s = time.perf_counter() - t0
    try:
        run_id = f"{workload}-s{seed}-{os.getpid()}"
        tr = tracing.Tracer(spark, run_id, rd.work) if trace else tracing.NULL
        tr.add_span("session.get_spark", session_s)
        w = Workload(spark, rd, seed, tr)
        setup_times, setup_cpu = [], []
        me = os.getpid()
        for r in range(harness.SETUP_REPS):
            d = rd.sub(f"setup{r}")
            c, t = harness.tree_cpu_s(me), time.perf_counter()
            w.setup(d)
            setup_times.append(time.perf_counter() - t)
            setup_cpu.append(harness.tree_cpu_s(me) - c)
        trace_s0 = tr.overhead_s
        loop = harness.closed_loop(w, seconds, tr)
        trace_s = tr.overhead_s - trace_s0
        t_end = time.perf_counter()
        for what in w.verify_end():
            loop.attempted += 1
            loop.fail(what)
        bpr = w.live_bytes_per_row()
        extras = w.layer_probes() if trace else {}
        jvm_pid = int(spark.sparkContext._jvm.ProcessHandle.current().pid())
        rss = harness.peak_rss_mb(jvm_pid)
    finally:
        t_stop = time.perf_counter()
        harness.stop_spark(spark)
    phases = {"session": session_s, "set-up": sum(setup_times),
              "ops and checks": loop.wall_s,
              "end checks": t_stop - t_end, "stop": time.perf_counter() - t_stop}
    host.update(calib_after_s=harness.host_calib_s(), load1_after=harness.host_load1())
    if trace:
        tr.finish(rd.eventlog)
        loop.jobs = sum(s["inc"]["jobs"] for s in tr.spans if s["name"].startswith("op."))

    times = [t for _k, t, _r in loop.samples]
    e2e = {
        "setup_s": harness.median(setup_times),
        # wall time, not CPU: the JIT compiler works off its queue from the
        # cold repetition during the warm ones, which makes their CPU noisy
        "setup_cpu_s": harness.median(setup_cpu),
        "session_s": session_s,
        "peak_rss_mb": rss,
        "jvm_heap_live_mb": max(loop.heap),
        # means over whole decks: every run weighs the same mix of op kinds
        "op_s_mean": _mean(times),
        "op_cpu_s_mean": _mean(loop.cpu),
        "op_jit_cpu_s_mean": _mean(loop.jit),
        "rows_per_s": sum(r for _k, _t, r in loop.samples) / sum(times) if times else float("nan"),
        "jobs_per_op": loop.jobs / len(times) if times else float("nan"),
        "bytes_per_live_byte": harness.median([b / (n * bpr) for b, n in loop.space if n]),
    }
    _report(workload, seed, loop, e2e, session_s, setup_times, setup_cpu, host, w)
    print("  wall by phase: " + ", ".join(f"{k} {v:.1f} s" for k, v in phases.items()))
    if trace:
        print("  (traced run: the figures above include tracing overhead; "
              "the JSON line carries the per-layer metrics)")
        extras.update({
            "host.calib_s": max(host["calib_before_s"], host["calib_after_s"]),
            "host.load1": max(host["load1_before"], host["load1_after"]),
            "trace.overhead_frac": trace_s / max(sum(times), 1e-9),
        })
        per_layer = layers.compute(tr.spans, tr.totals, workload, loop.samples, extras)
        tr.write(spans_out or os.path.join(rd.base, "spans", f"{run_id}.json"))
        metrics = {n: {"value": per_layer[n], "unit": u} for n, u in layers.METRICS}
        for n, u in layers.METRICS:
            print(f"  layer {n} = {per_layer[n]:.6g} {u}")
    else:
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END}
    correct = loop.failed == 0 and all(
        not (isinstance(v["value"], float) and math.isnan(v["value"])) for v in metrics.values())
    print(json.dumps({"correct": correct, "attempted": loop.attempted,
                      "failed": loop.failed, "metrics": metrics}))
    return 0 if correct else 1


def _mean(xs) -> float:
    return sum(xs) / len(xs) if xs else float("nan")


def _report(workload, seed, loop, e2e, session_s, setup_times, setup_cpu, host, w) -> None:
    """Human-readable report: every end-to-end metric with unit and sample
    count, the per-kind breakdown, and the host canary."""
    n_ops = len(loop.samples)
    print(f"perfbench {workload} seed={seed}: {loop.attempted} ops attempted, "
          f"{loop.failed} failed (failed_frac={loop.failed / max(loop.attempted, 1):.4f})")
    counts = {"setup_s": harness.SETUP_REPS, "setup_cpu_s": harness.SETUP_REPS,
              "session_s": 1, "peak_rss_mb": 1, "jvm_heap_live_mb": len(loop.heap),
              "op_cpu_s_mean": n_ops, "op_jit_cpu_s_mean": n_ops, "op_s_mean": n_ops,
              "jobs_per_op": n_ops, "rows_per_s": n_ops, "bytes_per_live_byte": len(loop.space)}
    for name, unit in END_TO_END + REPORT_ONLY:
        print(f"  {name} = {e2e[name]:.6g} {unit} (n={counts[name]})")
    print(f"  op_s_p50 = {harness.median([t for _k, t, _r in loop.samples]):.6g} s (n={n_ops})")
    print(f"  setup: session {session_s:.3f} s, reps " + ", ".join(
        f"{t:.3f} s cpu {c:.2f}" for t, c in zip(setup_times, setup_cpu)))
    kinds: dict[str, list] = {}
    cpu: dict[str, list] = {}
    for (k, t, r), c, j in zip(loop.samples, loop.cpu, loop.jit):
        kinds.setdefault(k, []).append((t, r))
        cpu.setdefault(k, []).append(f"{c:.2f} (jit {j:.2f})")
    for name, (members, stat) in w.report_groups.items():
        xs = [t for k in members for t, _ in kinds.get(k, [])]
        if not xs:
            continue
        if stat == "rows_per_s":
            rows = sum(r for k in members for _, r in kinds.get(k, []))
            print(f"  {name} = {rows / sum(xs):.6g} rows/s (n={len(xs)})")
        elif stat == "p90":
            v = harness.p90(xs)
            shown = f"{v:.6g} s" if v is not None else "not reported (fewer than 100 samples)"
            print(f"  {name} = {shown} (n={len(xs)})")
        else:
            print(f"  {name} = {harness.median(xs):.6g} s (n={len(xs)})")
    for k, v in sorted(kinds.items()):
        ts = [t for t, _ in v]
        print(f"    {k}: n={len(ts)} p50 {harness.median(ts):.4f} s  [" +
              " ".join(f"{t:.3f}" for t in ts) + "]  cpu [" + " ".join(cpu[k]) + "]")
    print("  live heap after each deck: " + ", ".join(f"{h:.1f}" for h in loop.heap) + " MB")
    print(f"  host: calib {host['calib_before_s']:.3f} -> {host['calib_after_s']:.3f} s, "
          f"load1 {host['load1_before']:.2f} -> {host['load1_after']:.2f}")
    for f in loop.failures:
        print(f"  FAILED {f}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--spans-out", help="where a traced run writes its spans (JSON)")
    args = ap.parse_args(argv)
    # a terminated run still stops its JVM and workers on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    if not _package_importable():
        return 2
    try:
        return run(args.workload, args.seed, args.seconds, bool(args.trace), args.spans_out)
    except Exception:
        traceback.print_exc()
        return 1


if __name__ == "__main__":
    sys.exit(main())
