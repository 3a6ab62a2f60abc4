"""Spans around the benchmark's calls into the package, with counters.

Measures from outside only: the package is never edited or patched beyond
two process-level counters (py4j ``send_command`` and ``os.fsync``).

A span records name, start, end, parent span and run id.  Traced spans
also carry:

- ``jobs``: job ids of the span's own Spark job group, from
  ``statusTracker().getJobIdsForGroup`` (every span runs in its own group);
- ``py4j_calls``: commands sent to the JVM, excluding py4j's
  garbage-collection detach messages (their timing follows Python's GC);
- ``fsyncs``: ``os.fsync`` calls in this process;
- ``files_written`` / ``bytes_written``: new or changed files under the run
  directory (op spans only; Spark scratch and the event log excluded);
- after the run, from the uncompressed event log: stages, tasks, executor
  run time, GC, spill, input and shuffle bytes, and ``driver_s`` - the
  span's wall time during which none of its jobs ran.

Spans stay in memory and are written once, at the end.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager

_EXCLUDE_DIRS = ("tmp", "eventlog")


class _NullTracer:
    """Untraced runs: spans cost one context-manager frame."""

    overhead_s = 0.0
    spans_jobs = False      # jobs are counted on one group around the loop

    @contextmanager
    def op(self, i, kind):
        yield

    @contextmanager
    def span(self, name):
        yield

    def call(self, name, fn, *args, **kw):
        return fn(*args, **kw)

    def add_span(self, name, seconds):
        pass


NULL = _NullTracer()


class Tracer:
    spans_jobs = True       # every span runs in its own job group
    def __init__(self, spark, run_id: str, work_dir: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.work_dir = work_dir
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._py4j = 0
        self._fsyncs = 0
        self._paused = False
        self.overhead_s = 0.0
        self._op = None
        self._install_counters()

    # -- counters ---------------------------------------------------------------
    def _install_counters(self):
        tracer = self
        from py4j import clientserver, java_gateway

        for cls in (clientserver.ClientServerConnection, java_gateway.GatewayConnection):
            orig = cls.send_command

            def counted(conn, command, _orig=orig):
                if not tracer._paused and not command.startswith("m\nd\n"):
                    tracer._py4j += 1
                return _orig(conn, command)

            cls.send_command = counted
        orig_fsync = os.fsync

        def fsync(fd):
            tracer._fsyncs += 1
            return orig_fsync(fd)

        os.fsync = fsync

    def _tree(self) -> dict:
        out = {}
        for root, dirs, files in os.walk(self.work_dir):
            if root == self.work_dir:
                dirs[:] = [d for d in dirs if d not in _EXCLUDE_DIRS]
            for f in files:
                p = os.path.join(root, f)
                try:
                    st = os.stat(p)
                except FileNotFoundError:
                    continue
                out[p] = (st.st_size, st.st_mtime_ns)
        return out

    # -- spans ---------------------------------------------------------------------
    @contextmanager
    def op(self, i, kind):
        self._op = i
        with self.span("op." + kind, _walk=True):
            yield
        self._op = None

    @contextmanager
    def span(self, name, _walk=False):
        b0 = time.perf_counter()
        self._paused = True
        parent = self._stack[-1] if self._stack else None
        s = {"id": len(self.spans), "parent": parent["id"] if parent else None,
             "run": self.run_id, "op": self._op, "name": name}
        s["gid"] = f"pb-{self.run_id}-{s['id']}"
        self.spans.append(s)
        self._stack.append(s)
        tree0 = self._tree() if _walk else None
        self.sc.setJobGroup(s["gid"], name)
        py0, fs0 = self._py4j, self._fsyncs
        self._paused = False
        self.overhead_s += time.perf_counter() - b0
        s["t0"], s["w0"] = time.perf_counter(), time.time()
        try:
            yield s
        finally:
            s["t1"], s["w1"] = time.perf_counter(), time.time()
            b1 = time.perf_counter()
            s["py4j_calls"] = self._py4j - py0
            s["fsyncs"] = self._fsyncs - fs0
            self._paused = True
            s["jobs"] = sorted(self.sc.statusTracker().getJobIdsForGroup(s["gid"]))
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent["gid"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            if tree0 is not None:
                tree1 = self._tree()
                changed = [p for p, v in tree1.items() if tree0.get(p) != v]
                s["files_written"] = len(changed)
                s["bytes_written"] = sum(tree1[p][0] for p in changed)
            self._paused = False
            self.overhead_s += time.perf_counter() - b1

    def call(self, name, fn, *args, **kw):
        with self.span(name):
            return fn(*args, **kw)

    def add_span(self, name, seconds):
        """A span measured before the tracer existed (session start)."""
        now = time.perf_counter()
        self.spans.append({"id": len(self.spans), "parent": None, "run": self.run_id,
                           "op": None, "name": name, "t0": now - seconds, "t1": now,
                           "w0": time.time() - seconds, "w1": time.time(),
                           "jobs": [], "py4j_calls": 0, "fsyncs": 0})

    # -- after the session stopped -------------------------------------------------
    def finish(self, eventlog_dir: str) -> None:
        """Attach event-log counters, inclusive totals and self time."""
        jobs, stages = _parse_event_log(eventlog_dir)
        self.totals = {"jobs": len(jobs)}
        for k in ("tasks", "executor_run_s", "gc_s", "spill_bytes"):
            self.totals[k] = sum(st[k] for st in stages.values())
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        for s in self.spans:
            own = {k: 0 for k in _STAGE_KEYS}
            own["stages"] = 0
            intervals = []
            for j in s["jobs"]:
                info = jobs.get(j)
                if info is None:
                    continue
                intervals.append((info["submit"], info["end"]))
                for sid in info["stages"]:
                    st = stages.get(sid)
                    if st is None:
                        continue
                    own["stages"] += 1
                    for k in _STAGE_KEYS:
                        own[k] += st[k]
            s["own"] = own
            s["job_ms"] = intervals
        for s in reversed(self.spans):  # children always follow their parent
            inc = dict(s["own"])
            inc["jobs"] = len(s["jobs"])
            ivs = list(s["job_ms"])
            for c in children.get(s["id"], []):
                for k, v in c["inc"].items():
                    if k not in _ALREADY_INCLUSIVE:
                        inc[k] += v
                ivs += c["all_job_ms"]
            # the process-wide counters kept running through the children
            inc["py4j_calls"] = s["py4j_calls"]
            inc["fsyncs"] = s["fsyncs"]
            s["inc"] = inc
            s["all_job_ms"] = ivs
            dur = s["t1"] - s["t0"]
            s["duration_s"] = dur
            busy = _union_ms(ivs, s["w0"] * 1000, s["w1"] * 1000) / 1000.0
            s["driver_s"] = max(0.0, dur - busy)
            covered = _union_ms([(c["w0"] * 1000, c["w1"] * 1000) for c in children.get(s["id"], [])],
                                s["w0"] * 1000, s["w1"] * 1000) / 1000.0
            s["self_s"] = max(0.0, dur - covered)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        keep = [{k: v for k, v in s.items() if k not in ("all_job_ms", "job_ms")}
                for s in self.spans]
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": keep}, f)


_ALREADY_INCLUSIVE = ("py4j_calls", "fsyncs")
_STAGE_KEYS = ("tasks", "executor_run_s", "gc_s", "spill_bytes", "input_bytes",
               "shuffle_read_bytes", "shuffle_write_bytes")


def _union_ms(intervals, lo, hi) -> float:
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def _parse_event_log(eventlog_dir: str):
    """job id -> {submit, end, stages}; stage id -> summed task metrics.
    A stage belongs to the running job that listed it when it was
    submitted; skipped stages are never submitted and are not counted."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    active: set[int] = set()
    for path in sorted(glob.glob(os.path.join(eventlog_dir, "**", "*"), recursive=True)):
        if os.path.isdir(path):
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs[ev["Job ID"]] = {"submit": ev["Submission Time"], "end": None,
                                          "stages": set(), "listed": set(ev["Stage IDs"])}
                    active.add(ev["Job ID"])
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
                    active.discard(ev["Job ID"])
                elif kind == "SparkListenerStageSubmitted":
                    sid = ev["Stage Info"]["Stage ID"]
                    owners = [j for j in active if sid in jobs[j]["listed"]]
                    if owners:
                        jobs[max(owners)]["stages"].add(sid)
                elif kind == "SparkListenerTaskEnd":
                    st = stages.setdefault(ev["Stage ID"], {k: 0 for k in _STAGE_KEYS})
                    st["tasks"] += 1
                    m = ev.get("Task Metrics") or {}
                    st["executor_run_s"] += m.get("Executor Run Time", 0) / 1000.0
                    st["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    st["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    st["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    st["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    st["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
    for j in jobs.values():
        if j["end"] is None:
            j["end"] = j["submit"]
    return jobs, stages
