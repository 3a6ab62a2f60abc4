"""Shared machinery of the benchmark: Spark session, run directory, op loop,
statistics, memory and host canary.

Nothing here imports pyspark or the package at module load, so importing
the benchmark never starts a JVM.
"""

from __future__ import annotations

import gc
import os
import shutil
import signal
import statistics
import subprocess
import tempfile
import time
import traceback
import zlib

# set-up is repeated; setup_s reports the median, which the one cold first
# repetition cannot move
SETUP_REPS = 3
SPARK_MASTER = "local[2]"
SHUFFLE_PARTITIONS = 4
DRIVER_MEMORY = "1g"
CALIB_N = 1_500_000     # iterations of the host-canary loop
# stored bytes are sampled after each of the first SPACE_OPS ops only: the
# op stream is fixed by the seed, so the samples do not depend on how many
# ops a faster or slower program fits into the measuring window
SPACE_OPS = 8
LOOP_GROUP = "perfbench-loop"


class CheckFailed(AssertionError):
    """An output of the program under test disagreed with its oracle."""


def check(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


# -- statistics ----------------------------------------------------------------

def median(xs):
    return statistics.median(xs) if xs else float("nan")


def p90(xs):
    """p90 only when at least ten samples lie beyond it (n >= 100)."""
    if len(xs) < 100:
        return None
    return statistics.quantiles(xs, n=10)[-1]


def row_digest(rows) -> tuple[int, int]:
    """(count, order-independent checksum) of an iterable of row tuples."""
    n, acc = 0, 0
    for r in rows:
        n += 1
        acc = (acc + zlib.crc32(repr(tuple(r)).encode())) & 0xFFFFFFFFFFFF
    return n, acc


# -- host canary and memory ------------------------------------------------------

def host_calib_s() -> float:
    """Fixed pure-Python loop; a slow reading means the host was disturbed."""
    t = time.perf_counter()
    acc = 0
    for i in range(CALIB_N):
        acc += i * i & 7
    return time.perf_counter() - t


def host_load1() -> float:
    return os.getloadavg()[0]


def _vm_hwm_kb(pid) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak resident memory of this process plus its JVM, from /proc."""
    return (_vm_hwm_kb("self") + _vm_hwm_kb(jvm_pid)) / 1024.0


def heap_live_mb(spark, rounds: int = 8, pause_s: float = 0.5) -> float:
    """JVM heap in use after full collections: the live data a change can
    grow, free of GC timing (the heap itself is pre-touched at its full
    size, so resident memory cannot show it).  Each round runs Python's
    collector first, so JVM objects only Python garbage still referenced are
    released, then the JVM's.  Spark drops the blocks and files of collected
    broadcasts and shuffles from a cleaner thread after a collection, so the
    rounds repeat, half a second apart, until the reading stops falling."""
    jvm = spark.sparkContext._jvm
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    last = None
    for _ in range(rounds):
        gc.collect()
        jvm.java.lang.System.gc()
        used = mx.getHeapMemoryUsage().getUsed() / 2**20
        if last is not None and last - used < 1.0:
            return used
        last = used
        time.sleep(pause_s)
    return last


_TICK = os.sysconf("SC_CLK_TCK")


def _proc_table() -> dict[int, tuple[int, str, int, int]]:
    """``{pid: (ppid, state, cpu ticks, start tick)}`` of every process
    /proc shows; the CPU ticks are user + system, reaped children included."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                st = f.read()
        except OSError:
            continue
        fields = st[st.rindex(")") + 2:].split()
        out[int(d)] = (int(fields[1]), fields[0], sum(int(x) for x in fields[11:15]),
                       int(fields[19]))
    return out


def _subtree(table, root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, (ppid, *_rest) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, stack = [], [root]
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(kids.get(p, []))
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system, reaped children included) of ``root``
    and every live descendant: the driver, its JVM and the JVM's Python
    workers.  Unlike wall time it does not grow when other tenants of the
    host take the cores."""
    table = _proc_table()
    return sum(table[p][2] for p in _subtree(table, root) if p in table) / _TICK


def descendants() -> set[tuple[int, int]]:
    """``(pid, start tick)`` of every running (not zombie) process below
    this one; the start tick tells a process from a later one that reuses
    its pid."""
    table = _proc_table()
    me = os.getpid()
    return {(p, table[p][3]) for p in _subtree(table, me) if p != me and table[p][1] != "Z"}


_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def jit_ticks(jvm_pid: int) -> dict[int, int]:
    """Clock ticks of each live JIT compiler thread of the JVM (thread names
    as /proc shows them, cut to 15 characters)."""
    out = {}
    try:
        tids = os.listdir(f"/proc/{jvm_pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{jvm_pid}/task/{tid}/stat") as f:
                st = f.read()
        except OSError:
            continue
        if st[st.index("(") + 1:st.rindex(")")] in _JIT_THREADS:
            fields = st[st.rindex(")") + 2:].split()
            out[int(tid)] = int(fields[11]) + int(fields[12])
    return out


def jit_cpu_s(before: dict[int, int], after: dict[int, int]) -> float:
    """JIT compiler CPU seconds between two ``jit_ticks`` readings.  The JVM
    starts and retires compiler threads on demand: a thread that retired in
    between is left out, having been idle before it retired."""
    return sum(t - before.get(tid, 0) for tid, t in after.items()) / _TICK


def tree_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except FileNotFoundError:
                pass
    return total


def bucket_id_rows_per_s(tracer, df, key: str, n_buckets: int, rows: int, reps: int = 3) -> float:
    """Median rate of ``hashing.odps_bucket_id`` over ``df[key]``, each
    repetition ended by a noop write (traced runs only)."""
    from aliyun_maxcompute_data_collectors_spark.operators import hashing
    rates = []
    for _ in range(reps):
        with tracer.span("hashing.odps_bucket_id"):
            t = time.perf_counter()
            col = hashing.odps_bucket_id(df, [key], n_buckets)
            df.select(col).write.format("noop").mode("overwrite").save()
            rates.append(rows / (time.perf_counter() - t))
    return statistics.median(rates)


# -- run directory and session -----------------------------------------------

class RunDir:
    """Everything a run writes lives under ``.perfbench/`` in the working
    directory; the per-run work tree is removed when the run ends."""

    def __init__(self, workload: str, seed: int, trace: bool):
        self.base = os.path.abspath(".perfbench")
        self.work = os.path.join(self.base, "work", f"{workload}-s{seed}-t{int(trace)}-{os.getpid()}")
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(self.work)
        self.tmp = self.sub("tmp")
        self.eventlog = self.sub("eventlog")

    def sub(self, *parts) -> str:
        p = os.path.join(self.work, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def remove(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)


def start_spark(rd: RunDir, event_log: bool):
    """Session from the package's own factory, sized for a shared 4-core host,
    with every scratch path kept inside the run directory."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [repo] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["TMPDIR"] = rd.tmp
    tempfile.tempdir = rd.tmp   # py4j's launch files; gettempdir() may be cached
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": rd.tmp,
        "spark.sql.warehouse.dir": rd.sub("spark-warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={rd.tmp} -XX:-UsePerfData -Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch",
    }
    if event_log:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.dir": "file://" + rd.eventlog,
        })
    from aliyun_maxcompute_data_collectors_spark.session import get_spark
    spark = get_spark("perfbench", master=SPARK_MASTER,
                      shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark, timeout_s: float = 60.0) -> None:
    """Stop the session and wait until its JVM, and every process it
    started, has ended.  The JVM ends when its standard input closes, but
    only after its shutdown hooks ran, which a process that merely exits
    would not wait for."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    procs = descendants()
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout_s)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        end_processes(procs)


def end_processes(procs: set[tuple[int, int]], timeout_s: float = 30.0) -> None:
    """Wait until every process in ``procs`` (from ``descendants``) and
    every current descendant has ended: terminate what is still running
    after ``timeout_s``, kill what outlives that, and reap this process's
    own children.  Python workers the JVM started are orphaned when it
    exits, so they are tracked by pid, not through the process tree."""
    def running():
        table = _proc_table()
        left = {(p, st) for p, st in procs | descendants()
                if p in table and table[p][3] == st and table[p][1] != "Z"}
        while True:
            try:
                if os.waitpid(-1, os.WNOHANG)[0] == 0:
                    break
            except ChildProcessError:
                break
        return left

    deadline = time.monotonic() + timeout_s
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        if sig is not None:
            for p, _st in running():
                try:
                    os.kill(p, sig)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 10.0
        while running():
            if time.monotonic() > deadline:
                break
            time.sleep(0.1)
        else:
            return


# -- the closed loop -------------------------------------------------------------

class Op:
    """One timed operation: ``kind`` groups latencies, ``rows`` is the
    logical input size, ``run`` does the work and returns what ``check``
    verifies untimed."""

    __slots__ = ("kind", "rows", "run", "check")

    def __init__(self, kind, rows, run, check=None):
        self.kind, self.rows, self.run, self.check = kind, rows, run, check


class LoopResult:
    def __init__(self):
        self.samples: list[tuple[str, float, int]] = []   # (kind, seconds, rows)
        self.cpu: list[float] = []                          # CPU seconds per sample
        self.jit: list[float] = []              # the JIT compiler's part of each
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.space: list[tuple[int, int]] = []   # (stored bytes, live rows)
        self.heap: list[float] = []              # live heap (MB) after each deck
        self.jobs = 0                                # Spark jobs the loop launched
        self.wall_s = 0.0

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.failures) < 20:
            self.failures.append(what)


def closed_loop(workload, seconds: float, tracer) -> LoopResult:
    """One client: the next op is issued only after the previous one and
    its untimed check finished.  Ops run in whole decks of
    ``workload.deck_len`` (every op kind in a fixed order): the loop stops
    at the first deck boundary after ``seconds`` of wall time, so every run
    measures the same mix of kinds."""
    res = LoopResult()
    me = os.getpid()
    spark = workload.spark
    sc = spark.sparkContext
    jvm = int(sc._jvm.ProcessHandle.current().pid())
    if not tracer.spans_jobs:
        sc.setJobGroup(LOOP_GROUP, "perfbench timed loop")
    t_start = time.perf_counter()
    t_end = t_start + seconds
    i = 0
    while time.perf_counter() < t_end or i % workload.deck_len:
        op = workload.next_op(i)
        res.attempted += 1
        try:
            with tracer.op(i, op.kind):
                j0, c0, t0 = jit_ticks(jvm), tree_cpu_s(me), time.perf_counter()
                out = op.run()
                dt, cpu = time.perf_counter() - t0, tree_cpu_s(me) - c0
                jit = jit_cpu_s(j0, jit_ticks(jvm))
            if op.check is not None:
                op.check(out)
            res.samples.append((op.kind, dt, op.rows))
            res.cpu.append(cpu)
            res.jit.append(jit)
        except CheckFailed as e:
            res.fail(f"op {i} {op.kind}: {e}")
        except Exception as e:  # a failing op is counted, not fatal
            traceback.print_exc()
            res.fail(f"op {i} {op.kind}: {type(e).__name__}: {e}")
        if i < SPACE_OPS:
            res.space.append(workload.space_sample())
        i += 1
        if i % workload.deck_len == 0:
            res.heap.append(heap_live_mb(spark))
    if not tracer.spans_jobs:
        res.jobs = len(sc.statusTracker().getJobIdsForGroup(LOOP_GROUP))
        sc.setLocalProperty("spark.jobGroup.id", None)
    res.wall_s = time.perf_counter() - t_start
    return res
