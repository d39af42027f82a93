"""Shared plumbing for the benchmark: the Spark session, host facts, the
process tree's CPU time and peak memory read from /proc, in-memory spans
and small statistics helpers.

Nothing here imports the program under test; the workload modules do.
"""

from __future__ import annotations

import json
import os
import platform
import subprocess
import time
from contextlib import contextmanager

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def cpu_times() -> list[int]:
    """The host's cumulative CPU time counters (user, nice, system, idle,
    iowait, irq, softirq, steal, ...) from /proc/stat."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_pct(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    ``cpu_times`` readings: on a shared VM this, not the load average,
    is what makes one run slower than the next."""
    delta = [b - a for a, b in zip(before, after)]
    return 100.0 * delta[7] / max(1, sum(delta))


def versions() -> dict:
    import duckdb
    import pyarrow
    import pyspark

    return {
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "duckdb": duckdb.__version__,
    }


def wait_for_quiet_host(per_core: float, max_wait_s: float) -> dict:
    """Wait until the 1-minute load average per core is at most
    ``per_core`` (an absolute gate would wait on the benchmark's own
    trailing load on a small host), for at most ``max_wait_s``."""
    t0 = time.monotonic()
    while True:
        load1 = loadavg()[0]
        ok = load1 <= per_core * nproc()
        if ok or time.monotonic() - t0 >= max_wait_s:
            return {"gate_per_core": per_core, "load1": load1, "quiet": ok,
                    "waited_s": time.monotonic() - t0}
        time.sleep(1.0)


def percentile(values, q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values) -> float:
    return percentile(values, 50)


def weighted_percentile(pairs, q: float) -> float:
    """Percentile of values given as (value, weight) pairs — the
    freshness of every event without materialising one sample each."""
    pairs = sorted(p for p in pairs if p[1] > 0)
    total = sum(w for _, w in pairs)
    if not total:
        raise ValueError("weighted percentile of no samples")
    target = total * q / 100.0
    acc = 0
    for v, w in pairs:
        acc += w
        if acc >= target:
            return v
    return pairs[-1][0]


def trace_overhead(batches: list[dict]) -> dict:
    """The tracing's own cost, from one traced run: the median wall time
    of its traced batches over that of its untraced ones (see
    ``Tracer``); the ratio is 0 if the run had no batch of one kind."""
    traced = [b["end"] - b["start"] for b in batches if b["traced"]]
    plain = [b["end"] - b["start"] for b in batches if not b["traced"]]
    p50 = median(traced) if traced else 0.0
    return {"trace.batch_p50_s": p50,
            "trace.overhead_ratio": p50 / median(plain) if traced and plain else 0.0}


def closed_loop_reads(kinds: dict, n_reads: int, tracer, layer: str) -> dict:
    """Serve phase: reads issued one after another, cycling through
    ``kinds`` (name -> (query, check)); ``query()`` returns a result and
    ``check(result)`` whether it matches the reference, and the CPU
    time of the timed reads is returned per read.  Every read is
    checked; the first read of each kind is not timed, because a session
    pays the first plan and code generation of each query shape once."""
    names = list(kinds)
    warmup = len(names)
    times = {k: [] for k in names}
    failed = 0
    for i in range(warmup + n_reads):
        if i == warmup:
            cpu0 = cpu_seconds()
        kind = names[i % len(names)]
        query, check = kinds[kind]
        t0 = time.monotonic()
        with tracer.span(f"{layer}.read_{kind}"):
            result = query()
        if i >= warmup:
            times[kind].append(time.monotonic() - t0)
        failed += not check(result)
    return {"times": times, "failed": failed, "attempted": warmup + n_reads,
            "cpu_ms_per_read": 1000 * (cpu_seconds() - cpu0) / n_reads}


def dir_bytes_files(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``; hidden and _-prefixed
    bookkeeping files (Spark's _SUCCESS, .crc) are not data."""
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            total += os.path.getsize(os.path.join(root, n))
            files += 1
    return total, files


class Tracer:
    """Spans kept in memory, written once at the end.  A span is
    (name, start, end, parent, attrs); a span's self time is its
    duration minus the part its children cover.  Disabled tracers
    record nothing.  An enabled tracer traces every other batch: the
    batches in between run untraced, so a traced run measures its own
    overhead against untraced batches of the same session."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def traces(self, batch: int) -> bool:
        """Whether batch ``batch`` runs traced (odd batch ids do)."""
        return self.enabled and batch % 2 == 1

    @contextmanager
    def span(self, name: str, **attrs):
        """Time the block; a span tagged with an untraced ``batch``
        records nothing."""
        if not self.enabled or ("batch" in attrs and not self.traces(attrs["batch"])):
            yield
            return
        idx = len(self.spans)
        rec = {"name": name, "start": time.monotonic(), "end": None,
               "parent": self._stack[-1] if self._stack else None, "attrs": attrs}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.monotonic()

    def add(self, name: str, start: float, end: float, **attrs) -> None:
        """Record a span measured elsewhere (another process, Spark's
        own progress) on the same monotonic clock."""
        if self.enabled:
            self.spans.append({"name": name, "start": start, "end": end,
                               "parent": None, "attrs": attrs})

    def batch_durations(self, name: str, batches) -> list[float]:
        """Durations of the spans called ``name`` recorded for the
        given batch ids."""
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["end"] is not None
                and s["attrs"].get("batch") in batches]

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


def _children(pid_root: int) -> list[int]:
    """``pid_root`` and every live descendant, from /proc."""
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
            parent[int(name)] = int(fields[1])
        except (OSError, IndexError, ValueError):
            continue
    out, frontier = [pid_root], [pid_root]
    while frontier:
        nxt = [p for p, pp in parent.items() if pp in frontier]
        out.extend(nxt)
        frontier = nxt
    return out


JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _jit_ticks(pid: int) -> int:
    """CPU ticks of the JVM's JIT compiler threads in process ``pid``."""
    total = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as fh:
                if not fh.read().startswith(JIT_THREADS):
                    continue
            with open(f"/proc/{pid}/task/{tid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
            total += int(fields[11]) + int(fields[12])
        except (OSError, IndexError, ValueError):
            continue
    return total


def cpu_seconds(exclude: tuple[int, ...] = ()) -> float:
    """CPU time (user + system) used so far by this process and its
    descendants (the JVM, its Python workers), less the subtrees rooted
    at ``exclude`` (the load generator) and less the JVM's JIT compiler
    threads, whose work is the JVM warming up, not the program.  Unlike
    wall time it does not count time the hypervisor gave to other
    guests.  The session keeps its compiler threads alive (see
    ``start_spark``), so none of their time leaves with an exited
    thread."""
    tick = os.sysconf("SC_CLK_TCK")
    skip: set[int] = set()
    for pid in exclude:
        skip.update(_children(pid))
    me = os.getpid()
    total = 0
    for pid in _children(me):
        if pid in skip:
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
            # utime, stime, and for descendants those of their reaped
            # children (Python workers); this process's reaped child is
            # the load generator
            total += sum(int(f) for f in fields[11:13 if pid == me else 15])
            total -= _jit_ticks(pid)
        except (OSError, IndexError, ValueError):
            continue
    return total / tick


def peak_rss_mb(exclude: tuple[int, ...] = ()) -> float:
    """Summed peak resident memory (``VmHWM``, the kernel's high-water
    mark, so no peak falls between samples) of this process and its
    live descendants (the JVM, its Python workers), less the subtrees
    rooted at ``exclude``.  Pages a forked Python worker shares with
    its parent count in both."""
    skip: set[int] = set()
    for pid in exclude:
        skip.update(_children(pid))
    total_kb = 0
    for pid in _children(os.getpid()):
        if pid in skip:
            continue
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except (OSError, IndexError, ValueError):
            continue
    return total_kb / 1024


def start_spark(work: str, master: str):
    """A ``local[N]`` session whose scratch space (block manager, temp
    files, warehouse) lives under ``work`` — the benchmark writes
    nowhere else.  One shuffle partition per core: on a small host every extra
    partition is another state-store commit per trigger."""
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cores = int(master[len("local["):-1])
    return (
        SparkSession.builder.master(master)
        .appName("perfbench")
        .config("spark.local.dir", tmp)
        # no hsperfdata file in the system temp dir; JIT compiler
        # threads that never exit, so cpu_seconds can leave them out
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads")
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
        .getOrCreate()
    )


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it: the
    gateway JVM exits when its stdin closes, and takes its Python
    workers with it."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    finally:
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
