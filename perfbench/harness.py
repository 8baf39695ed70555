"""What both workloads share: operation timing, percentiles, process and
JVM readings, and output digests."""

from __future__ import annotations

import hashlib
import math
import os
import statistics
import time
from contextlib import contextmanager, nullcontext
from datetime import date, datetime
from decimal import Decimal


def process_age_s() -> float:
    """Seconds since this process started, from /proc (10 ms ticks)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def jvm_peak_rss_mb(spark) -> float:
    """VmHWM of the driver JVM that PySpark launched."""
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def p90(values: list[float]) -> float:
    """90th percentile, interpolated between the two nearest ranks."""
    if len(values) < 2:
        return values[0]
    return statistics.quantiles(values, n=10, method="inclusive")[8]


def tree_cpu_s(root_pid: int) -> float:
    """User + system CPU seconds of this process plus ``root_pid`` and all
    its live descendants (the driver JVM and the Python workers it forks)."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:  # exited while listing
                continue
            stats[int(name)] = (int(fields[1]), int(fields[11]) + int(fields[12]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    ticks, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        ticks += stats.get(pid, (0, 0))[1]
        todo += children.get(pid, [])
    t = os.times()
    return ticks / os.sysconf("SC_CLK_TCK") + t.user + t.system


JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")  # names as /proc truncates them


def jit_cpu_s(jvm_pid: int) -> float:
    """User + system CPU seconds of the JVM's JIT compiler threads. They
    must not exit (``-XX:-UseDynamicNumberOfCompilerThreads``), or their
    time would move into the process total without being seen here."""
    ticks = 0
    task = f"/proc/{jvm_pid}/task"
    for tid in os.listdir(task):
        try:
            with open(f"{task}/{tid}/comm") as f:
                if not f.read().startswith(JIT_THREADS):
                    continue
            with open(f"{task}/{tid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # exited while listing
            continue
        ticks += int(fields[11]) + int(fields[12])
    return ticks / os.sysconf("SC_CLK_TCK")


class Ops:
    """Times the benchmark's operations by wall clock. ``timed`` blocks
    make up the measured phase; when a tracer is present each block is also
    a top-level span marked ``timed``, and other spans (set-up, checks) are
    top-level too, so the trace accounts for the whole run. CPU time is read
    with ``cpu_s`` at the workload's block boundaries, not per operation;
    it leaves out the JVM's JIT compilation, which ``jit_s`` reads."""

    def __init__(self, tracer=None) -> None:
        self.tracer = tracer
        self.jvm_pid: int | None = None

    def cpu_s(self) -> float:
        """CPU seconds of the client, the driver JVM and its Python
        workers, less the JVM's JIT compiler threads."""
        if not self.jvm_pid:
            return 0.0
        return tree_cpu_s(self.jvm_pid) - jit_cpu_s(self.jvm_pid)

    def jit_s(self) -> float:
        return jit_cpu_s(self.jvm_pid) if self.jvm_pid else 0.0

    @contextmanager
    def timed(self, name: str, out: list[float]):
        """Append the block's wall seconds to ``out``, also on error."""
        t0 = time.perf_counter()
        try:
            with self.span("op", op=name, timed=True):
                yield
        finally:
            out.append(time.perf_counter() - t0)

    def span(self, name: str, **attrs):
        return self.tracer.span(name, **attrs) if self.tracer else nullcontext()


def _canon(v):
    if isinstance(v, bool) or v is None or isinstance(v, str):
        return v
    if isinstance(v, (int, float, Decimal)):
        f = float(v)
        if math.isnan(f):
            return "nan"
        r = round(f, 6)
        return 0.0 if r == 0 else r
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, dict):
        return tuple(sorted((str(k), _canon(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if hasattr(v, "asDict"):
        return _canon(v.asDict())
    return str(v)


def digest(columns: list[str], rows) -> str:
    """Order-insensitive hash of a result: columns taken in name order,
    numbers as floats rounded to 6 decimals, rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    keyed = sorted(repr(tuple(_canon(r[i]) for i in order)) for r in rows)
    h = hashlib.sha256()
    h.update(repr([columns[i] for i in order]).encode())
    for k in keyed:
        h.update(k.encode())
    return h.hexdigest()[:16]
