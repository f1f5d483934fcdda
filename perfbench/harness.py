"""Shared pieces of the benchmark: the per-run context, statistics,
process memory, and the Spark session every Spark workload uses."""

from __future__ import annotations

import dataclasses
import math
import os
import subprocess
import time


@dataclasses.dataclass
class Ctx:
    workload: str
    seed: int
    seconds: float
    trace: bool
    smoke: bool
    nproc: int
    run_dir: str
    run_id: str
    # filled by the workload
    attempted: int = 0
    failed: int = 0
    checks: dict = dataclasses.field(default_factory=dict)
    report: dict = dataclasses.field(default_factory=dict)
    e2e: dict = dataclasses.field(default_factory=dict)
    layers: dict = dataclasses.field(default_factory=dict)
    trace_data: tuple | None = None  # (spans, counts) of the traced pass

    def path(self, *parts: str) -> str:
        p = os.path.join(self.run_dir, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    def check(self, name: str, attempted: int, failed: int) -> None:
        """Record one correctness check: ``attempted`` operations were
        verified by it and ``failed`` of them were wrong or errored."""
        c = self.checks.setdefault(name, {"attempted": 0, "failed": 0})
        c["attempted"] += attempted
        c["failed"] += failed
        self.attempted += attempted
        self.failed += failed


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile (p in 0..100) of a non-empty list."""
    s = sorted(values)
    k = max(0, min(len(s) - 1, math.ceil(p / 100.0 * len(s)) - 1))
    return s[k]


def tail_percentile(n: int, cap: float = 99.0) -> float:
    """The highest percentile that leaves at least ten samples above
    it, capped at ``cap``; the maximum (100) below 100 samples."""
    if n < 100:
        return 100.0
    return min(cap, math.floor(1000.0 * (1 - 10.0 / n)) / 10.0)


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except (OSError, ValueError):
        pass
    return 0


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in children.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def rss_by_process() -> dict[str, float]:
    """VmHWM in MB of this process and every live descendant (the
    Spark JVM, its Python workers, the serving processes), summed per
    command name."""
    me = os.getpid()
    out: dict[str, float] = {}
    for p in [me] + descendants(me):
        try:
            with open(f"/proc/{p}/comm") as f:
                name = f.read().strip()
        except OSError:
            continue
        out[name] = out.get(name, 0.0) + _status_kb(p, "VmHWM") / 1024.0
    return out


def _cpu_ticks(pid: int, with_children: bool) -> int:
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0
    # utime, stime; then cutime, cstime (waited-for children)
    return sum(int(x) for x in fields[11:15 if with_children else 13])


def cpu_s(pids: list[int] | None = None) -> float:
    """User + system CPU seconds used so far by ``pids``, or by this
    process, every live descendant and every descendant already
    waited for (the Spark JVM, its Python workers, the servers)."""
    if pids is not None:
        ticks = sum(_cpu_ticks(p, False) for p in pids)
    else:
        me = os.getpid()
        ticks = sum(_cpu_ticks(p, True) for p in [me] + descendants(me))
    return ticks / os.sysconf("SC_CLK_TCK")


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def du_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.stat(os.path.join(root, f)).st_size
            except FileNotFoundError:
                pass
    return total


def start_spark(ctx: Ctx, app: str):
    """A local[nproc] session whose scratch, warehouse and (when
    tracing) uncompressed event log live in the run dir."""
    from quasdb_spark.session import get_spark

    n = str(ctx.nproc)
    conf = {
        "spark.sql.shuffle.partitions": n,
        "spark.default.parallelism": n,
        "spark.local.dir": ctx.path("spark-local", ""),
        "spark.sql.warehouse.dir": ctx.path("warehouse"),
    }
    if ctx.trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": ctx.path("eventlog", ""),
            "spark.eventLog.compress": "false",
        })
    spark = get_spark(app, master=f"local[{n}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and the gateway JVM, and wait for the JVM."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def wait_children(timeout: float = 30.0) -> None:
    """Wait for every descendant process to end, killing stragglers
    and reaping any child left unwaited."""
    deadline = time.monotonic() + timeout
    me = os.getpid()
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            pass
        left = descendants(me)
        if not left:
            return
        if time.monotonic() > deadline:
            for p in left:
                try:
                    os.kill(p, 9)
                except OSError:
                    pass
            deadline = time.monotonic() + 5
        time.sleep(0.1)


def instrument_writes(tr) -> None:
    """Spans and counts on the store write path: write batches,
    compactions, manifest commits (bytes added, conflicts retried)
    and fsyncs."""
    from quasdb_spark.manifest import CommitConflict, Manifest
    from quasdb_spark.store import KVStore

    def on_commit(t, args, kwargs, out, exc):
        if isinstance(exc, CommitConflict):
            t.counts["manifest.commit_retries"] += 1
        elif exc is None:
            added = sum(f.bytes for f in kwargs.get("add", ()))
            bucket = "compact" if t.in_span("store.compact") else "batch"
            t.counts[f"bytes_written.{bucket}"] += added

    def on_write(t, args, kwargs, out, exc):
        if exc is None:
            t.counts["user_bytes"] += sum(len(k) + len(v or "")
                                          for _, k, v in args[1])

    tr.wrap(KVStore, "write_batch", "store.write_batch", hook=on_write)
    tr.wrap(KVStore, "compact", "store.compact")
    tr.wrap(Manifest, "commit", "manifest.commit", hook=on_commit)
    tr.count_calls(os, "fsync", "os.fsync")


def write_layers(spans: list, c) -> dict:
    """Per-layer metrics of the store write path from the spans and
    counts ``instrument_writes`` records; ``user_bytes`` in the counts
    is the user data written."""
    from spans import Layers

    ly = Layers(spans)
    return {
        "store.write_batch_ms": ly.mean("store.write_batch") * 1e3,
        "store.fsyncs_per_put": c["os.fsync@store.write_batch"]
        / max(1, ly.calls("store.write_batch")),
        "manifest.commit_ms": ly.mean("manifest.commit") * 1e3,
        "manifest.commit_retries": c["manifest.commit_retries"],
        "store.compactions": ly.calls("store.compact"),
        "store.compact_ms": ly.mean("store.compact") * 1e3,
        "store.compact_bytes_rewritten": c["bytes_written.compact"],
        "store.write_amp": (c["bytes_written.batch"] + c["bytes_written.compact"])
        / max(1, c["user_bytes"]),
    }
