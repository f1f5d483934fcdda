"""kv_serve: the embedded read and write path behind the HTTP server.

A store of ``series:ts`` keys is preloaded, then served by
``RawStoreServer`` processes (perfbench/kvserver.py, one embedded
handle each, one port each) and written by one writing process
(perfbench/kvwriter.py, one embedded handle). This process is the load
generator: an open loop of a fixed number of requests at a fixed rate
over ``nproc`` keep-alive connections, each latency timed from the
request's due time, then a closed loop on the same connections for
throughput. The mix is 70% point gets (hot series and recent
timestamps, both Zipf-skewed as YCSB skews them; ~10% misses), 20%
50-row scan pages from uniform start keys and 10% ``sync=True`` write
batches, which the generator hands to the writing process. Each write
batch adds the next timestamp of every series, so every L0 dir
overlaps every key range; the writer's auto-compaction folds the store
back to one dir after every eighth batch.

The gated figures are CPU per operation of the processes that do the
work: the serving processes' CPU per read over the open and closed
loops, and the writing process's CPU per write batch over the open
loop, whose requests and writes are the same in number and order on
every run of a seed.

Every response is checked against a model of the op stream; after the
run a fresh handle re-reads every acknowledged put.
"""

from __future__ import annotations

import bisect
import itertools
import json
import os
import random
import shutil
import socket
import subprocess
import sys
import threading
import time
from statistics import median

from harness import (Ctx, cpu_s, du_bytes, percentile, rss_by_process,
                     tail_percentile, write_layers)
from spans import Layers, merge_dumps

# Open-loop rate (requests/s). It sits under half the closed-loop
# throughput measured on a busy 4-core host (92-170 req/s), so the open
# loop measures latency, not a growing backlog.
RATE = 40.0
# the open loop's request count is a multiple of this: whole blocks of
# ten, and write batches in whole compaction cycles of eight
OPEN_QUANTUM = 80
# every block of ten consecutive ops holds exactly this mix, in a
# seeded order, so the mix does not drift between seeds
BLOCK = ("get",) * 7 + ("scan",) * 2 + ("put",)
P_MISS = 0.10
SCAN_LIMIT = 50
# Skew of gets, from YCSB (Cooper et al., SoCC 2010), not from measured
# QuasDB traffic: series popularity is Zipfian with YCSB's default
# constant 0.99, and the distance of a get behind the newest timestamp
# is Zipfian with the same constant, as YCSB's read-latest distribution
# (workload D) draws it, over the preloaded depth.
ZIPF_S = 0.99
STEP = 10  # seconds between timestamps of one series
WRITE_MAX_ROWS = 4096  # rows per preload batch (the driver write limit)


def key(s: int, g: int) -> str:
    return f"s{s:02d}:{g * STEP:010d}"


class Model:
    """Store contents as a function of the seed: series ``s`` holds
    timestamps 0..n-1 where n = preloaded + acknowledged write batches,
    and the value of (s, g) is derived from the seed."""

    def __init__(self, seed: int, series: int, preload: int):
        self.seed, self.series, self.preload = seed, series, preload
        self.acked = 0        # write batches acknowledged
        self.writing = False  # a write batch is in flight

    def value(self, s: int, g: int) -> str:
        return f"{((s * 7919 + g * 104729 + self.seed * 1299709) % 1000003) / 1000:.3f}"

    def visible(self) -> int:
        """Timestamps per series certainly visible to a new request."""
        return self.preload + self.acked

    def maybe_visible(self) -> int:
        w = self.writing
        return self.preload + self.acked + (1 if w else 0)

    def batch(self, g: int) -> list:
        return [("put", key(s, g), self.value(s, g))
                for s in range(self.series)]

    def live_bytes(self) -> int:
        n = self.visible()
        return sum(len(key(s, g)) + len(self.value(s, g))
                   for s in range(self.series) for g in range(n))


def zipf_cdf(n: int) -> list[float]:
    return list(itertools.accumulate(1.0 / (r + 1) ** ZIPF_S for r in range(n)))


def zipf_draw(cdf: list[float], rng: random.Random) -> int:
    """A rank in 0..len(cdf)-1, rank 0 the most likely."""
    return bisect.bisect_left(cdf, rng.random() * cdf[-1])


class OpStream:
    """The seeded op sequence of one phase: op kinds and the random
    draws that pick keys; keys resolve against the model at send."""

    def __init__(self, seed: int, phase: str, series: int, depth: int):
        self.rng = random.Random(f"{seed}/{phase}")
        ranks = list(range(series))
        random.Random(seed).shuffle(ranks)
        self.hot = ranks
        self.cum = zipf_cdf(series)
        self.depth_cum = zipf_cdf(depth)
        self.series = series
        self.lock = threading.Lock()
        self.block: list[str] = []

    def next(self) -> tuple:
        with self.lock:
            if not self.block:
                self.block = list(BLOCK)
                self.rng.shuffle(self.block)
            kind = self.block.pop()
            if kind == "get":
                s = self.hot[zipf_draw(self.cum, self.rng)]
                depth = zipf_draw(self.depth_cum, self.rng)
                return ("get", s, depth, self.rng.random() < P_MISS)
            if kind == "scan":
                return ("scan", self.rng.randrange(self.series),
                        self.rng.random())
            return ("put",)


class Conn:
    """One keep-alive HTTP/1.1 connection."""

    def __init__(self, port: int):
        self.sock = socket.create_connection(("127.0.0.1", port))
        self.sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        self.buf = b""

    def _fill(self) -> None:
        data = self.sock.recv(65536)
        if not data:
            raise ConnectionError("server closed the connection")
        self.buf += data

    def get(self, target: str) -> tuple[int, bytes]:
        self.sock.sendall(f"GET {target} HTTP/1.1\r\nHost: bench\r\n\r\n".encode())
        while b"\r\n\r\n" not in self.buf:
            self._fill()
        head, _, self.buf = self.buf.partition(b"\r\n\r\n")
        status = int(head[9:12])
        clen = 0
        for line in head.split(b"\r\n")[1:]:
            name, _, val = line.partition(b":")
            if name.strip().lower() == b"content-length":
                clen = int(val)
        while len(self.buf) < clen:
            self._fill()
        body, self.buf = self.buf[:clen], self.buf[clen:]
        return status, body

    def close(self) -> None:
        self.sock.close()


class Writer:
    """The writing process (kvwriter.py) and its command pipe."""

    def __init__(self, proc: subprocess.Popen):
        self.proc = proc

    def write(self, ops: list) -> tuple[float, float]:
        """One ``write_batch(ops, sync=True)``; returns the writing
        process's CPU seconds and wall seconds for it."""
        self.proc.stdin.write(json.dumps(ops) + "\n")
        self.proc.stdin.flush()
        line = self.proc.stdout.readline()
        if not line.startswith("OK "):
            raise RuntimeError(f"writer failed: {line!r}")
        _, cpu, wall = line.split()
        return float(cpu), float(wall)


class Generator:
    def __init__(self, ctx: Ctx, model: Model, ports: list[int], writer: Writer):
        self.ctx, self.model, self.writer = ctx, model, writer
        self.write_lock = threading.Lock()
        self.connect(ports)
        self.records: list[tuple] = []  # (phase, kind, due, sent, done, ok)
        self.scans: list[tuple] = []    # (s, g, visible, maybe, rows)
        self.puts: list[int] = []       # acknowledged batch timestamps
        self.put_cost: list[tuple] = []  # (phase, writer CPU s, write wall s)
        self.errors: list[str] = []

    def connect(self, ports: list[int]) -> None:
        self.conns = [Conn(ports[i % len(ports)]) for i in range(self.ctx.nproc)]

    def close(self) -> None:
        for c in self.conns:
            c.close()

    def execute(self, conn: Conn, op: tuple, phase: str) -> bool:
        """Run one op; True when its answer matched the model (scan
        pages are checked after the run)."""
        m = self.model
        kind = op[0]
        if kind == "put":
            with self.write_lock:
                g = m.preload + m.acked
                m.writing = True
                try:
                    cpu, wall = self.writer.write(m.batch(g))
                    m.acked += 1
                finally:
                    m.writing = False
                self.put_cost.append((phase, cpu, wall))
                self.puts.append(g)
            return True
        if kind == "get":
            _, s, depth, miss = op
            g = max(0, m.visible() - 1 - depth)
            k = f"s{s:02d}:{g * STEP + 5:010d}" if miss else key(s, g)
            status, body = conn.get(f"/get?key={k}")
            if miss:
                return status == 404
            return status == 200 and json.loads(body)["value"] == m.value(s, g)
        _, s, frac = op
        g = int(frac * m.visible())
        vis = m.visible()
        status, body = conn.get(f"/scan?from={key(s, g)}&limit={SCAN_LIMIT}")
        if status != 200:
            return False
        self.scans.append((s, g, vis, m.maybe_visible(),
                           json.loads(body)["rows"]))
        return True

    def _record(self, phase, op, due, sent, done, ok, err=None):
        self.records.append((phase, op[0], due, sent, done, ok))
        if err is not None and len(self.errors) < 5:
            self.errors.append(f"{op[0]}: {err!r}")

    def open_loop(self, phase: str, rate: float, n: int) -> None:
        ops = OpStream(self.ctx.seed, phase, self.model.series, self.model.preload)
        counter = itertools.count()
        t0 = time.perf_counter() + 0.05

        def worker(conn):
            while True:
                i = next(counter)
                if i >= n:
                    return
                op = ops.next()
                due = t0 + i / rate
                delay = due - time.perf_counter()
                if delay > 0:
                    time.sleep(delay)
                sent = time.perf_counter()
                try:
                    ok, err = self.execute(conn, op, phase), None
                except Exception as e:  # counted as a failed operation
                    ok, err = False, e
                self._record(phase, op, due, sent, time.perf_counter(), ok, err)

        self._run_workers(worker)

    def closed_loop(self, phase: str, duration: float) -> float:
        ops = OpStream(self.ctx.seed, phase, self.model.series, self.model.preload)
        stop = time.perf_counter() + duration
        done = [0]
        lock = threading.Lock()

        def worker(conn):
            while time.perf_counter() < stop:
                op = ops.next()
                sent = time.perf_counter()
                try:
                    ok, err = self.execute(conn, op, phase), None
                except Exception as e:  # counted as a failed operation
                    ok, err = False, e
                self._record(phase, op, sent, sent, time.perf_counter(), ok, err)
                with lock:
                    done[0] += 1

        t0 = time.perf_counter()
        self._run_workers(worker)
        return done[0] / (time.perf_counter() - t0)

    def _run_workers(self, worker) -> None:
        threads = [threading.Thread(target=worker, args=(c,)) for c in self.conns]
        for t in threads:
            t.start()
        for t in threads:
            t.join()


def check_scan(m: Model, s: int, g: int, vis: int, maybe: int, rows: list) -> bool:
    """A page from (s, g) must list, in key order, every timestamp
    below ``vis`` (acknowledged before the request was sent), may list
    timestamps below ``maybe`` (writes in flight meanwhile) and nothing
    else, each with its model value."""
    def required_between(a, b):
        # any required position strictly between positions a and b?
        (sa, ga), (sb, gb) = a, b
        if sa == sb:
            return ga + 1 < min(gb, vis)
        if ga + 1 < vis:
            return True
        if sb - sa > 1 and vis > 0:
            return True
        return min(gb, vis) > 0

    prev = (s, g - 1)
    for k, v in rows:
        sid, _, ts = k.partition(":")
        pos = (int(sid[1:]), int(ts) // STEP)
        if pos <= prev or int(ts) % STEP or pos[1] >= maybe \
                or pos[0] >= m.series or v != m.value(*pos):
            return False
        if required_between(prev, pos):
            return False
        prev = pos
    if len(rows) < SCAN_LIMIT:
        return not required_between(prev, (m.series, 0))
    return True


class Fleet:
    """The ``nproc/2`` serving processes, one port each, and the writing
    process of one phase, all on the same store."""

    def __init__(self, ctx: Ctx, store_dir: str, trace: bool, tag: str):
        n = max(1, ctx.nproc // 2)
        here = os.path.dirname(os.path.abspath(__file__))
        self.procs, self.traces, self.ports = [], [], []
        self.start_cpu_s = 0.0  # CPU seconds the processes took to start
        for i, script in enumerate(["kvserver.py"] * n + ["kvwriter.py"]):
            self.traces.append(ctx.path("trace", f"{script[:-3]}-{tag}-{i}.json"))
            self.procs.append(subprocess.Popen(
                [sys.executable, os.path.join(here, script), store_dir,
                 "1" if trace else "0", self.traces[-1]],
                stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True))
        for p in self.procs:
            line = p.stdout.readline()
            if not line.startswith("READY"):
                self.stop()
                raise RuntimeError(f"{p.args[1]} did not start: {line!r}")
            *port, cpu = line.split()[1:]
            self.ports += [int(x) for x in port]
            self.start_cpu_s += float(cpu)
        self.server_pids = [p.pid for p in self.procs[:-1]]
        self.writer = Writer(self.procs[-1])

    def stop(self) -> None:
        for p in self.procs:
            try:
                p.stdin.close()
            except OSError:
                pass
        for p in self.procs:
            try:
                p.wait(timeout=30)
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait(timeout=30)
            p.stdout.close()


def preload(store_dir: str, model: Model) -> None:
    from quasdb_spark.store import KVStore

    KVStore.create(None, store_dir)
    st = KVStore.open_embedded(store_dir, auto_compact=False)
    per = max(1, WRITE_MAX_ROWS // model.series)
    for g0 in range(0, model.preload, per):
        st.write_batch([op for g in range(g0, min(model.preload, g0 + per))
                        for op in model.batch(g)], sync=True)
    st.compact()
    st.vacuum(0.0)


def server_layers(spans: list, counts) -> dict:
    ly = Layers(spans)
    hits, misses = counts["footer_cache.hits"], counts["footer_cache.misses"]
    requests = max(1, ly.calls("server.handle_request"))
    return {
        "store.files_per_get": counts["store.file_open@store.get"] / max(1, ly.calls("store.get")),
        "store.files_per_scan": counts["store.file_open@store.scan_rows"]
        / max(1, ly.calls("store.scan_rows")),
        "store.live_dirs_mean": counts["manifest.live_dirs_sum"]
        / max(1, counts["manifest.live_dirs_n"]),
        "store.footer_cache_hit_ratio": hits / max(1, hits + misses),
        "store.get_ms": ly.mean("store.get") * 1e3,
        "store.scan_rows_ms": ly.mean("store.scan_rows") * 1e3,
        "manifest.current_ms": ly.mean("manifest.current") * 1e3,
        "manifest.current_per_op": ly.calls("manifest.current") / requests,
        "httpparse.parse_us": ly.mean("httpparse.parse", "self_s") * 1e6,
        "server.route_us": ly.mean("server.handle_request", "self_s") * 1e6,
        "server.reply_bytes": counts["server.reply_bytes"] / requests,
    }


def run(ctx: Ctx) -> None:
    series, pre = (16, 64) if ctx.smoke else (64, 512)
    warm_s, closed_s = 1.0, 0.2 * ctx.seconds
    n_open = max(1, int(RATE * 0.8 * ctx.seconds) // OPEN_QUANTUM) * OPEN_QUANTUM
    ctx.report.update({"rate_per_s": RATE, "open_requests": n_open,
                       "connections": ctx.nproc,
                       "server_processes": max(1, ctx.nproc // 2),
                       "flush": "sync=True", "series": series,
                       "preload_rows": series * pre,
                       "loop": "open (fixed rate and count, due-time latency) then closed"})

    # set-up: preload a fresh store and bring the servers and the
    # writer up, three times, each timed in CPU seconds of this
    # process and the new ones (and in wall seconds, for the report);
    # the last one is measured
    setups, walls, fleet = [], [], None
    try:
        for i in range(3):
            if fleet is not None:
                fleet.stop()
                fleet = None
                shutil.rmtree(store_dir)
            store_dir = ctx.path(f"store-{i}", "")
            model = Model(ctx.seed, series, pre)
            t0, c0 = time.perf_counter(), time.process_time()
            preload(store_dir, model)
            cpu = time.process_time() - c0
            fleet = Fleet(ctx, store_dir, False, f"setup{i}")
            setups.append(cpu + fleet.start_cpu_s)
            walls.append(time.perf_counter() - t0)
        ctx.report.update({"setup_s": median(setups), "setup_wall_s": median(walls)})

        gen = Generator(ctx, model, fleet.ports, fleet.writer)
        try:
            gen.closed_loop("warmup", warm_s)
            c0 = cpu_s(fleet.server_pids)
            gen.open_loop("open", RATE, n_open)
            c1 = cpu_s(fleet.server_pids)
            tput = gen.closed_loop("closed", closed_s)
            c2 = cpu_s(fleet.server_pids)
            if ctx.trace:
                gen.close()
                fleet.stop()
                fleet = None
                fleet = Fleet(ctx, store_dir, True, "traced")
                gen.writer = fleet.writer
                gen.connect(fleet.ports)
                gen.closed_loop("warmup-traced", warm_s)
                gen.open_loop("open-traced", RATE, n_open)
                tput_traced = gen.closed_loop("closed-traced", closed_s)
                traces = fleet.traces
            ctx.report["rss_mb_by_process"] = rss_by_process()
        finally:
            gen.close()
    finally:
        if fleet is not None:
            fleet.stop()

    # correctness, outside the timed phases
    ok = sum(1 for r in gen.records if r[5])
    ctx.check("responses", len(gen.records), len(gen.records) - ok)
    bad_scans = sum(1 for sc in gen.scans if not check_scan(model, *sc))
    ctx.check("scan_pages", len(gen.scans), bad_scans)
    from quasdb_spark.store import KVStore

    fresh = KVStore.open_embedded(store_dir, auto_compact=False)
    lost = 0
    for g in gen.puts:
        want = {k: v for _, k, v in model.batch(g)}
        got = fresh.multi_get(list(want))
        lost += got != want
    ctx.check("durability", len(gen.puts), lost)
    if gen.errors:
        ctx.report["errors"] = gen.errors

    def lat(phase, kind=None):
        return [(r[4] - r[2]) * 1e3 for r in gen.records
                if r[0] == phase and (kind is None or r[1] == kind)]

    for kind in ("get", "scan", "put"):
        xs = lat("open", kind) or [0.0]
        ctx.report[f"{kind}_p50_ms"] = percentile(xs, 50)
        ctx.report[f"{kind}_p99_ms"] = percentile(xs, 99)
        ctx.report[f"{kind}_samples"] = len(lat("open", kind))
    allx = lat("open")

    def reads(phase):
        return sum(1 for r in gen.records if r[0] == phase and r[1] != "put")

    # CPU per operation of the processes doing the work: the servers'
    # over every read of the open and closed loops, the writer's over
    # the open loop's write batches, six whole compaction cycles
    read_cpu_ms = (c2 - c0) * 1e3 / (reads("open") + reads("closed"))
    puts = [(c, w) for ph, c, w in gen.put_cost if ph == "open"]
    write_cpu_ms = sum(c for c, _ in puts) * 1e3 / len(puts)
    late = [(r[3] - r[2]) * 1e3 for r in gen.records if r[0] == "open"]
    tail = tail_percentile(len(allx))
    ctx.report.update({
        "serve_ops_per_s": tput,
        "open_read_cpu_ms": (c1 - c0) * 1e3 / reads("open"),
        "closed_read_cpu_ms": (c2 - c1) * 1e3 / max(1, reads("closed")),
        "write_batch_wall_p50_ms": percentile([w for _, w in puts], 50) * 1e3,
        "write_batch_wall_mean_ms": sum(w for _, w in puts) * 1e3 / len(puts),
        "open_late_p99_ms": percentile(late, 99),
        "space_amp": du_bytes(store_dir) / model.live_bytes(),
        "store_rows_end": series * model.visible(),
        "live_dirs_end": len(fresh.manifest.current().files),
        "write_batches": len(gen.puts),
        "open_write_batches": len(puts),
        "request_p50_ms": percentile(allx, 50),
        "request_tail_ms": percentile(allx, tail),
        "request_tail_percentile": tail,
    })
    ctx.e2e = {"read_cpu_ms": read_cpu_ms, "write_cpu_ms": write_cpu_ms}

    if ctx.trace:
        spans, counts = merge_dumps(traces[:-1])
        ctx.layers.update(server_layers(spans, counts))
        w_spans, w_counts = merge_dumps(traces[-1:])
        ctx.layers.update(write_layers(w_spans, w_counts))
        ctx.layers["trace.overhead_ratio"] = tput / tput_traced
        counts.update(w_counts)
        ctx.trace_data = (spans + w_spans, counts)
