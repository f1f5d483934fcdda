"""The time-series store phase of the spark_mix workload.

A ``TSStore`` takes seeded ``ingest_df`` batches. Each batch adds the
next window of points of every series; every batch after the first
also carries late corrections, a fifth as many rows, that overwrite
earlier points. After each batch a small ``sync=True`` write batch
deletes about 1% of the live points.
A snapshot is taken after the first batch. The same read pass, range
``points`` of several series, an as-of ``downsample`` and an as-of
``state`` checksum, is timed before and after ``compact()`` plus a
``drop_before`` retention pass. Every read is checked against a replay
of the generated batches.
"""

from __future__ import annotations

import datetime as dt
import os
import time
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from harness import Ctx, cpu_s, du_bytes, percentile, write_layers
from spans import COUNTER_KEYS, Layers, Tracer

BASE = dt.datetime(2024, 1, 1)
BASE_US = (BASE - dt.datetime(1970, 1, 1)) // dt.timedelta(microseconds=1)
STEP_S = 60
CORRECTIONS = 0.20
DELETES = 0.01
SNAPSHOT_AFTER = 1
BUCKET = "1 hour"


def sid(s: int) -> str:
    return f"s{s:02d}"


def ts_of(g: int) -> dt.datetime:
    return BASE + dt.timedelta(seconds=g * STEP_S)


class Plan:
    """The generated batches and the replayed store contents."""

    def __init__(self, seed: int, series: int, window: int, batches: int):
        self.series, self.window, self.batches = series, window, batches
        rng = np.random.default_rng(seed)
        self.ingest: list[tuple] = []   # (series, grid, value) arrays per batch
        self.deletes: list[list] = []   # [(s, g)] per batch
        live: dict[tuple, float] = {}
        self.after: list[dict] = []     # live map after each batch
        for b in range(batches):
            s_new = np.repeat(np.arange(series), window)
            g_new = np.tile(np.arange(b * window, (b + 1) * window), series)
            n_fix = int(CORRECTIONS * series * window) if b else 0
            flat = rng.choice(series * b * window, n_fix, replace=False) if b else []
            s_fix = np.asarray(flat, dtype=int) // (b * window) if b else np.array([], int)
            g_fix = np.asarray(flat, dtype=int) % (b * window) if b else np.array([], int)
            s_all = np.concatenate([s_new, s_fix]).astype(int)
            g_all = np.concatenate([g_new, g_fix]).astype(int)
            vals = np.round(rng.uniform(0.0, 100.0, len(s_all)), 3)
            self.ingest.append((s_all, g_all, vals))
            for s, g, v in zip(s_all.tolist(), g_all.tolist(), vals.tolist()):
                live[(s, g)] = v
            keys = sorted(live)
            pick = rng.choice(len(keys), max(1, int(DELETES * len(keys))), replace=False)
            dels = [keys[i] for i in sorted(pick.tolist())]
            for k in dels:
                del live[k]
            self.deletes.append(dels)
            self.after.append(dict(live))

    def write_files(self, out_dir: str) -> list[str]:
        paths = []
        for b, (s_all, g_all, vals) in enumerate(self.ingest):
            t = pa.table({
                "series_id": [sid(s) for s in s_all.tolist()],
                "ts": pa.array(g_all * STEP_S * 1_000_000 + BASE_US,
                               pa.timestamp("us")),
                "value": vals})
            p = os.path.join(out_dir, f"batch-{b}.parquet")
            pq.write_table(t, p)
            paths.append(p)
        return paths


def checksum(live: dict) -> tuple[int, int, int]:
    from quasdb_spark.tsstore import encode_key

    keys = [encode_key(sid(s), ts_of(g)) for s, g in live]
    return (len(live), sum(int(round(v * 1000)) for v in live.values()),
            sum(zlib.crc32(k.encode()) for k in keys))


def downsample_model(live: dict) -> dict:
    out: dict[tuple, list] = {}
    for (s, g), v in live.items():
        out.setdefault((sid(s), g * STEP_S // 3600), []).append(v)
    return {k: (len(vs), min(vs), max(vs), sum(vs) / len(vs)) for k, vs in out.items()}


class Reads:
    """One read pass: range points of several series, an as-of
    downsample and an as-of state checksum, each timed and checked."""

    def __init__(self, ctx: Ctx, ts, plan: Plan, queries: list[tuple]):
        self.ctx, self.ts, self.plan, self.queries = ctx, ts, plan, queries
        self.times: list[float] = []

    def run(self, label: str, live: dict, snap: int, snap_live: dict,
            call=None) -> float:
        from pyspark.sql import functions as F

        call = call or (lambda group, fn: fn())
        ts = self.ts
        results = []
        t_pass = 0.0
        for s, g0, g1 in self.queries:
            t0 = time.perf_counter()
            rows = call("tsstore.points", lambda: ts.points(
                sid(s), t0=ts_of(g0), t1=ts_of(g1)).collect())
            t_pass += self._t(t0)
            results.append(("points", (s, g0, g1), rows))
        t0 = time.perf_counter()
        rows = call("tsstore.downsample",
                    lambda: ts.downsample(BUCKET, asof=snap).collect())
        t_pass += self._t(t0)
        results.append(("downsample", None, rows))
        t0 = time.perf_counter()
        agg = call("store.state_asof", lambda: ts.store.state(asof=snap).agg(
            F.count(F.lit(1)),
            F.sum(F.round(F.col("v") * 1000).cast("long")),
            F.sum(F.crc32(F.col("key")))).collect()[0])
        t_pass += self._t(t0)
        results.append(("state", None, tuple(x or 0 for x in agg)))
        self._check(label, results, live, snap_live)
        return t_pass

    def _t(self, t0: float) -> float:
        dt_ = time.perf_counter() - t0
        self.times.append(dt_)
        return dt_

    def _check(self, label, results, live, snap_live) -> None:
        bad = 0
        for kind, arg, rows in results:
            if kind == "points":
                s, g0, g1 = arg
                want = sorted((g, v) for (ss, g), v in live.items()
                              if ss == s and g0 <= g < g1)
                got = sorted(((r["ts"] - BASE) // dt.timedelta(seconds=STEP_S), r["value"])
                             for r in rows if r["series_id"] == sid(s))
                bad += got != want or len(rows) != len(want)
            elif kind == "downsample":
                want = downsample_model(snap_live)
                got = {(r["series_id"], int((r["window_start"] - BASE).total_seconds()) // 3600):
                       (r["n"], r["min_value"], r["max_value"], r["avg_value"]) for r in rows}
                ok = set(got) == set(want) and len(rows) == len(want) and all(
                    got[k][:3] == want[k][:3]
                    and abs(got[k][3] - want[k][3]) <= 1e-9 * max(1.0, abs(want[k][3]))
                    for k in want)
                bad += not ok
            else:
                bad += rows != checksum(snap_live)
        self.ctx.check(f"ts_reads_{label}", len(results), bad)


class Lifecycle:
    """The time-series phase of spark_mix, on one Spark session."""

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        series, window, batches, n_points = (4, 60, 2, 2) if ctx.smoke else (16, 1000, 2, 3)
        self.snap_after = min(SNAPSHOT_AFTER, batches) - 1
        self.plan = Plan(ctx.seed, series, window, batches)
        rng = np.random.default_rng(ctx.seed + 1)
        horizon = batches * window
        self.queries = []
        for s in rng.choice(series, n_points, replace=n_points > series).tolist():
            g0 = int(rng.integers(0, horizon - window // 2))
            self.queries.append((int(s), g0, g0 + window // 2))
        # retention drops the older half of the first batch's window
        self.cutoff_g = window // 2
        self.rows_in = sum(len(x[0]) for x in self.plan.ingest)
        self.t: dict[str, float] = {}
        ctx.report.update({"ts_series": series, "ts_points_per_batch": series * window,
                           "ts_batches": batches, "ts_rows_ingested": self.rows_in,
                           "ts_corrections": CORRECTIONS, "ts_deletes": DELETES,
                           "flush": "sync=True"})

    def set_up(self, spark, i: int) -> None:
        """One set-up round: write the input files, create the store."""
        from quasdb_spark.tsstore import TSStore

        self.files = self.plan.write_files(self.ctx.path(f"ts-input-{i}", ""))
        self.ts = TSStore.create(spark, self.ctx.path(f"ts-store-{i}", ""))

    def ingest_user_bytes(self) -> int:
        """User data the bulk ingests write: a key and an 8-byte double
        per row."""
        from quasdb_spark.tsstore import encode_key

        return self.rows_in * (len(encode_key(sid(0), BASE)) + 8)

    def run(self, spark, call, traced: bool) -> None:
        from quasdb_spark.tsstore import encode_key

        ts, plan, t = self.ts, self.plan, self.t
        t0, c0 = time.perf_counter(), cpu_s()
        ingest_s, snap = 0.0, None
        self.put_times = []
        for b, path in enumerate(self.files):
            t1 = time.perf_counter()
            call("store.ingest", lambda: ts.ingest_df(spark.read.parquet(path)))
            ingest_s += time.perf_counter() - t1
            t1 = time.perf_counter()
            ts.store.write_batch([("del", encode_key(sid(s), ts_of(g)), None)
                                  for s, g in plan.deletes[b]], sync=True)
            self.put_times.append(time.perf_counter() - t1)
            if b == self.snap_after:
                snap = ts.snapshot("perfbench")
        live, snap_live = plan.after[-1], plan.after[self.snap_after]
        self.reads = Reads(self.ctx, ts, plan, self.queries)
        if traced:
            # untraced reference for the traced pass that follows; the
            # first of the two passes only warms the read paths
            t_ref, c_ref = time.perf_counter(), cpu_s()
            for _ in range(2):
                t["untraced_ref"] = Reads(self.ctx, ts, plan, self.queries).run(
                    "untraced", live, snap, snap_live)
            t0 += time.perf_counter() - t_ref
            c0 += cpu_s() - c_ref
        t["read_before"] = self.reads.run("before", live, snap, snap_live, call)
        t1 = time.perf_counter()
        call("tsstore.compact", ts.compact)
        t["compact"] = time.perf_counter() - t1
        t1 = time.perf_counter()
        call("tsstore.drop_before", lambda: ts.drop_before(ts_of(self.cutoff_g)))
        t["retention"] = time.perf_counter() - t1
        self.live = {k: v for k, v in live.items() if k[1] >= self.cutoff_g}
        snap_live = {k: v for k, v in snap_live.items() if k[1] >= self.cutoff_g}
        t["read_after"] = self.reads.run("after", self.live, snap, snap_live, call)
        t["ingest"] = ingest_s
        t["lifecycle"] = time.perf_counter() - t0
        t["lifecycle_cpu"] = cpu_s() - c0

    def verify(self) -> None:
        """Every write, the compaction and the retention pass, checked
        at once: the live state must equal the replayed model."""
        from pyspark.sql import functions as F

        from quasdb_spark.tsstore import encode_key

        final = self.ts.store.state().agg(
            F.count(F.lit(1)),
            F.sum(F.round(F.col("v") * 1000).cast("long")),
            F.sum(F.crc32(F.col("key")))).collect()[0]
        got = tuple(x or 0 for x in final)
        self.ctx.check("ts_final_state", 1, int(got != checksum(self.live)))
        self.store_bytes = du_bytes(self.ts.store.path)
        self.live_bytes = sum(len(encode_key(sid(s), ts_of(g))) + 8 for s, g in self.live)

    def cpu_per_batch(self) -> float:
        """CPU seconds per ingest batch carried through the whole
        lifecycle (ingest, deletes, reads, compaction, retention,
        reads), over every process of the run."""
        return self.t["lifecycle_cpu"] / len(self.files)

    def report(self) -> None:
        t, times = self.t, self.reads.times
        self.ctx.report.update({
            "ingest_rows_per_s": self.rows_in / t["ingest"],
            "ingest_s": t["ingest"],
            "store_read_s": t["read_before"] + t["read_after"],
            "store_read_before_s": t["read_before"],
            "store_read_after_s": t["read_after"],
            "compact_s": t["compact"],
            "retention_s": t["retention"],
            "ts_lifecycle_s": t["lifecycle"],
            "ts_rows_per_s": self.rows_in / t["lifecycle"],
            "ts_cpu_s_per_batch": self.cpu_per_batch(),
            "delete_batch_p50_ms": percentile(self.put_times, 50) * 1e3,
            "space_amp": self.store_bytes / self.live_bytes,
            "ts_read_calls": len(times),
            "ts_read_p50_ms": percentile(times, 50) * 1e3,
            "ts_read_max_ms": max(times) * 1e3,
        })


def layers(tr: Tracer, sc: dict) -> dict:
    """Store-phase metrics: the shared write path, then the Spark
    counters of each traced call group."""
    ly = Layers(tr.spans)
    zero = dict.fromkeys(COUNTER_KEYS, 0)
    ing, pts = sc.get("store.ingest", zero), sc.get("tsstore.points", zero)
    ds, st = sc.get("tsstore.downsample", zero), sc.get("store.state_asof", zero)
    comp = {k: sc.get("tsstore.compact", zero)[k] + sc.get("tsstore.drop_before", zero)[k]
            for k in COUNTER_KEYS}
    out = write_layers(tr.spans, tr.counts)
    out.update({
        "store.ingest_s": ly.total("store.ingest"),
        "store.ingest_jobs": ing["jobs"],
        "store.ingest_tasks": ing["tasks"],
        "store.compact_jobs": comp["jobs"],
        "store.compact_shuffle_bytes": comp["shuffle_bytes"],
        "store.compact_spill_bytes": comp["spill_bytes"],
        "tsstore.points_s": ly.total("tsstore.points"),
        "tsstore.points_jobs": pts["jobs"],
        "tsstore.points_input_bytes": pts["input_bytes"],
        "tsstore.downsample_s": ly.total("tsstore.downsample"),
        "tsstore.downsample_jobs": ds["jobs"],
        "tsstore.downsample_shuffle_bytes": ds["shuffle_bytes"],
        "tsstore.downsample_spill_bytes": ds["spill_bytes"],
        "store.state_asof_s": ly.total("store.state_asof"),
        "store.state_asof_input_bytes": st["input_bytes"],
        "store.state_asof_shuffle_bytes": st["shuffle_bytes"],
    })
    return out
