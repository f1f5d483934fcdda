"""spark_mix: the Spark-attached engine, one session, two phases.

1. The time-series store lifecycle (ts_lsm.py): ``ingest_df`` batches
   with late corrections and deletes, reads before and after
   ``compact()`` and a ``drop_before`` retention pass.
2. The query mix (suite_mix.py): ten suite queries over seeded tables,
   one pass, cold for every query-specific code path and artifact.

Both phases share the session start and the JIT warm-up (paid by the
first store operations), which is what lets them fit one run.
End-to-end: ``setup_s`` is the CPU seconds of the session start plus
the median of three set-up rounds, ``read_cpu_ms`` the CPU per query
of the query pass, ``write_cpu_ms`` the CPU per ingest batch carried
through the store lifecycle, all summed over every process of the run.
"""

from __future__ import annotations

import time
from statistics import median

import suite_mix
import ts_lsm
from harness import (Ctx, cpu_s, instrument_writes, rss_by_process, start_spark,
                     stop_spark)
from spans import JobGroups, Tracer, spark_counters


def run(ctx: Ctx) -> None:
    lifecycle = ts_lsm.Lifecycle(ctx)
    mix = suite_mix.QueryMix(ctx)
    ctx.report["loop"] = "closed, one caller"

    t0, c0 = time.perf_counter(), cpu_s()
    spark = start_spark(ctx, "perfbench-spark_mix")
    session_s, session_cpu_s = time.perf_counter() - t0, cpu_s() - c0
    tr = Tracer(ctx.run_id) if ctx.trace else None
    jobs = JobGroups(spark) if ctx.trace else None

    def call(group, fn):
        if tr is None:
            return fn()
        with tr.span(group):
            return jobs.run(group, fn)

    try:
        # set-up, three times (the last is used): generate the tables
        # and the store inputs, create the store; timed in CPU seconds
        # of every process (and in wall seconds, for the report)
        preps, walls = [], []
        for i in range(3):
            t0, c0 = time.perf_counter(), cpu_s()
            mix.set_up(i)
            lifecycle.set_up(spark, i)
            preps.append(cpu_s() - c0)
            walls.append(time.perf_counter() - t0)
        ctx.report.update({"setup_s": session_cpu_s + median(preps),
                           "setup_wall_s": session_s + median(walls),
                           "session_start_s": session_s,
                           "session_start_cpu_s": session_cpu_s})
        if tr is not None:
            from quasdb_spark.operators import quantizer

            instrument_writes(tr)
            # bulk ingests bypass write_batch, whose hook counts the
            # delete batches
            tr.counts["user_bytes"] += lifecycle.ingest_user_bytes()
            for name in suite_mix.ARTIFACT_BUILDERS:
                tr.wrap(quantizer, name, "suite.artifacts")
        try:
            lifecycle.run(spark, call, traced=tr is not None)
            mix.run(spark, call, traced=tr is not None)
        finally:
            if tr is not None:
                tr.restore()
        lifecycle.verify()
        ctx.report["rss_mb_by_process"] = rss_by_process()
    finally:
        stop_spark(spark)
    mix.verify()

    lifecycle.report()
    mix.report()
    ctx.e2e = {"read_cpu_ms": mix.cold_cpu_s * 1e3 / len(mix.order),
               "write_cpu_ms": lifecycle.cpu_per_batch() * 1e3}
    if tr is not None:
        sc = spark_counters(ctx.path("eventlog", ""))
        ctx.layers.update(ts_lsm.layers(tr, sc))
        ctx.layers.update(suite_mix.family_layers(tr, sc))
        ctx.layers["session.start_s"] = session_s
        ctx.layers["suite.artifacts_s"] = suite_mix.artifact_seconds(tr.spans)
        traced = lifecycle.t["read_before"] + sum(v[1] for v in mix.traced_warm.values())
        untraced = lifecycle.t["untraced_ref"] + sum(v[1] for v in mix.untraced_warm.values())
        ctx.layers["trace.overhead_ratio"] = traced / untraced
        ctx.trace_data = (tr.spans, tr.counts)
