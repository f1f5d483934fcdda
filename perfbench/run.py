#!/usr/bin/env python3
"""The repository benchmark: one command, two workloads.

    python3 perfbench/run.py --workload kv_serve --seed 1 --seconds 10 --trace 0

Workloads (see README.md for the rationale and sizes):
  kv_serve   embedded store behind the HTTP server, open + closed loop
  spark_mix  Spark-attached engine: the time-series store lifecycle
             (ingest, reads, compaction, retention), then ten analytics
             queries over seeded tables, cold and warm

Run from the root of a checkout. Every file the run makes lives under
``.perfbench/runs/<run id>/`` and is deleted when the run ends; with
``--trace 1`` the spans are kept in ``.perfbench/trace-<workload>.json``.

Standard output ends with two JSON lines: the full report (every
measured quantity with its workload-specific name, the correctness
checks, host load and data sizes), then the result line
``{"correct", "attempted", "failed", "metrics"}`` whose metrics are the
end-to-end set (``--trace 0``) or the per-layer set (``--trace 1``).
``--smoke`` runs tiny sizes for the benchmark's own test.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("kv_serve", "spark_mix")


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny sizes, for the benchmark's own test")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "quasdb_spark", "__init__.py")):
        print("perfbench: no quasdb_spark package beside perfbench/; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    nproc = len(os.sched_getaffinity(0))
    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    out_dir = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(out_dir, "runs", run_id)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    # every temp file, artifact and Spark scratch file of the run (and
    # of its child processes) lands in the run dir
    os.environ.update({
        "TMPDIR": tmp,
        "QUASDB_ARTIFACT_DIR": os.path.join(run_dir, "artifacts"),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "SPARK_GRAFT_CPUS": str(nproc),
        # every JVM the run starts (the Spark launcher too): temp files
        # in the run dir, no hsperfdata file in the system temp dir
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYTHONPATH": os.pathsep.join(
            [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
    })
    tempfile.tempdir = None
    sys.path[:0] = [ROOT, HERE]

    import harness
    import metrics
    import spans

    ctx = harness.Ctx(workload=args.workload, seed=args.seed,
                      seconds=args.seconds, trace=bool(args.trace),
                      smoke=args.smoke, nproc=nproc, run_dir=run_dir,
                      run_id=run_id)
    load_start = harness.loadavg()
    try:
        importlib.import_module(args.workload).run(ctx)
        if ctx.trace_data is not None:
            spans.write_trace(os.path.join(out_dir, f"trace-{args.workload}.json"),
                              run_id, *ctx.trace_data)
    finally:
        harness.wait_children()
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass

    ctx.e2e["setup_s"] = ctx.report["setup_s"]
    ctx.report["peak_rss_mb"] = sum(ctx.report["rss_mb_by_process"].values())
    if ctx.trace:
        chosen = {n: (ctx.layers.get(n, 0.0), u)
                  for n, u in metrics.PER_LAYER.items()}
    else:
        chosen = {n: (ctx.e2e[n], u) for n, u in metrics.END_TO_END.items()}
    ctx.report["failed_ratio"] = ctx.failed / max(1, ctx.attempted)
    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "smoke": args.smoke, "nproc": nproc,
        "loadavg_start": load_start, "loadavg_end": harness.loadavg(),
        "end_to_end": ctx.e2e, "report": ctx.report, "checks": ctx.checks,
        "layers": ctx.layers if ctx.trace else {},
    }
    print(json.dumps(report, default=float))
    print(json.dumps({
        "correct": ctx.failed == 0 and all(c["attempted"] > 0 for c in ctx.checks.values()),
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {n: {"value": float(v), "unit": u} for n, (v, u) in chosen.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
