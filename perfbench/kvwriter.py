"""The writing process of the kv_serve workload.

Usage: python perfbench/kvwriter.py <store_dir> <trace 0|1> <trace_out>

Opens its own embedded handle on the store (auto-compaction on),
prints ``READY <cpu_s>`` (the CPU seconds its start took) and then,
for every line on stdin (a JSON list of ``[op, key, value]``
triples), makes one ``write_batch(ops, sync=True)`` and answers
``OK <cpu_s> <wall_s>``: the CPU seconds of this whole process
(pyarrow's threads included) and the wall seconds the write batch
took, auto-compaction included. Running the writes in a process of
their own keeps the load generator's and the servers' CPU out of the
write figures. With tracing on, spans and counts of the write path are
written to <trace_out> when stdin closes.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from quasdb_spark.store import KVStore  # noqa: E402

from harness import instrument_writes  # noqa: E402
from spans import Tracer  # noqa: E402


def main() -> None:
    store_dir, trace_on, trace_out = sys.argv[1], sys.argv[2] == "1", sys.argv[3]
    tracer = Tracer(os.path.basename(trace_out))
    if trace_on:
        instrument_writes(tracer)
    store = KVStore.open_embedded(store_dir)
    print(f"READY {time.process_time():.9f}", flush=True)
    for line in sys.stdin:
        ops = [tuple(op) for op in json.loads(line)]
        c0, t0 = time.process_time(), time.perf_counter()
        store.write_batch(ops, sync=True)
        wall = time.perf_counter() - t0
        print(f"OK {time.process_time() - c0:.9f} {wall:.9f}", flush=True)
    if trace_on:
        tracer.restore()
        tracer.dump(trace_out)


if __name__ == "__main__":
    main()
