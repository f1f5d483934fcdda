"""One serving process for the kv_serve workload.

Usage: python perfbench/kvserver.py <store_dir> <trace 0|1> <trace_out>

Opens its own embedded (Spark-free) handle on the store, serves it
with ``RawStoreServer`` on an ephemeral localhost port, prints
``READY <port> <cpu_s>`` (the CPU seconds its start took) and serves
until its stdin closes. With tracing on, spans are recorded around
the parser, the router, the store reads and the manifest reads; on
exit they are written to <trace_out> together with the footer-cache
counters.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from quasdb_spark import server as server_mod  # noqa: E402
from quasdb_spark import store as store_mod  # noqa: E402
from quasdb_spark.httpparse import RequestParser  # noqa: E402
from quasdb_spark.manifest import Manifest  # noqa: E402

from spans import Tracer  # noqa: E402


def instrument(tracer: Tracer) -> None:
    def reply_bytes(t, args, kwargs, out, exc):
        if exc is None:
            t.counts["server.reply_bytes"] += out[3]

    def live_dirs(t, args, kwargs, ver, exc):
        if exc is None:
            t.counts["manifest.live_dirs_sum"] += len(ver.files)
            t.counts["manifest.live_dirs_n"] += 1

    tracer.wrap(RequestParser, "feed", "httpparse.parse")
    tracer.wrap(server_mod, "handle_request", "server.handle_request",
                hook=reply_bytes)
    tracer.wrap(store_mod.KVStore, "get", "store.get")
    tracer.wrap(store_mod.KVStore, "scan_rows", "store.scan_rows")
    tracer.wrap(Manifest, "current", "manifest.current", hook=live_dirs)
    tracer.count_calls(store_mod._FooterCache, "open", "store.file_open")


def main() -> None:
    store_dir, trace_on, trace_out = sys.argv[1], sys.argv[2] == "1", sys.argv[3]
    tracer = Tracer(os.path.basename(trace_out))
    if trace_on:
        instrument(tracer)
    store = store_mod.KVStore.open_embedded(store_dir, auto_compact=False)
    srv = server_mod.RawStoreServer(store=store, host="127.0.0.1", port=0)
    srv.start()
    print(f"READY {srv.port} {time.process_time():.9f}", flush=True)
    try:
        sys.stdin.read()
    finally:
        srv.stop()
        if trace_on:
            tracer.restore()
            fc = store_mod._FOOTER_CACHE
            tracer.counts["footer_cache.hits"] += fc.hits
            tracer.counts["footer_cache.misses"] += fc.misses
            tracer.dump(trace_out)


if __name__ == "__main__":
    main()
