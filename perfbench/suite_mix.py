"""The query phase of the spark_mix workload.

Ten suite queries run in a seeded order over tables generated from
the seed (perfbench/tables.py): the job-bound families (connected
components, IVF-PQ, MinHash) beside scan- and shuffle-bound relational
and time-series queries. ``emb_semdedup`` is left out: its DuckDB
oracle alone takes ~55 s at this size on a 4-core host, more than a
whole run may spend, and a query whose answer is not checked has no
place here. ``text_bm25_search`` is left out too: its result disagrees
with its DuckDB oracle on about one seed in ten (a per-doc sum of
integer micros that is exactly half-way, such as 1235750, rounds to
four places half-up in Spark and as a binary double, down, in DuckDB),
so ``text_tfidf_topk`` stands for the text family. The first pass is
cold for every query-specific code path and builds the IVF/PQ
artifacts in a fresh artifact dir. A query's time covers its builder
call and the ``collect()`` of its result; every result is compared
with the query's DuckDB oracle outside the timed region. The traced run adds an untraced and a traced warm pass.
"""

from __future__ import annotations

import datetime as dt
import math
import random
import time

from harness import Ctx, cpu_s
from metrics import FAMILIES
from spans import COUNTER_KEYS, Tracer
from tables import write_tables

# query -> family (the module whose operators the query exercises)
QUERIES = {
    "ts_sliding_1h_15m": "timeseries",
    "ts_asof_join": "timeseries",
    "rel_region_revenue": "rel",
    "rel_market_share": "rel",
    "text_tfidf_topk": "text",
    "dedup_minhash_pairs": "dedup",
    "dedup_clusters_cc": "dedup",
    "sim_ivfpq_topk": "similarity",
    "sim_cosine_topk_blocked": "similarity",
    "doc_token_packing": "packing",
}
ARTIFACT_BUILDERS = ("get_or_train", "get_or_build_lists",
                     "get_or_train_pq", "get_or_build_codes_array")


def _cell(v):
    if v is None:
        return "None"
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(v)
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    return str(v)


def normalize(cols: list[str], rows: list) -> tuple:
    """Column-name-ordered, row-order-insensitive form of a result."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return (sorted(cols),
            sorted(tuple(_cell(r[i]) for i in order) for r in rows))


def oracle_results(table_dir: str) -> dict:
    import os

    import duckdb

    from quasdb_spark import suite

    con = duckdb.connect()
    try:
        for f in sorted(os.listdir(table_dir)):
            name = f.rsplit(".", 1)[0]
            con.sql(f"CREATE VIEW {name} AS FROM '{os.path.join(table_dir, f)}'")
        out = {}
        for q in QUERIES:
            rel = con.sql(suite.ORACLES[q])
            out[q] = normalize(list(rel.columns), rel.fetchall())
        return out
    finally:
        con.close()


class QueryMix:
    """The query phase of spark_mix, on one Spark session."""

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.scale = 0.1 if ctx.smoke else 1.0
        self.order = list(QUERIES)
        random.Random(ctx.seed).shuffle(self.order)
        self.results: list[tuple] = []  # (pass, query, normalized result)
        ctx.report.update({"queries": self.order,
                           "table_scale_vs_sf0.01": self.scale})

    def set_up(self, i: int) -> None:
        """One set-up round: generate the tables."""
        self.dir = self.ctx.path(f"tables-{i}", "")
        self.ctx.report["table_rows"] = write_tables(self.dir, self.ctx.seed, self.scale)

    def one_pass(self, spark, label: str, call) -> dict:
        """Run every query once; returns query -> (build_s, total_s)."""
        from quasdb_spark import suite

        out = {}
        for q in self.order:
            fam = QUERIES[q]
            t0 = time.perf_counter()
            df = call(f"{label}:{fam}.build", lambda: suite.QUERIES[q](spark, self.dir))
            t1 = time.perf_counter()
            rows = call(f"{label}:{fam}.exec", df.collect)
            t2 = time.perf_counter()
            out[q] = (t1 - t0, t2 - t0)
            self.results.append((label, q, normalize(df.columns, rows)))
        return out

    def run(self, spark, call, traced: bool) -> None:
        """The cold pass, traced when tracing; with tracing, an
        untraced and a traced warm pass follow."""
        def plain(group, fn):
            return fn()

        c0 = cpu_s()
        self.cold = self.one_pass(spark, "cold", call)
        self.cold_cpu_s = cpu_s() - c0
        self.untraced_warm = None
        if traced:
            self.untraced_warm = self.one_pass(spark, "warm-untraced", plain)
            self.traced_warm = self.one_pass(spark, "warm-traced", call)

    def verify(self) -> None:
        """Every run of every query against its DuckDB oracle."""
        want = oracle_results(self.dir)
        bad = [f"{p}:{q}" for p, q, got in self.results if got != want[q]]
        self.ctx.check("oracle", len(self.results), len(bad))
        if bad:
            self.ctx.report["wrong"] = bad[:20]

    def report(self) -> None:
        cold, warm = self.cold, self.untraced_warm
        self.ctx.report.update({
            "suite_cold_s": sum(v[1] for v in cold.values()),
            "cpu_ms_per_query": self.cold_cpu_s * 1e3 / len(self.order),
            "cold_build_s": sum(v[0] for v in cold.values()),
            "per_query_cold_s": {q: cold[q][1] for q in self.order},
        })
        if warm is not None:
            self.ctx.report.update({
                "suite_warm_s": sum(v[1] for v in warm.values()),
                "per_query_warm_s": {q: warm[q][1] for q in self.order},
            })


def artifact_seconds(spans: list) -> float:
    """Time inside artifact builders, outermost calls only."""
    art = {s[0] for s in spans if s[3] == "suite.artifacts"}
    return sum(s[5] - s[4] for s in spans
               if s[3] == "suite.artifacts" and s[1] not in art)


def family_layers(tr: Tracer, sc: dict) -> dict:
    """Build metrics from the cold pass, execution metrics from the
    traced warm pass, per query family."""
    span_s: dict[str, float] = {}
    for s in tr.spans:
        span_s[s[3]] = span_s.get(s[3], 0.0) + (s[5] - s[4])
    zero = dict.fromkeys(COUNTER_KEYS, 0)
    out = {}
    for fam in FAMILIES:
        b = sc.get(f"cold:{fam}.build", zero)
        e = sc.get(f"warm-traced:{fam}.exec", zero)
        out.update({
            f"{fam}.build_s": span_s.get(f"cold:{fam}.build", 0.0),
            f"{fam}.build_jobs": b["jobs"],
            f"{fam}.exec_s": span_s.get(f"warm-traced:{fam}.exec", 0.0),
            f"{fam}.exec_jobs": e["jobs"],
            f"{fam}.exec_stages": e["stages"],
            f"{fam}.exec_tasks": e["tasks"],
            f"{fam}.exec_shuffle_bytes": e["shuffle_bytes"],
            f"{fam}.exec_spill_bytes": e["spill_bytes"],
            f"{fam}.exec_executor_run_s": e["run_ms"] / 1e3,
            f"{fam}.exec_gc_s": e["gc_ms"] / 1e3,
        })
    return out
