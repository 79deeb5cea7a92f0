"""event_queries: one analyst issues the reference's §2A event queries
that carry DuckDB oracles, in a fixed order, over a seeded events
table.  Closed loop, one client: each query is built with
``plans.QUERIES[name](spark, dir)``, executed, and fetched as Arrow
(``collect()`` would add seconds of Python Row conversion on the
larger results and measure that instead of the engine).  A round is
PASSES_PER_ROUND passes over all the queries.  One untimed pass runs
first: the JVM compiles each query's plan shapes on it, and the first
pass is both the slowest and the least repeatable."""

from __future__ import annotations

import time

import checks
import gen
from run import p50, result
from tracing import _mean, catalog_timer, layer_metrics, op_spans, phases_ms

QUERY_NAMES = (
    "hourly_user_events", "hourly_distinct_users", "top_users",
    "top_users_by_type", "event_type_breakdown", "daily_revenue",
    "json_props_extract", "sessionize", "daily_active_users",
    "funnel_signup_purchase", "user_lifetime_stats", "hourly_error_rate",
)
WARMUP_QUERY = "hourly_user_events"
PASSES_PER_ROUND = 1


def run(bench) -> dict:
    from data_ingestion_challenge_spark.catalog import Catalog
    from data_ingestion_challenge_spark.plans import QUERIES

    sf_dir = bench.path("events")
    events = gen.write_events(bench.rng, sf_dir)

    def setup(spark, rep):
        Catalog(spark, sf_dir).table("events")
        QUERIES[WARMUP_QUERY](spark, sf_dir).toArrow()

    bench.setup(setup)
    spark, tr = bench.spark, bench.tracer
    undo = catalog_timer(tr) if tr is not None else None

    lat, fetched = [], []
    attempted = failed = 0
    for name in QUERY_NAMES:
        attempted += 1
        fetched.append((name, QUERIES[name](spark, sf_dir).toArrow()))
    t_start = bench.start()
    try:
        while time.perf_counter() - t_start < bench.seconds:
            for name in QUERY_NAMES * PASSES_PER_ROUND:
                attempted += 1
                t0 = time.perf_counter()
                try:
                    with bench.op("query", query=name) as rec:
                        with bench.span("plans.build"):
                            df = QUERIES[name](spark, sf_dir)
                        with bench.span("exec.action"):
                            tbl = df.toArrow()
                        if tr is not None:
                            rec["phases"] = phases_ms(df)
                            rec["rows"] = tbl.num_rows
                except Exception as exc:  # counted, the loop goes on
                    failed += 1
                    print(f"event_queries: {name} raised {exc!r}")
                    continue
                lat.append(time.perf_counter() - t0)
                fetched.append((name, tbl))
        region = time.perf_counter() - t_start
    finally:
        if undo is not None:
            undo()

    bench.mark("timed")
    oracles = checks.event_oracles(events, list(QUERY_NAMES))
    for name, tbl in fetched:
        if not checks.same(tbl, oracles[name]):
            failed += 1
            print(f"event_queries: {name} differs from its DuckDB oracle")

    e2e = {"items_per_s": (len(lat) / region, "1/s"),
           "op_p50_ms": (p50(lat) * 1e3, "ms")}
    per_layer = {}
    if tr is not None:
        ops = [o for o in tr.ops if o["kind"] == "query"]
        per_layer = layer_metrics(tr, "query", {
            "catalog.resolve_ms": _mean(op_spans(tr, o, "catalog.resolve")
                                        for o in ops),
            "plans.build_ms": _mean(op_spans(tr, o, "plans.build")
                                    for o in ops),
            **{f"plans.{ph}_ms": _mean(o["phases"].get(ph, 0.0)
                                       for o in ops)
               for ph in ("analysis", "optimization", "planning")},
            "exec.action_ms": _mean(op_spans(tr, o, "exec.action")
                                    for o in ops),
            "exec.result_rows": _mean(o["rows"] for o in ops),
        })
    return result(bench, attempted, failed, True, e2e, per_layer)
