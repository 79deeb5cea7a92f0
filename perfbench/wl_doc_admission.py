"""doc_admission: seeded jsonl document drops are drained one by one
through ``run_document_admission`` into a growing corpus — the
ingestion write path.  Sink defaults apply, with a sizes store and
``compact_every=COMPACT_EVERY`` so posting folds land inside the timed
drains.  Closed loop, one client: a drop arrives, the client drains
it, then the next drop arrives.  A backlog drain, not a rate search:
one drain costs seconds, and searching for the highest sustainable
rate would multiply the run length.

A round runs drains up to and including the next one that folds, so
every round holds exactly one fold: COMPACT_EVERY drains (the corpus
run ladder reaches its fold threshold on the same drain).  No drain
runs before timing.  The first one is the cold one, on which the JVM
compiles the admission path; it costs about 1.3 plain drains, and a
separate warm-up drain would not fit the run budget (see the README).
Afterwards DuckDB replays ``admission_e2e_oracle_sql`` over the drained
documents and checks the admission log, and checks that no two
admitted documents reach jaccard >= tau."""

from __future__ import annotations

import os
import time

import checks
import gen
from run import p50, result
from tracing import PHASES, _mean, layer_metrics

COMPACT_EVERY = 3
TAU = 0.8
MAX_ROUNDS = 4


def _store_files(path: str) -> tuple[int, int]:
    """(parquet files, their bytes) under ``path``."""
    n = size = 0
    for d, _, fs in os.walk(path):
        for f in fs:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(d, f))
    return n, size


def _base_runs(postings: str) -> set[str]:
    """Folded (negative-tag) runs of the posting store."""
    try:
        return {d for d in os.listdir(postings)
                if d.startswith("ingest_batch=-")}
    except FileNotFoundError:
        return set()


def run(bench) -> dict:
    import duckdb
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    from data_ingestion_challenge_spark.streaming.admission import (
        admission_e2e_oracle_sql, document_admission_sink,
        run_document_admission)

    n_drops = MAX_ROUNDS * COMPACT_EVERY
    drops = gen.document_drops(bench.rng, n_drops)
    staged = []
    for b, docs in enumerate(drops.drops):
        p = bench.path("staged", f"drop-{b:04d}.jsonl")
        os.makedirs(os.path.dirname(p), exist_ok=True)
        gen.write_drop(docs, p)
        staged.append(p)

    def setup(spark, rep):
        d = {k: bench.path(f"store-{rep}", k)
             for k in ("watch", "table", "postings", "log", "ckpt",
                       "sizes")}
        os.makedirs(d["watch"])
        _, table = document_admission_sink(
            spark, d["table"], d["postings"], d["log"],
            sizes_dir=d["sizes"], compact_every=COMPACT_EVERY)
        return d, table

    d, table = bench.setup(setup)
    spark, tr = bench.spark, bench.tracer

    def drain(b: int):
        os.replace(staged[b], os.path.join(d["watch"],
                                           os.path.basename(staged[b])))
        return run_document_admission(
            spark, d["watch"], d["table"], d["postings"], d["log"],
            d["ckpt"], sizes_dir=d["sizes"], compact_every=COMPACT_EVERY)

    drained, lat, folded, replay = 0, [], [], []
    attempted = failed = docs_in = 0
    broken = False
    t_start = bench.start()
    while (not broken and time.perf_counter() - t_start < bench.seconds
           and drained + COMPACT_EVERY <= n_drops):
        folded_now = False
        while not folded_now and drained < n_drops:
            b = drained
            drained += 1
            attempted += 1
            runs_before = _base_runs(d["postings"])
            t0 = time.perf_counter()
            try:
                with bench.op("drain", drop=b):
                    table = drain(b)
            except Exception as exc:
                # A failed drain leaves its drop in the watch dir; the
                # next drain would merge two drops, so the run stops.
                failed += 1
                broken = True
                print(f"doc_admission: drain {b} raised {exc!r}")
                break
            lat.append(time.perf_counter() - t0)
            docs_in += len(drops.drops[b])
            folded_now = _base_runs(d["postings"]) != runs_before
            folded.append(folded_now)
            if tr is not None:
                with bench.span("txn.run_generations"):
                    replay.append(table.run_generations())
    region = time.perf_counter() - t_start

    bench.mark("timed")
    # ---- checks, outside the timed region
    log = ds.dataset(d["log"], format="parquet",
                     partitioning="hive").to_table(
        columns=["doc_id", "kept", "dup_of", "jaccard"])
    remap = [gen.oracle_ids(drops.stride, drained, int(x))
             for x in log.column("doc_id").to_pylist()]
    dup = [None if x is None else gen.oracle_ids(drops.stride, drained, x)
           for x in log.column("dup_of").to_pylist()]
    got = pa.table({"doc_id": pa.array(remap, pa.int64()),
                    "kept": log.column("kept"),
                    "dup_of": pa.array(dup, pa.int64()),
                    "jaccard": log.column("jaccard")})
    docs = [doc for drop in drops.drops[:drained] for doc in drop]
    con = duckdb.connect()
    documents = pa.table({
        "doc_id": pa.array([gen.oracle_ids(drops.stride, drained,
                                           x["doc_id"]) for x in docs],
                           pa.int64()),
        "text": pa.array([x["text"] for x in docs])})
    con.register("documents", documents)
    want = con.sql(checks.materialized(admission_e2e_oracle_sql(
        n_batches=drained, tau=TAU))).fetch_arrow_table()
    got_b = np.asarray(got.column("doc_id")) % drained
    want_b = np.asarray(want.column("doc_id")) % drained
    for b in range(drained):
        if not checks.same(got.filter(pa.array(got_b == b)),
                           want.filter(pa.array(want_b == b))):
            failed += 1
            print(f"doc_admission: drop {b} log differs from the oracle")
    kept = set(got.filter(got.column("kept")).column("doc_id").to_pylist())
    con.register("docs", documents.filter(pc.is_in(
        documents.column("doc_id"), pa.array(sorted(kept), pa.int64()))))
    close = con.sql(checks.near_dup_pairs_sql(TAU)).fetchall()
    if close:
        failed += 1
        print(f"doc_admission: {len(close)} admitted pairs reach "
              f"jaccard >= {TAU}: {close[:5]}")

    e2e = {"items_per_s": (docs_in / region, "1/s"),
           "op_p50_ms": (p50(lat) * 1e3, "ms")}
    per_layer = {}
    if tr is not None:
        ops = [o for o in tr.ops if o["kind"] == "drain"]
        fold_ops = [o for o, f in zip(ops, folded) if f]
        files, pbytes = _store_files(d["postings"])
        _, sbytes = _store_files(d["sizes"])
        per_layer = layer_metrics(tr, "drain", {
            **{f"admission.{p}_ms": _mean(o["phase_ms"].get(p, 0.0)
                                          for o in ops) for p in PHASES},
            "admission.listing_ms": _mean(o["phase_ms"].get("listing", 0.0)
                                          for o in ops),
            "admission.listing_jobs": _mean(o["listing_jobs"] for o in ops),
            "admission.fold_ms": _mean(o["unlabelled_ms"] for o in fold_ops),
            "admission.stream_overhead_ms": _mean(o["driver_gap_ms"]
                                                  for o in ops),
            "admission.postings_files": files,
            "admission.store_bytes_per_doc": (pbytes + sbytes)
            / max(1, len(kept)),
            "txn.corpus_run_generations": replay[-1] if replay else 0,
            "txn.snapshot_replay_ms": _mean(
                (s["end"] - s["start"]) * 1e3 for s in tr.spans
                if s["name"] == "txn.run_generations"),
        })
    return result(bench, attempted, failed, True, e2e, per_layer)
