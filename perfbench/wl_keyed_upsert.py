"""keyed_upsert: a seeded stream of per-user event micro-batches is
sum-accumulated into one ``TxnTable`` with
``accumulate_batch(commit_mode="delta")`` — the commit path
``run_keyed_upsert`` drives.  Closed loop, one client.  A round is
BATCHES_PER_ROUND commits, each followed by READS_PER_BATCH point
reads (``TxnTable.point_read`` + Arrow fetch) on a skewed hot/cold key
mix, then one ``compact_runs`` — writes, reads, live files and
compaction trade against each other on one table.  Every point read
is checked against a Python running-sum model of all prior commits,
and the final ``read()`` against the model's whole state."""

from __future__ import annotations

import os
import time

import gen
from run import p50, result
from tracing import (PER_LAYER, UPSERT_LAYER, _mean, layer_metrics, op_spans,
                     phases_ms)

BATCHES_PER_ROUND = 4
READS_PER_BATCH = 4
SUM_COLS = ["n_events", "value_sum_micros"]
SCHEMA = "user_id long, n_events long, value_sum_micros long"
APP = "perfbench"


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs
               if f.endswith(".parquet"))


def run(bench) -> dict:
    from data_ingestion_challenge_spark.txn import TxnTable

    # Inputs for the warm-up batch and enough rounds for any run length
    # the harness allows; unused batches cost only generation time.
    max_rounds = 8
    batches = gen.upsert_batches(bench.rng,
                                 1 + max_rounds * BATCHES_PER_ROUND)
    keys = gen.read_keys(bench.rng,
                         max_rounds * BATCHES_PER_ROUND * READS_PER_BATCH)
    model: dict[int, list[int]] = {}

    def apply(tbl) -> None:
        for u, n, v in zip(*(tbl.column(c).to_pylist()
                              for c in ["user_id", *SUM_COLS])):
            row = model.setdefault(u, [0, 0])
            row[0] += n
            row[1] += v

    def setup(spark, rep):
        path = bench.path(f"table-{rep}")
        t = TxnTable.create(spark, path, spark.createDataFrame([], SCHEMA),
                            key="user_id")
        t.accumulate_batch(spark.createDataFrame(batches[0]), 0,
                           sum_cols=SUM_COLS, app=APP, commit_mode="delta")
        t.point_read(keys[0]).toArrow()
        return t

    table = bench.setup(setup)
    apply(batches[0])
    spark, tr = bench.spark, bench.tracer
    data_dir = table.path
    bytes0 = _dir_bytes(data_dir)

    reads, read_lat, commit_lat = [], [], []
    samples = []
    attempted = failed = events = 0
    batch_no = ki = 0
    t_start = bench.start()
    while (time.perf_counter() - t_start < bench.seconds
           and batch_no < max_rounds * BATCHES_PER_ROUND):
        for _ in range(BATCHES_PER_ROUND):
            batch_no += 1
            b = batches[batch_no]
            attempted += 1
            t0 = time.perf_counter()
            try:
                with bench.op("commit", batch=batch_no):
                    table.accumulate_batch(
                        spark.createDataFrame(b), batch_no,
                        sum_cols=SUM_COLS, app=APP, commit_mode="delta")
            except Exception as exc:
                failed += 1
                print(f"keyed_upsert: commit {batch_no} raised {exc!r}")
            else:
                commit_lat.append(time.perf_counter() - t0)
                apply(b)
                events += int(sum(b.column("n_events").to_pylist()))
            if tr is not None:
                with bench.span("txn.run_generations"):
                    gens = table.run_generations()
                st = table.table_stats()
                samples.append((st["n_files"], gens))
            for _ in range(READS_PER_BATCH):
                k = keys[ki]
                ki += 1
                attempted += 1
                t0 = time.perf_counter()
                try:
                    with bench.op("read", key=k) as rec:
                        with bench.span("txn.point_read_build"):
                            df = table.point_read(k)
                        with bench.span("exec.action"):
                            got = df.toArrow()
                        if tr is not None:
                            rec["phases"] = phases_ms(df)
                            rec["rows"] = got.num_rows
                except Exception as exc:
                    failed += 1
                    print(f"keyed_upsert: point_read({k}) raised {exc!r}")
                    continue
                read_lat.append(time.perf_counter() - t0)
                # The model's state now, copied: reads see every prior
                # commit.  Compared after the timed region.
                want = model.get(k)
                reads.append((k, got.to_pylist(),
                              None if want is None else tuple(want)))
        attempted += 1
        try:
            with bench.op("compact"):
                table.compact_runs(level="auto")
        except Exception as exc:
            failed += 1
            print(f"keyed_upsert: compact_runs raised {exc!r}")
    region = time.perf_counter() - t_start

    for k, got, want in reads:
        have = (None if not got else
                (got[0]["n_events"], got[0]["value_sum_micros"]))
        if len(got) > 1 or have != want:
            failed += 1
            print(f"keyed_upsert: point_read({k}) = {got}, model {want}")
    attempted += 1
    final = {r["user_id"]: [r["n_events"], r["value_sum_micros"]]
             for r in table.read().toArrow().to_pylist()}
    if final != model:
        failed += 1
        print("keyed_upsert: final read() differs from the model")

    e2e = {"items_per_s": (events / region, "1/s"),
           "op_p50_ms": (p50(read_lat) * 1e3, "ms")}
    per_layer = {}
    if tr is not None:
        rops = [o for o in tr.ops if o["kind"] == "read"]
        live = table.read().inputFiles()
        per_layer = layer_metrics(tr, "read", {
            **{f"plans.{ph}_ms": _mean(o["phases"].get(ph, 0.0)
                                       for o in rops)
               for ph in ("analysis", "optimization", "planning")},
            "exec.action_ms": _mean(op_spans(tr, o, "exec.action")
                                    for o in rops),
            "exec.result_rows": _mean(o["rows"] for o in rops),
            "txn.snapshot_replay_ms": _mean(
                (s["end"] - s["start"]) * 1e3 for s in tr.spans
                if s["name"] == "txn.run_generations"),
            "txn.commit_ms": _mean(commit_lat) * 1e3,
            "txn.point_read_build_ms": _mean(
                op_spans(tr, o, "txn.point_read_build") for o in rops),
            "txn.point_read_exec_ms": _mean(
                op_spans(tr, o, "exec.action") for o in rops),
            "txn.rows_read_per_lookup": (
                sum(o["input_records"] for o in rops)
                / max(1, sum(o["rows"] for o in rops))),
            "txn.compact_ms": _mean(o["wall_ms"] for o in tr.ops
                                    if o["kind"] == "compact"),
            "txn.live_files": _mean(s[0] for s in samples),
            "txn.run_generations": _mean(s[1] for s in samples),
            "txn.bytes_written_per_event": (
                (_dir_bytes(data_dir) - bytes0) / max(1, events)),
            "txn.bytes_live_per_key": (
                sum(os.path.getsize(f.removeprefix("file:"))
                    for f in live) / max(1, len(model))),
        }, units={**PER_LAYER, **UPSERT_LAYER})
    return result(bench, attempted, failed, True, e2e, per_layer)
