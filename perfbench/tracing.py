"""Tracing for the benchmark's ``--trace 1`` runs.

Two sources, both read from the benchmark's side of the program's
public calls:

- spans: wall-clock intervals the benchmark records around each call
  into a layer (``Tracer.span``), kept in memory and written once when
  the run ends;
- Spark's own job and stage records, read from the driver's in-process
  status store (no REST call; works with ``spark.ui.enabled=false``).
  Jobs are attributed to an operation by job id: every job submitted
  between an operation's start and end belongs to it.  This is exact
  because one client thread runs operations one after another and no
  Spark work runs between them; it also covers jobs launched from the
  stream's and the sink's worker threads, which do not inherit the
  caller's job group.
"""

from __future__ import annotations

import json
import os
import re
import time
from contextlib import contextmanager

# The admission sink's setJobDescription labels, mapped to metric names.
_PHASES = (
    ("batch checkpoint", "batch_checkpoint"),
    ("corpus prune probes", "corpus_prune_probes"),
    ("corpus rel semi-join", "screen_rel_semijoin"),
    ("candidate intersection", "screen_candidate_intersection"),
    ("screen ratify", "screen_ratify"),
    ("admitted set", "admitted_set"),
    ("write log", "write_log"),
    ("write postings", "write_postings"),
    ("write sizes", "write_sizes"),
    ("txn commit", "txn_commit"),
)
PHASES = tuple(p for _, p in _PHASES)
_LISTING = re.compile(r"^Listing leaf files")


def phase_of(description: str | None) -> str | None:
    """Metric name of an admission job label, ``"listing"`` for Spark's
    parallel file-listing jobs, or None for an unlabelled job."""
    if not description:
        return None
    if _LISTING.match(description):
        return "listing"
    if description.startswith("admission"):
        for label, name in _PHASES:
            if label in description:
                return name
    return None


class SparkRecords:
    """Reads job and stage records of one SparkContext's status store
    as JSON (one Jackson call per list, not one py4j call per field)."""

    def __init__(self, spark):
        sc = spark.sparkContext
        jvm = sc._jvm
        self._store = sc._jsc.sc().statusStore()
        self._json = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._json.registerModule(
            jvm.com.fasterxml.jackson.module.scala.DefaultScalaModule())
        self._sc = sc
        self._bus = sc._jsc.sc().listenerBus()
        self._seen_stages: set[int] = set()
        self.last_job = -1
        self.new_jobs()

    def new_jobs(self) -> list[dict]:
        """Jobs submitted since the previous call, oldest first.  Waits
        until the listener bus has delivered every event posted so far,
        so that the jobs and stages an operation ran are all in the
        status store, complete, before they are read."""
        self._bus.waitUntilEmpty()
        jobs = json.loads(self._json.writeValueAsString(
            self._store.jobsList(None)))
        new = sorted((j for j in jobs if j["jobId"] > self.last_job),
                     key=lambda j: j["jobId"])
        if new:
            self.last_job = new[-1]["jobId"]
        return new

    def stages(self, jobs: list[dict]) -> list[dict]:
        """Stage records of ``jobs``, each stage counted once per run: a
        job that reuses a shuffle map stage lists it as skipped, and its
        metrics belong to the operation that ran it."""
        out = []
        for sid in sorted({s for j in jobs for s in j["stageIds"]}):
            if sid in self._seen_stages:
                continue
            st = json.loads(self._json.writeValueAsString(
                self._store.lastStageAttempt(sid)))
            if st["status"] == "SKIPPED":
                continue
            self._seen_stages.add(sid)
            out.append(st)
        return out


def covered_ms(jobs: list[dict], t0_ms: float, t1_ms: float) -> float:
    """Milliseconds of [t0, t1] covered by at least one job."""
    iv = sorted((max(j["submissionTime"], t0_ms),
                 min(j.get("completionTime") or t1_ms, t1_ms))
                for j in jobs if j.get("submissionTime"))
    total, cur_s, cur_e = 0.0, None, None
    for s, e in iv:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def job_ms(j: dict) -> float:
    if not j.get("submissionTime") or not j.get("completionTime"):
        return 0.0
    return float(j["completionTime"] - j["submissionTime"])


class Tracer:
    """Spans and per-operation Spark summaries of one traced run."""

    def __init__(self):
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self.records: SparkRecords | None = None
        self._stack: list[int] = []

    def attach(self, spark) -> None:
        """Start reading ``spark``'s status store (after set-up, so set-up
        jobs are attributed to no operation)."""
        self.records = SparkRecords(spark)

    @contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {"id": sid, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    @contextmanager
    def op(self, kind: str, **attrs):
        """One closed-loop operation: a span plus the Spark jobs and
        stages it launched, summarised into ``self.ops``."""
        sc = self.records._sc
        idx = len(self.ops)
        sc.setJobGroup(f"bench-op-{idx}", f"bench {kind} #{idx}", False)
        try:
            with self.span(kind, op=idx, **attrs) as rec:
                yield rec
        finally:
            sc.setJobGroup(None, None, False)
            self._summarise(idx, kind, rec)

    def _summarise(self, idx: int, kind: str, rec: dict) -> None:
        sc = self.records._sc
        t0, t1 = rec["start"] * 1e3, rec["end"] * 1e3
        jobs = self.records.new_jobs()
        stages = self.records.stages(jobs)
        summary = {
            "op": idx, "kind": kind, "start": rec["start"],
            "end": rec["end"], "wall_ms": t1 - t0,
            "jobs": len(jobs),
            "tasks": sum(s["numCompleteTasks"] for s in stages),
            "executor_run_ms": sum(s["executorRunTime"] for s in stages),
            "executor_cpu_ms": sum(s["executorCpuTime"]
                                   for s in stages) / 1e6,
            "gc_ms": sum(s["jvmGcTime"] for s in stages),
            "shuffle_write_bytes": sum(s["shuffleWriteBytes"]
                                       for s in stages),
            "input_records": sum(s["inputRecords"] for s in stages),
            "driver_gap_ms": (t1 - t0) - covered_ms(jobs, t0, t1),
            "phase_ms": {}, "listing_jobs": 0,
            "unlabelled_ms": 0.0,
            "persisted_rdds": sc._jsc.getPersistentRDDs().size(),
        }
        for j in jobs:
            ph = phase_of(j.get("description"))
            if ph == "listing":
                summary["listing_jobs"] += 1
            if ph is None:
                summary["unlabelled_ms"] += job_ms(j)
            else:
                summary["phase_ms"][ph] = (summary["phase_ms"].get(ph, 0.0)
                                           + job_ms(j))
        summary.update({k: v for k, v in rec.items()
                        if k not in ("id", "name", "parent", "start",
                                     "end", "op")})
        self.ops.append(summary)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "ops": self.ops}, fh)


def catalog_timer(tracer: Tracer):
    """Patch ``Catalog.table`` so each call records a ``catalog.resolve``
    span; returns a function that undoes the patch."""
    from data_ingestion_challenge_spark.catalog import Catalog

    orig = Catalog.table

    def table(self, name):
        with tracer.span("catalog.resolve", table=name):
            return orig(self, name)

    Catalog.table = table

    def undo():
        Catalog.table = orig
    return undo


def phases_ms(df) -> dict[str, float]:
    """Catalyst phase times of ``df``'s query execution (analysis,
    optimization, planning), from its QueryPlanningTracker."""
    out = {}
    it = df._jdf.queryExecution().tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = float(kv._2().durationMs())
    return out


def span_total(spans: list[dict], name: str, t0: float, t1: float) -> float:
    """Milliseconds of spans called ``name`` that started in [t0, t1]."""
    return sum((s["end"] - s["start"]) * 1e3 for s in spans
               if s["name"] == name and t0 <= s["start"] <= t1
               and "end" in s)


# Every per-layer metric of BENCHMARK.json with its unit.  A traced run
# reports all of them; a layer the workload does not call reads 0.
PER_LAYER = {
    "exec.jobs_per_op": "count",
    "exec.tasks_per_op": "count",
    "exec.executor_run_ms": "ms",
    "exec.executor_cpu_ms": "ms",
    "exec.gc_ms": "ms",
    "exec.shuffle_write_bytes": "bytes",
    "exec.driver_gap_ms": "ms",
    "exec.action_ms": "ms",
    "exec.result_rows": "count",
    "catalog.resolve_ms": "ms",
    "plans.build_ms": "ms",
    "plans.analysis_ms": "ms",
    "plans.optimization_ms": "ms",
    "plans.planning_ms": "ms",
    **{f"admission.{p}_ms": "ms" for p in PHASES},
    "admission.listing_ms": "ms",
    "admission.listing_jobs": "count",
    "admission.fold_ms": "ms",
    "admission.stream_overhead_ms": "ms",
    "admission.postings_files": "count",
    "admission.store_bytes_per_doc": "bytes",
    "txn.corpus_run_generations": "count",
    "txn.snapshot_replay_ms": "ms",
    "session.persisted_rdds": "count",
    "peak_rss_mb": "MB",
}
# keyed_upsert's own txn metrics.  That workload runs but is not listed
# in BENCHMARK.json, so these are not in its per_layer set.
UPSERT_LAYER = {
    "txn.commit_ms": "ms",
    "txn.point_read_build_ms": "ms",
    "txn.point_read_exec_ms": "ms",
    "txn.rows_read_per_lookup": "count",
    "txn.compact_ms": "ms",
    "txn.live_files": "count",
    "txn.run_generations": "count",
    "txn.bytes_written_per_event": "bytes",
    "txn.bytes_live_per_key": "bytes",
}


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def op_spans(tr: Tracer, op: dict, name: str) -> float:
    """Milliseconds of ``name`` spans inside operation ``op``."""
    return span_total(tr.spans, name, op["start"], op["end"])


def layer_metrics(tr: Tracer, kind: str, extra: dict,
                  units: dict = PER_LAYER) -> dict:
    """Per-layer metrics: the ``exec.*`` family averaged over the
    operations of ``kind`` (the operation the workload's latency metric
    times), the given ``extra`` values, and 0 for every layer this
    workload does not call.  Returns {name: (value, unit)}."""
    ops = [o for o in tr.ops if o["kind"] == kind]
    vals = {
        "exec.jobs_per_op": _mean(o["jobs"] for o in ops),
        "exec.tasks_per_op": _mean(o["tasks"] for o in ops),
        "exec.executor_run_ms": _mean(o["executor_run_ms"] for o in ops),
        "exec.executor_cpu_ms": _mean(o["executor_cpu_ms"] for o in ops),
        "exec.gc_ms": _mean(o["gc_ms"] for o in ops),
        "exec.shuffle_write_bytes": _mean(o["shuffle_write_bytes"]
                                          for o in ops),
        "exec.driver_gap_ms": _mean(o["driver_gap_ms"] for o in ops),
        "session.persisted_rdds": (tr.ops[-1]["persisted_rdds"]
                                   if tr.ops else 0),
    }
    vals.update(extra)
    unknown = set(vals) - set(units)
    if unknown:
        raise KeyError(f"metrics without a unit: {sorted(unknown)}")
    return {k: (vals.get(k, 0.0), u) for k, u in units.items()}
