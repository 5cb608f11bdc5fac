"""Per-layer metrics of a traced run, named after cellbase_spark modules.

Spark's counters come from the run's event log, attributed to public
calls through the job group each traced op sets; span self times come
from the benchmark's own tracer. Counts and times are per pass (a batch
pass or a facade cycle; the stream's own metrics cover its run), so runs with a different number
of passes compare. A layer a workload never enters reads 0.
"""

from __future__ import annotations

import glob
import os
import statistics

from perfbench import batch
from perfbench.tracing import (
    GroupStats,
    merge,
    outside_jobs_s,
    parse_event_log,
    self_times,
)

# name -> unit; BENCHMARK.json's per_layer list mirrors this (tested).
METRICS = {
    "trace.setup_s": "s",
    "trace.pass_s": "s",
    "trace.op_p50_ms": "ms",
    "trace.ingest_s": "s",
    "session.get_spark_s": "s",
    "queries.build_s": "s",
    "queries.exec_s": "s",
    **{f"queries.{k}_s": "s" for k in batch.KEYS},
    "driver.outside_jobs_s": "s",
    "driver.jobs": "count",
    "driver.tasks": "count",
    "io.bytes_read": "bytes",
    "io.records_read": "count",
    "io.scan_tasks": "count",
    "io.layout_build_s": "s",
    "shuffle.bytes_written": "bytes",
    "shuffle.fetch_wait_s": "s",
    "shuffle.skew": "ratio",
    "exec.run_s": "s",
    "exec.cpu_s": "s",
    "exec.gc_s": "s",
    "exec.spill_bytes": "bytes",
    "python.start_s": "s",
    "python.init_s": "s",
    "python.run_s": "s",
    "python.bytes_sent": "bytes",
    "python.bytes_returned": "bytes",
    "ckpt.build_jobs": "count",
    "ckpt.bytes_pinned": "bytes",
    "api.get_jobs": "count",
    "api.get_scan_tasks": "count",
    "api.get_rows_examined": "ratio",
    "api.edit_self_ms": "ms",
    "api.save_ms": "ms",
    "api.import_workbook_ms": "ms",
    "api.bm25_search_tasks": "count",
    "api.search_rows_examined": "ratio",
    "publish.bm25_build_s": "s",
    "publish.bm25_bytes": "bytes",
    "publish.files": "count",
    "stream.batches": "count",
    "stream.batch_ms": "ms",
    "stream.add_batch_ms": "ms",
    "stream.query_planning_ms": "ms",
    "stream.wal_commit_ms": "ms",
    "stream.latest_offset_ms": "ms",
    "stream.state_rows": "count",
    "stream.state_memory_bytes": "bytes",
    "stream.state_commit_ms": "ms",
    "stream.backlog_files": "count",
    "gen.lag_s": "s",
}

# Top-level ops whose work makes up a pass, per workload.
PASS_OPS = {"pipeline": "query:", "facade": "api."}


def _med(values, default=0.0):
    return statistics.median(values) if values else default


def read_event_logs(event_dir: str) -> dict[str, GroupStats]:
    """Job group -> counters, over every SparkContext's log of the run."""
    groups: dict = {}
    for path in sorted(glob.glob(os.path.join(event_dir, "**", "*"), recursive=True)):
        name = os.path.basename(path)
        if not os.path.isfile(path) or name.startswith((".", "appstatus")):
            continue
        with open(path) as f:
            for g, stats in parse_event_log(f).items():
                groups[g] = merge([groups[g], stats]) if g in groups else stats
    return groups


def per_layer(bench, workload: str, res: dict) -> dict:
    spans = bench.tracer.spans
    # spans of the timed passes only: a facade run's warm-up calls come first
    timed = spans[res.get("first_span", 0):]
    groups = read_event_logs(bench.event_dir)
    own = self_times(spans)
    pass_ops = [s for s in timed
                if s.parent is None and s.op_id and s.name.startswith(PASS_OPS[workload])]
    n = max(len(res["pass_s"]), 1)
    g = merge([groups[s.op_id] for s in pass_ops if s.op_id in groups])

    def per_pass(x):
        return x / n

    def named(prefix):
        return [s for s in timed if s.name.startswith(prefix)]

    v = dict.fromkeys(METRICS, 0.0)
    v["trace.setup_s"] = bench.setup_s()
    v["trace.pass_s"] = _med(res["pass_s"])
    v["trace.op_p50_ms"] = res["op_p50_ms"]
    v["trace.ingest_s"] = res["ingest_s"]
    v["session.get_spark_s"] = _med(
        [s.end - s.start for s in spans if s.name == "session.get_spark"])
    v["queries.build_s"] = per_pass(sum(own[s.id] for s in named("queries.build:")))
    v["queries.exec_s"] = per_pass(sum(own[s.id] for s in named("queries.exec:")))
    for k, t in res.get("key_s", {}).items():
        v[f"queries.{k}_s"] = t
    v["driver.outside_jobs_s"] = per_pass(
        sum(outside_jobs_s(s, groups.get(s.op_id)) for s in pass_ops))
    v["driver.jobs"] = per_pass(g.jobs)
    v["driver.tasks"] = per_pass(g.tasks)
    v["io.bytes_read"] = per_pass(g.input_bytes)
    v["io.records_read"] = per_pass(g.input_records)
    v["io.scan_tasks"] = per_pass(g.scan_tasks)
    v["shuffle.bytes_written"] = per_pass(g.shuffle_write_bytes)
    v["shuffle.fetch_wait_s"] = per_pass(g.fetch_wait_ms / 1000.0)
    v["shuffle.skew"] = g.skew()
    v["exec.run_s"] = per_pass(g.run_ms / 1000.0)
    v["exec.cpu_s"] = per_pass(g.cpu_ns / 1e9)
    v["exec.gc_s"] = per_pass(g.gc_ms / 1000.0)
    v["exec.spill_bytes"] = per_pass(g.spill_bytes)
    py = g.python
    v["python.start_s"] = per_pass(py["start_ms"] / 1000.0)
    v["python.init_s"] = per_pass(py["init_ms"] / 1000.0)
    v["python.run_s"] = per_pass(py["run_ms"] / 1000.0)
    v["python.bytes_sent"] = per_pass(py["bytes_sent"])
    v["python.bytes_returned"] = per_pass(py["bytes_returned"])
    if workload == "pipeline":
        _batch_layers(v, timed, groups, res, n)
        _stream_layers(v, res)
    else:
        _facade_layers(v, timed, groups, own, res)
    return {k: {"value": float(v[k]), "unit": u} for k, u in METRICS.items()}


def _batch_layers(v, spans, groups, res, n) -> None:
    jobs = 0
    for s in spans:
        if s.name.startswith("queries.build:") and s.op_id in groups:
            jobs += sum(1 for a, _ in groups[s.op_id].job_spans if s.start <= a <= s.end)
    v["ckpt.build_jobs"] = jobs / n
    v["ckpt.bytes_pinned"] = sum(res["pinned"]) / n


def _facade_layers(v, spans, groups, own, res) -> None:
    def op_groups(name):
        return [groups.get(s.op_id, GroupStats()) for s in spans
                if s.parent is None and s.name == name]

    gets = op_groups("api.lookup")
    if gets:
        v["api.get_jobs"] = statistics.mean(x.jobs for x in gets)
        v["api.get_scan_tasks"] = statistics.mean(x.scan_tasks for x in gets)
        v["api.get_rows_examined"] = sum(x.input_records for x in gets) / max(res["hits"], 1)
    searches = op_groups("api.bm25")
    if searches:
        v["api.bm25_search_tasks"] = statistics.mean(x.tasks for x in searches)
        v["api.search_rows_examined"] = (
            sum(x.input_records for x in searches) / max(res["search_rows"], 1))
    v["api.edit_self_ms"] = _med([own[s.id] * 1000 for s in spans if s.name == "api.edit"])
    v["api.save_ms"] = _med(res["save_ms"])
    v["api.import_workbook_ms"] = _med(res["import_ms"])
    v["publish.bm25_build_s"] = res["index_build_s"]
    v["publish.bm25_bytes"] = res["index_bytes"]
    v["publish.files"] = res["index_files"]
    v["io.layout_build_s"] = res["layout_s"]


def _stream_layers(v, res) -> None:
    prog = res["listened"]  # every progress the StreamingQueryListener saw

    def dur(key):
        return _med([p["durationMs"].get(key, 0) for p in prog])

    v["stream.batches"] = len(prog)
    v["stream.batch_ms"] = dur("triggerExecution")
    v["stream.add_batch_ms"] = dur("addBatch")
    v["stream.query_planning_ms"] = dur("queryPlanning")
    v["stream.wal_commit_ms"] = dur("walCommit")
    v["stream.latest_offset_ms"] = dur("latestOffset")
    if prog:
        last = prog[-1].get("stateOperators") or []
        v["stream.state_rows"] = sum(op.get("numRowsTotal", 0) for op in last)
        v["stream.state_memory_bytes"] = sum(op.get("memoryUsedBytes", 0) for op in last)
    v["stream.state_commit_ms"] = _med([
        sum(op.get("commitTimeMs", 0) for op in p.get("stateOperators") or []) for p in prog
    ])
    v["stream.backlog_files"] = _med(res["backlog"])
    v["gen.lag_s"] = _med(res["lag_s"])
