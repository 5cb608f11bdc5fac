"""Stream half of the `pipeline` workload:
``tumbling_agg(with_watermark(read_events_stream))`` in update mode with a
processing-time trigger, fed by a generator that writes seeded event
files (open loop).

Event files are consecutive ts-ordered slices of the ``events`` table; the
seed permutes the rows inside each file. Two phases:

- capacity: a backlog of ``BACKLOG_FILES`` files is offered at once, and
  the query takes ``FILES_PER_TRIGGER`` per batch, so every steady batch
  is full and a backlog remains throughout; capacity is the rows of a full
  batch over its median duration.
- latency: the generator, on the benchmark's own thread while the query
  runs in the JVM, writes files at a mean of ``LATENCY_RATE`` per second,
  below capacity, for the given seconds, with seeded exponential gaps
  (Poisson arrivals, so arrivals do not lock to the trigger period). A file's latency runs from the moment it was due (the
  generator's stamp) to the commit of the batch that read it, so any wait
  in the queue counts; how late the generator itself ran is reported
  apart.

The final per-(window, event_type) counts are checked against DuckDB over
the generated files. The engine's own stream shuffle/state sizing
(``state_sized_shuffle`` with no override) is used unchanged.
"""

from __future__ import annotations

import datetime
import glob
import json
import os
import statistics
import time

import numpy as np
import pyarrow.parquet as pq


ROWS_PER_FILE = 250
BACKLOG_FILES = 140
FILES_PER_TRIGGER = 20
LATENCY_RATE = 6.0  # files per second: 1,500 events/s
TRIGGER = "100 milliseconds"
DRAIN_TIMEOUT_S = 60.0
QUERY = "perfbench_tumbling"


class Generator:
    """Writes the seeded event files; each write is atomic (rename)."""

    def __init__(self, sf_dir: str, src: str, seed: int):
        events = pq.read_table(f"{sf_dir}/events.parquet").sort_by(
            [("ts", "ascending"), ("event_id", "ascending")]
        )
        self.events = events
        self.rng = np.random.default_rng(seed)
        self.src = src
        self.n_files = events.num_rows // ROWS_PER_FILE
        self.due: dict[str, float] = {}
        self.written: dict[str, float] = {}
        os.makedirs(src)

    def write(self, i: int, due: float) -> None:
        chunk = self.events.slice(i * ROWS_PER_FILE, ROWS_PER_FILE)
        chunk = chunk.take(self.rng.permutation(chunk.num_rows))
        name = f"ev_{i:05d}.parquet"
        tmp = os.path.join(self.src, f".{name}.tmp")
        pq.write_table(chunk, tmp)
        os.rename(tmp, os.path.join(self.src, name))
        self.due[name] = due
        self.written[name] = time.time()

    def paced(self, first: int, count: int, rate: float, t0: float) -> None:
        gaps = self.rng.exponential(1.0 / rate, count)
        for j in range(count):
            due = t0 + float(gaps[: j + 1].sum())
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            self.write(first + j, due)


def _batch_of_files(ckpt: str) -> dict[str, int]:
    """File name -> batch id, from the file source's checkpoint log."""
    out = {}
    for path in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        if os.path.basename(path).startswith("."):
            continue
        with open(path) as f:
            for line in f:
                line = line.strip()
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = e["batchId"]
    return out


def _epoch(ts: str) -> float:
    return datetime.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def _processed_rows(q) -> int:
    return sum(int(p["numInputRows"]) for p in (json.loads(x.json) for x in q.recentProgress))


def _wait_rows(q, rows: int, deadline: float) -> bool:
    while time.time() < deadline:
        if q.exception() is not None:
            return False
        if _processed_rows(q) >= rows:
            return True
        time.sleep(0.05)
    return False


def run(bench, seconds: float) -> dict:
    from cellbase_spark.streaming.pipelines import (
        read_events_stream,
        state_sized_shuffle,
        tumbling_agg,
        with_watermark,
    )
    from perfbench.tracing import progress_listener

    spark, tr = bench.spark, bench.tracer
    src, ckpt = bench.path("stream", "src"), bench.path("stream", "ckpt")
    gen = Generator(bench.sf_dir, src, bench.seed)
    n_latency = int(LATENCY_RATE * seconds)
    if BACKLOG_FILES + n_latency > gen.n_files:
        raise ValueError(f"{seconds}s of latency phase needs more events than the table holds")

    t_backlog = time.time()
    for i in range(BACKLOG_FILES):
        gen.write(i, t_backlog)
    # one op per event file, plus the query itself and the final count check
    bench.attempted += BACKLOG_FILES + n_latency + 2
    listened: list[dict] = []
    listener = None
    if bench.traced:
        listener = progress_listener(listened)
        spark.streams.addListener(listener)

    with tr.op("stream.tumbling", spark.sparkContext):
        stream = tumbling_agg(with_watermark(read_events_stream(
            spark, src, max_files_per_trigger=FILES_PER_TRIGGER)))
        with state_sized_shuffle(spark):
            q = (
                stream.writeStream.format("memory").queryName(QUERY)
                .outputMode("update").trigger(processingTime=TRIGGER)
                .option("checkpointLocation", ckpt).start()
            )
        try:
            backlog_rows = BACKLOG_FILES * ROWS_PER_FILE
            ok = _wait_rows(q, backlog_rows, time.time() + DRAIN_TIMEOUT_S)
            bench.log(f"backlog drained: {ok}")
            t_lat = time.time()
            gen.paced(BACKLOG_FILES, n_latency, LATENCY_RATE, t_lat)
            total_rows = (BACKLOG_FILES + n_latency) * ROWS_PER_FILE
            ok = ok and _wait_rows(q, total_rows, time.time() + DRAIN_TIMEOUT_S)
            bench.log(f"latency phase drained: {ok}")
            err = q.exception()
        finally:
            q.stop()
    if listener is not None:
        spark.streams.removeListener(listener)
    # Spark's own progress history, complete while under its 100-entry cap
    progress = [json.loads(p.json) for p in q.recentProgress]
    if err is not None or not ok:
        bench.fail("stream", str(err) if err else "did not drain in time")
    elif len(progress) >= 100:
        bench.fail("stream", "more than 100 batches: progress history truncated")

    batch_of = _batch_of_files(ckpt)
    for f in gen.due:
        if f not in batch_of:
            bench.fail(f"event file {f}", "never read by a batch")
    by_batch = {int(p["batchId"]): p for p in progress}
    commit = {
        b: _epoch(p["timestamp"]) + p["durationMs"]["triggerExecution"] / 1000.0
        for b, p in by_batch.items()
    }
    latency_files = sorted(gen.due)[BACKLOG_FILES:]
    latency_s = [commit[batch_of[f]] - gen.due[f]
                 for f in latency_files if batch_of.get(f) in commit]
    lag_s = [gen.written[f] - gen.due[f] for f in latency_files]
    latency_batches = {batch_of[f] for f in latency_files if f in batch_of}
    batch_ms = [by_batch[b]["durationMs"]["triggerExecution"]
                for b in sorted(latency_batches) if b in by_batch]
    full = FILES_PER_TRIGGER * ROWS_PER_FILE
    capacity_batches = sorted(
        {batch_of[f] for f in sorted(gen.due)[:BACKLOG_FILES] if f in batch_of})
    steady = [
        by_batch[b]["durationMs"]["triggerExecution"] / 1000.0
        for b in capacity_batches[1:]
        if b in by_batch and int(by_batch[b]["numInputRows"]) == full
    ]
    _check_counts(bench, spark, src)
    spark.catalog.dropTempView(QUERY)

    batch_s = statistics.median(steady) if steady else float("nan")
    return {
        "capacity_eps": full / batch_s,
        "steady_batches": len(steady),
        "latency_s": latency_s,
        "batch_ms": batch_ms,
        "lag_s": lag_s,
        "listened": listened,
        "backlog": _backlog(gen, batch_of, by_batch, capacity_batches),
    }


def _backlog(gen, batch_of, by_batch, batches) -> list[int]:
    """Files written but not yet read when each capacity batch started."""
    out = []
    for b in batches:
        if b not in by_batch:
            continue
        start = _epoch(by_batch[b]["timestamp"])
        out.append(sum(1 for f, t in gen.written.items()
                       if t <= start and batch_of.get(f, 1 << 30) > b))
    return out


def _check_counts(bench, spark, src: str) -> None:
    import duckdb

    got = {}
    for r in spark.table(QUERY).collect():
        k = (r.wstart, r.event_type)
        got[k] = max(got.get(k, 0), r.n)
    con = duckdb.connect()
    try:
        rows = con.sql(
            "SELECT date_trunc('hour', ts) AS w, event_type, count(*) AS n "
            f"FROM read_parquet('{src}/*.parquet') GROUP BY 1, 2"
        ).fetchall()
    finally:
        con.close()
    want = {(w, t): n for w, t, n in rows}
    bench.check(got == want, "stream window counts",
                f"{len(set(got.items()) ^ set(want.items()))} (window, type) counts differ")
