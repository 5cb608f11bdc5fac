"""`pipeline` workload: the analytics / LLM-pipeline user, who runs batch
registry keys and a streaming aggregation in one session.

The batch half (perfbench/batch.py) times passes over registry keys for
``BATCH_SHARE`` of the run's seconds; the stream half (perfbench/stream.py)
ingests a fixed backlog at capacity, then serves a fixed sub-capacity rate
for the rest. End-to-end metrics:

- ``pass_s``: median wall time of one pass over the batch keys;
- ``op_p50_ms``: median micro-batch latency (trigger start to commit) of
  the batches that read the fixed-rate files. The per-file latency, queue
  wait included, is reported too but not gated: with batches of up to a
  second, one run holds only a handful of independent arrival phases, and
  the per-file median spread by 0.38 of itself (quartile distance over
  median) across ten seeds;
- ``ingest_s``: time to ingest the stream backlog at measured capacity.
"""

from __future__ import annotations

import statistics

from perfbench import batch, stream
from perfbench.stats import timing

BATCH_SHARE = 0.6


def prepare(bench, spark) -> None:
    """Warm-up: one small scan, so set-up ends at a usable session."""
    spark.range(1000).selectExpr("sum(id)").collect()


def run(bench) -> dict:
    res = batch.run(bench, BATCH_SHARE * bench.seconds)
    res.update(stream.run(bench, (1.0 - BATCH_SHARE) * bench.seconds))
    res["op_p50_ms"] = statistics.median(res["batch_ms"])
    res["ingest_s"] = stream.BACKLOG_FILES * stream.ROWS_PER_FILE / res["capacity_eps"]
    return res


def report(bench, res: dict) -> dict:
    return {
        "pass_s": timing(res["pass_s"], "s"),
        "key_ms": timing(res["key_ms"], "ms"),
        **{f"key.{k}_s": {"value": v, "unit": "s", "n": len(res["pass_s"])}
           for k, v in res["key_s"].items()},
        "stream_capacity_eps": {"value": res["capacity_eps"], "unit": "events/s",
                                "n": res["steady_batches"]},
        "ingest_s": {"value": res["ingest_s"], "unit": "s", "n": res["steady_batches"]},
        "stream_latency_s": timing(res["latency_s"], "s"),
        "stream_batch_ms": timing(res["batch_ms"], "ms"),
        "gen_lag_s": timing(res["lag_s"], "s"),
    }
