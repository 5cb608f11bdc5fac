"""Batch/stream-unified event pipelines.

Scale notes:
- Tumbling/sliding aggs shuffle on (window, keys) with partial aggregation
  before the exchange; state per window x key is one row, evicted by the
  watermark — bounded memory on an unbounded stream.
- session_window state is per (user, open session); the 30-min gap +
  watermark bound how long a session stays open.
- Decimal accumulation keeps streamed sums bit-identical to the batch
  oracle regardless of micro-batch boundaries (float sums would differ by
  arrival order — the same partition-order issue, worse).
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cellbase_spark import schemas
from cellbase_spark.functions.exact import DEC

import contextlib


# Store count at which the state stage stopped improving at local[32]
# (optimization r15/r16): the cap once a deployment has more slots.
STATE_STORES_MAX = 8


@contextlib.contextmanager
def state_sized_shuffle(spark: SparkSession):
    """Scope a stream's shuffle-partition count, which is its state-store
    count, to the task slots: min(defaultParallelism, STATE_STORES_MAX).

    A stateful streaming query instantiates one state-store provider per
    shuffle partition. The cost model behind the rule:
    - every store pays a fixed open + delta/snapshot maintenance + commit
      + checksum cost on every micro-batch, however little state it holds;
    - stores beyond the number of task slots run the state stage in more
      than one wave, so each extra wave adds that fixed cost to the
      batch latency (8 stores at local[4]: two waves per batch);
    - stores below the number of slots leave slots idle, which starves
      the operators that do per-row work in the state stage (Python
      stateful processors, stream-stream joins: ~2x slower at 1 store
      than at 4 on 4 slots).
    So one store per slot, capped at the 8 that measured best at
    local[32] for the ~10^3-10^4-key states of the bench streams. Wide
    state (~100 MB-1 GB per store) would want more stores; none of the
    engine's streams is near that.

    The state partition count is baked into a NEW checkpoint at its
    first batch; restarts from an existing checkpoint keep the
    checkpointed count whatever this scope says, so scoping the conf to
    the start site is both sufficient and safe.

    SINGLE-THREADED ASSUMPTION (same contract as operators/ckpt.py): the
    conf is session-global, so any batch query planned concurrently in
    the same session during the stream's run would silently inherit the
    stream's partition count, and nested/concurrent uses could restore a
    clobbered value. Every engine surface (driver contract, bench,
    check_oracle, tests) starts and awaits streams sequentially."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    stores = min(spark.sparkContext.defaultParallelism, STATE_STORES_MAX)
    try:
        spark.conf.set("spark.sql.shuffle.partitions", str(stores))
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def _events_ts_arrives_as_long(path: str) -> bool:
    """Peek at an existing parquet file to learn how Spark will surface
    `ts`: TIMESTAMP(NANOS) parquet arrives as LongType (nanosAsLong=true),
    while us/ms timestamps arrive as TimestampType. File-source streams
    need the schema declared up front, so we inspect the footer of the
    first file already in the watched directory (cheap: footer-only read,
    one file, once at stream definition). An empty directory defaults to
    TimestampType — the driver testdata and this repo's writers are all
    timestamp[us]."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    if os.path.isfile(path):
        files = [path]
    else:
        files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        return False
    t = pq.read_schema(files[0]).field("ts").type
    return pa.types.is_integer(t) or (pa.types.is_timestamp(t) and t.unit == "ns")


def read_events_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source streaming read of events parquet, normalized exactly
    like io.load_table: whatever the parquet timestamp physical unit, the
    stream carries a microsecond TimestampType `ts`."""
    as_long = _events_ts_arrives_as_long(path)
    ts_decl = "long" if as_long else "timestamp"
    schema = (
        f"event_id long, ts {ts_decl}, user_id long, event_type string, "
        "value double, props string"
    )
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    df = reader.parquet(path)
    if as_long:
        # ns-as-long -> us timestamp (truncating), same as DuckDB's ns read.
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return df


def run_stream_to_memory(
    stream_df: DataFrame,
    name: str,
    output_mode: str = "complete",
) -> DataFrame:
    """Execute a streaming DataFrame to completion over its (bounded)
    source and return the materialized result: availableNow trigger +
    memory sink, awaited. The streaming-native face of 'run this query':
    micro-batch planner, state store, sink commit — the full streaming
    engine, not the batch fast path. Restartable: a previous run under
    the same name is stopped and its sink replaced."""
    spark = stream_df.sparkSession
    for q in spark.streams.active:
        if q.name == name:
            q.stop()
    with state_sized_shuffle(spark):
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name)


def tumbling_agg(events: DataFrame, width: str = "1 hour") -> DataFrame:
    """Per-hour x event_type counts and exact value sums."""
    return (
        events.groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("value").cast(DEC)), 4).cast("double").alias("total"),
        )
        .select(F.col("w.start").alias("wstart"), "event_type", "n", "total")
    )


def sliding_agg(events: DataFrame, width: str = "1 hour", slide: str = "15 minutes") -> DataFrame:
    """1-hour windows sliding every 15 min (each event lands in 4)."""
    return (
        events.groupBy(F.window("ts", width, slide).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("wstart"), "event_type", "n")
    )


def session_agg(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Per-user session windows (30-min inactivity gap): start = first
    event, end = last event + gap, plus count and exact sum."""
    return (
        events.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast(DEC)), 4).cast("double").alias("total"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "total",
        )
    )


def stream_dedup_keys(events: DataFrame, keys: list[str]) -> DataFrame:
    """Key-projected dedup: distinct on the key columns only — the
    batch-deterministic face of streaming dropDuplicates (which keeps
    first-arrival state per key within the watermark)."""
    return events.select(*keys).distinct()


def with_watermark(events: DataFrame, delay: str = "10 minutes") -> DataFrame:
    return events.withWatermark("ts", delay)


def running_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): per-user running
    event count and value total, emitted once per micro-batch.

    This is the escape hatch for stateful logic windowed aggs can't
    express (custom accumulators, session machines, counters with
    app-specific reset rules). State is one (count, total) pair per user —
    bounded by key cardinality, partitioned across executors by the
    groupBy key like any shuffle.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdfs, state):
        count, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            count += len(pdf)
            total += float(pdf["value"].sum())
        state.update((count, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [count], "total": [round(total, 4)]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, n_events long, total double",
        stateStructType="count long, total double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def running_user_totals_tws(events: DataFrame) -> DataFrame:
    """Spark 4 successor of running_user_totals: the same per-user running
    (count, total) accumulator on transformWithStateInPandas — the
    StatefulProcessor API with named state variables (ValueState here;
    ListState/MapState and timers exist for richer machines). Unlike
    applyInPandasWithState's single opaque state tuple, state is declared
    per-variable with its own schema, and the processor object carries
    the lifecycle (init/handleInputRows/close) — the shape new stateful
    operators should take on Spark >= 4.0.

    Runtime dependency, CLOSED in round 4: the TWS workers speak
    protobuf to the JVM state server; where google.protobuf is absent
    (this container; installs barred) streaming/tws.py installs the
    pure-Python wire-format shim (streaming/pbshim.py) and the pipeline
    runs for real — see test_stateful_running_totals_tws and the
    oracle-gated q_stream_run_tws key."""
    from cellbase_spark.streaming import tws

    return tws.running_user_totals_tws(events)
