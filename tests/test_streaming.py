"""Structured Streaming semantics (SURVEY.md §2.9 T1/T3/T4/T5).

Batch-parity of the window transformations is already oracle-checked via
q_stream_* (the unified API makes that a code-path no-op); these tests
exercise the genuinely streaming behaviors: micro-batch incremental
processing of a file source, watermark-driven late-data drop, and
stateful dropDuplicates — none of which a batch oracle can see.

Harness: parquet files dropped one at a time into a watched directory with
``processAllAvailable()`` between drops — a deterministic micro-batch
sequencer (each drop = one batch).
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from cellbase_spark.streaming import pipelines

EVENTS_COLS = ["event_id", "ts", "user_id", "event_type", "value", "props"]


def _events_pdf(rows: list[tuple]) -> pd.DataFrame:
    pdf = pd.DataFrame(rows, columns=EVENTS_COLS)
    # timestamp[us] parquet like the driver testdata
    pdf["ts"] = pd.to_datetime(pdf["ts"]).astype("datetime64[us]")
    return pdf


def _write_batch(spark, pdf: pd.DataFrame, directory: str, n: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.Table.from_pandas(pdf, preserve_index=False)
    pq.write_table(table, f"{directory}/batch{n}.parquet")


def _start(df, name: str):
    return (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=False, processingTime="0 seconds")
        .start()
    )


@pytest.fixture
def stream_dir(tmp_path):
    d = tmp_path / "events_stream"
    d.mkdir()
    return str(d)


def test_watermark_drops_late_event(spark, stream_dir):
    """T4: an event older than (max ts seen - delay) arriving after its
    window was finalized must NOT change the emitted aggregate."""
    agg = pipelines.tumbling_agg(
        pipelines.with_watermark(
            pipelines.read_events_stream(spark, stream_dir), "10 minutes"
        )
    )
    q = agg.writeStream.format("memory").queryName("wm_sink").outputMode("append").start()
    try:
        # batch 1: two events in the 10:00 window, then one at 12:00 that
        # advances the watermark to 11:50 — finalizing (and emitting) 10:00.
        _write_batch(
            spark,
            _events_pdf(
                [
                    (1, "2024-01-01 10:00:30", 1, "click", 1.0, "{}"),
                    (2, "2024-01-01 10:20:00", 1, "click", 2.0, "{}"),
                    (3, "2024-01-01 12:00:00", 1, "view", 1.0, "{}"),
                ]
            ),
            stream_dir,
            1,
        )
        q.processAllAvailable()
        # batch 2: a late click at 10:40 — behind the 11:50 watermark, dropped.
        _write_batch(
            spark,
            _events_pdf([(4, "2024-01-01 10:40:00", 1, "click", 99.0, "{}")]),
            stream_dir,
            2,
        )
        q.processAllAvailable()
        out = spark.sql(
            "SELECT n, total FROM wm_sink WHERE event_type = 'click'"
        ).collect()
        assert len(out) == 1  # one finalized 10:00 window row
        assert out[0]["n"] == 2 and out[0]["total"] == 3.0  # late event absent
    finally:
        q.stop()


def test_stream_dedup_keeps_first_arrival(spark, stream_dir):
    """T5: dropDuplicates on event_id holds per-key state across batches."""
    stream = pipelines.with_watermark(
        pipelines.read_events_stream(spark, stream_dir), "10 minutes"
    ).dropDuplicates(["event_id"])
    q = stream.writeStream.format("memory").queryName("dd_sink").outputMode("append").start()
    try:
        _write_batch(
            spark,
            _events_pdf(
                [
                    (1, "2024-01-01 10:00:00", 1, "click", 1.0, "{}"),
                    (1, "2024-01-01 10:00:00", 1, "click", 1.0, "{}"),  # same batch dup
                ]
            ),
            stream_dir,
            1,
        )
        q.processAllAvailable()
        _write_batch(
            spark,
            _events_pdf(
                [
                    (1, "2024-01-01 10:01:00", 1, "click", 7.0, "{}"),  # cross-batch dup
                    (2, "2024-01-01 10:02:00", 2, "view", 2.0, "{}"),
                ]
            ),
            stream_dir,
            2,
        )
        q.processAllAvailable()
        ids = sorted(r["event_id"] for r in spark.sql("SELECT event_id FROM dd_sink").collect())
        assert ids == [1, 2]
    finally:
        q.stop()


def test_incremental_equals_batch(spark, stream_dir, sf_dir):
    """T1 micro-batch parity: the same tumbling agg over the real events
    table, fed file-by-file (maxFilesPerTrigger=1), converges to the batch
    answer — aggregation must be arrival-order independent (exact decimal
    sums; float sums would fail this exact check)."""
    import glob
    import shutil

    from cellbase_spark.io import load_table

    src = glob.glob(f"{sf_dir}/events.parquet")
    assert src
    shutil.copy(src[0], f"{stream_dir}/events.parquet")

    agg = pipelines.tumbling_agg(pipelines.read_events_stream(spark, stream_dir, 1))
    q = (
        agg.writeStream.format("memory")
        .queryName("parity_sink")
        .outputMode("complete")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r["wstart"], r["event_type"]): (r["n"], r["total"])
            for r in spark.sql("SELECT * FROM parity_sink").collect()
        }
        want = {
            (r["wstart"], r["event_type"]): (r["n"], r["total"])
            for r in pipelines.tumbling_agg(load_table(spark, sf_dir, "events")).collect()
        }
        assert got == want
    finally:
        q.stop()


def test_file_sink_with_checkpoint_resumes(spark, stream_dir, tmp_path):
    """Durable sink: parquet writeStream with a checkpoint. After a stop/
    restart, the checkpoint prevents reprocessing batch 1 (exactly-once
    file output), and new data still flows."""
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def start():
        return (
            pipelines.read_events_stream(spark, stream_dir)
            .select("event_id", "user_id", "value")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )

    q = start()
    try:
        _write_batch(
            spark,
            _events_pdf([(1, "2024-01-01 10:00:00", 1, "click", 1.0, "{}")]),
            stream_dir,
            1,
        )
        q.processAllAvailable()
    finally:
        q.stop()
    q = start()  # restart from checkpoint
    try:
        _write_batch(
            spark,
            _events_pdf([(2, "2024-01-01 10:01:00", 2, "view", 2.0, "{}")]),
            stream_dir,
            2,
        )
        q.processAllAvailable()
    finally:
        q.stop()
    ids = sorted(r["event_id"] for r in spark.read.parquet(out).collect())
    assert ids == [1, 2]  # batch 1 exactly once, batch 2 picked up


def _state_stores(spark) -> int:
    return min(spark.sparkContext.defaultParallelism, pipelines.STATE_STORES_MAX)


def test_state_sized_shuffle_scopes_partitions_to_slots(spark):
    """Inside the scope the shuffle-partition count is one state store per
    task slot, capped; on exit the previous value comes back, also when
    the body raises."""
    key = "spark.sql.shuffle.partitions"
    outer = spark.conf.get(key)
    try:
        spark.conf.set(key, "13")
        with pipelines.state_sized_shuffle(spark):
            assert spark.conf.get(key) == str(_state_stores(spark))
        assert spark.conf.get(key) == "13"

        with pytest.raises(RuntimeError, match="boom"):
            with pipelines.state_sized_shuffle(spark):
                assert spark.conf.get(key) == str(_state_stores(spark))
                raise RuntimeError("boom")
        assert spark.conf.get(key) == "13"
    finally:
        spark.conf.set(key, outer)


def test_restart_keeps_checkpointed_state_partitions(spark, stream_dir, sf_dir, tmp_path):
    """A watermarked tumbling count checkpointed under one partition count
    restarts on the same checkpoint inside state_sized_shuffle (a
    different count): the restarted query keeps the checkpointed count,
    carries the first file's state, and its complete output equals the
    batch aggregate of both files."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    events = pq.read_table(f"{sf_dir}/events.parquet")
    events = events.take(pc.sort_indices(events, [("ts", "ascending")]))
    half = events.num_rows // 2
    ckpt = str(tmp_path / "ckpt")
    key = "spark.sql.shuffle.partitions"
    explicit = _state_stores(spark) + 1

    def start():
        return (
            pipelines.tumbling_agg(
                pipelines.with_watermark(pipelines.read_events_stream(spark, stream_dir))
            )
            .writeStream.format("memory")
            .queryName("restart_sink")
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .start()
        )

    def state_partitions(q) -> int:
        return q.lastProgress["stateOperators"][0]["numShufflePartitions"]

    # the second file is all later than the first: no row is late
    pq.write_table(events.slice(0, half), f"{stream_dir}/part1.parquet")
    prev = spark.conf.get(key)
    spark.conf.set(key, str(explicit))
    try:
        q = start()
        try:
            q.processAllAvailable()
            assert state_partitions(q) == explicit
        finally:
            q.stop()
    finally:
        spark.conf.set(key, prev)

    pq.write_table(events.slice(half), f"{stream_dir}/part2.parquet")
    with pipelines.state_sized_shuffle(spark):
        q = start()
        try:
            q.processAllAvailable()
            assert state_partitions(q) == explicit
        finally:
            q.stop()

    got = {
        (r["wstart"], r["event_type"]): (r["n"], r["total"])
        for r in spark.table("restart_sink").collect()
    }
    want = {
        (r["wstart"], r["event_type"]): (r["n"], r["total"])
        for r in pipelines.tumbling_agg(spark.read.parquet(stream_dir)).collect()
    }
    assert got == want


def test_stream_static_join(spark, stream_dir, sf_dir):
    """T6: a streaming events feed joins the static customer dim per
    micro-batch — the enrichment join of every event pipeline. The static
    side is planned as a normal (broadcastable) relation each batch."""
    from cellbase_spark.io import load_table

    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    enriched = pipelines.read_events_stream(spark, stream_dir).join(dim, "user_id")
    q = enriched.writeStream.format("memory").queryName("ss_sink").outputMode("append").start()
    try:
        _write_batch(
            spark,
            _events_pdf(
                [
                    (1, "2024-01-01 10:00:00", 1, "click", 1.0, "{}"),
                    (2, "2024-01-01 10:01:00", 2, "view", 2.0, "{}"),
                    (3, "2024-01-01 10:02:00", 10**12, "view", 3.0, "{}"),  # no dim row
                ]
            ),
            stream_dir,
            1,
        )
        q.processAllAvailable()
        rows = spark.sql("SELECT event_id, c_mktsegment FROM ss_sink").collect()
        assert sorted(r["event_id"] for r in rows) == [1, 2]  # inner join drops 3
        assert all(r["c_mktsegment"] for r in rows)
    finally:
        q.stop()


def test_stateful_running_totals(spark, stream_dir):
    """Custom stateful operator: per-user state accumulates across
    micro-batches (applyInPandasWithState, update mode)."""
    stream = pipelines.running_user_totals(pipelines.read_events_stream(spark, stream_dir))
    q = stream.writeStream.format("memory").queryName("state_sink").outputMode("update").start()
    try:
        _write_batch(
            spark,
            _events_pdf(
                [
                    (1, "2024-01-01 10:00:00", 1, "click", 1.5, "{}"),
                    (2, "2024-01-01 10:01:00", 1, "click", 2.0, "{}"),
                    (3, "2024-01-01 10:02:00", 2, "view", 5.0, "{}"),
                ]
            ),
            stream_dir,
            1,
        )
        q.processAllAvailable()
        _write_batch(
            spark,
            _events_pdf([(4, "2024-01-01 10:03:00", 1, "click", 3.0, "{}")]),
            stream_dir,
            2,
        )
        q.processAllAvailable()
        rows = spark.sql(
            "SELECT * FROM state_sink WHERE user_id = 1 ORDER BY n_events DESC"
        ).collect()
        # batch 1 emitted (2, 3.5); batch 2 emitted the carried state (3, 6.5)
        assert (rows[0]["n_events"], rows[0]["total"]) == (3, 6.5)
        assert (rows[1]["n_events"], rows[1]["total"]) == (2, 3.5)
    finally:
        q.stop()


def test_session_window_gap_semantics(spark, stream_dir):
    """T3: events < gap apart merge; >= gap starts a new session."""
    from cellbase_spark.io import load_table  # noqa: F401  (import parity)

    pdf = _events_pdf(
        [
            (1, "2024-01-01 10:00:00", 7, "click", 1.0, "{}"),
            (2, "2024-01-01 10:29:59", 7, "click", 1.0, "{}"),  # merges (gap < 30m)
            (3, "2024-01-01 11:10:00", 7, "click", 1.0, "{}"),  # new session
        ]
    )
    _write_batch(spark, pdf, stream_dir, 1)
    static = spark.read.parquet(stream_dir)  # timestamp[us] -> TimestampType
    rows = pipelines.session_agg(static).orderBy("session_start").collect()
    assert [r["n_events"] for r in rows] == [2, 1]
    assert rows[0]["session_end"] == rows[0]["session_start"].replace(hour=10, minute=59, second=59)


def test_stateful_running_totals_tws(spark, stream_dir):
    """U6 (Spark 4 API): transformWithStateInPandas keeps named state
    across micro-batches, matching the applyInPandasWithState semantics.

    The TWS runtime speaks protobuf between the JVM and its Python
    workers; with google.protobuf absent (this container), importing
    streaming/tws.py installs the pure-Python wire-format shim
    (streaming/pbshim.py) in every process that unpickles the processor,
    so the pipeline runs for real — no capability skip since round 4."""
    stream = pipelines.running_user_totals_tws(pipelines.read_events_stream(spark, stream_dir))
    q = (
        stream.writeStream.format("memory")
        .queryName("tws_sink")
        .outputMode("update")
        .start()
    )
    try:
        _write_batch(
            spark,
            _events_pdf(
                [
                    (1, "2024-01-01 00:00:00", 7, "click", 2.0, "{}"),
                    (2, "2024-01-01 00:01:00", 7, "view", 3.0, "{}"),
                    (3, "2024-01-01 00:02:00", 9, "click", 5.0, "{}"),
                ]
            ),
            stream_dir,
            0,
        )
        q.processAllAvailable()
        _write_batch(
            spark,
            _events_pdf([(4, "2024-01-01 00:03:00", 7, "purchase", 10.0, "{}")]),
            stream_dir,
            1,
        )
        q.processAllAvailable()
        rows = spark.sql(
            "SELECT * FROM tws_sink ORDER BY n_events, user_id"
        ).collect()
        # batch0: u7 (2, 5.0), u9 (1, 5.0); batch1: u7 (3, 15.0)
        latest = {}
        for r in rows:
            latest[r["user_id"]] = (r["n_events"], r["total"])
        assert latest[7] == (3, 15.0)
        assert latest[9] == (1, 5.0)
    finally:
        q.stop()


def test_replay_source_multi_batch(spark, stream_dir):
    """Custom Python streaming source: the replay source must deliver its
    rows across MULTIPLE micro-batches (that's its purpose — guaranteed
    multi-batch arrival from a single file) and the summed counts must
    equal the file's row count."""
    from cellbase_spark.sources.pyds import register

    pdf = _events_pdf(
        [(i, f"2024-01-01 10:{i:02d}:00", 1, "click", 1.0, "{}") for i in range(8)]
    )
    _write_batch(spark, pdf, stream_dir, 1)
    register(spark)
    stream = (
        spark.readStream.format("cellbase_replay")
        .schema(
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string"
        )
        .option("path", f"{stream_dir}/batch1.parquet")
        .option("batches", "4")
        .load()
    )
    q = (
        stream.groupBy("event_type")
        .count()
        .writeStream.format("memory")
        .queryName("replay_sink")
        .outputMode("complete")
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        q.processAllAvailable()
        data_batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
        assert len(data_batches) >= 4  # 8 rows / 4 slices -> 4 data batches
        out = spark.sql("SELECT * FROM replay_sink").collect()
        assert {(r["event_type"], r["count"]) for r in out} == {("click", 8)}
    finally:
        q.stop()


def test_stream_run_ann_serves_every_query_once(spark, sf_dir):
    """q_stream_run_ann (r7): every staged query vector is served by
    exactly one micro-batch — 32 distinct query_ids, exactly 5 ranked
    hits each (rk 1..5, no duplicates from batch overlap), and no query
    ever matches itself."""
    from cellbase_spark.registry import queries

    rows = queries()["q_stream_run_ann"](spark, sf_dir).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
        assert r.vec_id != r.query_id
    assert len(by_q) == 32
    for qid, hits in by_q.items():
        # contiguous ranks from 1; at most 5 (a tiny fixture sf can hold
        # fewer than 5 same-centroid neighbors for a given query)
        assert sorted(h.rk for h in hits) == list(range(1, len(hits) + 1)), qid
        assert len(hits) <= 5, qid


def test_streamed_ann_probe_excludes_tombstones(spark, sf_dir, tmp_path):
    """A takedown (delete_from_ann_index) must vanish from STREAMED
    serving too: delete the top hit of a streamed probe on a private
    index copy, re-run the stream, and the id is gone from every
    query's results while other hits persist."""
    import os

    from cellbase_spark.operators.similarity import (
        compact_ann_index,
        delete_from_ann_index,
    )
    from cellbase_spark.queries.llm_similarity import _ensure_trained_ann_index
    from cellbase_spark.queries.streaming import _run_ann_stream

    base = _ensure_trained_ann_index(spark, sf_dir)
    t = f"cb_annstream_del_{os.getpid()}"
    compact_ann_index(spark, t, str(tmp_path / "annsd"), [base])
    before = _run_ann_stream(
        spark, sf_dir, t, name="cb_sdel_before", tmp_prefix="cb_sdel_b_"
    ).collect()
    assert before
    doomed = int(before[0].vec_id)
    delete_from_ann_index(spark, t, [doomed])
    after = _run_ann_stream(
        spark, sf_dir, t, name="cb_sdel_after", tmp_prefix="cb_sdel_a_"
    ).collect()
    ids_after = {int(r.vec_id) for r in after}
    assert doomed not in ids_after
    # survivors unaffected
    survivors = {int(r.vec_id) for r in before} - {doomed}
    assert survivors <= ids_after | survivors  # sanity: no crash-shrink
    assert len(after) >= len(before) - len(
        [r for r in before if int(r.vec_id) == doomed]
    )
    spark.sql(f"DROP TABLE IF EXISTS {t}")
    spark.sql(f"DROP TABLE IF EXISTS {t}__tombstones")
