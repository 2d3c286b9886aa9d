"""Hybrid snapshot+stream reconciliation and exactly-once sink tests —
the Spark equivalents of the reference's SnapshotSplitReaderTest /
BinlogSplitReaderTest / failover ITCases (B13)."""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from flink_cdc_2_3_0_src_spark.model import OP_COL, SEQ_COL, ChunkRange
from flink_cdc_2_3_0_src_spark.operators.changelog import materialize
from flink_cdc_2_3_0_src_spark.sources.scripted_log import scripted_changelog
from flink_cdc_2_3_0_src_spark.streaming.hybrid import HybridPipeline
from flink_cdc_2_3_0_src_spark.streaming.replay import (
    read_replay_stream,
    write_replay_files,
)
from flink_cdc_2_3_0_src_spark.streaming.sink import UpsertParquetSink
from tests.conftest import SF_SMOKE

CHUNKS = [ChunkRange(None, 8), ChunkRange(8, 16), ChunkRange(16, None)]


def oracle_state(spark):
    log = scripted_changelog(spark, SF_SMOKE)
    return {
        (r["user_id"], r["value"])
        for r in materialize(log, ["user_id"]).collect()
    }


def test_snapshot_chunk_backfill_merge(spark):
    """A6/A7: chunk scan at low + backfill (low, high] == state at high."""
    log = scripted_changelog(spark, SF_SMOKE)
    p = HybridPipeline(spark, log, ["user_id"])
    chunk = ChunkRange(5, 15)
    got = p.snapshot_chunk(chunk, "user_id", low_watermark=300, high_watermark=700)
    expect = (
        p.db_state_at(700)
        .filter("user_id >= 5 AND user_id < 15")
    )
    g = {(r["user_id"], r["value"]) for r in got.collect()}
    e = {(r["user_id"], r["value"]) for r in expect.collect()}
    assert g == e


def test_snapshot_backfill_skip(spark):
    """A8: low == high → pure scan, no merge."""
    log = scripted_changelog(spark, SF_SMOKE)
    p = HybridPipeline(spark, log, ["user_id"])
    got = p.snapshot_chunk(ChunkRange(None, None), "user_id", 500, 500)
    e = {(r["user_id"], r["value"]) for r in p.db_state_at(500).collect()}
    g = {(r["user_id"], r["value"]) for r in got.collect()}
    assert g == e


def test_hybrid_pipeline_reconciliation(spark):
    """Full DBLog algorithm: per-chunk watermarks racing the log, stream
    filtered per chunk HW — final materialized table equals the oracle."""
    log = scripted_changelog(spark, SF_SMOKE)
    p = HybridPipeline(spark, log, ["user_id"])
    # each chunk snapshots at a different moment (the race the watermark
    # algorithm must survive)
    wm = lambda i: (200 + 100 * i, 250 + 150 * i)
    final = p.run(CHUNKS, "user_id", watermarks=wm)
    got = {(r["user_id"], r["value"]) for r in final.collect()}
    assert got == oracle_state(spark)


def test_manifest_resume(spark, tmp_path):
    """A18: kill mid-snapshot, resume from manifest, same result."""
    log = scripted_changelog(spark, SF_SMOKE)
    mpath = str(tmp_path / "manifest.json")
    wm = lambda i: (100 + 200 * i, 400 + 200 * i)

    p1 = HybridPipeline(spark, log, ["user_id"], manifest_path=mpath)
    # run only the first two chunks, then "crash"
    p1.run_snapshot_phase(CHUNKS[:2], "user_id", watermarks=wm)

    p2 = HybridPipeline(spark, log, ["user_id"], manifest_path=mpath)
    snap, manifest = p2.run_snapshot_phase(CHUNKS, "user_id", watermarks=lambda i: (0, 0))
    # resumed chunks keep their original watermarks from the manifest
    assert manifest.chunks[0].high_watermark == 400
    assert manifest.chunks[1].high_watermark == 600
    assert len(manifest.chunks) == 3
    stream_events = p2.stream_filter(
        log.filter(F.col(SEQ_COL) > manifest.min_high_watermark()), manifest
    )
    final = materialize(snap.unionByName(stream_events), ["user_id"])
    got = {(r["user_id"], r["value"]) for r in final.collect()}
    assert got == oracle_state(spark)


def _run_stream(spark, replay_dir, sink_path, ckpt, timeout_s=60):
    schema = None
    log = scripted_changelog(spark, SF_SMOKE)
    sink = UpsertParquetSink(spark, sink_path, ["user_id"])
    stream = read_replay_stream(
        spark, replay_dir, log.schema
    )
    q = (
        stream.writeStream.foreachBatch(sink.foreach_batch())
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout_s)
    return sink


def test_run_streaming_end_to_end(spark, tmp_path):
    """The full production shape: batch snapshot seeds the sink, the
    stream phase runs as a real Structured Streaming query with the A10
    filter — final sink state equals the oracle."""
    log = scripted_changelog(spark, SF_SMOKE)
    replay_dir = str(tmp_path / "replay_h")
    write_replay_files(log, replay_dir, n_files=5)
    stream = read_replay_stream(spark, replay_dir, log.schema)
    sink = UpsertParquetSink(spark, str(tmp_path / "state_h"), ["user_id"])

    p = HybridPipeline(spark, log, ["user_id"])
    manifest, q = p.run_streaming(
        CHUNKS,
        "user_id",
        stream,
        sink,
        str(tmp_path / "ckpt_h"),
        watermarks=lambda i: (150 + 100 * i, 350 + 100 * i),
    )
    assert len(manifest.chunks) == len(CHUNKS)
    state = sink.read_state()
    got = {(r["user_id"], r["value"]) for r in state.collect()}
    assert got == oracle_state(spark)


def test_run_streaming_crash_resume(spark, tmp_path):
    """B13 on the full production shape: kill the stream mid-replay,
    restart run_streaming with the same manifest/sink/checkpoint — the
    snapshot phase resumes from the manifest (not re-bracketed), the
    stream resumes from the SS checkpoint, final state equals oracle."""
    log = scripted_changelog(spark, SF_SMOKE)
    replay_dir = str(tmp_path / "replay_cr")
    write_replay_files(log, replay_dir, n_files=6)
    sink = UpsertParquetSink(spark, str(tmp_path / "state_cr"), ["user_id"])
    mpath = str(tmp_path / "manifest_cr.json")
    ckpt = str(tmp_path / "ckpt_cr")
    wm = lambda i: (150 + 100 * i, 350 + 100 * i)

    # phase 1: start, let at least one batch through, then kill
    p1 = HybridPipeline(spark, log, ["user_id"], manifest_path=mpath)
    snap, manifest1 = p1.run_snapshot_phase(CHUNKS, "user_id", watermarks=wm)
    sink.merge_batch(snap, -1)
    stream1 = read_replay_stream(spark, replay_dir, log.schema)

    def process1(batch_df, batch_id):
        filtered = p1.stream_filter(
            batch_df.filter(F.col(SEQ_COL) > manifest1.min_high_watermark()),
            manifest1,
        )
        sink.merge_batch(filtered, batch_id)

    q1 = (
        stream1.writeStream.foreachBatch(process1)
        .option("checkpointLocation", ckpt)
        .start()
    )
    deadline = time.time() + 60
    while time.time() < deadline and sink.current_version() in (None, "v-000000001"):
        time.sleep(0.5)
    q1.stop()
    q1.awaitTermination(30)

    # phase 2: full restart — manifest resume keeps original watermarks
    p2 = HybridPipeline(spark, log, ["user_id"], manifest_path=mpath)
    stream2 = read_replay_stream(spark, replay_dir, log.schema)
    manifest2, q2 = p2.run_streaming(
        CHUNKS, "user_id", stream2, sink, ckpt,
        watermarks=lambda i: (0, 0),  # ignored: manifest wins on resume
    )
    assert manifest2.chunks[0].high_watermark == 350  # resumed, not re-run
    got = {(r["user_id"], r["value"]) for r in sink.read_state().collect()}
    assert got == oracle_state(spark)


def test_stream_filter_string_pk_manifest(spark):
    """A10 on a STRING split key: string chunk bounds in the manifest
    filter the stream, and the snapshot + filtered stream (and ``run``)
    reproduce the materialized log."""
    log = scripted_changelog(spark, SF_SMOKE).withColumn(
        "user_key", F.concat(F.lit("u-"), F.lpad(F.col("user_id"), 6, "0"))
    )
    p = HybridPipeline(spark, log, ["user_key"])
    chunks = [
        ChunkRange(None, "u-000008"),
        ChunkRange("u-000008", "u-000016"),
        ChunkRange("u-000016", None),
    ]
    wm = lambda i: (100 + 200 * i, 300 + 200 * i)
    snap, manifest = p.run_snapshot_phase(chunks, "user_key", watermarks=wm)
    events = p.stream_filter(
        log.filter(F.col(SEQ_COL) > manifest.min_high_watermark()), manifest
    )
    assert events.count() > 0
    expect = {tuple(r) for r in materialize(log, ["user_key"]).collect()}
    merged = materialize(snap.unionByName(events), ["user_key"])
    assert {tuple(r) for r in merged.collect()} == expect
    ran = p.run(chunks, "user_key", watermarks=wm)
    assert {tuple(r) for r in ran.collect()} == expect


def test_heartbeats_advance_offset_without_data(spark):
    """A23: heartbeat records advance the reported offset but emit no
    data rows."""
    from flink_cdc_2_3_0_src_spark.sources.scripted_log import split_heartbeats

    log = scripted_changelog(spark, SF_SMOKE)
    hb = spark.createDataFrame([(None, None, None, "+H", 10_000_000)], log.schema)
    data, tip = split_heartbeats(log.unionByName(hb))
    assert tip == 10_000_000              # offset advanced by heartbeat
    assert data.count() == log.count()    # no data emitted for it


def test_streaming_upsert_sink_exactly_once(spark, tmp_path):
    """B13: replay the log as microbatches through foreachBatch + upsert
    sink; kill after the first run half-way, restart from the same
    checkpoint — final state equals the oracle exactly once."""
    log = scripted_changelog(spark, SF_SMOKE)
    replay_dir = str(tmp_path / "replay")
    write_replay_files(log, replay_dir, n_files=6)
    sink_path = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    # phase 1: process only the first 3 files (simulated crash: stop the
    # query once at least one batch is through)
    sink = UpsertParquetSink(spark, sink_path, ["user_id"])
    stream = read_replay_stream(spark, replay_dir, log.schema)
    q = (
        stream.writeStream.foreachBatch(sink.foreach_batch())
        .option("checkpointLocation", ckpt)
        .start()
    )
    deadline = time.time() + 60
    while time.time() < deadline and sink.current_version() is None:
        time.sleep(0.5)
    q.stop()
    q.awaitTermination(30)
    assert sink.current_version() is not None  # some progress happened

    # phase 2: restart from checkpoint, drain everything
    sink2 = _run_stream(spark, replay_dir, sink_path, ckpt)
    state = sink2.read_state()
    got = {(r["user_id"], r["value"]) for r in state.collect()}
    assert got == oracle_state(spark)


def test_committed_changelog_withholds_and_reorders(spark):
    """Debezium transaction metadata (streaming/transactions.py):
    transactions release only when END-marked AND complete; released
    events are re-sequenced by (commit position, total_order)."""
    from flink_cdc_2_3_0_src_spark.streaming.transactions import (
        committed_changelog,
    )

    log = spark.createDataFrame(
        [
            # txn 1: two events, committed EARLY (commit_seq 100)
            (1, 10.0, "+I", 0, 1, 0),
            (1, 11.0, "+U", 1, 1, 1),
            # txn 2: committed LATER (commit_seq 200) but written first
            # in the log — commit order must win
            (1, 20.0, "+U", 2, 2, 0),
            # txn 3: no END marker (in-flight) -> withheld
            (9, 90.0, "+I", 3, 3, 0),
            # txn 4: END marker promises 2 events, only 1 seen -> withheld
            (8, 80.0, "+I", 4, 4, 0),
        ],
        "user_id int, value double, _op string, _seq long, txn_id long, txn_order long",
    )
    boundaries = spark.createDataFrame(
        [
            (1, "END", 2, 100),
            (2, "END", 1, 200),
            (4, "END", 2, 300),
            (2, "BEGIN", 1, 150),  # BEGIN markers never commit
        ],
        "txn_id long, status string, event_count long, commit_seq long",
    )
    out = committed_changelog(log, boundaries)
    rows = sorted(out.collect(), key=lambda r: r["_seq"])
    assert [r["txn_id"] for r in rows] == [1, 1, 2]
    assert [r["value"] for r in rows] == [10.0, 11.0, 20.0]
    # commit-ordered: txn 1 (commit 100) precedes txn 2 (commit 200)
    assert rows[0]["_seq"] == 100 * 1_000_000 + 0
    assert rows[-1]["_seq"] == 200 * 1_000_000 + 0
    assert all(r["user_id"] != 9 and r["user_id"] != 8 for r in rows)


def test_from_debezium_json_transaction_block(spark):
    """Envelope decode surfaces the Debezium transaction block; decoded
    events feed committed_changelog end-to-end."""
    import json as _json

    from pyspark.sql import types as T

    from flink_cdc_2_3_0_src_spark.functions.debezium import from_debezium_json
    from flink_cdc_2_3_0_src_spark.streaming.transactions import (
        committed_changelog,
    )

    def env(uid, val, op, ts, txn, order):
        e = {
            "before": None,
            "after": {"user_id": uid, "value": val},
            "op": op,
            "ts_ms": ts,
            "transaction": {
                "id": txn,
                "total_order": order,
                "data_collection_order": order,
            },
        }
        return (_json.dumps(e),)

    rows = [
        env(1, 1.0, "c", 0, "txA", 1),
        env(1, 2.0, "u", 1, "txA", 2),
        env(2, 9.0, "c", 2, "txB", 1),  # txB has no END marker
    ]
    df = spark.createDataFrame(rows, "value string")
    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    decoded = from_debezium_json(df, schema, include_transaction=True)
    assert {"txn_id", "txn_order"} <= set(decoded.columns)
    # the 'u' op expands to -U/+U, BOTH carrying the txn metadata —
    # Debezium counts the update as ONE event, so compare against the
    # envelope-level count: collapse the -U half before counting
    data = decoded.filter(F.col("_op") != "-U")
    boundaries = spark.createDataFrame(
        [("txA", "END", 2, 50)],
        "txn_id string, status string, event_count long, commit_seq long",
    )
    out = committed_changelog(data, boundaries)
    got = sorted(out.collect(), key=lambda r: r["_seq"])
    assert [r["value"] for r in got] == [1.0, 2.0]
    assert all(r["txn_id"] == "txA" for r in got)


def test_committed_changelog_replayed_end_marker(spark):
    """At-least-once transaction topic: a replayed END marker must not
    double-release the transaction's events."""
    from flink_cdc_2_3_0_src_spark.streaming.transactions import (
        committed_changelog,
    )

    log = spark.createDataFrame(
        [(1, 10.0, "+I", 0, 1, 0)],
        "user_id int, value double, _op string, _seq long, txn_id long, txn_order long",
    )
    boundaries = spark.createDataFrame(
        [(1, "END", 1, 100), (1, "END", 1, 100)],  # replay
        "txn_id long, status string, event_count long, commit_seq long",
    )
    out = committed_changelog(log, boundaries).collect()
    assert len(out) == 1 and out[0]["value"] == 10.0


def test_streaming_committed_changelog_end_to_end(spark, tmp_path):
    """Stateful streaming transaction emission: events arrive in one
    microbatch, END markers in a LATER one — transactions must stay
    buffered across batches, release exactly once when complete, and an
    in-flight transaction must never appear in the sink."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from flink_cdc_2_3_0_src_spark.streaming.replay import (
        read_replay_stream,
        write_replay_files,
    )
    from flink_cdc_2_3_0_src_spark.streaming.transactions import (
        streaming_committed_changelog,
    )

    schema = T.StructType(
        [
            T.StructField("txn_id", T.LongType()),
            T.StructField("kind", T.StringType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("_op", T.StringType()),
            T.StructField("txn_order", T.LongType()),
            T.StructField("event_count", T.LongType()),
            T.StructField("commit_seq", T.LongType()),
            T.StructField("_seq", T.LongType()),  # replay-file ordering
        ]
    )
    rows = [
        # txn 1: two data events early, END marker LATE (seq 100)
        (1, "D", 1, 10.0, "+I", 0, None, None, 0),
        (1, "D", 1, 11.0, "+U", 1, None, None, 1),
        # txn 2: one event, END inside the same early range
        (2, "D", 2, 20.0, "+I", 0, None, None, 2),
        (2, "E", None, None, None, None, 1, 50, 3),
        # txn 3: in-flight forever
        (3, "D", 9, 90.0, "+I", 0, None, None, 4),
        # txn 1's END arrives last
        (1, "E", None, None, None, None, 2, 100, 100),
    ]
    log = spark.createDataFrame(rows, schema)
    replay_dir = str(tmp_path / "replay")
    write_replay_files(log, replay_dir, n_files=3)
    stream = read_replay_stream(spark, replay_dir, schema).drop("_seq")

    out = streaming_committed_changelog(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("txn_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        spark.sql("SELECT * FROM txn_out").collect(), key=lambda r: r["_seq"]
    )
    # txn 2 commits first (commit_seq 50), then txn 1 (100); txn 3 never
    assert [(r["user_id"], r["value"]) for r in got] == [
        (2, 20.0),
        (1, 10.0),
        (1, 11.0),
    ]
    assert [r["_commit_seq"] for r in got] == [50, 100, 100]
    assert got[1]["_seq"] == 100 * 1_000_000 + 0
    assert got[2]["_seq"] == 100 * 1_000_000 + 1


def test_streaming_committed_changelog_crash_resume(spark, tmp_path):
    """Kill the transaction query after the first microbatch (events
    buffered, END not yet seen), restart from the checkpoint: the
    buffered transaction must survive in the state store and release
    EXACTLY ONCE when its END marker arrives post-restart."""
    import time

    from pyspark.sql import types as T

    from flink_cdc_2_3_0_src_spark.streaming.replay import (
        read_replay_stream,
        write_replay_files,
    )
    from flink_cdc_2_3_0_src_spark.streaming.transactions import (
        streaming_committed_changelog,
    )

    schema = T.StructType(
        [
            T.StructField("txn_id", T.LongType()),
            T.StructField("kind", T.StringType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("_op", T.StringType()),
            T.StructField("txn_order", T.LongType()),
            T.StructField("event_count", T.LongType()),
            T.StructField("commit_seq", T.LongType()),
            T.StructField("_seq", T.LongType()),
        ]
    )
    rows = [
        (1, "D", 1, 10.0, "+I", 0, None, None, 0),   # pre-crash
        (1, "D", 1, 11.0, "+U", 1, None, None, 1),   # pre-crash
        (1, "E", None, None, None, None, 2, 100, 50),  # post-restart
    ]
    log = spark.createDataFrame(rows, schema)
    replay_dir = str(tmp_path / "replay_txn")
    write_replay_files(log, replay_dir, n_files=3)
    ckpt = str(tmp_path / "ckpt_txn")
    out_dir = str(tmp_path / "txn_out")

    def start(trigger_kwargs):
        stream = read_replay_stream(spark, replay_dir, schema).drop("_seq")
        return (
            streaming_committed_changelog(stream)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(**trigger_kwargs)
            .start()
        )

    q1 = start({"processingTime": "1 second"})
    deadline = time.time() + 60
    while time.time() < deadline and not q1.recentProgress:
        time.sleep(0.5)
    q1.stop()
    q1.awaitTermination(30)

    q2 = start({"availableNow": True})
    q2.awaitTermination(120)

    got = sorted(
        spark.read.parquet(out_dir).collect(), key=lambda r: r["_seq"]
    )
    assert [(r["user_id"], r["value"]) for r in got] == [(1, 10.0), (1, 11.0)]
    assert all(r["_commit_seq"] == 100 for r in got)


def test_streaming_interval_join_matches_batch(spark, tmp_path):
    """The interval join's streaming form: Spark's native stream-stream
    inner join with symmetric watermarks and a time-range condition
    (the Structured Streaming expression of Flink's intervalJoin).
    Replayed over file microbatches it must emit exactly the batch
    operator's pairs."""
    from flink_cdc_2_3_0_src_spark.io import load_table
    from flink_cdc_2_3_0_src_spark.model import SEQ_COL
    from flink_cdc_2_3_0_src_spark.operators.changelog import interval_join
    from flink_cdc_2_3_0_src_spark.streaming.replay import (
        read_replay_stream,
        write_replay_files,
    )

    ev = load_table(spark, SF_SMOKE, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.col("ts").cast("timestamp").alias("ts"),
        F.col("event_id").alias(SEQ_COL),
    )
    replay_dir = str(tmp_path / "replay_ij")
    schema = write_replay_files(ev, replay_dir, n_files=4)
    stream = read_replay_stream(spark, replay_dir, schema)
    c = (
        stream.filter(F.col("event_type") == "click")
        .select("event_id", "user_id", "ts")
        .withWatermark("ts", "30 minutes")
        .alias("c")
    )
    p = (
        stream.filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "ts")
        .withWatermark("ts", "30 minutes")
        .alias("p")
    )
    joined = c.join(
        p,
        F.expr(
            "c.user_id = p.user_id AND p.ts >= c.ts "
            "AND p.ts <= c.ts + interval 30 minutes"
        ),
    ).select(
        F.col("c.event_id").alias("click_id"),
        F.col("p.event_id").alias("purchase_id"),
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ij_stream_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r["click_id"], r["purchase_id"])
        for r in spark.sql("SELECT * FROM ij_stream_out").collect()
    }

    span_us = 30 * 60 * 1_000_000
    us = lambda col: F.unix_micros(col)  # noqa: E731
    cb = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", us(F.col("ts")).alias("ts_us")
    )
    pb = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", us(F.col("ts")).alias("ts_us")
    )
    exp = {
        (r["l_event_id"], r["r_event_id"])
        for r in interval_join(
            cb, pb, "user_id", F.col("ts_us"), F.col("ts_us"), 0, span_us
        ).collect()
    }
    assert len(exp) > 0 and got == exp


def test_sql_upsert_sink_exactly_once_live_duckdb(spark, tmp_path):
    """B5/B13/B15 on a LIVE SQL engine: the scripted changelog streams
    through foreachBatch into a DuckDB table via SqlUpsertSink; the
    batch-ledger transaction makes redelivery a no-op; final table
    equals the materialized oracle."""
    import duckdb

    from flink_cdc_2_3_0_src_spark.streaming.replay import (
        read_replay_stream,
        write_replay_files,
    )
    from flink_cdc_2_3_0_src_spark.streaming.sink import SqlUpsertSink

    con = duckdb.connect()
    # no PK constraint: the sink's delete-then-insert protocol enforces
    # key uniqueness itself, and DuckDB's documented ART limitation
    # rejects delete+reinsert of a PK key inside one transaction
    con.execute(
        "CREATE TABLE user_state (user_id BIGINT, value DOUBLE, ts TIMESTAMP)"
    )

    def run_sql(sql):
        return con.execute(sql).fetchall()

    sink = SqlUpsertSink(run_sql, "user_state", ["user_id"])
    log = scripted_changelog(spark, SF_SMOKE)
    replay_dir = str(tmp_path / "replay_sqlsink")
    schema = write_replay_files(log, replay_dir, n_files=4)
    stream = read_replay_stream(spark, replay_dir, schema)
    q = (
        stream.writeStream.foreachBatch(sink.merge_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt_sqlsink"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = {
        (r[0], r[1])
        for r in con.execute("SELECT user_id, value FROM user_state").fetchall()
    }
    assert got == oracle_state(spark)

    # exactly-once: re-applying an already-ledgered batch changes nothing
    n_before = con.execute("SELECT count(*) FROM user_state").fetchone()[0]
    sink.merge_batch(log.limit(50), 0)  # batch 0 replay
    assert con.execute("SELECT count(*) FROM user_state").fetchone()[0] == n_before
    assert {
        (r[0], r[1])
        for r in con.execute("SELECT user_id, value FROM user_state").fetchall()
    } == oracle_state(spark)
    # ledger recorded every real batch exactly once
    n_batches = con.execute(
        "SELECT count(*), count(DISTINCT batch_id) FROM user_state__batches"
    ).fetchone()
    assert n_batches[0] == n_batches[1] >= 4


def test_observe_metrics_no_extra_pass(spark, tmp_path):
    """A32 via Dataset.observe: per-batch row counts and event-time
    highwater arrive through the listener with NO extra job per batch;
    totals equal the replayed log exactly."""
    import time as _time

    from flink_cdc_2_3_0_src_spark.streaming.metrics import (
        observe_cdc,
        observed_listener,
    )
    from flink_cdc_2_3_0_src_spark.streaming.replay import (
        read_replay_stream,
        write_replay_files,
    )

    log = scripted_changelog(spark, SF_SMOKE)
    replay_dir = str(tmp_path / "replay_obs")
    schema = write_replay_files(log, replay_dir, n_files=4)
    stream = observe_cdc(read_replay_stream(spark, replay_dir, schema))
    seen = []
    listener = observed_listener(seen)
    spark.streams.addListener(listener)
    try:
        q = (
            stream.writeStream.format("noop")
            .option("checkpointLocation", str(tmp_path / "ckpt_obs"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        # listener delivery is async after termination
        deadline = _time.time() + 30
        while _time.time() < deadline and sum(n for _, n, _ in seen) < log.count():
            _time.sleep(0.5)
    finally:
        spark.streams.removeListener(listener)
    assert sum(n for _, n, _ in seen) == log.count()
    assert len(seen) >= 4  # one observation per microbatch file
    hw = max(ts for _, _, ts in seen if ts is not None)
    assert hw == log.agg(F.max("ts")).collect()[0][0]


def _sqlite_factory(path):
    """Picklable per-partition connection factory: sqlite is the one
    embedded engine whose FILE databases support concurrent writers from
    SEPARATE processes (PySpark workers) via its native lock protocol —
    the busy timeout serializes partition transactions."""
    import functools
    import sqlite3

    return functools.partial(sqlite3.connect, path, timeout=60)


def _sqlite_state(path):
    import sqlite3

    con = sqlite3.connect(path)
    try:
        return set(con.execute("SELECT user_id, value FROM user_state").fetchall())
    finally:
        con.close()


def test_partitioned_sql_sink_exactly_once_live_sqlite(spark, tmp_path):
    """Scale path for the SQL upsert sink (r4 VERDICT item 2): the batch
    is written with foreachPartition — per-partition connections,
    per-partition ledger rows, driver commit marker — with NO driver
    collect of batch data.  Final table equals the materialized oracle;
    redelivery is a no-op at both the marker and ledger layers."""
    import sqlite3

    from flink_cdc_2_3_0_src_spark.streaming.replay import (
        read_replay_stream,
        write_replay_files,
    )
    from flink_cdc_2_3_0_src_spark.streaming.sink import PartitionedSqlUpsertSink

    db = str(tmp_path / "sink.sqlite")
    con = sqlite3.connect(db)
    con.execute("CREATE TABLE user_state (user_id BIGINT, value DOUBLE)")
    con.commit()
    con.close()

    # ts dropped: sqlite has no typed TIMESTAMP literal; the sink's
    # portable SQL is exercised on the key + value columns
    log = scripted_changelog(spark, SF_SMOKE).select(
        "user_id", "value", "_op", "_seq"
    )
    sink = PartitionedSqlUpsertSink(
        _sqlite_factory(db), "user_state", ["user_id"], n_partitions=5
    )
    replay_dir = str(tmp_path / "replay_psink")
    schema = write_replay_files(log, replay_dir, n_files=4)
    stream = read_replay_stream(spark, replay_dir, schema)
    q = (
        stream.writeStream.foreachBatch(sink.foreach_batch())
        .option("checkpointLocation", str(tmp_path / "ckpt_psink"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    exp = {
        (r["user_id"], r["value"])
        for r in materialize(
            scripted_changelog(spark, SF_SMOKE), ["user_id"]
        ).select("user_id", "value").collect()
    }
    assert _sqlite_state(db) == exp

    con = sqlite3.connect(db)
    n_before = con.execute("SELECT count(*) FROM user_state").fetchone()[0]
    # full-batch replay: commit marker short-circuits
    sink.merge_batch(log.limit(50), 0)
    assert (
        con.execute("SELECT count(*) FROM user_state").fetchone()[0] == n_before
    )
    # torn replay: marker lost after all partitions committed (crash
    # between foreachPartition and the marker insert) — the partition
    # ledger skips every task, state unchanged, marker restored
    con.execute("DELETE FROM user_state__commits WHERE batch_id = 0")
    con.commit()
    first_batch = spark.read.schema(schema).json(
        os.path.join(replay_dir, "batch_00000")
    )
    sink.merge_batch(first_batch, 0)
    assert _sqlite_state(db) == exp
    marks = con.execute(
        "SELECT count(*) FROM user_state__commits WHERE batch_id = 0"
    ).fetchone()[0]
    assert marks == 1
    # one ledger row per (batch, non-empty partition), never duplicated
    dup = con.execute(
        "SELECT count(*) FROM (SELECT batch_id, partition_id, count(*) c "
        "FROM user_state__batches GROUP BY 1, 2 HAVING c > 1)"
    ).fetchone()[0]
    assert dup == 0
    con.close()


def test_partitioned_sql_sink_never_collects_on_driver(spark, tmp_path, monkeypatch):
    """Structural guard for the scale claim: merge_batch must complete
    with DataFrame.collect forbidden — batch data reaches the engine
    only through executor-side foreachPartition tasks."""
    import sqlite3

    from pyspark.sql import DataFrame

    from flink_cdc_2_3_0_src_spark.streaming.sink import PartitionedSqlUpsertSink

    db = str(tmp_path / "nocollect.sqlite")
    con = sqlite3.connect(db)
    con.execute("CREATE TABLE user_state (user_id BIGINT, value DOUBLE)")
    con.commit()
    con.close()

    log = scripted_changelog(spark, SF_SMOKE).select(
        "user_id", "value", "_op", "_seq"
    )
    sink = PartitionedSqlUpsertSink(
        _sqlite_factory(db), "user_state", ["user_id"], n_partitions=4
    )

    def boom(self):
        raise AssertionError("driver-side collect in the scale sink path")

    monkeypatch.setattr(DataFrame, "collect", boom)
    try:
        sink.merge_batch(log, 1)
    finally:
        monkeypatch.undo()

    exp = {
        (r["user_id"], r["value"])
        for r in materialize(
            scripted_changelog(spark, SF_SMOKE), ["user_id"]
        ).select("user_id", "value").collect()
    }
    assert _sqlite_state(db) == exp


def test_crash_mid_backfill_resumes_with_original_watermarks(spark, tmp_path):
    """B13 failover matrix, mid-BACKFILL kill (reference
    MySqlSourceITCase.java:187-241 snapshot-phase failover): the job
    dies between a chunk's LOW and HIGH watermark — its manifest entry
    is durable but none of its data ever reached the sink, and by the
    time the job restarts the log has ADVANCED.  The restart must
    recompute the torn chunk with its ORIGINAL (lw, hw) bracketing (not
    re-bracket at the new tip), and the final materialized table must be
    exact."""
    log = scripted_changelog(spark, SF_SMOKE)
    mpath = str(tmp_path / "manifest_bf.json")
    ckpt = str(tmp_path / "ckpt_bf")
    sink = UpsertParquetSink(spark, str(tmp_path / "state_bf"), ["user_id"])
    wm = lambda i: (150 + 100 * i, 350 + 100 * i)  # lw < hw: real backfill

    # phase 1: the crashing run sees only a PREFIX of the log (the
    # database as of the crash).  All three chunk brackets get recorded
    # (each chunk is mid-backfill: lw < hw), chunks 0-1 reach the sink,
    # chunk 2's scan dies before any write.
    log_at_crash = log.filter(F.col(SEQ_COL) <= 800)
    p1 = HybridPipeline(spark, log_at_crash, ["user_id"], manifest_path=mpath)
    torn, manifest1 = p1.run_snapshot_phase(CHUNKS, "user_id", watermarks=wm)
    survived = torn.filter(F.col("user_id") < 16)  # chunks 0-1 only
    sink.merge_batch(survived, -1)
    assert manifest1.chunks[2].low_watermark == 350  # bracket durable
    assert manifest1.chunks[2].high_watermark == 550

    # phase 2: restart against the FULL (advanced) log.  The later-tip
    # watermark fn must be ignored for every resumed chunk.
    p2 = HybridPipeline(spark, log, ["user_id"], manifest_path=mpath)
    replay_dir = str(tmp_path / "replay_bf")
    write_replay_files(log, replay_dir, n_files=4)
    stream = read_replay_stream(spark, replay_dir, log.schema)
    manifest2, _q = p2.run_streaming(
        CHUNKS, "user_id", stream, sink, ckpt,
        watermarks=lambda i: (2900, 2900),  # would skip backfill if used
    )
    assert [c.high_watermark for c in manifest2.chunks] == [350, 450, 550]
    got = {(r["user_id"], r["value"]) for r in sink.read_state().collect()}
    assert got == oracle_state(spark)


def test_crash_with_open_transactions_final_table_exact(spark, tmp_path):
    """B13 failover matrix, mid-stream kill with OPEN transactions
    (transaction-metadata path): transactions span microbatch files, the
    query dies while several are open, restarts from the checkpoint, and
    the FINAL MATERIALIZED TABLE must equal the batch
    committed_changelog oracle — complete txns exactly once, in-flight
    and incomplete txns withheld entirely."""
    import time as _t

    from pyspark.sql import types as T

    from flink_cdc_2_3_0_src_spark.streaming.transactions import (
        committed_changelog,
        streaming_committed_changelog,
    )

    base = scripted_changelog(spark, SF_SMOKE)
    seq = F.col(SEQ_COL)
    tx = base.withColumn("txn_id", ((seq - seq % 5) / 5).cast("long")).withColumn(
        "txn_order", seq % 5
    )
    grouped = tx.groupBy("txn_id").agg(
        F.count(F.lit(1)).alias("_c"), (F.max(seq) + 10).alias("commit_seq")
    )
    # txn_id % 7 == 3 never commits (no END) -> withheld forever
    boundaries = grouped.where(F.col("txn_id") % 7 != 3).select(
        "txn_id", F.col("_c").alias("event_count"), "commit_seq"
    )

    # unified D/E stream, END markers sequenced AFTER their last event
    # so file-split replay leaves transactions open across batches
    d_rows = tx.select(
        "txn_id", F.lit("D").alias("kind"), "user_id", "value", OP_COL,
        "txn_order", F.lit(None).cast("long").alias("event_count"),
        F.lit(None).cast("long").alias("commit_seq"), SEQ_COL,
    )
    e_rows = boundaries.select(
        "txn_id", F.lit("E").alias("kind"),
        F.lit(None).cast("long").alias("user_id"),
        F.lit(None).cast("double").alias("value"),
        F.lit(None).cast("string").alias(OP_COL),
        F.lit(None).cast("long").alias("txn_order"),
        "event_count", "commit_seq",
        F.col("commit_seq").alias(SEQ_COL),
    )
    unified = d_rows.unionByName(e_rows)
    replay_dir = str(tmp_path / "replay_otx")
    write_replay_files(unified, replay_dir, n_files=8)
    ckpt = str(tmp_path / "ckpt_otx")
    out_dir = str(tmp_path / "otx_out")
    schema = unified.schema

    def start(trigger_kwargs):
        stream = read_replay_stream(spark, replay_dir, schema).drop(SEQ_COL)
        return (
            streaming_committed_changelog(stream)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(**trigger_kwargs)
            .start()
        )

    q1 = start({"processingTime": "1 second"})
    deadline = _t.time() + 90
    while _t.time() < deadline and not any(
        p["numInputRows"] > 0 for p in q1.recentProgress
    ):
        _t.sleep(0.5)
    q1.stop()  # kill: several txns have events buffered, END unseen
    q1.awaitTermination(30)

    q2 = start({"availableNow": True})
    q2.awaitTermination(180)

    released = spark.read.parquet(out_dir).select(
        "user_id", "value", OP_COL, SEQ_COL
    )
    final = {
        (r["user_id"], r["value"])
        for r in materialize(released, ["user_id"]).collect()
    }
    oracle_rel = committed_changelog(
        tx, boundaries.withColumn("status", F.lit("END"))
    ).select("user_id", "value", OP_COL, SEQ_COL)
    expect = {
        (r["user_id"], r["value"])
        for r in materialize(oracle_rel, ["user_id"]).collect()
    }
    assert len(expect) > 0 and final == expect
    # exactly-once: no event row released twice
    dup = (
        spark.read.parquet(out_dir)
        .groupBy("user_id", "value", OP_COL, SEQ_COL)
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert dup == 0


def test_partitioned_sink_ledger_keyed_by_partition_count(spark, tmp_path):
    """A torn batch replayed under a DIFFERENT partition count must not
    match old ledger rows (they describe different key sets): the replay
    re-applies everything and the final state is exact."""
    import sqlite3

    from flink_cdc_2_3_0_src_spark.streaming.sink import PartitionedSqlUpsertSink

    db = str(tmp_path / "npart.sqlite")
    con = sqlite3.connect(db)
    con.execute("CREATE TABLE user_state (user_id BIGINT, value DOUBLE)")
    con.commit()
    con.close()

    log = scripted_changelog(spark, SF_SMOKE).select(
        "user_id", "value", "_op", "_seq"
    )
    # run 1 (8 partitions) commits its partitions but the batch marker
    # is lost (crash before publish)
    s1 = PartitionedSqlUpsertSink(_sqlite_factory(db), "user_state", ["user_id"], 8)
    s1.merge_batch(log, 5)
    con = sqlite3.connect(db)
    con.execute("DELETE FROM user_state__commits WHERE batch_id = 5")
    # sabotage: drop some of run-1's written keys to simulate a torn
    # apply — a pid-matching skip would leave them missing forever
    con.execute("DELETE FROM user_state WHERE user_id % 3 = 0")
    con.commit()
    con.close()

    # replay under n_partitions=5: old (5, pid, 8) ledger rows must not
    # suppress the new (5, pid, 5) partitions
    s2 = PartitionedSqlUpsertSink(_sqlite_factory(db), "user_state", ["user_id"], 5)
    s2.merge_batch(log, 5)

    exp = {
        (r["user_id"], r["value"])
        for r in materialize(
            scripted_changelog(spark, SF_SMOKE), ["user_id"]
        ).select("user_id", "value").collect()
    }
    assert _sqlite_state(db) == exp


def test_upsert_parquet_sink_self_heals_staged_swap(spark, tmp_path):
    """Crash window between rmtree(out_dir) and rename(stage): the
    pointer names a deleted dir while the complete staged result sits
    beside it — the next read must finish the swap instead of failing."""
    import os as _os
    import shutil as _shutil

    sink = UpsertParquetSink(spark, str(tmp_path / "heal"), ["user_id"])
    log = scripted_changelog(spark, SF_SMOKE).select(
        "user_id", "value", "_op", "_seq"
    )
    sink.merge_batch(log, 0)
    v = sink.current_version()
    out_dir = _os.path.join(sink.path, v)
    # simulate the torn swap
    _shutil.move(out_dir, out_dir + ".stage")
    assert not _os.path.exists(out_dir)
    state = sink.read_state()  # must self-heal, not raise
    exp = {
        (r["user_id"], r["value"])
        for r in materialize(
            scripted_changelog(spark, SF_SMOKE), ["user_id"]
        ).select("user_id", "value").collect()
    }
    assert {(r["user_id"], r["value"]) for r in state.collect()} == exp


def test_streaming_committed_changelog_generic_payload(spark, tmp_path):
    """The generic (any-payload-schema) streaming transaction operator:
    a 3-column payload rides through the JSON-buffered state and
    releases exactly the batch oracle's committed rows."""
    from pyspark.sql import types as T

    from flink_cdc_2_3_0_src_spark.streaming.transactions import (
        streaming_committed_changelog_generic,
    )

    payload_schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("score", T.DoubleType()),
        ]
    )
    rows = [
        # txn 1: two events, committed
        (1, "D", '{"k":1,"name":"a","score":1.5}', 0, None, None, 0),
        (1, "D", '{"k":2,"name":"b","score":2.5}', 1, None, None, 1),
        (1, "E", None, None, 2, 100, 50),
        # txn 2: never commits
        (2, "D", '{"k":9,"name":"x","score":9.0}', 0, None, None, 2),
        # txn 3: END promises 2, only 1 arrives -> withheld
        (3, "D", '{"k":5,"name":"c","score":5.0}', 0, None, None, 3),
        (3, "E", None, None, 2, 200, 60),
    ]
    schema = (
        "txn_id long, kind string, payload_json string, txn_order long, "
        "event_count long, commit_seq long, _seq long"
    )
    log = spark.createDataFrame(rows, schema)
    replay_dir = str(tmp_path / "replay_gtx")
    write_replay_files(log, replay_dir, n_files=3)
    stream = read_replay_stream(spark, replay_dir, log.schema).drop("_seq")
    out_dir = str(tmp_path / "gtx_out")
    q = (
        streaming_committed_changelog_generic(stream, payload_schema)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_gtx"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        spark.read.parquet(out_dir).collect(), key=lambda r: r["_seq"]
    )
    assert [(r["k"], r["name"], r["score"], r["_commit_seq"]) for r in got] == [
        (1, "a", 1.5, 100),
        (2, "b", 2.5, 100),
    ]


def test_streaming_delta_join_matches_batch(spark, tmp_path):
    """Incremental delta-join through a REAL Structured Streaming query:
    both changelogs ride one side-tagged replay stream; each microbatch
    splits by side and steps merge_join_state (the foreachBatch form the
    operator's docstring claims).  The union of every batch's signed
    output deltas materializes to exactly the direct join of the two
    materialized logs."""
    from flink_cdc_2_3_0_src_spark.operators.changelog import (
        merge_join_state,
    )

    a_rows = [
        (1, "a1", None, "a", "+I", 1), (2, "b1", None, "a", "+I", 2),
        (1, "a1", None, "a", "-U", 5), (1, "a2", None, "a", "+U", 5),
        (3, "c1", None, "a", "+I", 6), (2, "b1", None, "a", "-D", 9),
    ]
    b_rows = [
        (1, None, "gold", "b", "+I", 3), (2, None, "iron", "b", "+I", 4),
        (3, None, "tin", "b", "+I", 7),
        (3, None, "tin", "b", "-U", 8), (3, None, "zinc", "b", "+U", 8),
        (1, None, "gold", "b", "-D", 10),
    ]
    schema = f"user_id long, v string, seg string, side string, {OP_COL} string, {SEQ_COL} long"
    log = spark.createDataFrame(a_rows + b_rows, schema)
    replay_dir = str(tmp_path / "replay_dj")
    write_replay_files(log, replay_dir, n_files=4)

    state_box = [None]
    out_parts = []

    def process(batch_df, batch_id):
        ba = batch_df.filter(F.col("side") == "a").select(
            "user_id", "v", OP_COL, SEQ_COL
        )
        bb = batch_df.filter(F.col("side") == "b").select(
            "user_id", "seg", OP_COL, SEQ_COL
        )
        state, out = merge_join_state(state_box[0], ba, bb, ["user_id"])
        state_box[0] = (
            state[0].localCheckpoint(eager=True),
            state[1].localCheckpoint(eager=True),
        )
        out_parts.extend(tuple(r) for r in out.collect())

    stream = read_replay_stream(spark, replay_dir, log.schema)
    q = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", str(tmp_path / "ckpt_dj"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)

    # accumulate signed deltas -> final live join rows
    net = {}
    for (uid, v, seg, mult) in out_parts:
        net[(uid, v, seg)] = net.get((uid, v, seg), 0) + mult
    got = sorted(k for k, m in net.items() if m > 0)
    a_log = spark.createDataFrame(
        [(r[0], r[1], r[4], r[5]) for r in a_rows],
        f"user_id long, v string, {OP_COL} string, {SEQ_COL} long",
    )
    b_log = spark.createDataFrame(
        [(r[0], r[2], r[4], r[5]) for r in b_rows],
        f"user_id long, seg string, {OP_COL} string, {SEQ_COL} long",
    )
    direct = sorted(
        tuple(r)
        for r in materialize(a_log, ["user_id"])
        .join(materialize(b_log, ["user_id"]), "user_id")
        .collect()
    )
    assert got == direct == [(3, "c1", "zinc")]


def test_streaming_topn_matches_batch(spark, tmp_path):
    """Top-N maintenance through a REAL Structured Streaming query
    (foreachBatch stepping merge_topn_state with checkpointed state):
    final maintained state equals ranking the materialized log."""
    from pyspark.sql.window import Window as W

    from flink_cdc_2_3_0_src_spark.operators.changelog import (
        merge_topn_state,
    )

    rows = [
        (0, 0, 10.0, "+I", 1), (0, 2, 20.0, "+I", 2), (1, 1, 7.0, "+I", 3),
        (0, 4, 30.0, "+I", 4), (0, 2, 20.0, "-D", 5),
        (1, 1, 7.0, "-U", 6), (1, 1, 70.0, "+U", 6), (1, 3, 8.0, "+I", 7),
    ]
    schema = f"bucket long, user_id long, value double, {OP_COL} string, {SEQ_COL} long"
    log = spark.createDataFrame(rows, schema)
    replay_dir = str(tmp_path / "replay_topn")
    write_replay_files(log, replay_dir, n_files=3)

    state_box = [None]

    def process(batch_df, batch_id):
        state, _ = merge_topn_state(
            state_box[0], batch_df, ["user_id"], ["bucket"],
            "value DESC, user_id", 2,
        )
        state_box[0] = (
            state[0].localCheckpoint(eager=True),
            state[1].localCheckpoint(eager=True),
        )

    stream = read_replay_stream(spark, replay_dir, log.schema)
    q = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", str(tmp_path / "ckpt_topn"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)

    got = sorted(
        tuple(r)
        for r in state_box[0][1].select("bucket", "user_id", "value")
        .collect()
    )
    direct = sorted(
        tuple(r)
        for r in materialize(log, ["user_id"])
        .withColumn(
            "__rn",
            F.row_number().over(
                W.partitionBy("bucket").orderBy(
                    F.col("value").desc(), F.col("user_id")
                )
            ),
        )
        .filter(F.col("__rn") <= 2)
        .select("bucket", "user_id", "value")
        .collect()
    )
    assert got == direct == [(0, 0, 10.0), (0, 4, 30.0),
                             (1, 1, 70.0), (1, 3, 8.0)]


def test_streaming_incremental_dedup_matches_one_shot(spark, tmp_path):
    """Ingest dedup through a REAL Structured Streaming query: document
    batches arrive as a file stream; foreachBatch probes and extends
    the LSH bucket state.  Kept set equals the one-shot rejection rule."""
    from flink_cdc_2_3_0_src_spark.io import load_table
    from flink_cdc_2_3_0_src_spark.operators.dedup import (
        lsh_pairs,
        merge_neardup_state,
    )

    docs = load_table(spark, SF_SMOKE, "documents").limit(200)
    # ride the replay harness: _seq = doc_id keeps arrival order aligned
    # with the rejection rule's doc_id order
    log = docs.withColumn(SEQ_COL, F.col("doc_id"))
    replay_dir = str(tmp_path / "replay_dedup")
    write_replay_files(log, replay_dir, n_files=3)

    state_box, kept_ids = [None], []

    def process(batch_df, batch_id):
        state, kept = merge_neardup_state(state_box[0], batch_df.drop(SEQ_COL))
        state_box[0] = (
            state[0].localCheckpoint(eager=True),
            state[1].localCheckpoint(eager=True),
        )
        kept_ids.extend(r["doc_id"] for r in kept.select("doc_id").collect())

    stream = read_replay_stream(spark, replay_dir, log.schema)
    q = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", str(tmp_path / "ckpt_dedup"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    rejected = lsh_pairs(docs).select(F.col("doc_b").alias("doc_id")).distinct()
    want = sorted(
        r["doc_id"] for r in docs.join(rejected, "doc_id", "left_anti").collect()
    )
    assert sorted(kept_ids) == want and len(want) > 0


def test_sql_upsert_sink_folded_row_guard(spark):
    """The driver-side SqlUpsertSink refuses a microbatch folding past
    max_folded_rows (pointing at PartitionedSqlUpsertSink) BEFORE any
    SQL runs, with the probing collect itself LIMIT-capped; under the
    threshold the same batch applies normally."""
    import duckdb
    import pytest

    from flink_cdc_2_3_0_src_spark.streaming.sink import SqlUpsertSink

    con = duckdb.connect()
    con.execute("CREATE TABLE guard_state (user_id BIGINT, value DOUBLE)")

    def run_sql(sql):
        return con.execute(sql).fetchall()

    batch = spark.createDataFrame(
        [(i, float(i), "+I", i) for i in range(10)],
        f"user_id long, value double, {OP_COL} string, {SEQ_COL} long",
    )

    sink = SqlUpsertSink(run_sql, "guard_state", ["user_id"],
                         max_folded_rows=5)
    with pytest.raises(RuntimeError, match="PartitionedSqlUpsertSink"):
        sink.merge_batch(batch, 0)
    # nothing applied, nothing ledgered: the guard fired before BEGIN
    assert con.execute("SELECT count(*) FROM guard_state").fetchone()[0] == 0
    assert con.execute(
        "SELECT count(*) FROM guard_state__batches"
    ).fetchone()[0] == 0

    ok = SqlUpsertSink(run_sql, "guard_state", ["user_id"],
                       max_folded_rows=10)
    ok.merge_batch(batch, 0)
    assert con.execute("SELECT count(*) FROM guard_state").fetchone()[0] == 10

    with pytest.raises(ValueError):
        SqlUpsertSink(run_sql, "guard_state", ["user_id"], max_folded_rows=0)


def test_streaming_delta_join_with_state_ttl(spark, tmp_path):
    """Delta-join maintenance with expire_state ACTIVE while the stream
    runs (Flink's table.exec.state.ttl / idle-state retention): after
    each microbatch both state sides evict rows behind the advancing
    watermark.  Pins (a) join results for in-window keys are unchanged,
    (b) state holds ONLY in-window keys at the end (the bounded-state
    story at an unbounded key space), and (c) the documented trade — a
    late change to an expired key is forgotten (no retraction), exactly
    Flink's TTL semantics."""
    from flink_cdc_2_3_0_src_spark.operators.changelog import (
        expire_state,
        merge_join_state,
    )

    RETENTION = 400
    # cold keys 1-2 (ts ~100-160), hot keys 3-4 (ts >= 900); the final
    # -D for key 1 arrives AFTER key 1's state expired -> forgotten
    a_rows = [
        (1, "a1", 100, None, None, "a", "+I", 1),
        (2, "b1", 150, None, None, "a", "+I", 3),
        (3, "c1", 900, None, None, "a", "+I", 5),
        (4, "d1", 1000, None, None, "a", "+I", 7),
    ]
    b_rows = [
        (1, None, None, "gold", 110, "b", "+I", 2),
        (2, None, None, "iron", 160, "b", "+I", 4),
        (3, None, None, "tin", 910, "b", "+I", 6),
        (4, None, None, "zinc", 1010, "b", "+I", 8),
        (1, None, None, "gold", 1020, "b", "-D", 9),
    ]
    schema = (
        "user_id long, v string, ts_a long, seg string, ts_b long, "
        f"side string, {OP_COL} string, {SEQ_COL} long"
    )
    log = spark.createDataFrame(a_rows + b_rows, schema)
    replay_dir = str(tmp_path / "replay_dj_ttl")
    write_replay_files(log, replay_dir, n_files=4)

    state_box, out_parts, max_ts_box = [None], [], [None]

    def process(batch_df, batch_id):
        ba = batch_df.filter(F.col("side") == "a").select(
            "user_id", "v", "ts_a", OP_COL, SEQ_COL
        )
        bb = batch_df.filter(F.col("side") == "b").select(
            "user_id", "seg", "ts_b", OP_COL, SEQ_COL
        )
        state, out = merge_join_state(state_box[0], ba, bb, ["user_id"])
        out_parts.extend(tuple(r) for r in out.collect())
        # advance the watermark off the batch's own event times, then
        # evict state behind it — the between-steps composition the
        # expire_state docstring prescribes
        hi = batch_df.agg(
            F.greatest(F.max("ts_a"), F.max("ts_b"))
        ).collect()[0][0]
        if hi is not None:
            max_ts_box[0] = max(max_ts_box[0] or hi, hi)
        wm = (max_ts_box[0] or 0) - RETENTION
        state_box[0] = (
            expire_state(state[0], wm, "ts_a").localCheckpoint(eager=True),
            expire_state(state[1], wm, "ts_b").localCheckpoint(eager=True),
        )

    stream = read_replay_stream(spark, replay_dir, log.schema)
    q = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", str(tmp_path / "ckpt_dj_ttl"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)

    net = {}
    for (uid, v, ts_a, seg, ts_b, mult) in out_parts:
        k = (uid, v, seg)
        net[k] = net.get(k, 0) + mult
    got = sorted(k for k, m in net.items() if m > 0)
    # (a)+(c): all four join rows live — INCLUDING (1, a1, gold): the
    # -D behind the watermark found no state and was forgotten (with no
    # TTL a full replay would retract it; the trade is the caller's)
    assert got == [
        (1, "a1", "gold"), (2, "b1", "iron"),
        (3, "c1", "tin"), (4, "d1", "zinc"),
    ]
    # (b): only the hot keys remain LIVE in either state side.  The
    # late -D leaves a dangling mult = -1 row for key 1 on the b side
    # (the signed algebra keeps it so a late out-of-order +I would
    # cancel; Flink's join instead drops such retractions with a
    # "state may have expired" warning) — it is not a live image and
    # its volume is bounded by late-change volume, not key space.
    a_rows_state = state_box[0][0].collect()
    b_rows_state = state_box[0][1].collect()
    a_live = {r["user_id"] for r in a_rows_state if r["__mult"] > 0}
    b_live = {r["user_id"] for r in b_rows_state if r["__mult"] > 0}
    assert a_live == {3, 4} and b_live == {3, 4}
    assert [
        (r["user_id"], r["seg"], r["__mult"])
        for r in b_rows_state if r["__mult"] < 0
    ] == [(1, "gold", -1)]


def test_streaming_topn_with_state_ttl(spark, tmp_path):
    """Top-N maintenance with expire_state ACTIVE: cold groups age out
    of BOTH table state and top-n state behind the watermark (bounded
    state), while in-window groups rank exactly as the direct window
    rank over their rows."""
    from pyspark.sql.window import Window as W

    from flink_cdc_2_3_0_src_spark.operators.changelog import (
        expire_state,
        merge_topn_state,
    )

    RETENTION = 400
    rows = [
        # bucket 0: cold (ts ~100) — must age out entirely
        (0, 0, 10.0, 100, "+I", 1), (0, 2, 20.0, 120, "+I", 2),
        # bucket 1: hot (ts >= 900) — full churn inside the window
        (1, 1, 7.0, 900, "+I", 3), (1, 3, 8.0, 910, "+I", 4),
        (1, 1, 7.0, 920, "-U", 5), (1, 1, 70.0, 920, "+U", 5),
        (1, 5, 9.0, 1000, "+I", 6),
    ]
    schema = (
        "bucket long, user_id long, value double, ts long, "
        f"{OP_COL} string, {SEQ_COL} long"
    )
    log = spark.createDataFrame(rows, schema)
    replay_dir = str(tmp_path / "replay_topn_ttl")
    write_replay_files(log, replay_dir, n_files=3)

    state_box, max_ts_box = [None], [None]

    def process(batch_df, batch_id):
        state, _ = merge_topn_state(
            state_box[0], batch_df, ["user_id"], ["bucket"],
            "value DESC, user_id", 2,
        )
        hi = batch_df.agg(F.max("ts")).collect()[0][0]
        if hi is not None:
            max_ts_box[0] = max(max_ts_box[0] or hi, hi)
        wm = (max_ts_box[0] or 0) - RETENTION
        # the same eviction applies to the table state AND the top-n
        # membership state — a consistent forget, not a retraction
        state_box[0] = (
            expire_state(state[0], wm, "ts").localCheckpoint(eager=True),
            expire_state(state[1], wm, "ts").localCheckpoint(eager=True),
        )

    stream = read_replay_stream(spark, replay_dir, log.schema)
    q = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", str(tmp_path / "ckpt_topn_ttl"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)

    table_state, topn_state = state_box[0]
    # bounded state: the cold bucket is gone from both frames
    assert {r["bucket"] for r in table_state.collect()} == {1}
    got = sorted(
        (r["bucket"], r["user_id"], r["value"])
        for r in topn_state.collect()
    )
    # in-window groups: exact direct rank over the bucket's rows
    direct = sorted(
        tuple(r)
        for r in materialize(log.filter(F.col("bucket") == 1), ["user_id"])
        .withColumn(
            "__rn",
            F.row_number().over(
                W.partitionBy("bucket").orderBy(
                    F.col("value").desc(), F.col("user_id")
                )
            ),
        )
        .filter(F.col("__rn") <= 2)
        .select("bucket", "user_id", "value")
        .collect()
    )
    assert got == direct == [(1, 1, 70.0), (1, 5, 9.0)]


def test_streaming_hll_state_matches_one_shot(spark, tmp_path):
    """Incremental HLL through a REAL Structured Streaming query:
    document batches arrive as a file stream; foreachBatch MIN-folds
    each batch's register partials.  Final finalized state equals the
    one-shot hll_distinct bit-exactly (the register monoid)."""
    from flink_cdc_2_3_0_src_spark.io import load_table
    from flink_cdc_2_3_0_src_spark.operators.sketch import (
        hll_distinct,
        hll_state_estimate,
        merge_hll_state,
    )

    docs = load_table(spark, SF_SMOKE, "documents").limit(300)
    log = docs.withColumn(SEQ_COL, F.col("doc_id"))
    replay_dir = str(tmp_path / "replay_hll")
    write_replay_files(log, replay_dir, n_files=3)

    state_box = [None]

    def process(batch_df, batch_id):
        state_box[0] = merge_hll_state(
            state_box[0], batch_df.drop(SEQ_COL)
        ).localCheckpoint(eager=True)

    stream = read_replay_stream(spark, replay_dir, log.schema)
    q = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", str(tmp_path / "ckpt_hll"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = [tuple(r) for r in hll_state_estimate(state_box[0]).collect()]
    want = [tuple(r) for r in hll_distinct(docs).collect()]
    assert got == want and len(want) > 0


def test_streaming_knn_state_matches_one_shot(spark, tmp_path):
    """Incremental k-NN graph through a REAL Structured Streaming
    query: embedding batches arrive as a file stream; foreachBatch
    folds each into the maintained graph.  Final graph equals the
    one-shot knn_graph bit-exactly (bounded top-k monoid)."""
    from flink_cdc_2_3_0_src_spark.io import load_table
    from flink_cdc_2_3_0_src_spark.operators.similarity import (
        knn_graph,
        merge_knn_state,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings").limit(90)
    log = emb.select("vec_id", "embedding").withColumn(
        SEQ_COL, F.col("vec_id")
    )
    replay_dir = str(tmp_path / "replay_knn")
    write_replay_files(log, replay_dir, n_files=3)

    state_box = [None]

    def process(batch_df, batch_id):
        state = merge_knn_state(
            state_box[0], batch_df.drop(SEQ_COL), k=3, block_size=37
        )
        state_box[0] = (
            state[0].localCheckpoint(eager=True),
            state[1].localCheckpoint(eager=True),
        )

    stream = read_replay_stream(spark, replay_dir, log.schema)
    q = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", str(tmp_path / "ckpt_knn"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        (r["vec_id"], r["rnk"]): (r["neighbor_id"], r["cos6"])
        for r in state_box[0][1].collect()
    }
    want = {
        (r["vec_id"], r["rnk"]): (r["neighbor_id"], r["cos6"])
        for r in knn_graph(emb, k=3, block_size=37).collect()
    }
    assert got == want and len(want) > 0


def test_streaming_hist_state_matches_one_shot(spark, tmp_path):
    """Incremental histogram through a REAL Structured Streaming query:
    document batches arrive as a file stream; foreachBatch ADD-folds
    each batch's cell counts with the domain fixed up front.  Final
    finalized state equals the one-shot histogram_quantiles bit-exactly
    (the cell-count addition monoid)."""
    from flink_cdc_2_3_0_src_spark.io import load_table
    from flink_cdc_2_3_0_src_spark.operators.sketch import (
        docs_token_counts,
        hist_state_quantiles,
        histogram_quantiles,
        merge_hist_state,
    )

    docs = load_table(spark, SF_SMOKE, "documents").limit(300)
    lo_hi = docs_token_counts(docs).agg(
        F.min("v"), F.max("v")
    ).collect()[0]
    vmin, vmax = int(lo_hi[0]), int(lo_hi[1])
    log = docs.withColumn(SEQ_COL, F.col("doc_id"))
    replay_dir = str(tmp_path / "replay_hist")
    write_replay_files(log, replay_dir, n_files=3)

    state_box = [None]

    def process(batch_df, batch_id):
        state_box[0] = merge_hist_state(
            state_box[0], batch_df.drop(SEQ_COL), vmin, vmax
        ).localCheckpoint(eager=True)

    stream = read_replay_stream(spark, replay_dir, log.schema)
    q = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", str(tmp_path / "ckpt_hist"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = [
        tuple(r)
        for r in hist_state_quantiles(state_box[0], vmin, vmax).collect()
    ]
    want = [tuple(r) for r in histogram_quantiles(docs).collect()]
    assert got == want and len(want) > 0
