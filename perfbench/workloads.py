"""The three CDC workloads, each driven through the engine's public API.

Every workload has ``setup`` (inputs, warm-up, state seeding) and
``measure`` (the timed loop).  With tracing off, the timed loop calls the
composed entry points unchanged (``HybridPipeline.run``, the
``foreachBatch`` body).  With tracing on, it calls the same public steps
one by one and materialises each step's output at the layer boundary, so
each span holds its own layer's work.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time
from datetime import datetime

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from flink_cdc_2_3_0_src_spark.functions.debezium import from_debezium_json
from flink_cdc_2_3_0_src_spark.model import OP_COL, SEQ_COL
from flink_cdc_2_3_0_src_spark.operators.changelog import materialize
from flink_cdc_2_3_0_src_spark.plans.sql_maintain import plan_insert_maintained
from flink_cdc_2_3_0_src_spark.sources.parquet_dialect import ParquetTableSource
from flink_cdc_2_3_0_src_spark.streaming.hybrid import HybridPipeline
from flink_cdc_2_3_0_src_spark.streaming.replay import read_replay_stream
from flink_cdc_2_3_0_src_spark.streaming.sink import UpsertParquetSink

import gen
from spans import median, percentile

ENVELOPE_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType()),
        T.StructField("value", T.StringType()),
        T.StructField("timestamp", T.TimestampType()),
    ]
)
ORDERS_PAYLOAD = T.StructType(
    [
        T.StructField("order_id", T.LongType()),
        T.StructField("customer_id", T.LongType()),
        T.StructField("region", T.StringType()),
        T.StructField("amount", T.DoubleType()),
    ]
)
_SUM = "SUM(CAST(amount AS DECIMAL(18,2))) AS amount_sum"
CATCHUP_SQL = (
    "INSERT INTO sink SELECT region, COUNT(*) AS cnt, " + _SUM + ", "
    "AVG(CAST(amount AS DECIMAL(18,2))) AS amount_avg "
    "FROM orders GROUP BY region"
)
FRESHNESS_SQL = (
    "INSERT INTO sink SELECT customer_id, COUNT(*) AS cnt, " + _SUM + ", "
    "MAX(amount) AS amount_max FROM orders GROUP BY customer_id"
)


def _materialize(df: DataFrame) -> tuple[DataFrame, int]:
    """Layer boundary in the traced run: run the lazy frame once."""
    df = df.persist()
    return df, df.count()


def _sink_rows(sink: UpsertParquetSink) -> int:
    """Rows of the sink's current version, from parquet footers (no job)."""
    path = os.path.join(sink.path, sink.current_version())
    return sum(
        pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )


def _state_rows(job) -> int:
    """Rows of the maintenance plan's state (a frame or a tuple of frames);
    the signed-delta plans keep none, so their accumulated result counts."""
    state = job._state if job._state is not None else job._acc
    parts = state if isinstance(state, tuple) else (state,)
    return sum(p.count() for p in parts if isinstance(p, DataFrame))


def _same_rows(got: pd.DataFrame, expected: pd.DataFrame, columns) -> bool:
    return len(got) == len(expected) and bool(
        np.array_equal(gen.row_hashes(got, columns), gen.row_hashes(expected, columns))
    )


class Result:
    """What a workload's measured loop hands back to the runner."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []
        self.metrics: dict = {}     # the workload's own metrics: name -> (value, unit)
        self.latencies: list = []   # the workload's latency samples (s)
        self.latency_names = ("", "")  # its p50 and p90 entries in ``metrics``
        self.window = (0.0, 0.0)    # measured interval, run-relative
        self.lead_in_s = 0.0        # warm-up done inside measure(), for setup_s
        self.progress: list = []    # StreamingQuery progress of timed batches


# --------------------------------------------------------------------------
# initial_snapshot
# --------------------------------------------------------------------------


class InitialSnapshot:
    """Batch job, repeated: plan chunks, run the hybrid snapshot with a
    racing log, bulk-write the image, for two tables per pass."""

    name = "initial_snapshot"
    Spec = gen.SnapshotSpec

    def __init__(self, spark, work, seed, spec):
        self.spark, self.work, self.seed, self.spec = spark, work, seed, spec

    def close(self) -> None:
        pass

    def generate(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)
        self.tables = gen.make_snapshot_inputs(os.path.join(self.work, "inputs"), self.seed, self.spec)

    def seed_state(self) -> None:
        self.passes = 0  # no state: every pass snapshots into fresh sinks

    def warm_up(self, tracer) -> None:
        for _ in range(self.spec.warmup_passes):
            self.run_pass(tracer.off())

    def run_pass(self, tracer):
        """One consistent snapshot of both tables into fresh sinks.
        Returns (wall seconds, image rows, chunks, sinks)."""
        self.passes += 1
        logs = [self.spark.read.schema(t.log_ddl).parquet(t.log_dir) for t in self.tables]
        sinks, chunks_total, rows = [], 0, 0
        t0 = time.perf_counter()
        with tracer.span("bench.pass", passno=self.passes):
            for t, log in zip(self.tables, logs):
                src = ParquetTableSource(
                    self.spark, t.table_dir, t.name, split_key=t.key,
                    chunk_size=-(-t.initial_rows // self.spec.chunks),
                )
                with tracer.span("chunking.plan", table=t.name) as sp:
                    chunks = [s.range for s in src.planner().plan_splits()]
                    sp["chunks"] = len(chunks)
                chunks_total += len(chunks)
                wm = gen.chunk_watermarks(len(chunks), t.initial_rows, t.log_tip)
                if tracer.enabled:
                    image, cached = self._traced_hybrid(tracer, t, log, chunks, wm)
                else:
                    hp = HybridPipeline(self.spark, log, [t.key])
                    image, cached = hp.run(chunks, t.key, lambda i: wm[i]), [hp.log]
                sink = UpsertParquetSink(
                    self.spark, os.path.join(self.work, "sinks", f"p{self.passes}", t.name), [t.key]
                )
                seeded = image.withColumn(OP_COL, F.lit("+I")).withColumn(SEQ_COL, F.lit(0).cast("long"))
                with tracer.span("sink.merge", table=t.name) as sp:
                    sink.merge_batch(seeded, -1)
                if tracer.enabled:
                    sp["rows_written"] = sp["rows_changed"] = _sink_rows(sink)
                rows += len(t.expected)
                sinks.append(sink)
                for df in cached:
                    df.unpersist()
        return time.perf_counter() - t0, rows, chunks_total, sinks

    def _traced_hybrid(self, tracer, t, log, chunks, wm):
        """``HybridPipeline.run`` step by step, each step materialised."""
        with tracer.span("source.scan", table=t.name) as sp:
            hp = HybridPipeline(self.spark, log, [t.key])
            sp["rows_read"] = hp.log.count()
        with tracer.span("hybrid.snapshot_phase", table=t.name):
            _, manifest = hp.run_snapshot_phase(chunks, t.key, lambda i: wm[i])
            parts, part_rows = [], 0
            for i, c in enumerate(chunks):
                with tracer.span("hybrid.chunk", table=t.name, chunk=i) as sp:
                    lw, hw = wm[i]
                    part, n = _materialize(hp.snapshot_chunk(c, t.key, lw, hw))
                    sp["rows_out"] = n
                    sp["backfill_rows"] = _backfill_rows(t, c, lw, hw)
                parts.append(part)
                part_rows += n
        snap = parts[0]
        for p in parts[1:]:
            snap = snap.unionByName(p)
        start = manifest.min_high_watermark()
        with tracer.span("hybrid.stream_filter", table=t.name) as sp:
            stream, emitted = _materialize(
                hp.stream_filter(hp.log.filter(F.col(SEQ_COL) > start), manifest)
            )
            sp["examined"] = int((t.log["_seq"] > start).sum())
            sp["emitted"] = emitted
        with tracer.span("changelog.materialize", table=t.name) as sp:
            image, n = _materialize(materialize(snap.unionByName(stream), [t.key]))
            sp["rows_in"] = part_rows + emitted
            sp["rows_out"] = n
        return image, [hp.log, stream, image, *parts]

    def measure(self, seconds: float, tracer) -> Result:
        res = Result()
        walls, rates = [], []
        w0 = time.perf_counter() - tracer.t0
        deadline = time.perf_counter() + seconds
        while time.perf_counter() < deadline or not walls:
            wall, rows, chunks, sinks = self.run_pass(tracer)
            walls.append(wall)
            rates.append(rows / wall)
            res.attempted += chunks
        res.window = (w0, time.perf_counter() - tracer.t0)
        res.attempted += 1
        for t, sink in zip(self.tables, sinks):
            got = sink.read_state().select(*t.columns).toPandas()
            if not _same_rows(got, t.expected, t.columns):
                res.failed += 1
                res.notes.append(f"{t.name}: sink image differs from the oracle")
                break
        res.latencies = walls
        res.latency_names = ("snapshot_latency_p50_s", "snapshot_latency_p90_s")
        res.metrics = {
            "snapshot_rows_per_s": (median(rates), "rows/s"),
            "snapshot_latency_p50_s": (median(walls), "s"),
            "snapshot_latency_p90_s": (percentile(walls, 90), "s"),
            "snapshot_passes": (len(walls), "count"),
        }
        return res


def _backfill_rows(t, chunk, low, high) -> int:
    """Log events in (low, high] inside the chunk's key range (pandas)."""
    log = t.log
    m = (log["_seq"] > low) & (log["_seq"] <= high)
    if chunk.start is not None:
        m &= log[t.key] >= chunk.start
    if chunk.end is not None:
        m &= log[t.key] < chunk.end
    return int(m.sum())


# --------------------------------------------------------------------------
# streaming workloads: shared state seeding and foreachBatch body
# --------------------------------------------------------------------------


class _Streaming:
    sql = ""
    sink_key = ""

    def __init__(self, spark, work, seed, spec):
        self.spark, self.work, self.seed, self.spec = spark, work, seed, spec
        self.commits: dict = {}      # batch id -> commit time (time.time())
        self.tracer = None
        self.query = None

    def close(self) -> None:
        if self.query is not None and self.query.isActive:
            self.query.stop()

    def seed_state(self) -> None:
        """Compile the maintenance job and open the sink.  Their state is
        seeded by the first micro-batch of the warm-up, which carries the
        snapshot image as ``op: "r"`` envelopes."""
        self.job = plan_insert_maintained(self.sql, {"orders": ["order_id"]})
        self.sink = UpsertParquetSink(self.spark, os.path.join(self.work, "sink"), [self.sink_key])

    def body(self, batch_df: DataFrame, batch_id: int) -> None:
        """The ``foreachBatch`` body: decode -> maintain -> sink."""
        tracer = self.tracer
        if not tracer.enabled:
            decoded = from_debezium_json(batch_df, ORDERS_PAYLOAD)
            delta = self.job.step({"orders": decoded})
            self.sink.merge_batch(self.job.delta_changelog(delta, batch_id), batch_id)
            self.commits[batch_id] = time.time()
            return
        with tracer.span("stream.batch", batch=batch_id):
            with tracer.span("source.scan") as sp:
                records, n = _materialize(batch_df)
                sp["rows_read"] = n
            with tracer.span("debezium.decode") as sp:
                decoded = from_debezium_json(records, ORDERS_PAYLOAD).persist()
                row = decoded.agg(F.count(F.lit(1)), F.countDistinct(SEQ_COL)).first()
                sp["records_in"], sp["rows_out"], sp["envelopes_kept"] = n, row[0], row[1]
            with tracer.span("maintain.step") as step_sp:
                delta, step_sp["delta_rows"] = _materialize(self.job.step({"orders": decoded}))
                changelog = self.job.delta_changelog(delta, batch_id)
            with tracer.span("sink.merge") as merge_sp:
                self.sink.merge_batch(changelog, batch_id)
            self.commits[batch_id] = time.time()
            with tracer.span("bench.bookkeeping"):
                merge_sp["rows_written"] = _sink_rows(self.sink)
                merge_sp["rows_changed"] = changelog.select(self.sink_key).distinct().count()
                step_sp["state_rows"] = _state_rows(self.job)
            for df in (records, decoded, delta):
                df.unpersist()

    def sink_matches(self, expected: pd.DataFrame) -> bool:
        got = self.sink.read_state().toPandas()
        return _same_rows(got, expected, list(expected.columns))


def _progress(query, skip=()) -> list:
    """Per-batch progress of the batches that read data."""
    return [
        {
            "batch": p["batchId"],
            "start": datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp(),
            "trigger_s": p["durationMs"].get("triggerExecution", 0) / 1000.0,
            "add_batch_s": p["durationMs"].get("addBatch", 0) / 1000.0,
            "input_rows": p["numInputRows"],
            "duration_ms": dict(p["durationMs"]),
        }
        for p in query.recentProgress
        if p["numInputRows"] > 0 and p["batchId"] not in skip
    ]


# --------------------------------------------------------------------------
# binlog_catchup
# --------------------------------------------------------------------------


class BinlogCatchup(_Streaming):
    """Closed loop: a staged backlog drained one file per micro-batch by
    one long-lived query (``maxFilesPerTrigger=1``), so the next batch
    starts only after the previous one commits.  The query is started in
    the warm-up and keeps running, so no measured batch pays a query
    start."""

    name = "binlog_catchup"
    Spec = gen.CatchupSpec
    sql = CATCHUP_SQL
    sink_key = "region"

    def generate(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)
        s = self.spec
        self.stream = gen.OrdersChangeStream(
            np.random.default_rng(self.seed), s.orders_rows, max(2, s.orders_rows // 10),
            s.regions, s, move_share=s.region_move_share,
        )
        self.backlog = os.path.join(self.work, "backlog")
        self.ckpt = os.path.join(self.work, "ckpt")
        self.files = self.envelopes = 0
        self._write(self.stream.snapshot_envelopes(pd.Timestamp.now(tz="UTC")))

    def _write(self, records: pd.DataFrame) -> None:
        gen.write_envelope_file(records, self.backlog, self.files, 1_600_000_000.0 + self.files)
        self.files += 1

    def _stage(self, n_files: int) -> None:
        """Add ``n_files`` change files to the backlog."""
        now = pd.Timestamp.now(tz="UTC")
        for _ in range(n_files):
            records, changes = self.stream.envelopes(self.spec.envelopes_per_file, now)
            self._write(records)
            self.envelopes += changes

    def warm_up(self, tracer) -> None:
        """Start the query; it drains the snapshot file (seeding the state)
        and the warm-up files."""
        self.tracer = tracer.off()
        self._stage(self.spec.warmup_files)
        self.query = (
            read_replay_stream(self.spark, self.backlog, ENVELOPE_SCHEMA)
            .writeStream.foreachBatch(self.body)
            .option("checkpointLocation", self.ckpt)
            .start()
        )
        self.query.processAllAvailable()
        warm = _progress(self.query)
        self.warm_batches = {p["batch"] for p in warm}
        self.batch_s = warm[-1]["trigger_s"]

    def measure(self, seconds: float, tracer) -> Result:
        self.tracer = tracer
        res = Result()
        w0 = time.perf_counter() - tracer.t0
        first_file, before = self.files, self.envelopes
        drained = 0.0
        while drained < seconds:
            # stage what the time left needs, from the batch time so far
            self._stage(max(1, int(-(-(seconds - drained) // self.batch_s))))
            self.query.processAllAvailable()
            res.progress = _progress(self.query, skip=self.warm_batches)
            last = max(p["batch"] for p in res.progress)
            drained = self.commits[last] - res.progress[0]["start"]
            self.batch_s = drained / len(res.progress)
        self.query.stop()
        res.window = (w0, time.perf_counter() - tracer.t0)
        if self.query.exception() is not None:
            raise RuntimeError(f"micro-batch failed: {self.query.exception()}")
        res.attempted += len(res.progress) + 1
        if len(res.progress) != self.files - first_file:  # one batch per file
            res.failed += 1
            res.notes.append(f"{len(res.progress)} batches for {self.files - first_file} files")
        if not self.sink_matches(gen.region_aggregates(self.stream.image())):
            res.failed += 1
            res.notes.append("final sink contents differ from the oracle")
        lat = [p["trigger_s"] for p in res.progress]
        res.latencies = lat
        res.latency_names = ("batch_latency_p50_s", "batch_latency_p90_s")
        res.metrics = {
            "catchup_events_per_s": ((self.envelopes - before) / drained, "events/s"),
            "batch_latency_p50_s": (median(lat), "s"),
            "batch_latency_p90_s": (percentile(lat, 90), "s"),
            "batches": (len(lat), "count"),
        }
        return res


# --------------------------------------------------------------------------
# steady_freshness
# --------------------------------------------------------------------------


class SteadyFreshness(_Streaming):
    """Open loop: one generator thread writes one envelope file per tick on
    a fixed schedule, whether or not the engine keeps up; the query runs
    with the default trigger and takes whatever has arrived."""

    name = "steady_freshness"
    Spec = gen.FreshnessSpec
    sql = FRESHNESS_SQL
    sink_key = "customer_id"

    def generate(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)
        s = self.spec
        self.stream = gen.OrdersChangeStream(
            np.random.default_rng(self.seed), s.orders_rows, s.customers, 64, s
        )
        self.inbox = os.path.join(self.work, "inbox")
        self.ckpt = os.path.join(self.work, "ckpt")
        self.files: dict = {}   # file name -> (due, written, records); set-up files: due None
        self._write(self.stream.snapshot_envelopes(pd.Timestamp.now(tz="UTC")))

    def _write(self, records: pd.DataFrame) -> None:
        now = time.time()
        path = gen.write_envelope_file(records, self.inbox, len(self.files), now)
        self.files[os.path.basename(path)] = (None, now, len(records))

    def warm_up(self, tracer) -> None:
        """Start the query; its first batch applies the snapshot file,
        seeding the state.  The open loop's lead-in, at the start of
        ``measure``, finishes the warm-up at the fixed rate."""
        self.tracer = tracer.off()
        self.query = (
            self.spark.readStream.schema(ENVELOPE_SCHEMA)
            .parquet(self.inbox)
            .writeStream.foreachBatch(self.body)
            .option("checkpointLocation", self.ckpt)
            .start()
        )
        self.query.processAllAvailable()

    def _generate(self, ticks: list, t_start: float, n_lead: int) -> None:
        """Generator thread: file k is due at t_start + k * tick and its
        records carry that due time as their creation time.  The first
        ``n_lead`` files are the lead-in, outside the measured window."""
        s, first = self.spec, len(self.files)
        for k, records in enumerate(ticks):
            due = t_start + k * s.tick_s
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            records["timestamp"] = pd.Timestamp(due, unit="s", tz="UTC")
            path = gen.write_envelope_file(records, self.inbox, first + k, due)
            self.files[os.path.basename(path)] = (due if k >= n_lead else None, time.time(), len(records))

    def measure(self, seconds: float, tracer) -> Result:
        s = self.spec
        res = Result()
        n_lead = int(round(s.lead_in_s / s.tick_s))
        n_ticks = max(2, int(round(seconds / s.tick_s)))
        epoch = pd.Timestamp(0, unit="s", tz="UTC")
        ticks = [self.stream.envelopes(s.envelopes_per_tick, epoch)[0] for _ in range(n_lead + n_ticks)]
        t_start = time.time() + 0.05
        thread = threading.Thread(target=self._generate, args=(ticks, t_start, n_lead), daemon=True)
        thread.start()
        # the lead-in runs untraced; the window starts at the first timed tick
        t_window = t_start + n_lead * s.tick_s
        time.sleep(max(0.0, t_window - time.time()))
        self.tracer = tracer
        w0 = time.perf_counter() - tracer.t0
        res.lead_in_s = time.time() - t_start
        thread.join()
        self.query.processAllAvailable()
        t_end = time.time()
        self.query.stop()
        res.window = (w0, time.perf_counter() - tracer.t0)
        if self.query.exception() is not None:
            raise RuntimeError(f"micro-batch failed: {self.query.exception()}")
        batch_of = _source_log(self.ckpt)
        timed = [(due, w, n, self.commits[batch_of[f]]) for f, (due, w, n) in self.files.items() if due is not None]
        first_batch = min(batch_of[f] for f, (due, _, _) in self.files.items() if due is not None)
        res.progress = [p for p in _progress(self.query) if p["batch"] >= first_batch]
        fresh = np.repeat([c - due for due, _, _, c in timed], [n for _, _, n, _ in timed])
        late = [w - due for due, w, _, _ in timed]
        backlog = _backlog(timed, t_window, t_end)
        # with the default trigger every batch takes all that has arrived,
        # so a rate the engine cannot sustain shows as batches that grow
        # until the last file waits far longer than one batch takes
        last_due, _, _, last_commit = max(timed)
        drain = last_commit - last_due
        trigger = median(p["trigger_s"] for p in res.progress)
        grows = drain > 2 * trigger + s.tick_s
        behind = max(late) >= s.tick_s
        res.attempted += len(res.progress) + 2   # batches, sustain check, oracle
        if grows or behind:
            res.failed += 1
            res.notes.append(
                "not sustained:" + (" backlog grew" if grows else "") + (" generator fell behind" if behind else "")
            )
        if not self.sink_matches(gen.customer_aggregates(self.stream.image())):
            res.failed += 1
            res.notes.append("final sink contents differ from the oracle")
        total = int(sum(n for _, _, n, _ in timed))
        res.latencies = list(fresh)
        res.latency_names = ("freshness_p50_s", "freshness_p90_s")
        res.metrics = {
            "freshness_p50_s": (median(fresh), "s"),
            "freshness_p90_s": (percentile(fresh, 90), "s"),
            "steady_events_per_s": (total / (t_end - t_window), "events/s"),
            "offered_events_per_s": (s.envelopes_per_tick / s.tick_s, "events/s"),
            "generator_late_max_s": (max(late), "s"),
            "generator_late_p90_s": (percentile(late, 90), "s"),
            "backlog_max_records": (max(b for _, b in backlog), "count"),
            "final_drain_s": (drain, "s"),
            "batches": (len(res.progress), "count"),
            "sustained": (int(not (grows or behind)), "bool"),
        }
        return res


def _backlog(timed: list, t_start: float, t_end: float, step: float = 0.1) -> list:
    """(t, records written but not yet committed) on a fixed grid."""
    out = []
    t = t_start
    while t <= t_end:
        written = sum(n for _, w, n, _ in timed if w <= t)
        done = sum(n for _, _, n, c in timed if c <= t)
        out.append((t - t_start, written - done))
        t += step
    return out


def _source_log(ckpt: str) -> dict:
    """File name -> batch id, from the file stream source's metadata log
    (``<checkpoint>/sources/0``; compacted files repeat earlier entries)."""
    out = {}
    d = os.path.join(ckpt, "sources", "0")
    for name in os.listdir(d):
        if name.startswith("."):
            continue
        with open(os.path.join(d, name)) as f:
            for line in f:
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


WORKLOADS = {w.name: w for w in (InitialSnapshot, BinlogCatchup, SteadyFreshness)}
