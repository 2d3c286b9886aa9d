"""Hybrid snapshot → stream orchestration (the heart of the reference).

Reproduces the DBLog-style "Offset Signal Algorithm" the reference
implements (docs/content/connectors/mysql-cdc.md:540-552, SURVEY §3.1):

  per chunk:  [low watermark] → chunk SELECT → [high watermark]
              → backfill log events in (low, high] upsert-merged into
                the chunk image (A6/A7), skip when low == high (A8)
  stream:     single log reader from min(high watermark); a log event is
              emitted iff its table is in pure-log phase (pos ≥ table max
              HW) or its key falls in a finished chunk with pos > that
              chunk's HW (A10)

Spark mapping: the snapshot phase is a batch job (one partition per
chunk, range predicates pushed down); the stream phase is Structured
Streaming (or an incremental batch) with the chunk-HW filter applied as
a literal predicate. Chunk progress is checkpointed in a JSON manifest
(A18) so a restart resumes mid-snapshot.

The test dialect drives this against the driver's parquet tables with
the scripted events log as the "binlog": the database state at offset T
is materialize(log[seq <= T]).
"""

from __future__ import annotations

import json
import os
from dataclasses import asdict, dataclass, field
from typing import Callable, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_cdc_2_3_0_src_spark.model import (
    OP_COL,
    OP_INSERT,
    SEQ_COL,
    ChunkRange,
)
from flink_cdc_2_3_0_src_spark.operators.changelog import materialize


@dataclass
class ChunkState:
    """Manifest entry for one finished chunk (A18). Chunk bounds carry
    the split key's own type (int, string, ...)."""

    split_id: str
    start: Optional[object]
    end: Optional[object]
    low_watermark: int
    high_watermark: int


@dataclass
class SnapshotManifest:
    """Snapshot-phase checkpoint (reference PendingSplitsState shape)."""

    table: str
    key: str
    chunks: list[ChunkState] = field(default_factory=list)

    def save(self, path: str) -> None:
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(
                {"table": self.table, "key": self.key,
                 "chunks": [asdict(c) for c in self.chunks]},
                f,
            )
        os.replace(tmp, path)  # atomic pointer swap

    @staticmethod
    def load(path: str) -> Optional["SnapshotManifest"]:
        if not os.path.exists(path):
            return None
        with open(path) as f:
            d = json.load(f)
        m = SnapshotManifest(d["table"], d["key"])
        m.chunks = [ChunkState(**c) for c in d["chunks"]]
        return m

    def min_high_watermark(self) -> int:
        """A17: stream split starts at min(HW) over finished chunks."""
        return min((c.high_watermark for c in self.chunks), default=0)

    def max_high_watermark(self) -> int:
        return max((c.high_watermark for c in self.chunks), default=0)


class HybridPipeline:
    """Snapshot + stream reconciliation over an upsert changelog.

    Parameters
    ----------
    log : full upsert changelog DataFrame (key..., payload..., _op, _seq)
    keys : primary-key columns
    manifest_path : optional JSON snapshot manifest (A18); when set, each
        finished chunk's watermarks are saved there and a restarted
        ``run_snapshot_phase`` resumes from it.
    """

    def __init__(
        self,
        spark: SparkSession,
        log: DataFrame,
        keys: Sequence[str],
        manifest_path: Optional[str] = None,
    ) -> None:
        self.spark = spark
        # the snapshot phase reads the log 2x per chunk (chunk image +
        # backfill slice) and the stream phase once more — persist the
        # decoded changelog so each pass is a cached-columnar read, not a
        # re-decode (a real dialect pays the chunk SELECT on the DB
        # instead; this is the test-dialect equivalent)
        self.log = log.persist()
        self.keys = list(keys)
        self.manifest_path = manifest_path

    # ---- test-dialect database primitives ----

    def db_state_at(self, offset: int, where=None) -> DataFrame:
        """Materialized table state at a log offset (what a chunk SELECT
        would see in a real database).

        ``where`` is an optional predicate over the KEY columns (a chunk
        range). Because materialize() groups by the full key, a filter
        on key columns commutes with it — pushing it below the shuffle
        means a chunk scan shuffles only its range, not the whole log
        (and a real dialect's chunk SELECT pushes the same WHERE to the
        database)."""
        base = self.log.filter(F.col(SEQ_COL) <= offset)
        if where is not None:
            base = base.filter(where)
        return materialize(base, self.keys)

    def snapshot_chunk(
        self,
        chunk: ChunkRange,
        key: str,
        low_watermark: int,
        high_watermark: int,
    ) -> DataFrame:
        """A6/A7/A8: chunk scan at ``low_watermark`` + backfill merge of
        log events in (low, high].

        Returns the chunk's exact image at ``high_watermark`` with
        op=+I and _seq=high (snapshot rows are INSERTs whose ts is
        zeroed in the reference; the seq lets downstream merge order
        snapshot vs stream rows).
        """
        in_range = F.expr(chunk.predicate_sql(key))
        # chunk predicate pushed below the materialize shuffle (the split
        # key is a key column, so the filter commutes with the group-by)
        scan = self.db_state_at(low_watermark, where=in_range)
        if high_watermark == low_watermark:
            # A8: backfill skip
            merged = scan
        else:
            backfill = self.log.filter(
                (F.col(SEQ_COL) > low_watermark)
                & (F.col(SEQ_COL) <= high_watermark)
                & in_range
            )
            merged = materialize(backfill, self.keys, base=scan)
        return merged.withColumn(OP_COL, F.lit(OP_INSERT)).withColumn(
            SEQ_COL, F.lit(high_watermark).cast("long")
        )

    # ---- phases ----

    def run_snapshot_phase(
        self,
        chunks: Sequence[ChunkRange],
        key: str,
        watermarks: Optional[Callable[[int], tuple[int, int]]] = None,
        table: str = "t",
    ) -> tuple[DataFrame, SnapshotManifest]:
        """Scan all chunks, recording (low, high) watermarks per chunk.

        ``watermarks(i) -> (low, high)`` lets tests advance the log
        between chunk scans (the real-world race the algorithm exists
        for). Default: both = current log tip.
        """
        manifest = SnapshotManifest(table, key)
        if self.manifest_path:
            prior = SnapshotManifest.load(self.manifest_path)
            if prior is not None:
                manifest = prior  # resume (A18)
        done = {c.split_id for c in manifest.chunks}
        tip = self.log.agg(F.max(SEQ_COL)).collect()[0][0] or 0
        parts = []
        for i, chunk in enumerate(chunks):
            split_id = f"{table}:{i}"
            if split_id in done:
                lw, hw = next(
                    (c.low_watermark, c.high_watermark)
                    for c in manifest.chunks
                    if c.split_id == split_id
                )
            else:
                lw, hw = watermarks(i) if watermarks else (tip, tip)
                manifest.chunks.append(
                    ChunkState(split_id, chunk.start, chunk.end, lw, hw)
                )
                if self.manifest_path:
                    manifest.save(self.manifest_path)
            parts.append(self.snapshot_chunk(chunk, key, lw, hw))
        snap = parts[0]
        for p in parts[1:]:
            snap = snap.unionByName(p)
        return snap, manifest

    def stream_filter(
        self, events: DataFrame, manifest: SnapshotManifest
    ) -> DataFrame:
        """A10: emit a log event iff it postdates its chunk's snapshot.

        Pure-log fast path: events past the table max HW pass with a
        single literal comparison (no per-chunk logic) — at scale this is
        the steady-state filter and costs one codegen'd predicate.
        """
        max_hw = manifest.max_high_watermark()
        per_chunk = F.lit(False)
        for c in manifest.chunks:
            rng = ChunkRange(c.start, c.end)
            per_chunk = per_chunk | (
                F.expr(rng.predicate_sql(manifest.key))
                & (F.col(SEQ_COL) > c.high_watermark)
            )
        return events.filter(
            self._always_emit(events)
            | (F.col(SEQ_COL) > F.lit(max_hw))
            | per_chunk
        )

    @staticmethod
    def _always_emit(events: DataFrame):
        """Schema/signal records bypass the chunk-HW filter (reference
        BinlogSplitReader.shouldEmit:228-260 always passes non-data
        events)."""
        from flink_cdc_2_3_0_src_spark.model import OP_SCHEMA

        if OP_COL in events.columns:
            return F.col(OP_COL) == OP_SCHEMA
        return F.lit(False)

    def run(
        self,
        chunks: Sequence[ChunkRange],
        key: str,
        watermarks: Optional[Callable[[int], tuple[int, int]]] = None,
    ) -> DataFrame:
        """Full hybrid pipeline in batch form: snapshot images + filtered
        stream events, merged to the final materialized table."""
        snap, manifest = self.run_snapshot_phase(chunks, key, watermarks)
        start = manifest.min_high_watermark()
        stream_events = self.stream_filter(
            self.log.filter(F.col(SEQ_COL) > start), manifest
        )
        return materialize(snap.unionByName(stream_events), self.keys)

    def run_streaming(
        self,
        chunks: Sequence[ChunkRange],
        key: str,
        stream: DataFrame,
        sink,
        checkpoint_dir: str,
        watermarks: Optional[Callable[[int], tuple[int, int]]] = None,
        await_seconds: int = 120,
    ):
        """The production shape (A16 streaming form): snapshot phase as a
        batch job seeding the upsert sink, then the unbounded stream
        phase as a real Structured Streaming query with the A10 chunk-HW
        emission filter applied per microbatch via foreachBatch.

        ``stream`` is an unbounded changelog DataFrame (replay source,
        Kafka topic, ...). Returns (manifest, StreamingQuery).
        """
        snap, manifest = self.run_snapshot_phase(chunks, key, watermarks)
        sink.merge_batch(snap, -1)  # seed state with the snapshot image

        def process(batch_df: DataFrame, batch_id: int) -> None:
            start = manifest.min_high_watermark()
            filtered = self.stream_filter(
                batch_df.filter(F.col(SEQ_COL) > start), manifest
            )
            sink.merge_batch(filtered, batch_id)

        q = (
            stream.writeStream.foreachBatch(process)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(await_seconds)
        return manifest, q
