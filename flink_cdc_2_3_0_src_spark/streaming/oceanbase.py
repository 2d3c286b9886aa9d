"""OceanBase-style snapshot+stream source (SURVEY §2 A30).

The reference connector (flink-connector-oceanbase-cdc,
OceanBaseRichSourceFunction.java:143-166) orders the two phases the
OPPOSITE way from MySQL/TiDB: it starts the log-proxy change stream
FIRST (buffering change records from a start timestamp), THEN runs the
JDBC table snapshot, and lets the two overlap — every change record is
a full-row upsert keyed by PK, so a change that is visible both in the
snapshot image and in the buffered stream resolves to the same final
row; downstream upsert semantics dedupe the overlap instead of the
source coordinating watermarks per chunk.

Spark-first restatement: the overlap-merge IS ``materialize``'s
max-seq-wins contract. The snapshot image is ``materialize``'s ``base``
— strictly OLDER than every buffered change — so any key touched during
the overlap window takes its newest change image, and untouched keys
keep their snapshot image. One union + one hash aggregation; no
per-chunk watermark state, no driver-side buffer (the reference's
in-memory ``logMessageBuffer`` becomes ordinary partitioned rows).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_cdc_2_3_0_src_spark.model import SEQ_COL
from flink_cdc_2_3_0_src_spark.operators.changelog import materialize


def oceanbase_snapshot_stream(
    log: DataFrame,
    keys: Sequence[str],
    stream_start: int,
    snapshot_at: int,
) -> DataFrame:
    """A30 end-to-end: log tail from ``stream_start``, snapshot taken
    later at ``snapshot_at`` (> stream_start), overlap deduped by upsert
    merge.

    ``log`` is the full upsert changelog (after-images only — the
    log-proxy emits whole rows). The stream side keeps every change
    with seq > stream_start, INCLUDING those in the overlap window
    (stream_start, snapshot_at] that the snapshot image also reflects —
    exactly the duplication the reference accepts and resolves
    downstream (OceanBaseRichSourceFunction.java:149-160:
    readChangeRecords before readSnapshotRecords).
    """
    snap = materialize(log.filter(F.col(SEQ_COL) <= snapshot_at), keys)
    stream = log.filter(F.col(SEQ_COL) > stream_start)
    return materialize(stream, keys, base=snap)
