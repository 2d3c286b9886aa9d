"""Parallel snapshot chunk planner (A2-A4).

Re-implements the *semantics* of the reference's chunk splitter
(MySqlChunkSplitter.java) as driver-side planning that yields
``ChunkRange`` predicates for a parallel Spark read:

  - analyze: SELECT MIN(k), MAX(k) + approximate row count
    (StatementUtils.queryMinMax:38-56, queryApproximateRowCnt:58-76)
  - evenly-sized fast path when the key is numeric and uniformly
    distributed: distributionFactor = (max - min + 1) / rowCount must lie
    within [lower, upper] bounds (default [0.05, 1000.0],
    MySqlChunkSplitter.calculateDistributionFactor:453-478,
    MySqlSourceOptions.java:207-222); dynamic chunk size =
    round(distributionFactor * chunkSize) clamped to >= 1
    (getDynamicChunkSize:406-434)
  - lazy unevenly-sized path otherwise: repeated
    ``SELECT MAX(k) FROM (SELECT k FROM t WHERE k >= ? ORDER BY k LIMIT
    chunkSize)`` (splitOneUnevenlySizedChunk:188-221,
    StatementUtils.queryNextChunkMax:99-130), resumable mid-table and
    throttled (maySleep:484-494).

At 100 TB scale this planner is the difference between one giant scan task
and N independent range scans: each ChunkRange becomes one Spark partition
(JDBC ``predicates`` entry or a pushed-down parquet range filter), so
snapshot parallelism == chunk count, bounded memory per task.
"""

from __future__ import annotations

import time
from dataclasses import dataclass
from typing import Any, Callable, Iterator, Optional, Sequence

from flink_cdc_2_3_0_src_spark.model import ChunkRange, SnapshotSplit, TableId

DEFAULT_CHUNK_SIZE = 8096          # reference MySqlSourceOptions.java:104-106
DEFAULT_DIST_FACTOR_LOWER = 0.05   # reference MySqlSourceOptions.java:207-213
DEFAULT_DIST_FACTOR_UPPER = 1000.0 # reference MySqlSourceOptions.java:215-222
_SLEEP_EVERY_CHUNKS = 10           # reference MySqlChunkSplitter.maySleep:484-494
_SLEEP_MS = 100


@dataclass(frozen=True)
class TableAnalysis:
    """Result of the analyze phase (A2)."""

    min_key: Any
    max_key: Any
    approx_row_count: int
    numeric: bool


def calculate_distribution_factor(
    min_key: Any, max_key: Any, row_count: int
) -> float:
    """(max - min + 1) / rowCount — reference
    MySqlChunkSplitter.calculateDistributionFactor:453-478."""
    if row_count == 0:
        return float("inf")
    return (float(max_key) - float(min_key) + 1.0) / float(row_count)


def split_evenly_sized_chunks(
    min_key: Any,
    max_key: Any,
    approx_row_count: int,
    chunk_size: int,
    distribution_factor: float,
) -> list[ChunkRange]:
    """Arithmetic ranges with dynamic chunk size (A3).

    Mirrors reference splitEvenlySizedChunks:319-353 +
    getDynamicChunkSize:406-434: step = max(1, round(factor * chunk_size));
    first chunk is (-inf, min+step), last is [start, +inf).
    """
    dynamic = max(1, round(distribution_factor * chunk_size))
    if approx_row_count <= chunk_size and float(max_key) - float(min_key) < dynamic:
        return [ChunkRange(None, None)]
    chunks: list[ChunkRange] = []
    start = None
    end = _add(min_key, dynamic)
    while end <= max_key:
        chunks.append(ChunkRange(start, end))
        start = end
        end = _add(end, dynamic)
    chunks.append(ChunkRange(start, None))
    return chunks


def _add(v: Any, step: int) -> Any:
    if isinstance(v, int):
        return v + int(step)
    return float(v) + step


class ChunkPlanner:
    """Lazy, resumable chunk planning for one table (A3/A4 + A18 resume).

    The dialect supplies the data access callbacks, so the same planner
    drives MySQL (information_schema + SELECT MAX(...) LIMIT), the parquet
    test dialect (Spark aggregations), or DuckDB:

      analyze()                     -> TableAnalysis               (A2)
      query_next_chunk_max(low)     -> max key of next chunk_size rows (A4)

    ``plan()`` yields ChunkRanges; for huge tables iterate lazily and
    checkpoint ``resume_from`` (ChunkSplitterState.java shape).
    """

    def __init__(
        self,
        table_id: TableId,
        split_key: str,
        analyze: Callable[[], TableAnalysis],
        query_next_chunk_max: Optional[Callable[[Any], Any]] = None,
        chunk_size: int = DEFAULT_CHUNK_SIZE,
        dist_factor_lower: float = DEFAULT_DIST_FACTOR_LOWER,
        dist_factor_upper: float = DEFAULT_DIST_FACTOR_UPPER,
        throttle: bool = False,
        max_chunks: Optional[int] = None,
    ) -> None:
        if chunk_size < 1:
            raise ValueError("chunk_size must be >= 1")  # A33
        self.table_id = table_id
        self.split_key = split_key
        self._analyze = analyze
        self._query_next_chunk_max = query_next_chunk_max
        self.chunk_size = chunk_size
        self.dist_factor_lower = dist_factor_lower
        self.dist_factor_upper = dist_factor_upper
        self.throttle = throttle
        # bound total chunk count (task count at scale): effective chunk
        # size grows with the table so a 100x scale-up can't produce 100x
        # scheduler load / repeated-scan overhead
        self.max_chunks = max_chunks

    def plan(self, resume_from: Any = None) -> Iterator[ChunkRange]:
        """Yield chunk ranges; prefers the even fast path (1 analyze query
        per table) and falls back to the lazy uneven loop
        (MySqlChunkSplitter.splitChunks:120-152)."""
        a = self._analyze()
        if a.approx_row_count == 0 or a.min_key is None:
            yield ChunkRange(None, None)
            return
        chunk_size = self.chunk_size
        if self.max_chunks:
            chunk_size = max(
                chunk_size, -(-a.approx_row_count // self.max_chunks)
            )
        if a.numeric and resume_from is None:
            factor = calculate_distribution_factor(
                a.min_key, a.max_key, a.approx_row_count
            )
            if self.dist_factor_lower <= factor <= self.dist_factor_upper:
                yield from split_evenly_sized_chunks(
                    a.min_key, a.max_key, a.approx_row_count, chunk_size, factor
                )
                return
        yield from self._plan_uneven(a, resume_from)

    def _plan_uneven(self, a: TableAnalysis, resume_from: Any) -> Iterator[ChunkRange]:
        """A4: one bounded ORDER BY ... LIMIT query per chunk, resumable."""
        if self._query_next_chunk_max is None:
            # dialect can't do bounded max queries — single chunk fallback
            yield ChunkRange(None, None)
            return
        start = resume_from
        count = 0
        is_first = resume_from is None
        while True:
            chunk_max = self._query_next_chunk_max(start if start is not None else a.min_key)
            count += 1
            if self.throttle and count % _SLEEP_EVERY_CHUNKS == 0:
                time.sleep(_SLEEP_MS / 1000.0)  # DB DDoS throttle (A4)
            if chunk_max is None or (start is not None and not chunk_max > start) or chunk_max >= a.max_key:
                yield ChunkRange(None if is_first else start, None)
                return
            yield ChunkRange(None if is_first else start, chunk_max)
            is_first = False
            start = chunk_max

    def plan_splits(self, resume_from: Any = None) -> list[SnapshotSplit]:
        """Materialize chunk ranges into SnapshotSplits with stable ids."""
        return [
            SnapshotSplit(
                table_id=self.table_id,
                split_id=f"{self.table_id.dotted()}:{i}",
                split_key=self.split_key,
                range=r,
            )
            for i, r in enumerate(self.plan(resume_from))
        ]


def percentile_chunks(df, key: str, num_chunks: int) -> list[ChunkRange]:
    """Equi-height chunking from exact key percentiles (A26).

    The Spark-first equivalent of MongoDB's $sample + $bucketAuto
    strategy (reference SampleBucketSplitStrategy.split:76-155): one
    aggregation computes the key distribution's quantile boundaries;
    each adjacent pair becomes a chunk. Deterministic (exact
    percentiles, not random sampling) and a single job regardless of
    chunk count — for non-uniform keys this replaces the N round-trip
    uneven path with one pass.
    """
    from pyspark.sql import functions as F

    if num_chunks <= 1:
        return [ChunkRange(None, None)]
    fracs = [i / num_chunks for i in range(1, num_chunks)]
    row = df.agg(
        F.percentile(F.col(key), F.array(*[F.lit(f) for f in fracs])).alias("bounds")
    ).collect()[0]
    bounds = []
    for b in row["bounds"] or []:
        # dedupe collapsed boundaries (heavy key skew)
        v = int(b) if float(b).is_integer() else float(b)
        if not bounds or bounds[-1] != v:
            bounds.append(v)
    chunks: list[ChunkRange] = []
    prev = None
    for b in bounds:
        chunks.append(ChunkRange(prev, b))
        prev = b
    chunks.append(ChunkRange(prev, None))
    return chunks


def sharded_chunks(shard_bounds: Sequence[Any]) -> list[ChunkRange]:
    """A27 (sharded collections): honor PRE-EXISTING shard boundaries.

    The reference's ShardedSplitStrategy reads ``config.chunks`` — the
    cluster's own chunk bounds — instead of re-splitting; here the
    caller passes those interior boundary keys (sorted) and each
    adjacent pair becomes one ChunkRange, so snapshot splits align with
    physical shards (no cross-shard scans).
    """
    bounds = list(shard_bounds)
    assert bounds == sorted(bounds), "shard bounds must be sorted"
    chunks: list[ChunkRange] = []
    prev: Optional[Any] = None
    for b in bounds:
        if prev is not None and b == prev:
            continue  # collapsed shard
        chunks.append(ChunkRange(prev, b))
        prev = b
    chunks.append(ChunkRange(prev, None))
    return chunks


def splitvector_chunks(
    df, key: str, chunk_size: int = DEFAULT_CHUNK_SIZE, rel_err: float = 0.01
) -> list[ChunkRange]:
    """A27 (splitVector): server-computed equal-size boundaries, Spark
    twin = one approxQuantile sketch pass (Greenwald-Khanna), the analog
    of Mongo's splitVector admin command returning ~chunk-size split
    points without scanning per chunk. Approximate boundaries are fine —
    ranges still tile exactly; only chunk-size balance is approximate
    (same contract as splitVector's keysPerChunk estimate).
    """
    n = df.count()
    num_chunks = max(1, -(-n // chunk_size))
    if num_chunks == 1:
        return [ChunkRange(None, None)]
    fracs = [i / num_chunks for i in range(1, num_chunks)]
    qs = df.approxQuantile(key, fracs, rel_err)
    bounds = []
    for b in qs:
        v = int(b) if float(b).is_integer() else float(b)
        if not bounds or bounds[-1] != v:
            bounds.append(v)
    return sharded_chunks(bounds)


def spark_analyze(df, key) -> TableAnalysis:
    """Analyze callback for DataFrame-backed dialects (parquet test dialect).

    One job: min/max/count in a single aggregation — the parquet footer
    stats make this near-free; for JDBC dialects use SQL instead.

    ``key`` may be a list of columns (composite PK): min/max are then the
    lexicographic struct extrema, returned as tuples, and the analysis is
    flagged non-numeric so planning takes the lazy uneven path.
    """
    from pyspark.sql import functions as F

    if not isinstance(key, str):
        keys = list(key)
        row = df.agg(
            F.min(F.struct(*keys)).alias("mn"),
            F.max(F.struct(*keys)).alias("mx"),
            F.count(F.lit(1)).alias("cnt"),
        ).collect()[0]
        mn = tuple(row["mn"]) if row["mn"] is not None else None
        mx = tuple(row["mx"]) if row["mx"] is not None else None
        return TableAnalysis(mn, mx, row["cnt"], numeric=False)
    row = df.agg(
        F.min(key).alias("mn"), F.max(key).alias("mx"), F.count(F.lit(1)).alias("cnt")
    ).collect()[0]
    numeric = isinstance(row["mn"], (int, float)) and not isinstance(row["mn"], bool)
    return TableAnalysis(row["mn"], row["mx"], row["cnt"], numeric)
