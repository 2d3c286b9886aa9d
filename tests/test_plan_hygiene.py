"""Plan-hygiene gate over the ENTIRE driver window: the brief's scale
rules ("no unbounded all-pairs joins", "UDFs are the slow path — never
row-at-a-time Python in the hot path") enforced as a regression test,
so a future query or operator change cannot silently reintroduce a
cartesian join or a BatchEvalPython node into a driver-checked plan."""

from __future__ import annotations

import pytest

from flink_cdc_2_3_0_src_spark import queries as catalog
from tests.conftest import SF_SMOKE

WINDOW = list(catalog.queries())[:50]

# Deliberate exceptions, each a bounded broadcast of a TINY side:
#   - ann_topk_cosine: the documented brute-force ANN baseline —
#     broadcasts the small query set against the corpus (the scale
#     paths are ann_lsh_bucketed / ann_topk_ivf, both equi-joins).
#   - knn_graph: blocked cogrouped matmul over a broadcast block list;
#     per-task memory bounded by the block size.
NESTED_LOOP_ALLOWED = {
    "ann_topk_cosine",
    "knn_graph",
    # single-row global-totals broadcast (T, W scalars) crossed into the
    # 20-row per-source frame — bounded by design, never grows with data
    "data_mix_weighted",
    # same shape: the 1-row budget scalar crossed into the per-quality
    # frame (bounded by the 6dp quality value domain, not the corpus)
    "pipeline_token_budget",
    # the 0-or-1-row DLT threshold (tau) broadcast-left-joined onto the
    # k-row sample — both sides bounded by k, never by the corpus
    "pipeline_priority_sample",
    # the 3-row quantile list (q=50/90/99) broadcast-crossed into the
    # ≤256-cells-per-group histogram frame — both sides sketch-sized,
    # never corpus-sized (promoted to the window in r8)
    "sketch_quantile_histogram",
    # the incremental twin finalizes through the SAME
    # _hist_quantiles_from_cells path, so it carries the same 3-row
    # quantile broadcast over the ≤256-cells-per-group state frame
    # (promoted to the window in r10, one-shot twin demoted)
    "sketch_hist_incremental",
}


@pytest.mark.parametrize("name", WINDOW)
def test_window_plan_hygiene(spark, name):
    df = catalog.queries()[name](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, f"{name}: cartesian product in plan"
    if name not in NESTED_LOOP_ALLOWED:
        assert "BroadcastNestedLoopJoin" not in plan, (
            f"{name}: nested-loop join in plan (add to NESTED_LOOP_ALLOWED "
            "only for a bounded tiny-side broadcast design)"
        )
    # row-at-a-time Python UDFs never belong in a driver-window plan;
    # Arrow-batched pandas UDFs (ArrowEvalPython) are the sanctioned form
    assert "BatchEvalPython" not in plan, f"{name}: row-at-a-time Python UDF"


def test_spread_small_scan_is_plan_time_metadata(spark):
    """The spread decision must come from the FileIndex / an explicit
    hint — never a df.rdd conversion (which forces scan-split
    enumeration on the driver; real cost at millions of files)."""
    from flink_cdc_2_3_0_src_spark.io import load_table, spread_small_scan

    par = spark.sparkContext.defaultParallelism
    one_file = load_table(spark, SF_SMOKE, "region")
    spread = spread_small_scan(one_file.select("r_regionkey"))
    plan = spread._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" in plan  # single split < cores → repartitioned
    # a source that already planned >= par splits is untouched
    hinted = spread_small_scan(one_file.select("r_regionkey"), expected_splits=par)
    plan2 = hinted._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan2
    # in-memory local relations (no files) are left alone
    local = spark.createDataFrame([(1,)], "x int")
    assert spread_small_scan(local) is local


def test_spread_small_scan_counts_splits_not_files(spark):
    """A table stored as FEW HUGE files is already well-parallelized
    (each file yields size/maxPartitionBytes splits) — file count alone
    would trigger a pointless full-data repartition on it.  Shrinking
    maxPartitionBytes makes the one-file smoke table 'huge' relative to
    the limit: the helper must then leave the scan untouched."""
    from flink_cdc_2_3_0_src_spark.io import load_table, spread_small_scan

    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "64b")  # one parquet file -> many splits
        one_file = load_table(spark, SF_SMOKE, "documents")
        spread = spread_small_scan(one_file.select("doc_id"))
        plan = spread._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
    finally:
        spark.conf.set(key, old)


def test_session_delta_lineage_is_affected_group_restricted(spark):
    """The session plan's output delta must be built from AFFECTED-group
    restricted frames (the left-semi keyset join before the
    gaps-and-islands sort), never a full-table window sort — the bound
    that keeps per-batch work proportional to the touched groups' sizes
    at 100 TB."""
    from datetime import datetime as dt

    from flink_cdc_2_3_0_src_spark.model import OP_COL, SEQ_COL
    from flink_cdc_2_3_0_src_spark.operators.maintain import maintain
    from pyspark.sql import functions as F

    schema = (
        f"k long, g string, v double, ts timestamp, {OP_COL} string, "
        f"{SEQ_COL} long"
    )
    b1 = spark.createDataFrame(
        [
            (1, "a", 1.0, dt(2024, 1, 1, 0, 0), "+I", 1),
            (2, "b", 2.0, dt(2024, 1, 1, 0, 0), "+I", 2),
        ],
        schema,
    )
    b2 = spark.createDataFrame(
        [(3, "a", 3.0, dt(2024, 1, 1, 0, 30), "+I", 3)], schema
    )
    plan = maintain(
        aggs={"s": ("sum", F.col("v"))}, group_cols=["g"], keys=["k"],
        session=("ts", "2 hours"),
    )
    state, _ = plan.step(None, b1)
    state = tuple(s.localCheckpoint(eager=True) for s in state)
    _, delta = plan.step(state, b2)
    plan_str = delta._jdf.queryExecution().optimizedPlan().toString()
    assert "LeftSemi" in plan_str, plan_str
    # and the restriction is effective: only group a re-emits
    assert {r["g"] for r in delta.collect()} == {"a"}


def test_distinct_delta_lineage_is_affected_group_restricted(spark):
    """Same bound for the distinct-view plan: finalization joins are
    restricted to batch-affected groups."""
    from flink_cdc_2_3_0_src_spark.model import OP_COL, SEQ_COL
    from flink_cdc_2_3_0_src_spark.operators.maintain import maintain
    from pyspark.sql import functions as F

    schema = f"g long, k long, v long, {OP_COL} string, {SEQ_COL} long"
    b1 = spark.createDataFrame(
        [(0, 1, 5, "+I", 1), (1, 2, 7, "+I", 2)], schema
    )
    b2 = spark.createDataFrame([(0, 3, 9, "+I", 3)], schema)
    plan = maintain(
        aggs={"n": ("count", F.lit(1))},
        distinct={"nd": ("count", F.col("v"))},
        group_cols=["g"],
    )
    state, _ = plan.step(None, b1)
    state = tuple(s.localCheckpoint(eager=True) for s in state)
    _, delta = plan.step(state, b2)
    plan_str = delta._jdf.queryExecution().optimizedPlan().toString()
    assert "LeftSemi" in plan_str, plan_str
    assert {r["g"] for r in delta.collect()} == {0}


def test_upsert_kernel_shuffle_counts(spark, tmp_path, monkeypatch):
    """Pin the shuffles of the ``materialize(base=)`` hot paths over a
    400-row synthetic log: a sink merge is ONE keyed shuffle (state and
    batch folded together), a chunk is two (scan + backfill fold), and
    a two-chunk ``HybridPipeline.run`` is five.  A change that adds a
    shuffle to any of them fails here."""
    from pyspark.sql import functions as F

    from flink_cdc_2_3_0_src_spark.model import OP_COL, SEQ_COL, ChunkRange
    from flink_cdc_2_3_0_src_spark.streaming import sink as sink_mod
    from flink_cdc_2_3_0_src_spark.streaming.hybrid import HybridPipeline

    def shuffles(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        return plan.count("Exchange hashpartitioning")

    log = spark.range(400).select(
        (F.col("id") % 40).alias("k"),
        (F.col("id") * 2).alias("v"),
        F.when(F.col("id") % 7 == 0, "-D")
        .when(F.col("id") < 40, "+I")
        .otherwise("+U")
        .alias(OP_COL),
        F.col("id").alias(SEQ_COL),
    )
    merged = []
    kernel = sink_mod.materialize

    def capture(*args, **kwargs):
        out = kernel(*args, **kwargs)
        merged.append(out)
        return out

    monkeypatch.setattr(sink_mod, "materialize", capture)
    sink = sink_mod.UpsertParquetSink(spark, str(tmp_path / "sink"), ["k"])
    sink.merge_batch(log.filter(F.col(SEQ_COL) < 200), 0)
    sink.merge_batch(log.filter(F.col(SEQ_COL) >= 200), 1)
    assert [shuffles(d) for d in merged] == [1, 1]

    p = HybridPipeline(spark, log, ["k"])
    assert shuffles(p.snapshot_chunk(ChunkRange(None, 20), "k", 100, 300)) == 2
    chunks = [ChunkRange(None, 20), ChunkRange(20, None)]
    ran = p.run(chunks, "k", watermarks=lambda i: (100 + 100 * i, 200 + 100 * i))
    assert shuffles(ran) == 5
