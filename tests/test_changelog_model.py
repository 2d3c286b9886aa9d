"""Model-based randomized testing of the core changelog operators:
a pure-Python reference state machine replays random upsert logs and
must agree with materialize / normalize_upsert / signed aggregation /
compaction / the ``base=`` fold on every generated case."""

from __future__ import annotations

import random
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from flink_cdc_2_3_0_src_spark.model import OP_COL, SEQ_COL
from flink_cdc_2_3_0_src_spark.operators.changelog import (
    compact_changelog,
    materialize,
    normalize_upsert,
    signed_count,
    signed_sum,
)


def random_log(seed: int, n_keys: int = 8, n_events: int = 60):
    rng = random.Random(seed)
    rows = []
    for seq in range(1, n_events + 1):
        k = rng.randrange(n_keys)
        op = rng.choices(["+I", "+U", "-D"], weights=[2, 5, 2])[0]
        v = round(rng.uniform(0, 100), 2)
        rows.append((k, v, op, seq))
    return rows


def reference_state(rows):
    """Pure-Python upsert state machine (the semantics contract)."""
    state: dict[int, float] = {}
    for k, v, op, _seq in rows:
        if op == "-D":
            state.pop(k, None)
        else:
            state[k] = v
    return state


@pytest.mark.parametrize("seed", [1, 2, 3, 4, 5, 6, 7, 8])
def test_operators_agree_with_reference_model(spark, seed):
    rows = random_log(seed)
    df = spark.createDataFrame(rows, ["k", "v", OP_COL, SEQ_COL])
    expect = reference_state(rows)

    # materialize == reference final state
    got = {r["k"]: r["v"] for r in materialize(df, ["k"]).collect()}
    assert got == expect

    # normalize_upsert then materialize == same state
    norm = normalize_upsert(df, ["k"])
    got_n = {r["k"]: r["v"] for r in materialize(norm, ["k"]).collect()}
    assert got_n == expect

    # signed aggregation over normalized changelog telescopes to state
    agg = norm.agg(
        signed_sum(F.col("v").cast("decimal(18,2)")).alias("s"),
        signed_count().alias("n"),
    ).collect()[0]
    assert agg["n"] == len(expect)
    assert agg["s"] == Decimal(
        str(round(sum(expect.values()), 2))
    ).quantize(Decimal("0.01"))

    # compaction preserves replay semantics
    comp = compact_changelog(df, ["k"]).withColumn(SEQ_COL, F.lit(0).cast("long"))
    got_c = {r["k"]: r["v"] for r in materialize(comp, ["k"]).collect()}
    assert got_c == expect

    # fold law (the sink, chunk backfill, OceanBase and TiDB merges):
    # the tail folded over the materialized prefix == the whole log
    t = random.Random(seed).randrange(len(rows) + 1)
    prefix = materialize(df.filter(F.col(SEQ_COL) <= t), ["k"])
    folded = materialize(df.filter(F.col(SEQ_COL) > t), ["k"], base=prefix)
    assert {r["k"]: r["v"] for r in folded.collect()} == expect
