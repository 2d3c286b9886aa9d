"""Changelog operator semantics (materialize / normalize / signed aggs /
debezium round trip) on hand-built changelogs with known golden results —
mirrors the reference's golden-changelog ITCase method."""

from __future__ import annotations

from pyspark.sql import functions as F

from flink_cdc_2_3_0_src_spark.functions.debezium import (
    from_debezium_json,
    to_debezium_json,
)
from flink_cdc_2_3_0_src_spark.model import OP_COL, SEQ_COL
from flink_cdc_2_3_0_src_spark.operators.changelog import (
    materialize,
    normalize_upsert,
    signed_count,
    signed_sum,
)


def upsert_log(spark):
    # key 1: insert 10, update 20           → live, value 20
    # key 2: insert 5, delete               → dead
    # key 3: insert 7, delete, re-insert 9  → live, value 9
    # key 4: update-without-insert 4        → live (upsert semantics), 4
    rows = [
        (1, 10.0, "+I", 1),
        (2, 5.0, "+I", 2),
        (1, 20.0, "+U", 3),
        (3, 7.0, "+I", 4),
        (2, 99.0, "-D", 5),
        (3, 123.0, "-D", 6),
        (3, 9.0, "+I", 7),
        (4, 4.0, "+U", 8),
    ]
    return spark.createDataFrame(rows, ["k", "v", OP_COL, SEQ_COL])


def test_materialize_upsert(spark):
    out = materialize(upsert_log(spark), ["k"])
    got = {r["k"]: r["v"] for r in out.collect()}
    assert got == {1: 20.0, 3: 9.0, 4: 4.0}


def test_normalize_upsert_golden(spark):
    norm = normalize_upsert(upsert_log(spark), ["k"])
    got = sorted(
        ((r["k"], r["v"], r[OP_COL], r[SEQ_COL]) for r in norm.collect()),
        key=lambda t: (t[3], t[2]),
    )
    expected = [
        (1, 10.0, "+I", 1),
        (2, 5.0, "+I", 2),
        (1, 20.0, "+U", 3),
        (1, 10.0, "-U", 3),   # retraction of previous image (same seq as +U)
        (3, 7.0, "+I", 4),
        (2, 5.0, "-D", 5),    # delete retracts the PREVIOUS image (5.0, not 99.0)
        (3, 7.0, "-D", 6),
        (3, 9.0, "+I", 7),    # re-insert after delete is +I again
        (4, 4.0, "+I", 8),    # update-without-insert normalizes to +I
    ]
    assert got == expected


def test_scd2_history_golden(spark):
    from flink_cdc_2_3_0_src_spark.operators.changelog import scd2_history

    # full changelog including a -U retraction image (must be skipped:
    # it duplicates the +U payload, not a distinct version)
    rows = [
        (1, 10.0, "+I", 1),
        (1, 10.0, "-U", 3),
        (1, 20.0, "+U", 3),
        (2, 5.0, "+I", 2),
        (2, 5.0, "-D", 5),
        (2, 6.0, "+I", 7),  # re-insert after delete: new interval chain
    ]
    log = spark.createDataFrame(rows, ["k", "v", OP_COL, SEQ_COL])
    got = sorted(
        (r["k"], r["v"], r["valid_from_seq"], r["valid_to_seq"], r["is_current"])
        for r in scd2_history(log, ["k"]).collect()
    )
    assert got == [
        (1, 10.0, 1, 3, False),   # closed by the update at seq 3
        (1, 20.0, 3, None, True),
        (2, 5.0, 2, 5, False),    # closed by the delete at seq 5
        (2, 6.0, 7, None, True),
    ]


def test_signed_aggregation_telescopes(spark):
    norm = normalize_upsert(upsert_log(spark), ["k"])
    row = norm.agg(
        signed_sum(F.col("v").cast("decimal(18,2)")).alias("s"),
        signed_count().alias("n"),
    ).collect()[0]
    # live state: {1:20, 3:9, 4:4} → sum 33, count 3
    assert float(row["s"]) == 33.0
    assert row["n"] == 3


def test_materialize_after_normalize_matches_direct(spark):
    log = upsert_log(spark)
    a = {(r["k"], r["v"]) for r in materialize(log, ["k"]).collect()}
    b = {
        (r["k"], r["v"])
        for r in materialize(normalize_upsert(log, ["k"]), ["k"]).collect()
    }
    assert a == b


def test_incremental_agg_state_maintenance(spark):
    """Incremental signed-aggregate state over microbatches equals the
    one-shot aggregate over the whole changelog (B4 foreachBatch form)."""
    from flink_cdc_2_3_0_src_spark.operators.changelog import (
        merge_agg_state,
        normalize_upsert,
    )
    from flink_cdc_2_3_0_src_spark.sources.scripted_log import scripted_changelog
    from tests.conftest import SF_SMOKE

    log = scripted_changelog(spark, SF_SMOKE)
    norm = normalize_upsert(log, ["user_id"]).withColumn(
        "bucket", F.col("user_id") % 4
    )
    sum_cols = {"s": F.col("value").cast("decimal(18,2)")}
    # replay in 4 sequence-range microbatches
    state = None
    bounds = [0, 250, 500, 750, 10**9]
    for lo, hi in zip(bounds, bounds[1:]):
        batch = norm.filter((F.col(SEQ_COL) > lo) & (F.col(SEQ_COL) <= hi))
        state = merge_agg_state(state, batch, ["bucket"], sum_cols)
    got = {(r["bucket"], str(r["s"]), r["__rows"]) for r in state.collect()}
    direct = (
        norm.groupBy("bucket")
        .agg(
            F.sum(
                F.when(
                    F.col("_op").isin("-U", "-D"),
                    -F.col("value").cast("decimal(18,2)"),
                ).otherwise(F.col("value").cast("decimal(18,2)"))
            ).alias("s"),
            F.sum(
                F.when(F.col("_op").isin("-U", "-D"), -1).otherwise(1)
            ).alias("__rows"),
        )
        .filter(F.col("__rows") > 0)
    )
    expect = {(r["bucket"], str(r["s"]), r["__rows"]) for r in direct.collect()}
    assert got == expect and len(got) > 0


def test_debezium_roundtrip(spark):
    log = normalize_upsert(upsert_log(spark), ["k"])
    enc = to_debezium_json(log, ["k", "v"])
    # every envelope is valid JSON with exactly one op code
    ops = {r["value"].count('"op"') for r in enc.collect()}
    assert ops == {1}
    dec = from_debezium_json(enc, log.select("k", "v").schema)
    got = {(r["k"], r["v"]) for r in materialize(dec, ["k"]).collect()}
    assert got == {(1, 20.0), (3, 9.0), (4, 4.0)}


def test_debezium_roundtrip_with_connect_schema(spark):
    """includeSchema mode: the Connect {"schema", "payload"} wrapper is
    emitted around every record and the decoder unwraps it — the
    round trip through the wrapped form equals the unwrapped one."""
    import json

    log = normalize_upsert(upsert_log(spark), ["k"])
    enc = to_debezium_json(log, ["k", "v"], include_schema=True)
    for r in enc.collect():
        doc = json.loads(r["value"])  # valid JSON with both parts
        assert set(doc) == {"schema", "payload"}
        assert doc["schema"]["type"] == "struct"
        assert {f["field"] for f in doc["schema"]["fields"]} == {
            "before", "after", "source", "op", "ts_ms"
        }
    dec = from_debezium_json(
        enc, log.select("k", "v").schema, include_schema=True
    )
    plain = from_debezium_json(
        to_debezium_json(log, ["k", "v"]), log.select("k", "v").schema
    )
    key = lambda r: (r[SEQ_COL], r[OP_COL], r["k"])  # noqa: E731
    assert sorted(map(key, dec.collect())) == sorted(map(key, plain.collect()))


def test_asof_join_semantics(spark):
    """Temporal-join contract: latest version at-or-before (non-strict) /
    strictly-before (strict); no version yet -> NULL match; a delete
    tombstone matches with a NULL payload (distinguishable from no
    match via version_seq)."""
    from flink_cdc_2_3_0_src_spark.operators.changelog import asof_join

    build = spark.createDataFrame(
        [(1, 10, 100, 1.0), (1, 20, 101, None), (1, 30, 102, 3.0)],
        "k bigint, t bigint, _seq bigint, value double",
    )
    probe = spark.createDataFrame(
        [(1, 5, 900), (1, 10, 901), (1, 25, 902), (1, 35, 903), (2, 50, 904)],
        "k bigint, t bigint, _seq bigint",
    )
    res = {
        r["t"]: (r["version_seq"], r["asof_value"])
        for r in asof_join(probe, build, "k", "t", ["value"]).collect()
    }
    assert res[5] == (None, None)          # before any version
    assert res[10] == (100, 1.0)           # non-strict: same-instant matches
    assert res[25] == (101, None)          # deleted: matched, NULL payload
    assert res[35] == (102, 3.0)
    assert res[50] == (None, None)         # key never versioned

    strict = {
        r["t"]: (r["version_seq"], r["asof_value"])
        for r in asof_join(probe, build, "k", "t", ["value"], strict=True).collect()
    }
    assert strict[10] == (None, None)      # strict: same instant excluded
    assert strict[25] == (101, None)


def test_interval_join_bounds_and_buckets(spark):
    """Pairs appear exactly once (bucketization must not duplicate a
    pair whose window spans a bucket boundary) and bounds are inclusive."""
    from flink_cdc_2_3_0_src_spark.operators.changelog import interval_join
    from pyspark.sql import functions as F

    left = spark.createDataFrame(
        [(1, 1, 1000)], "id bigint, k bigint, t bigint"
    )
    right = spark.createDataFrame(
        [(10, 1, 999), (11, 1, 1000), (12, 1, 1500), (13, 1, 2000),
         (14, 1, 2001), (15, 2, 1500)],
        "id bigint, k bigint, t bigint",
    )
    out = interval_join(
        left, right, "k", F.col("t"), F.col("t"), 0, 1000
    ).collect()
    got = sorted((r["l_id"], r["r_id"]) for r in out)
    # inclusive [t, t+1000]; different key excluded; 999 too early
    assert got == [(1, 11), (1, 12), (1, 13)]
    assert len(got) == len(set(got))  # no bucket-boundary duplicates


def test_interval_join_negative_lower_bound(spark):
    """A [-500, +500] window picks up rows before AND after."""
    from flink_cdc_2_3_0_src_spark.operators.changelog import interval_join
    from pyspark.sql import functions as F
    import pytest

    left = spark.createDataFrame([(1, 1, 1000)], "id bigint, k bigint, t bigint")
    right = spark.createDataFrame(
        [(10, 1, 499), (11, 1, 500), (12, 1, 1500), (13, 1, 1501)],
        "id bigint, k bigint, t bigint",
    )
    out = interval_join(
        left, right, "k", F.col("t"), F.col("t"), -500, 500
    ).collect()
    assert sorted(r["r_id"] for r in out) == [11, 12]
    # equal bounds = Flink's between(x, x): exact-offset equi-join
    eq = interval_join(
        left, right, "k", F.col("t"), F.col("t"), 500, 500
    ).collect()
    assert [r["r_id"] for r in eq] == [12]
    with pytest.raises(ValueError, match="upper"):
        interval_join(left, right, "k", F.col("t"), F.col("t"), 501, 500)


def test_snapshot_diff_replay_reproduces_new(spark):
    """The defining invariant: materialize(old-as-log + diff) == new."""
    from flink_cdc_2_3_0_src_spark.io import load_table
    from flink_cdc_2_3_0_src_spark.operators.changelog import (
        materialize,
        snapshot_diff,
    )
    from tests.conftest import SF_SMOKE

    orders = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    old = orders.filter(F.col("o_orderkey") % 7 != 0)
    new = orders.filter(F.col("o_orderkey") % 5 != 0).withColumn(
        "o_totalprice",
        F.when(F.col("o_orderkey") % 11 == 0, F.col("o_totalprice") * 2)
        .otherwise(F.col("o_totalprice")),
    )
    diff = snapshot_diff(old, new, ["o_orderkey"])
    base = old.withColumn("_op", F.lit("+I")).withColumn(
        "_seq", F.lit(-1).cast("long")
    )
    replayed = materialize(base.unionByName(diff), ["o_orderkey"])
    a = {tuple(r) for r in replayed.collect()}
    b = {tuple(r) for r in new.collect()}
    assert a == b


def test_forget_keys_scrub_and_retractions(spark):
    from flink_cdc_2_3_0_src_spark.operators.changelog import forget_keys

    state = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k bigint, v string"
    )
    forget = spark.createDataFrame([(2,), (9,)], "k bigint")
    kept, log = forget_keys(state, forget, ["k"])
    assert {r["k"] for r in kept.collect()} == {1, 3}
    rows = log.collect()
    assert [(r["k"], r["_op"]) for r in rows] == [(2, "-D")]


def test_append_metadata_oracle_four_column_shape(spark):
    """Oracle exposes database_name + schema_name + table_name + op_ts
    (OracleReadableMetaData.java:34-97): append_metadata(schema=...)
    must yield the four-column shape, in physical-then-metadata order
    (AppendMetadataCollector appends after physical columns)."""
    from flink_cdc_2_3_0_src_spark.model import (
        DB_COL,
        SCHEMA_COL,
        TABLE_COL,
        TENANT_COL,
    )
    from flink_cdc_2_3_0_src_spark.operators.changelog import append_metadata

    df = spark.createDataFrame([(1, "a")], "id long, v string")
    out = append_metadata(
        df, database="ORCLCDB", schema="INVENTORY", table="PRODUCTS",
        op_ts_col="_op_ts",
    )
    assert out.columns == ["id", "v", DB_COL, SCHEMA_COL, TABLE_COL, "_op_ts"]
    r = out.collect()[0]
    assert (r[DB_COL], r[SCHEMA_COL], r[TABLE_COL]) == (
        "ORCLCDB", "INVENTORY", "PRODUCTS",
    )
    # snapshot rows: op_ts pinned to epoch 0
    assert r["_op_ts"].timestamp() == 0
    assert TENANT_COL not in out.columns  # tenant is OceanBase-only


def test_append_metadata_oceanbase_tenant_column(spark):
    """OceanBase adds tenant_name (OceanBaseReadableMetadata.java:28-38)
    — no schema part in its identity."""
    from flink_cdc_2_3_0_src_spark.model import DB_COL, TABLE_COL, TENANT_COL
    from flink_cdc_2_3_0_src_spark.operators.changelog import append_metadata

    df = spark.createDataFrame([(1,)], "id long")
    out = append_metadata(df, database="test", table="t1", tenant="sys")
    assert out.columns == ["id", DB_COL, TABLE_COL, TENANT_COL]
    assert out.collect()[0][TENANT_COL] == "sys"


# ---- incremental delta-join maintenance (r8) ----


def _mk_log(spark, rows):
    """(key, payload, op, seq) rows → full-retraction changelog frame."""
    return spark.createDataFrame(
        rows, f"user_id long, v string, {OP_COL} string, {SEQ_COL} long"
    )


def _mk_dim(spark, rows):
    return spark.createDataFrame(
        rows, f"user_id long, seg string, {OP_COL} string, {SEQ_COL} long"
    )


def test_delta_join_equals_direct_join_any_split(spark):
    """The accumulated delta-join output equals the inner join of the
    two materialized inputs for EVERY batch split — the invariant that
    makes the incremental maintenance correct (bilinearity of the
    delta rule over signed multisets)."""
    from flink_cdc_2_3_0_src_spark.operators.changelog import (
        delta_join_changelog,
        materialize,
    )

    a = _mk_log(spark, [
        (1, "a1", "+I", 1), (2, "b1", "+I", 2),
        (1, "a1", "-U", 3), (1, "a2", "+U", 3),   # update key 1
        (3, "c1", "+I", 4),
        (2, "b1", "-D", 5),                         # delete key 2
        (4, "d1", "+I", 9),                         # no dim match ever
    ])
    b = _mk_dim(spark, [
        (1, "gold", "+I", 1), (2, "iron", "+I", 2), (3, "tin", "+I", 2),
        (3, "tin", "-U", 6), (3, "zinc", "+U", 6),  # update after a emitted
        (1, "gold", "-D", 8),                        # retracts join row
    ])
    direct = sorted(
        tuple(r)
        for r in materialize(a, ["user_id"])
        .join(materialize(b, ["user_id"]), "user_id")
        .collect()
    )
    # key 1 deleted on b side, key 2 deleted on a side, key 4 unmatched:
    # only key 3 survives, with both sides' final images
    assert direct == [(3, "c1", "zinc")]
    for n in (1, 2, 5):
        got = sorted(
            tuple(r)
            for r in delta_join_changelog(a, b, ["user_id"], n_batches=n)
            .collect()
        )
        assert got == direct, f"n_batches={n}"


def test_merge_join_state_emits_signed_output_deltas(spark):
    """Per-batch output changelog: +1 rows appear when a match forms,
    -1 rows retract previously-emitted join rows when either side
    changes — what a downstream consumer of the join stream sees."""
    from flink_cdc_2_3_0_src_spark.operators.changelog import (
        merge_join_state,
    )

    b1a = _mk_log(spark, [(1, "a1", "+I", 1)])
    b1b = _mk_dim(spark, [(1, "gold", "+I", 1)])
    state, out1 = merge_join_state(None, b1a, b1b, ["user_id"])
    assert sorted(tuple(r) for r in out1.collect()) == [(1, "a1", "gold", 1)]

    # batch 2: dim-side delete retracts the emitted row
    b2a = _mk_log(spark, [])
    b2b = _mk_dim(spark, [(1, "gold", "-D", 2)])
    state, out2 = merge_join_state(state, b2a, b2b, ["user_id"])
    assert sorted(tuple(r) for r in out2.collect()) == [(1, "a1", "gold", -1)]

    # batch 3: fact-side update against empty dim state emits nothing
    b3a = _mk_log(spark, [(1, "a1", "-U", 3), (1, "a2", "+U", 3)])
    b3b = _mk_dim(spark, [])
    state, out3 = merge_join_state(state, b3a, b3b, ["user_id"])
    assert out3.collect() == []


def test_merge_join_state_rejects_payload_clash(spark):
    import pytest

    from flink_cdc_2_3_0_src_spark.operators.changelog import (
        merge_join_state,
    )

    a = _mk_log(spark, [(1, "a1", "+I", 1)])
    with pytest.raises(ValueError, match="share non-key columns"):
        merge_join_state(None, a, a, ["user_id"])


def test_delta_join_empty_logs(spark):
    from flink_cdc_2_3_0_src_spark.operators.changelog import (
        delta_join_changelog,
    )

    a = _mk_log(spark, [])
    b = _mk_dim(spark, [])
    out = delta_join_changelog(a, b, ["user_id"], n_batches=3)
    assert out.columns == ["user_id", "v", "seg"]
    assert out.collect() == []


def test_delta_join_insert_delete_within_one_batch_cancels(spark):
    """A key inserted and deleted inside the same batch never reaches
    the join (its multiset contributions cancel in signed_multiset) —
    and a key whose match forms and breaks across batches nets out."""
    from flink_cdc_2_3_0_src_spark.operators.changelog import (
        delta_join_changelog,
    )

    a = _mk_log(spark, [
        (1, "a1", "+I", 1), (1, "a1", "-D", 2),   # cancels in batch 1
        (2, "b1", "+I", 3),
    ])
    b = _mk_dim(spark, [(1, "gold", "+I", 1), (2, "iron", "+I", 3)])
    got = sorted(
        tuple(r)
        for r in delta_join_changelog(a, b, ["user_id"], n_batches=2)
        .collect()
    )
    assert got == [(2, "b1", "iron")]


def test_delta_join_outer_modes_equal_direct(spark):
    """left/right/full delta-join maintenance equals the corresponding
    direct outer join of the materialized inputs, for every batch
    split — including the null-pad / retract-pad-on-match lifecycle a
    streaming outer join goes through."""
    from flink_cdc_2_3_0_src_spark.operators.changelog import (
        delta_join_changelog,
        materialize,
    )

    a = _mk_log(spark, [
        (1, "a1", "+I", 1), (2, "b1", "+I", 2), (4, "d1", "+I", 3),
        (1, "a1", "-U", 5), (1, "a2", "+U", 5),
        (2, "b1", "-D", 8),
    ])
    b = _mk_dim(spark, [
        (1, "gold", "+I", 4), (3, "tin", "+I", 6),
        (1, "gold", "-D", 9),   # key 1 loses its match -> pad returns
    ])
    def key(t):
        return tuple((x is None, x) for x in t)

    ma, mb = materialize(a, ["user_id"]), materialize(b, ["user_id"])
    for how in ("left", "right", "full"):
        direct = sorted(
            ((r["user_id"], r["v"], r["seg"])
             for r in ma.join(mb, "user_id", how).collect()), key=key,
        )
        for n in (1, 3):
            got = sorted(
                ((r["user_id"], r["v"], r["seg"])
                 for r in delta_join_changelog(
                     a, b, ["user_id"], n_batches=n, how=how
                 ).collect()), key=key,
            )
            assert got == direct, f"{how}, n_batches={n}"
    # sanity on content: left keeps unmatched a-keys 1 (match deleted)
    # and 4 (never matched) null-padded; full adds b-only key 3
    left = sorted(
        ((r["user_id"], r["v"], r["seg"])
         for r in delta_join_changelog(
             a, b, ["user_id"], n_batches=3, how="left"
         ).collect()), key=key,
    )
    assert left == [(1, "a2", None), (4, "d1", None)]


def test_merge_join_state_outer_pad_lifecycle(spark):
    """Per-batch outer deltas: an unmatched outer row emits its null-pad,
    the pad is RETRACTED when the first match arrives, and re-emitted
    when the match is deleted (Flink's streaming outer-join behavior)."""
    from flink_cdc_2_3_0_src_spark.operators.changelog import (
        merge_join_state,
    )

    state, out1 = merge_join_state(
        None, _mk_log(spark, [(1, "a1", "+I", 1)]), _mk_dim(spark, []),
        ["user_id"], how="left",
    )
    assert sorted(tuple(r) for r in out1.collect()) == [(1, "a1", None, 1)]

    def key(t):
        return tuple((x is None, x) for x in t)

    state, out2 = merge_join_state(
        state, _mk_log(spark, []), _mk_dim(spark, [(1, "gold", "+I", 2)]),
        ["user_id"], how="left",
    )
    assert sorted((tuple(r) for r in out2.collect()), key=key) == [
        (1, "a1", "gold", 1), (1, "a1", None, -1)]

    state, out3 = merge_join_state(
        state, _mk_log(spark, []), _mk_dim(spark, [(1, "gold", "-D", 3)]),
        ["user_id"], how="left",
    )
    assert sorted((tuple(r) for r in out3.collect()), key=key) == [
        (1, "a1", "gold", -1), (1, "a1", None, 1)]


def test_delta_join_negative_seqs_and_control_rows(spark):
    """Batch 0 is open-ended below (negative sequence numbers are not
    silently dropped) and control rows (+H heartbeats) do not count as
    retractions in the signed multiset."""
    from flink_cdc_2_3_0_src_spark.operators.changelog import (
        delta_join_changelog,
    )

    a = _mk_log(spark, [
        (1, "a1", "+I", -5),          # negative seq: must still arrive
        (1, None, "+H", 2),           # heartbeat: must be ignored
        (2, "b1", "+I", 3),
    ])
    b = _mk_dim(spark, [(1, "gold", "+I", 1), (2, "iron", "+I", 2)])
    got = sorted(
        tuple(r)
        for r in delta_join_changelog(a, b, ["user_id"], n_batches=3)
        .collect()
    )
    assert got == [(1, "a1", "gold"), (2, "b1", "iron")]


# ---- incremental Top-N maintenance (r8) ----


def test_topn_maintenance_equals_direct_rank_any_split(spark):
    """The maintained top-n state equals ranking the materialized table
    directly, for every batch split — including updates that move rows
    in and out of the top n and deletes that promote the next-best."""
    from pyspark.sql.window import Window as W

    from flink_cdc_2_3_0_src_spark.operators.changelog import (
        materialize,
        topn_changelog,
    )

    rows = [
        # bucket 0: users 0, 2, 4 — churny
        (0, 0, 10.0, "+I", 1), (0, 2, 20.0, "+I", 2), (0, 4, 5.0, "+I", 3),
        (0, 4, 5.0, "-U", 7), (0, 4, 50.0, "+U", 7),   # 4 climbs into top-2
        (0, 2, 20.0, "-D", 9),                           # 2 deleted -> 0 promoted
        # bucket 1: users 1, 3
        (1, 1, 7.0, "+I", 4), (1, 3, 3.0, "+I", 5),
        (1, 1, 7.0, "-U", 8), (1, 1, 1.0, "+U", 8),      # 1 drops below 3
    ]
    log = spark.createDataFrame(
        rows, f"bucket long, user_id long, value double, {OP_COL} string, {SEQ_COL} long"
    )
    direct = (
        materialize(log, ["user_id"])
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
    )
    want = sorted(tuple(r) for r in direct.collect())
    assert want == [(0, 0, 10.0), (0, 4, 50.0), (1, 1, 1.0), (1, 3, 3.0)]
    for n in (1, 3, 5):
        got = sorted(
            tuple(r)
            for r in topn_changelog(
                log, ["user_id"], ["bucket"], "value DESC, user_id", 2,
                n_batches=n,
            ).select("bucket", "user_id", "value").collect()
        )
        assert got == want, f"n_batches={n}"


def test_merge_topn_state_membership_deltas(spark):
    """Per-batch output: entering the top n emits +1 and the displaced
    row -1; a rank-only shift inside the top n emits NOTHING (Flink's
    no-rank-output optimization); untouched groups emit nothing."""
    from flink_cdc_2_3_0_src_spark.operators.changelog import (
        merge_topn_state,
    )

    def mk(rows):
        return spark.createDataFrame(
            rows,
            f"bucket long, user_id long, value double, {OP_COL} string, {SEQ_COL} long",
        )

    state, out1 = merge_topn_state(
        None, mk([(0, 0, 10.0, "+I", 1), (0, 2, 20.0, "+I", 2),
                  (1, 1, 7.0, "+I", 3)]),
        ["user_id"], ["bucket"], "value DESC, user_id", 2,
    )
    assert sorted(tuple(r) for r in out1.collect()) == [
        (0, 0, 10.0, 1), (0, 2, 20.0, 1), (1, 1, 7.0, 1)]

    # a new #1 in bucket 0 displaces user 0 (the old #2); the old #1
    # (user 2) merely shifts rank and must NOT be re-emitted; bucket 1
    # is untouched and silent
    state, out2 = merge_topn_state(
        state, mk([(0, 4, 30.0, "+I", 4)]),
        ["user_id"], ["bucket"], "value DESC, user_id", 2,
    )
    assert sorted(tuple(r) for r in out2.collect()) == [
        (0, 0, 10.0, -1), (0, 4, 30.0, 1)]

    # deleting the current #1 promotes the evicted row back from the
    # retained table state
    state, out3 = merge_topn_state(
        state, mk([(0, 4, 30.0, "-D", 5)]),
        ["user_id"], ["bucket"], "value DESC, user_id", 2,
    )
    assert sorted(tuple(r) for r in out3.collect()) == [
        (0, 0, 10.0, 1), (0, 4, 30.0, -1)]


def test_topn_fuzz_vs_python_reference(spark):
    """Randomized (seeded) upsert logs through every batch split:
    maintained top-n equals a pure-Python replay + sort reference."""
    import random

    from flink_cdc_2_3_0_src_spark.operators.changelog import (
        topn_changelog,
    )

    rng = random.Random(0xC0FFEE)
    for trial in range(4):
        live = {}
        rows = []
        for seq in range(1, rng.randint(10, 40)):
            uid = rng.randrange(8)
            bucket = uid % 3
            if uid in live and rng.random() < 0.25:
                rows.append((bucket, uid, live[uid], "-D", seq))
                del live[uid]
            else:
                v = float(rng.randrange(100))
                if uid in live:
                    rows.append((bucket, uid, live[uid], "-U", seq))
                    rows.append((bucket, uid, v, "+U", seq))
                else:
                    rows.append((bucket, uid, v, "+I", seq))
                live[uid] = v
        log = spark.createDataFrame(
            rows,
            f"bucket long, user_id long, value double, {OP_COL} string, {SEQ_COL} long",
        )
        want = []
        by_bucket = {}
        for uid, v in live.items():
            by_bucket.setdefault(uid % 3, []).append((uid, v))
        for b, members in by_bucket.items():
            members.sort(key=lambda t: (-t[1], t[0]))
            want.extend((b, uid, v) for uid, v in members[:2])
        want.sort()
        for n in (1, 4):
            got = sorted(
                tuple(r)
                for r in topn_changelog(
                    log, ["user_id"], ["bucket"], "value DESC, user_id", 2,
                    n_batches=n,
                ).select("bucket", "user_id", "value").collect()
            )
            assert got == want, f"trial={trial}, n_batches={n}"


def test_maintenance_ops_handle_null_keys_like_sql(spark):
    """Null join keys never match (SQL semantics) but null-keyed OUTER
    rows must still be emitted null-padded, and a null GROUP is a real
    window partition that must re-rank like any other — plain-equality
    semi-joins would exempt both forever."""
    from pyspark.sql.window import Window as W

    from flink_cdc_2_3_0_src_spark.operators.changelog import (
        delta_join_changelog,
        materialize,
        topn_changelog,
    )

    a = spark.createDataFrame(
        [(None, "a0", "+I", 1), (1, "a1", "+I", 2)],
        f"user_id long, v string, {OP_COL} string, {SEQ_COL} long",
    )
    b = spark.createDataFrame(
        [(None, "gold", "+I", 1), (1, "iron", "+I", 2)],
        f"user_id long, seg string, {OP_COL} string, {SEQ_COL} long",
    )

    def key(t):
        return tuple((x is None, x) for x in t)

    for how in ("inner", "left", "full"):
        got = sorted(
            (tuple(r) for r in delta_join_changelog(
                a, b, ["user_id"], n_batches=2, how=how
            ).collect()), key=key,
        )
        want = sorted(
            (tuple(r) for r in materialize(a, ["user_id"]).join(
                materialize(b, ["user_id"]), "user_id", how
            ).collect()), key=key,
        )
        assert got == want, how
    # null group: updates inside it must re-rank it (stale-state check)
    log = spark.createDataFrame(
        [(None, 1, 10.0, "+I", 1), (None, 2, 20.0, "+I", 2),
         (None, 3, 30.0, "+I", 3),      # batch 2: pushes 1 out of top-2
         (0, 4, 5.0, "+I", 4)],
        f"bucket long, user_id long, value double, {OP_COL} string, {SEQ_COL} long",
    )
    got = sorted(
        (tuple(r) for r in topn_changelog(
            log, ["user_id"], ["bucket"], "value DESC, user_id", 2,
            n_batches=2,
        ).select("bucket", "user_id", "value").collect()), key=key,
    )
    direct = sorted(
        (tuple(r) for r in materialize(log, ["user_id"])
         .withColumn("__rn", F.row_number().over(
             W.partitionBy("bucket").orderBy(
                 F.col("value").desc(), F.col("user_id"))))
         .filter(F.col("__rn") <= 2)
         .select("bucket", "user_id", "value").collect()), key=key,
    )
    assert got == direct
    assert (None, 1, 10.0) not in got and (None, 3, 30.0) in got


def test_maintenance_ops_composite_keys(spark):
    """Composite join keys and multi-column rank groups work end to end
    (the affected-key struct handles >1 column)."""
    from pyspark.sql.window import Window as W

    from flink_cdc_2_3_0_src_spark.operators.changelog import (
        delta_join_changelog,
        materialize,
        topn_changelog,
    )

    a = spark.createDataFrame(
        [("eu", 1, "a1", "+I", 1), ("us", 1, "a2", "+I", 2),
         ("eu", 2, "a3", "+I", 3), ("eu", 1, "a1", "-D", 6)],
        f"region string, uid long, v string, {OP_COL} string, {SEQ_COL} long",
    )
    b = spark.createDataFrame(
        [("eu", 1, "gold", "+I", 1), ("us", 1, "iron", "+I", 2),
         ("eu", 2, "tin", "+I", 4)],
        f"region string, uid long, seg string, {OP_COL} string, {SEQ_COL} long",
    )
    on = ["region", "uid"]
    for how in ("inner", "left", "full"):
        def key(t):
            return tuple((x is None, x) for x in t)
        got = sorted(
            (tuple(r) for r in delta_join_changelog(
                a, b, on, n_batches=3, how=how
            ).collect()), key=key,
        )
        want = sorted(
            (tuple(r) for r in materialize(a, on).join(
                materialize(b, on), on, how
            ).collect()), key=key,
        )
        assert got == want, how

    log = spark.createDataFrame(
        [("eu", 0, 1, 10.0, "+I", 1), ("eu", 0, 2, 20.0, "+I", 2),
         ("eu", 1, 3, 5.0, "+I", 3), ("us", 0, 4, 7.0, "+I", 4),
         ("eu", 0, 5, 30.0, "+I", 5)],
        f"region string, bucket long, user_id long, value double, "
        f"{OP_COL} string, {SEQ_COL} long",
    )
    got = sorted(
        tuple(r)
        for r in topn_changelog(
            log, ["user_id"], ["region", "bucket"],
            "value DESC, user_id", 1, n_batches=2,
        ).select("region", "bucket", "user_id", "value").collect()
    )
    direct = sorted(
        tuple(r)
        for r in materialize(log, ["user_id"])
        .withColumn("__rn", F.row_number().over(
            W.partitionBy("region", "bucket").orderBy(
                F.col("value").desc(), F.col("user_id"))))
        .filter(F.col("__rn") <= 1)
        .select("region", "bucket", "user_id", "value").collect()
    )
    assert got == direct == [("eu", 0, 5, 30.0), ("eu", 1, 3, 5.0),
                             ("us", 0, 4, 7.0)]


def test_expire_state_ttl_eviction(spark):
    """State TTL: rows behind the watermark are evicted, null-ts rows
    kept; an expired key's later change re-enters as if new (the
    documented Flink-equivalent retention trade)."""
    from flink_cdc_2_3_0_src_spark.operators.changelog import (
        MULT_COL,
        expire_state,
        merge_join_state,
    )

    def mk_a(rows):
        return spark.createDataFrame(
            rows, f"user_id long, v string, ts long, {OP_COL} string, {SEQ_COL} long"
        )

    def mk_b(rows):
        return spark.createDataFrame(
            rows, f"user_id long, seg string, {OP_COL} string, {SEQ_COL} long"
        )

    state, _ = merge_join_state(
        None,
        mk_a([(1, "a1", 100, "+I", 1), (2, "b1", 900, "+I", 2)]),
        mk_b([(1, "gold", "+I", 1), (2, "iron", "+I", 2)]),
        ["user_id"],
    )
    a_state = expire_state(state[0], 500, "ts")
    rows = sorted((r["user_id"], r["v"]) for r in a_state.collect())
    assert rows == [(2, "b1")]           # key 1 expired
    # b-state has no ts column semantics here; null-ts rows are kept
    b_like = state[1].withColumn("ts", F.lit(None).cast("long"))
    assert expire_state(b_like, 500, "ts").count() == 2
    # a late update to the expired key re-enters as an insert-like row
    state2 = (expire_state(state[0], 500, "ts"), state[1])
    state3, out = merge_join_state(
        state2, mk_a([(1, "a2", 950, "+I", 3)]), mk_b([]), ["user_id"],
    )
    got = sorted(tuple(r) for r in out.collect())
    assert got == [(1, "a2", 950, "gold", 1)]


def test_maintenance_deltas_telescope_at_every_prefix(spark):
    """After EVERY batch i, the accumulated output deltas equal the
    derived view over the state so far — the per-step contract a live
    downstream consumer depends on (the final-answer tests alone would
    miss a state/delta drift that cancels by the last batch)."""
    from pyspark.sql.window import Window as W

    from flink_cdc_2_3_0_src_spark.operators.changelog import (
        MULT_COL,
        merge_join_state,
        merge_topn_state,
    )

    a_batches = [
        [(1, "a1", "+I", 1), (2, "b1", "+I", 2)],
        [(1, "a1", "-U", 3), (1, "a2", "+U", 3)],
        [(2, "b1", "-D", 5), (3, "c1", "+I", 6)],
    ]
    b_batches = [
        [(1, "gold", "+I", 1)],
        [(2, "iron", "+I", 4), (1, "gold", "-D", 4)],
        [(3, "tin", "+I", 6)],
    ]
    state, acc = None, {}
    for ba, bb in zip(a_batches, b_batches):
        state, out = merge_join_state(
            state, _mk_log(spark, ba), _mk_dim(spark, bb), ["user_id"]
        )
        for r in out.collect():
            k = (r["user_id"], r["v"], r["seg"])
            acc[k] = acc.get(k, 0) + r[MULT_COL]
        live = sorted(k for k, m in acc.items() if m > 0)
        direct = sorted(
            tuple(r)
            for r in state[0].filter(F.col(MULT_COL) > 0).drop(MULT_COL)
            .join(
                state[1].filter(F.col(MULT_COL) > 0).drop(MULT_COL),
                "user_id",
            )
            .collect()
        )
        assert live == direct

    # Top-N: accumulated membership deltas == rank of table state, per step
    t_batches = [
        [(0, 1, 10.0, "+I", 1), (0, 2, 20.0, "+I", 2)],
        [(0, 3, 30.0, "+I", 3)],
        [(0, 3, 30.0, "-D", 4)],
    ]
    state, acc = None, {}
    for tb in t_batches:
        batch = spark.createDataFrame(
            tb,
            f"bucket long, user_id long, value double, {OP_COL} string, {SEQ_COL} long",
        )
        state, out = merge_topn_state(
            state, batch, ["user_id"], ["bucket"], "value DESC, user_id", 2
        )
        for r in out.collect():
            k = (r["bucket"], r["user_id"], r["value"])
            acc[k] = acc.get(k, 0) + r[MULT_COL]
        live = sorted(k for k, m in acc.items() if m > 0)
        direct = sorted(
            tuple(r)
            for r in state[0]
            .withColumn("__rn", F.row_number().over(
                W.partitionBy("bucket").orderBy(
                    F.col("value").desc(), F.col("user_id"))))
            .filter(F.col("__rn") <= 2)
            .select("bucket", "user_id", "value")
            .collect()
        )
        assert live == direct
        # ... and the maintained topn_state matches too
        st = sorted(
            tuple(r)
            for r in state[1].select("bucket", "user_id", "value").collect()
        )
        assert st == direct


def test_topn_order_spec_with_function_expressions(spark):
    """ORDER BY items containing commas inside function calls parse
    correctly (the split is paren-aware), and directions apply."""
    from flink_cdc_2_3_0_src_spark.operators.changelog import (
        topn_changelog,
    )

    log = spark.createDataFrame(
        [(0, 1, 10.0, 5.0, "+I", 1), (0, 2, 3.0, 20.0, "+I", 2),
         (0, 3, 1.0, 2.0, "+I", 3)],
        f"bucket long, user_id long, v1 double, v2 double, "
        f"{OP_COL} string, {SEQ_COL} long",
    )
    got = sorted(
        tuple(r)
        for r in topn_changelog(
            log, ["user_id"], ["bucket"],
            "greatest(v1, v2) DESC, user_id", 2, n_batches=2,
        ).select("bucket", "user_id").collect()
    )
    # greatest: user 2 -> 20, user 1 -> 10, user 3 -> 2
    assert got == [(0, 1), (0, 2)]


def test_windowed_agg_maintenance_composes(spark):
    """Event-time windowed aggregation MAINTAINED incrementally is just
    merge_agg_state with the window bucket as a group column — the
    composition the maintenance family promises; its accumulated state
    equals the one-shot windowed signed aggregation at every prefix's
    end (full-log case checked against cdc_windowed_net_changes'
    shape)."""
    from flink_cdc_2_3_0_src_spark.operators.changelog import (
        merge_agg_state,
        normalize_upsert,
        signed,
        signed_count,
    )
    from flink_cdc_2_3_0_src_spark.sources.scripted_log import (
        scripted_changelog,
    )
    from tests.conftest import SF_SMOKE

    log = scripted_changelog(spark, SF_SMOKE)
    norm = normalize_upsert(log, ["user_id"]).withColumn(
        "day", F.date_trunc("day", "ts").cast("date")
    )
    # replay in 3 sequence-range batches
    state = None
    bounds = [0, 300, 700, 10**9]
    for lo, hi in zip(bounds, bounds[1:]):
        batch = norm.filter((F.col(SEQ_COL) > lo) & (F.col(SEQ_COL) <= hi))
        state = merge_agg_state(
            state, batch, ["day"],
            {"net_value": F.col("value").cast("decimal(18,2)")},
        )
    got = sorted(
        (str(r["day"]), str(r["net_value"]), r["__rows"])
        for r in state.collect()
    )
    direct = (
        norm.groupBy("day")
        .agg(
            F.sum(signed(F.col("value").cast("decimal(18,2)"))).alias(
                "net_value"
            ),
            signed_count().alias("__rows"),
        )
        .filter(F.col("__rows") > 0)
    )
    want = sorted(
        (str(r["day"]), str(r["net_value"]), r["__rows"])
        for r in direct.collect()
    )
    assert got == want and len(got) > 0


# ---- r9 hardening: order-spec suffixes, control-row state hygiene,
# ---- multiset materialization ----


def test_parse_order_sql_nulls_first_last(spark):
    """NULLS FIRST/LAST suffixes translate to the matching Column sort
    methods instead of reaching F.expr as unparseable ORDER-BY syntax;
    defaults match Spark SQL (asc->nulls first, desc->nulls last)."""
    from flink_cdc_2_3_0_src_spark.operators.changelog import (
        _parse_order_sql,
    )

    df = spark.createDataFrame(
        [(1, 5.0), (2, None), (3, 1.0)], "id long, v double"
    )

    def order_ids(spec):
        return [r["id"] for r in df.orderBy(*_parse_order_sql(spec)).collect()]

    assert order_ids("v DESC NULLS FIRST") == [2, 1, 3]
    assert order_ids("v DESC NULLS LAST") == [1, 3, 2]
    assert order_ids("v ASC NULLS LAST") == [3, 1, 2]
    assert order_ids("v NULLS LAST") == [3, 1, 2]      # bare expr + nulls
    assert order_ids("v DESC") == [1, 3, 2]            # spark default
    assert order_ids("v") == [2, 3, 1]                 # spark default


def test_parse_order_sql_invalid_expression_raises_value_error(spark):
    """An unparseable expression raises ValueError naming the item, not
    an opaque downstream parse error (F.expr is lazy, so without the
    eager parser check the failure would surface mid-plan-build)."""
    import pytest

    from flink_cdc_2_3_0_src_spark.operators.changelog import (
        _parse_order_sql,
    )

    with pytest.raises(ValueError, match="order_sql item"):
        _parse_order_sql("value DESC extra_garbage_tokens here")


def test_topn_order_nulls_suffix_matches_direct_rank(spark):
    """End-to-end: a NULLS LAST order spec in maintained top-n equals
    the direct window rank with the same null placement."""
    from pyspark.sql.window import Window as W

    from flink_cdc_2_3_0_src_spark.operators.changelog import (
        materialize,
        topn_changelog,
    )

    rows = [
        (0, 0, None, "+I", 1), (0, 2, 20.0, "+I", 2), (0, 4, 5.0, "+I", 3),
        (1, 1, None, "+I", 4), (1, 3, None, "+I", 5), (1, 5, 1.0, "+I", 6),
    ]
    log = spark.createDataFrame(
        rows,
        f"bucket long, user_id long, value double, {OP_COL} string, {SEQ_COL} long",
    )
    direct = (
        materialize(log, ["user_id"])
        .withColumn(
            "__rn",
            F.row_number().over(
                W.partitionBy("bucket").orderBy(
                    F.col("value").desc_nulls_last(), F.col("user_id")
                )
            ),
        )
        .filter(F.col("__rn") <= 2)
        .select("bucket", "user_id", "value")
    )
    want = sorted(tuple(r) for r in direct.collect())
    got = sorted(
        tuple(r)
        for r in topn_changelog(
            log, ["user_id"], ["bucket"],
            "value DESC NULLS LAST, user_id", 2, n_batches=3,
        ).select("bucket", "user_id", "value").collect()
    )
    assert got == want


def test_topn_control_rows_do_not_ghost_table_state(spark):
    """+H heartbeats and +S schema events carry no row image; they must
    not survive as live all-null rows in maintained table state (which
    would surface as ghost members of the null group's top-n)."""
    from flink_cdc_2_3_0_src_spark.operators.changelog import (
        merge_topn_state,
    )

    rows = [
        (None, 7, 3.0, "+I", 1),      # a REAL null-group row
        (None, None, None, "+H", 2),  # heartbeat: no row image
        (None, None, None, "+S", 3),  # schema event: no row image
        (0, 1, 9.0, "+I", 4),
    ]
    batch = spark.createDataFrame(
        rows,
        f"bucket long, user_id long, value double, {OP_COL} string, {SEQ_COL} long",
    )
    (table_state, topn_state), out = merge_topn_state(
        None, batch, ["user_id"], ["bucket"], "value DESC, user_id", 2,
    )
    got = {
        (r["bucket"], r["user_id"], r["value"])
        for r in table_state.collect()
    }
    # only the two real rows — no all-null ghost from the control rows
    assert got == {(None, 7, 3.0), (0, 1, 9.0)}
    assert {
        (r["bucket"], r["user_id"], r["value"], r["__mult"])
        for r in out.collect()
    } == {(None, 7, 3.0, 1), (0, 1, 9.0, 1)}


def test_delta_join_materializes_duplicate_multiplicities(spark):
    """Inputs violating the keyed contract (a live image with
    multiplicity > 1) surface as duplicate output rows — matching the
    direct join over the materialized multisets — instead of silently
    collapsing to one row."""
    from flink_cdc_2_3_0_src_spark.operators.changelog import (
        delta_join_changelog,
    )

    # user 1 inserted TWICE with the identical payload (no keys, a raw
    # multiset changelog): the join against one dim row must emit the
    # joined row twice.
    a = _mk_log(spark, [(1, "a1", "+I", 1), (1, "a1", "+I", 2)])
    b = _mk_dim(spark, [(1, "gold", "+I", 1)])
    got = sorted(
        tuple(r)
        for r in delta_join_changelog(a, b, ["user_id"], n_batches=2)
        .collect()
    )
    assert got == [(1, "a1", "gold"), (1, "a1", "gold")]


def test_refresh_split_memo_clears():
    from flink_cdc_2_3_0_src_spark import io as fio

    fio._SPLIT_MEMO[("sentinel",), "128m"] = 7
    fio.refresh_split_memo()
    assert fio._SPLIT_MEMO == {}


def test_control_rows_never_ghost_state_across_op_layer(spark):
    """+H/+S control rows (no row image, all-null payload) must be
    inert in EVERY state-building operator: materialize, compact,
    normalize_upsert, scd2_history, merge_agg_state, signed_agg,
    agg_auto — not just signed_multiset/table state (the r8/r9
    fixes).  Each would otherwise grow a ghost null-key row or count."""
    from flink_cdc_2_3_0_src_spark.operators.changelog import (
        agg_auto,
        compact_changelog,
        materialize,
        merge_agg_state,
        normalize_upsert,
        scd2_history,
        signed_agg,
    )

    rows = [
        (1, 10.0, "+I", 1),
        (None, None, "+H", 2),
        (2, 5.0, "+I", 3),
        (None, None, "+S", 4),
        (1, 10.0, "-U", 5), (1, 20.0, "+U", 5),
    ]
    log = spark.createDataFrame(rows, ["k", "v", OP_COL, SEQ_COL])

    m = {(r["k"], r["v"]) for r in materialize(log, ["k"]).collect()}
    assert m == {(1, 20.0), (2, 5.0)}

    c = {(r["k"], r["v"], r[OP_COL])
         for r in compact_changelog(log, ["k"]).collect()}
    assert c == {(1, 20.0, "+I"), (2, 5.0, "+I")}

    upsert = spark.createDataFrame(
        [(1, 10.0, "+I", 1), (None, None, "+H", 2), (1, 20.0, "+U", 3)],
        ["k", "v", OP_COL, SEQ_COL],
    )
    n = {(r["k"], r["v"], r[OP_COL])
         for r in normalize_upsert(upsert, ["k"]).collect()}
    assert n == {(1, 10.0, "+I"), (1, 10.0, "-U"), (1, 20.0, "+U")}

    s = {(r["k"], r["v"], r["valid_from_seq"])
         for r in scd2_history(log, ["k"]).collect()}
    assert s == {(1, 10.0, 1), (1, 20.0, 5), (2, 5.0, 3)}

    state = merge_agg_state(
        None, log, [], {"s": F.col("v").cast("decimal(18,2)")}
    )
    got = [(str(r["s"]), r["__rows"]) for r in state.collect()]
    assert got == [("25.00", 2)]

    sa = signed_agg(log, [], {"s": F.col("v").cast("decimal(18,2)")})
    assert [str(r["s"]) for r in sa.collect()] == ["25.00"]

    aa = agg_auto(log, ["k"], [], {"n": ("count", F.col("v"))})
    assert [r["n"] for r in aa.collect()] == [2]
