"""Schema-change records flowing through the stream (includeSchemaChanges,
reference MySqlRecordEmitter.java:109-121) + A27 chunking twins."""

from __future__ import annotations

import json

from pyspark.sql import functions as F
from pyspark.sql import types as T

from flink_cdc_2_3_0_src_spark.model import (
    OP_COL,
    OP_SCHEMA,
    SEQ_COL,
    ChunkRange,
)
from flink_cdc_2_3_0_src_spark.sources.scripted_log import scripted_changelog
from flink_cdc_2_3_0_src_spark.streaming.hybrid import HybridPipeline
from flink_cdc_2_3_0_src_spark.streaming.schema_history import (
    SchemaHistory,
    apply_schema_change_stream,
)
from tests.conftest import SF_SMOKE


def _schema_json(fields):
    return T.StructType(
        [T.StructField(n, t, True) for n, t in fields]
    ).json()


def _log_with_ddl(spark):
    v1 = _schema_json([("user_id", T.LongType()), ("value", T.DoubleType())])
    v2 = _schema_json(
        [("user_id", T.LongType()), ("value", T.DoubleType()), ("note", T.StringType())]
    )
    rows = [
        (1, "a", "+I", 10),
        (None, v1, OP_SCHEMA, 15),
        (1, "b", "+U", 20),
        (2, "c", "+I", 30),
        (None, v2, OP_SCHEMA, 35),
        (2, "d", "+U", 40),
    ]
    return spark.createDataFrame(
        rows, f"user_id long, value string, {OP_COL} string, {SEQ_COL} long"
    ), (v1, v2)


def test_schema_changes_recorded_and_dropped_by_default(spark, tmp_path):
    log, (v1, v2) = _log_with_ddl(spark)
    hist = SchemaHistory(str(tmp_path / "history.json"))
    out = apply_schema_change_stream(log, hist, "t")
    assert hist.versions("t") == [15, 35]
    assert [f.name for f in hist.schema_at("t", 20).fields] == ["user_id", "value"]
    assert [f.name for f in hist.schema_at("t", 40).fields] == [
        "user_id", "value", "note",
    ]
    ops = {r[OP_COL] for r in out.collect()}
    assert OP_SCHEMA not in ops and len(out.collect()) == 4


def test_schema_changes_emitted_when_enabled(spark, tmp_path):
    log, _ = _log_with_ddl(spark)
    hist = SchemaHistory(str(tmp_path / "history2.json"))
    out = apply_schema_change_stream(log, hist, "t", include_schema_changes=True)
    rows = sorted(out.collect(), key=lambda r: r[SEQ_COL])
    assert [r[OP_COL] for r in rows] == ["+I", "+S", "+U", "+I", "+S", "+U"]
    # history recorded regardless of emission
    assert hist.versions("t") == [15, 35]


def test_stream_filter_always_passes_schema_events(spark):
    """A10: schema/signal records bypass the chunk-HW emission filter
    (reference shouldEmit always passes non-data events)."""
    log = scripted_changelog(spark, SF_SMOKE)
    p = HybridPipeline(spark, log, ["user_id"])
    chunks = [ChunkRange(None, 10), ChunkRange(10, None)]
    _snap, manifest = p.run_snapshot_phase(
        chunks, "user_id", watermarks=lambda i: (400, 500 + 100 * i)
    )
    # a schema event EARLIER than every chunk HW — data at that seq would
    # be suppressed, the schema record must not be
    ddl = spark.createDataFrame(
        [(None, None, None, OP_SCHEMA, 50)], log.schema
    )
    events = log.unionByName(ddl)
    out = p.stream_filter(events, manifest)
    got = out.filter(F.col(OP_COL) == OP_SCHEMA).collect()
    assert len(got) == 1 and got[0][SEQ_COL] == 50


def test_sharded_and_splitvector_chunks(spark):
    from flink_cdc_2_3_0_src_spark.plans.chunking import (
        sharded_chunks,
        splitvector_chunks,
    )

    # sharded: pre-existing bounds become tiling ranges
    chunks = sharded_chunks([10, 20, 20, 30])
    assert [(c.start, c.end) for c in chunks] == [
        (None, 10), (10, 20), (20, 30), (30, None),
    ]
    # splitvector: approx boundaries still tile; every key in exactly one
    df = spark.range(1, 1001).select(F.col("id").alias("k"))
    sv = splitvector_chunks(df, "k", chunk_size=100)
    assert len(sv) > 1
    for probe in (1, 250, 999, 1000):
        assert sum(1 for c in sv if c.contains(probe)) == 1


# ---- structured TableChange model + DDL parsing (A25 payload fidelity) ----


def test_parse_create_table_ddl():
    from flink_cdc_2_3_0_src_spark.streaming.table_changes import parse_ddl

    ch = parse_ddl(
        """CREATE TABLE `shop`.`orders` (
            `id` BIGINT NOT NULL PRIMARY KEY,
            `amount` DECIMAL(12,2),
            `note` VARCHAR(255) NOT NULL,
            `tags` TEXT,
            KEY idx_note (`note`),
            PRIMARY KEY (`id`)
        ) ENGINE=InnoDB;"""
    )
    assert ch.type == "CREATE"
    assert ch.table_id == "shop.orders"
    assert [c.name for c in ch.columns] == ["id", "amount", "note", "tags"]
    # inline PK + clause PK naming the same column must dedupe
    assert ch.primary_key == ["id"]
    st = ch.to_struct()
    import pyspark.sql.types as T

    assert st["id"].dataType == T.LongType() and not st["id"].nullable
    assert st["amount"].dataType == T.DecimalType(12, 2)
    assert not st["note"].nullable


def test_parse_alter_ddl_and_apply():
    from pyspark.sql import types as T

    from flink_cdc_2_3_0_src_spark.streaming.table_changes import (
        apply_change,
        parse_ddl,
    )

    schema = parse_ddl(
        "CREATE TABLE t (id BIGINT NOT NULL PRIMARY KEY, v INT)"
    ).to_struct()
    schema = apply_change(schema, parse_ddl("ALTER TABLE t ADD COLUMN note VARCHAR(64)"))
    assert schema.fieldNames() == ["id", "v", "note"]
    schema = apply_change(schema, parse_ddl("ALTER TABLE t MODIFY v BIGINT NOT NULL"))
    assert schema["v"].dataType == T.LongType() and not schema["v"].nullable
    schema = apply_change(schema, parse_ddl("ALTER TABLE t RENAME COLUMN note TO memo"))
    assert schema.fieldNames() == ["id", "v", "memo"]
    schema = apply_change(
        schema, parse_ddl("ALTER TABLE t CHANGE memo memo2 TEXT NOT NULL")
    )
    assert schema.fieldNames() == ["id", "v", "memo2"]
    assert not schema["memo2"].nullable
    schema = apply_change(schema, parse_ddl("ALTER TABLE t DROP COLUMN v"))
    assert schema.fieldNames() == ["id", "memo2"]
    assert apply_change(schema, parse_ddl("DROP TABLE t")) is None


def test_table_change_json_roundtrip():
    from flink_cdc_2_3_0_src_spark.streaming.table_changes import (
        TableChange,
        parse_ddl,
    )

    ch = parse_ddl("CREATE TABLE t (id BIGINT NOT NULL PRIMARY KEY, v DECIMAL(10,2))")
    back = TableChange.from_json(ch.to_json())
    assert back.type == "CREATE" and back.table_id == "t"
    assert [c.name for c in back.columns] == ["id", "v"]
    assert back.to_struct() == ch.to_struct()
    assert back.primary_key == ch.primary_key


def test_schema_history_record_ddl(tmp_path):
    from flink_cdc_2_3_0_src_spark.streaming.schema_history import SchemaHistory

    h = SchemaHistory(str(tmp_path / "hist.json"))
    s1 = h.record_ddl("t", 0, "CREATE TABLE t (id BIGINT NOT NULL PRIMARY KEY, v INT)")
    assert s1.fieldNames() == ["id", "v"]
    s2 = h.record_ddl("t", 100, "ALTER TABLE t ADD COLUMN note VARCHAR(32)")
    assert s2.fieldNames() == ["id", "v", "note"]
    # schema resolution honors the evolution boundary
    assert h.schema_at("t", 50).fieldNames() == ["id", "v"]
    assert h.schema_at("t", 100).fieldNames() == ["id", "v", "note"]
    # the persisted payload is the STRUCTURED change, not opaque DDL
    ch = h.change_at("t", 100)
    assert ch is not None and ch.type == "ALTER"
    assert [c.name for c in ch.columns] == ["note"]
    # survives reload from disk
    h2 = SchemaHistory(str(tmp_path / "hist.json"))
    assert h2.schema_at("t", 200).fieldNames() == ["id", "v", "note"]
    assert h2.change_at("t", 100).type == "ALTER"


def test_schema_change_stream_with_raw_ddl_payloads(spark, tmp_path):
    """End-to-end A25: raw DDL statements flowing as +S records drive
    the structured history, and decode_with_history then decodes
    envelopes under the per-offset schema — the full
    DDL → TableChange → evolved decode loop."""
    import json

    from flink_cdc_2_3_0_src_spark.model import OP_COL, OP_SCHEMA, SEQ_COL
    from flink_cdc_2_3_0_src_spark.streaming.schema_history import (
        SchemaHistory,
        apply_schema_change_stream,
        decode_with_history,
    )

    def env(seq, after):
        return json.dumps(
            {"after": after, "source": {"db": "d", "table": "t"},
             "op": "c", "ts_ms": seq}
        )

    rows = [
        (0, OP_SCHEMA, "CREATE TABLE t (id BIGINT NOT NULL PRIMARY KEY, v INT)"),
        (1, "+I", env(1, {"id": 1, "v": 10})),
        (2, "+I", env(2, {"id": 2, "v": 20})),
        (3, OP_SCHEMA, "ALTER TABLE t ADD COLUMN note VARCHAR(32)"),
        (4, "+I", env(4, {"id": 3, "v": 30, "note": "x"})),
    ]
    log = spark.createDataFrame(rows, f"{SEQ_COL} long, {OP_COL} string, value string")
    hist = SchemaHistory(str(tmp_path / "hist.json"))
    data = apply_schema_change_stream(log, hist, "t")
    assert hist.schema_at("t", 2).fieldNames() == ["id", "v"]
    assert hist.schema_at("t", 4).fieldNames() == ["id", "v", "note"]
    assert hist.change_at("t", 3).type == "ALTER"

    decoded = decode_with_history(data, hist, "t")
    got = sorted(
        (r["id"], r["v"], r["note"]) for r in decoded.filter("_op = '+I'").collect()
    )
    assert got == [(1, 10, None), (2, 20, None), (3, 30, "x")]


def test_parse_ddl_noop_and_index_guard():
    """Index/constraint/truncate-class DDL must be schema NO-OPs — in
    particular 'ALTER TABLE t ADD INDEX idx (v)' must NOT be misparsed
    as adding a column named INDEX."""
    from flink_cdc_2_3_0_src_spark.streaming.table_changes import (
        apply_change,
        parse_ddl,
    )

    base = parse_ddl("CREATE TABLE t (id BIGINT NOT NULL PRIMARY KEY, v INT)").to_struct()
    for ddl in (
        "ALTER TABLE t ADD INDEX idx_v (v)",
        "ALTER TABLE t ADD UNIQUE KEY uk_v (v)",
        "ALTER TABLE t ADD CONSTRAINT c FOREIGN KEY (v) REFERENCES u(id)",
        "ALTER TABLE t DROP INDEX idx_v",
        "TRUNCATE TABLE t",
        "CREATE INDEX idx_v ON t (v)",
        "DROP INDEX idx_v ON t",
        "ANALYZE TABLE t",
    ):
        ch = parse_ddl(ddl)
        assert ch.type == "NOOP", ddl
        assert apply_change(base, ch) == base, ddl


def test_schema_change_stream_robustness(spark, tmp_path):
    """NOOP DDL in-stream records no version; unparseable DDL raises by
    default and is skipped under skip_unparseable_ddl (the reference's
    database.history.skip.unparseable.ddl)."""
    import pytest as _pytest

    from flink_cdc_2_3_0_src_spark.model import OP_COL, OP_SCHEMA, SEQ_COL
    from flink_cdc_2_3_0_src_spark.streaming.schema_history import (
        SchemaHistory,
        apply_schema_change_stream,
    )

    rows = [
        (0, OP_SCHEMA, "CREATE TABLE t (id BIGINT NOT NULL PRIMARY KEY, v INT)"),
        (1, OP_SCHEMA, "ALTER TABLE t ADD INDEX idx_v (v)"),   # noop
        (2, OP_SCHEMA, "GRANT SELECT ON t TO alice"),          # unparseable
    ]
    log = spark.createDataFrame(rows, f"{SEQ_COL} long, {OP_COL} string, value string")
    hist = SchemaHistory(str(tmp_path / "h1.json"))
    with _pytest.raises(ValueError, match="unsupported DDL"):
        apply_schema_change_stream(log, hist, "t")

    hist2 = SchemaHistory(str(tmp_path / "h2.json"))
    apply_schema_change_stream(log, hist2, "t", skip_unparseable_ddl=True)
    # only the CREATE recorded a version; the index noop added none and
    # the schema never grew a phantom INDEX column
    assert hist2.versions("t") == [0]
    assert hist2.schema_at("t", 10).fieldNames() == ["id", "v"]


# --- DDL DEFAULT-value propagation (r5; Debezium default values,
# reference customer.sql default_value_test) ---


def test_parse_ddl_default_values():
    from flink_cdc_2_3_0_src_spark.streaming.table_changes import parse_ddl

    ch = parse_ddl(
        "CREATE TABLE d (id BIGINT NOT NULL PRIMARY KEY, "
        "n INT DEFAULT 42, "
        "s VARCHAR(16) NOT NULL DEFAULT 'it''s ok', "
        "f DOUBLE DEFAULT -1.5e2, "
        "t TIMESTAMP DEFAULT CURRENT_TIMESTAMP, "
        "x INT DEFAULT NULL, "
        "plain INT)"
    )
    by_name = {c.name: c.default_value for c in ch.columns}
    assert by_name == {
        "id": None,
        "n": "42",
        "s": "it's ok",
        "f": "-1.5e2",
        "t": "CURRENT_TIMESTAMP",
        "x": "NULL",
        "plain": None,
    }
    ch2 = parse_ddl("ALTER TABLE d ADD COLUMN w INT NOT NULL DEFAULT 7")
    assert ch2.columns[0].default_value == "7"
    ch3 = parse_ddl("ALTER TABLE d MODIFY COLUMN n BIGINT DEFAULT 43")
    assert ch3.columns[0].default_value == "43"
    ch4 = parse_ddl("ALTER TABLE d CHANGE n m INT DEFAULT 44")
    assert ch4.columns[0].default_value == "44"
    # defaults survive the serializer JSON layout
    from flink_cdc_2_3_0_src_spark.streaming.table_changes import TableChange

    rt = TableChange.from_json(ch.to_json())
    assert {c.name: c.default_value for c in rt.columns} == by_name


def test_default_fill_expr_typing(spark):
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from flink_cdc_2_3_0_src_spark.streaming.table_changes import default_fill_expr

    one = spark.range(1)
    fields = [
        T.StructField("a", T.LongType(), True, {"default": "42"}),
        T.StructField("b", T.StringType(), True, {"default": "x"}),
        T.StructField("c", T.DoubleType(), True, {"default": "-1.5"}),
        T.StructField("d", T.LongType(), True, {"default": "NULL"}),
        T.StructField("e", T.TimestampNTZType(), True, {"default": "CURRENT_TIMESTAMP"}),
        T.StructField("f", T.LongType(), True, {}),
    ]
    row = one.select(
        *[default_fill_expr(f).alias(f.name) for f in fields]
    ).collect()[0]
    assert (row["a"], row["b"], row["c"]) == (42, "x", -1.5)
    assert row["d"] is None and row["e"] is None and row["f"] is None


def test_decode_with_history_backfills_alter_default(spark, tmp_path):
    """An ALTER ADD ... DEFAULT column must show the DEFAULT (not NULL)
    on rows decoded under the pre-ALTER schema — MySQL backfills
    existing rows with the default at ALTER time."""
    import json as J

    from pyspark.sql import functions as F

    from flink_cdc_2_3_0_src_spark.streaming.schema_history import (
        SchemaHistory,
        decode_with_history,
    )

    h = SchemaHistory(str(tmp_path / "hist_def.json"))
    h.record_ddl("t", 0, "CREATE TABLE t (id BIGINT NOT NULL PRIMARY KEY, v INT)")
    h.record_ddl(
        "t", 100, "ALTER TABLE t ADD COLUMN grade VARCHAR(8) NOT NULL DEFAULT 'std'"
    )
    h.record_ddl("t", 200, "ALTER TABLE t ADD COLUMN seen TIMESTAMP DEFAULT CURRENT_TIMESTAMP")

    def env(seq, payload):
        return (J.dumps({"after": payload, "op": "c", "ts_ms": seq}), seq)

    envs = spark.createDataFrame(
        [
            env(10, {"id": 1, "v": 5}),                      # pre-ALTER
            env(150, {"id": 2, "v": 6, "grade": "vip"}),     # post first ALTER
            env(250, {"id": 3, "v": 7, "grade": "eco", "seen": None}),
        ],
        "value string, _seq long",
    )
    out = {
        r["id"]: (r["grade"], r["seen"])
        for r in decode_with_history(envs, h, "t").collect()
    }
    assert out[1] == ("std", None)   # DEFAULT backfilled, non-constant -> NULL
    assert out[2] == ("vip", None)
    assert out[3][0] == "eco"


def test_parse_default_ignores_comment_strings():
    """The word DEFAULT inside a COMMENT '...' (or any quoted literal)
    must not be parsed as a column default; hex defaults are carried
    opaquely and backfill as NULL (type-dependent in MySQL)."""
    from flink_cdc_2_3_0_src_spark.streaming.table_changes import parse_ddl

    ch = parse_ddl(
        "ALTER TABLE t ADD COLUMN n INT COMMENT 'DEFAULT behavior notes'"
    )
    assert ch.columns[0].default_value is None
    ch2 = parse_ddl(
        "ALTER TABLE t ADD COLUMN s VARCHAR(8) DEFAULT 'a' COMMENT 'not DEFAULT b'"
    )
    assert ch2.columns[0].default_value == "a"
    ch3 = parse_ddl("ALTER TABLE t ADD COLUMN h INT DEFAULT 0x41")
    assert ch3.columns[0].default_value == "0x41"


def test_decode_with_history_uses_add_time_default(spark, tmp_path):
    """A later MODIFY ... DEFAULT changes the default for FUTURE inserts
    only — rows backfilled for the ADD must show the ADD-time default,
    exactly as the real MySQL table would."""
    import json as J

    from flink_cdc_2_3_0_src_spark.streaming.schema_history import (
        SchemaHistory,
        decode_with_history,
    )

    h = SchemaHistory(str(tmp_path / "hist_addtime.json"))
    h.record_ddl("t", 0, "CREATE TABLE t (id BIGINT NOT NULL PRIMARY KEY, v INT)")
    h.record_ddl(
        "t", 100, "ALTER TABLE t ADD COLUMN grade VARCHAR(8) DEFAULT 'std'"
    )
    h.record_ddl("t", 200, "ALTER TABLE t MODIFY COLUMN grade VARCHAR(8) DEFAULT 'pro'")

    def env(seq, payload):
        return (J.dumps({"after": payload, "op": "c", "ts_ms": seq}), seq)

    envs = spark.createDataFrame(
        [
            env(10, {"id": 1, "v": 5}),                    # pre-ADD
            env(150, {"id": 2, "v": 6, "grade": "vip"}),
            env(250, {"id": 3, "v": 7, "grade": None}),
        ],
        "value string, _seq long",
    )
    out = {
        r["id"]: r["grade"] for r in decode_with_history(envs, h, "t").collect()
    }
    assert out[1] == "std"  # ADD-time default, NOT the later 'pro'
    assert out[2] == "vip"
    assert out[3] is None


def test_ddl_charset_to_decode_loop(spark):
    """End-to-end charset fidelity from the DDL: CREATE declares
    per-column charsets, the parsed TableChange carries them through
    the schema, charset_converters builds the decode map, and the
    envelope's raw latin1/gbk bytes decode to the right text."""
    import base64
    import json as J

    from flink_cdc_2_3_0_src_spark.functions.debezium import from_debezium_json
    from flink_cdc_2_3_0_src_spark.streaming.table_changes import (
        charset_converters,
        parse_ddl,
    )

    ch = parse_ddl(
        "CREATE TABLE cs (id BIGINT NOT NULL PRIMARY KEY, "
        "name_l VARCHAR(32) CHARACTER SET latin1, "
        "name_g VARCHAR(32) CHARSET gbk COMMENT 'has CHARACTER SET words', "
        "plain VARCHAR(32))"
    )
    by = {c.name: c.charset for c in ch.columns}
    assert by == {"id": None, "name_l": "latin1", "name_g": "gbk", "plain": None}
    # the COMMENT string must not have confused the charset scan
    schema = ch.to_struct()
    convs = charset_converters(schema)
    assert set(convs) == {"name_l", "name_g"}

    def env(i, latin1_text, gbk_text, plain):
        return (
            J.dumps(
                {
                    "after": {
                        "id": i,
                        "name_l": base64.b64encode(
                            latin1_text.encode("cp1252")
                        ).decode(),
                        "name_g": base64.b64encode(gbk_text.encode("gbk")).decode(),
                        "plain": plain,
                    },
                    "op": "c",
                    "ts_ms": i,
                }
            ),
        )

    # decode schema: charset columns arrive as base64 STRINGS
    from pyspark.sql import types as T

    raw = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("name_l", T.StringType(), True, {"charset": "latin1"}),
            T.StructField("name_g", T.StringType(), True, {"charset": "gbk"}),
            T.StructField("plain", T.StringType()),
        ]
    )
    df = spark.createDataFrame([env(1, "café €9", "你好", "ok")], "value string")
    out = from_debezium_json(df, raw, converters=charset_converters(raw)).collect()
    assert out[0]["name_l"] == "café €9"  # € is the cp1252 proof byte
    assert out[0]["name_g"] == "你好"
    assert out[0]["plain"] == "ok"


def test_parse_charset_whitespace_variants():
    from flink_cdc_2_3_0_src_spark.streaming.table_changes import _parse_charset

    assert _parse_charset(" CHARACTER SET latin1") == "latin1"
    assert _parse_charset(" CHARACTER  SET latin1") == "latin1"
    assert _parse_charset(" CHARACTER\n\tSET gbk COLLATE gbk_chinese_ci") == "gbk"
    assert _parse_charset(" CHARSET=utf8mb4") == "utf8mb4"
    assert _parse_charset(" CHARACTERSET latin1") is None
    assert _parse_charset(" COMMENT 'CHARACTER SET fake'") is None


def test_parse_ddl_backslash_escaped_quote_in_literal():
    """MySQL backslash escapes inside string literals: a COMMENT like
    'it\\'s DEFAULT 5' must not terminate the literal early and leak a
    phantom DEFAULT (or CHARACTER SET) out of the quoted text."""
    from flink_cdc_2_3_0_src_spark.streaming.table_changes import parse_ddl

    ch = parse_ddl(
        "CREATE TABLE e (id BIGINT PRIMARY KEY, "
        "c1 VARCHAR(32) COMMENT 'it\\'s DEFAULT 5', "
        "c2 VARCHAR(32) COMMENT 'say \\\"CHARACTER SET latin1\\\"' DEFAULT 'x')"
    )
    by_name = {c.name: c for c in ch.columns}
    assert by_name["c1"].default_value is None
    assert by_name["c2"].default_value == "x"
    assert by_name["c2"].charset is None
