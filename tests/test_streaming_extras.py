"""Streaming extras: windowed aggregation, file sink (K13), schema
auto-evolve (K7)."""

from __future__ import annotations

import sqlite3

import pyspark.sql.functions as F
import pytest

from kafka_dbsync_spark.plans.pipeline import CdcPipeline
from kafka_dbsync_spark.sources.tables import load_table
from kafka_dbsync_spark.streaming.sinks import file_sink

from tests.conftest import SF_SMOKE, kafka_record
from tests.test_streaming import PIPELINE_CONFIG, extract, table_state, write_batch


def test_windowed_stream_agg_matches_batch(tmp_path, spark):
    """Tumbling-window streaming agg over the events table ≡ the batch
    hourly aggregation (same data through readStream)."""
    ev = load_table(spark, SF_SMOKE, "events")
    src = str(tmp_path / "events")
    ev.write.parquet(src)

    stream = spark.readStream.schema(ev.schema).parquet(src)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
    )
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("hourly_out")
        .start()
    )
    q.processAllAvailable()
    q.stop()

    got = {
        (str(r["w"]["start"]), r["event_type"]): r["n"]
        for r in spark.sql("SELECT * FROM hourly_out").collect()
    }
    want = {
        (str(r["ws"]), r["event_type"]): r["n"]
        for r in ev.groupBy(
            F.date_trunc("hour", "ts").alias("ws"), "event_type"
        )
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == want


def test_file_sink_json(tmp_path, spark, kafka_schema):
    """K13: stream → JSON files; round-trips the records."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    events = [
        kafka_record(0, {"ID": 1}, {"ID": 1, "ORDER_NAME": "A", "STATUS": "NEW"},
                     TableName="TEST_ORDERS", A_ENTTYP="PT"),
        kafka_record(1, {"ID": 2}, {"ID": 2, "ORDER_NAME": "B", "STATUS": "NEW"},
                     TableName="TEST_ORDERS", A_ENTTYP="PT"),
    ]
    write_batch(spark, kafka_schema, src, events)
    stream = spark.readStream.schema(kafka_schema).parquet(src)
    q = file_sink(extract(stream), out, ckpt, fmt="json")
    q.processAllAvailable()
    q.stop()

    back = spark.read.json(out)
    assert sorted((r["ID"], r["ORDER_NAME"]) for r in back.collect()) == [
        (1, "A"),
        (2, "B"),
    ]


def test_auto_evolve_adds_column(tmp_path, spark, kafka_schema):
    """K7: a pipeline writing a wider schema onto an existing narrower
    table issues ALTER TABLE ADD COLUMN instead of failing."""
    db = str(tmp_path / "t.db")

    narrow_cfg = {
        **PIPELINE_CONFIG,
        "sink": {**PIPELINE_CONFIG["sink"], "value_cols": ["ORDER_NAME"]},
    }
    pipeline_narrow = CdcPipeline(narrow_cfg, lambda: sqlite3.connect(db))
    batch1 = spark.createDataFrame(
        [kafka_record(0, {"ID": 1}, {"ID": 1, "ORDER_NAME": "A", "STATUS": "NEW"},
                      TableName="TEST_ORDERS", A_ENTTYP="PT")],
        kafka_schema,
    )
    pipeline_narrow.run_batch(extract(batch1).drop("STATUS"))
    con = sqlite3.connect(db)
    cols1 = {r[1] for r in con.execute("PRAGMA table_info(test_orders)")}
    con.close()
    assert cols1 == {"ID", "ORDER_NAME"}

    pipeline_wide = CdcPipeline(PIPELINE_CONFIG, lambda: sqlite3.connect(db))
    batch2 = spark.createDataFrame(
        [kafka_record(1, {"ID": 2}, {"ID": 2, "ORDER_NAME": "B", "STATUS": "PAID"},
                      TableName="TEST_ORDERS", A_ENTTYP="PT")],
        kafka_schema,
    )
    pipeline_wide.run_batch(extract(batch2))
    con = sqlite3.connect(db)
    cols2 = {r[1] for r in con.execute("PRAGMA table_info(test_orders)")}
    rows = con.execute(
        'SELECT "ID", "ORDER_NAME", "STATUS" FROM test_orders ORDER BY "ID"'
    ).fetchall()
    con.close()
    assert cols2 == {"ID", "ORDER_NAME", "STATUS"}
    assert rows == [(1, "A", None), (2, "B", "PAID")]


class _TransactionalDdlConnection:
    """sqlite with every statement inside one explicit transaction, so a
    rollback also undoes CREATE TABLE (as on PostgreSQL). ``fail_on``
    names the tables whose next ``executemany`` fails once."""

    def __init__(self, db, fail_on):
        self._conn = sqlite3.connect(db, isolation_level=None)
        self._conn.execute("BEGIN")
        self._fail_on = fail_on

    def cursor(self):
        return _FailOnceCursor(self._conn.cursor(), self._fail_on)

    def commit(self):
        self._conn.commit()

    def rollback(self):
        self._conn.rollback()

    def close(self):
        self._conn.close()


class _FailOnceCursor:
    def __init__(self, cur, fail_on):
        self._cur = cur
        self._fail_on = fail_on

    @property
    def description(self):
        return self._cur.description

    def execute(self, sql, params=()):
        return self._cur.execute(sql, params)

    def executemany(self, sql, rows):
        for table in list(self._fail_on):
            if f'INTO "{table}"' in sql:
                self._fail_on.remove(table)
                raise sqlite3.OperationalError(f"injected failure on {table}")
        return self._cur.executemany(sql, rows)


@pytest.mark.parametrize("failing", ["orders", "dlq"])
def test_replay_after_rolled_back_create_converges(tmp_path, spark, failing):
    """A batch that fails after its CREATE TABLE rolls the CREATE back on a
    transactional-DDL target; the replay must create the table again."""
    from kafka_dbsync_spark.streaming.apply import CdcApplyEngine
    from kafka_dbsync_spark.streaming.dialects import SqliteDialect

    db = str(tmp_path / "t.db")
    fail_on = [failing]
    engine = CdcApplyEngine(
        lambda: _TransactionalDdlConnection(db, fail_on),
        SqliteDialect(),
        pk_fields=["ID"],
        value_cols=["ORDER_NAME", "STATUS"],
        order_cols=["offset"],
        errors_tolerance="all",
        corrupt_table="dlq",
        distribute=False,
    )
    batch = spark.createDataFrame(
        [
            ("orders", 1, "a", "NEW", "upsert", 0, None),
            ("orders", 2, "b", "NEW", "upsert", 1, None),
            ("orders", 3, None, None, "upsert", 2, "bad record"),
        ],
        "target_table string, ID long, ORDER_NAME string, STATUS string, "
        "op string, offset long, error_reason string",
    )
    with pytest.raises(sqlite3.OperationalError, match="injected"):
        engine.apply_batch(batch)
    engine.apply_batch(batch)  # the replay
    assert table_state(db, "orders") == [(1, "a", "NEW"), (2, "b", "NEW")]
    con = sqlite3.connect(db)
    reasons = {r[0] for r in con.execute('SELECT error_reason FROM "dlq"')}
    con.close()
    assert reasons == {"bad record"}
