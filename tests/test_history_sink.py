"""SCD2 history sink engine (streaming/history_sink.py)."""

from __future__ import annotations

import sqlite3

import pytest

from kafka_dbsync_spark.streaming.dialects import (
    MySqlDialect,
    PostgreSqlDialect,
    SqliteDialect,
)
from kafka_dbsync_spark.streaming.history_sink import Scd2ApplyEngine


def _engine(db):
    return Scd2ApplyEngine(
        connection_factory=lambda: sqlite3.connect(db),
        dialect=SqliteDialect(),
        pk_fields=["id"],
        value_cols=["v"],
        table_col="tbl",
        order_cols=["off"],
    )


def _changes(spark, rows):
    return spark.createDataFrame(
        rows, "id long, v string, tbl string, off long, op string"
    )


def _history(db):
    con = sqlite3.connect(db)
    rows = con.execute(
        'SELECT "id", "v", "valid_from", "valid_to", "is_current" '
        'FROM "t1" ORDER BY "id", "valid_from"'
    ).fetchall()
    con.close()
    return rows


def test_scd2_sink_two_batches(tmp_path, spark):
    db = str(tmp_path / "h.db")
    eng = _engine(db)
    eng.apply_batch(
        _changes(
            spark,
            [
                (1, "v1", "t1", 1, "upsert"),
                (2, "v2", "t1", 2, "upsert"),
                (1, "v3", "t1", 3, "upsert"),
            ],
        )
    )
    assert _history(db) == [
        (1, "v1", 1, 3, 0),
        (1, "v3", 3, None, 1),
        (2, "v2", 2, None, 1),
    ]

    # batch 2: delete key 1 (closes, no new row), new version for key 2
    eng.apply_batch(
        _changes(
            spark,
            [(1, None, "t1", 5, "delete"), (2, "v4", "t1", 6, "upsert")],
        )
    )
    assert _history(db) == [
        (1, "v1", 1, 3, 0),
        (1, "v3", 3, 5, 0),
        (2, "v2", 2, 6, 0),
        (2, "v4", 6, None, 1),
    ]


def test_scd2_sink_replay_idempotent(tmp_path, spark):
    db = str(tmp_path / "h.db")
    eng = _engine(db)
    batch = _changes(
        spark,
        [(1, "a", "t1", 1, "upsert"), (1, "b", "t1", 2, "upsert")],
    )
    eng.apply_batch(batch)
    once = _history(db)
    eng.apply_batch(batch)  # replay: same rows, open version stays open
    assert _history(db) == once == [
        (1, "a", 1, 2, 0),
        (1, "b", 2, None, 1),
    ]


def test_scd2_sink_multi_table_fanout(tmp_path, spark):
    db = str(tmp_path / "h.db")
    eng = _engine(db)
    eng.apply_batch(
        _changes(
            spark,
            [(1, "x", "t1", 1, "upsert"), (9, "y", "t2", 2, "upsert")],
        )
    )
    con = sqlite3.connect(db)
    assert con.execute('SELECT count(*) FROM "t1"').fetchone()[0] == 1
    assert con.execute('SELECT count(*) FROM "t2"').fetchone()[0] == 1
    con.close()


def test_scd2_sink_streaming_with_restart(tmp_path, spark, kafka_schema):
    """File-source stream → transform chain → foreachBatch history sink;
    checkpoint restart re-applies nothing."""
    from kafka_dbsync_spark.operators.transforms import (
        validate_iidr,
        with_operation,
        with_target_table,
    )
    from tests.test_streaming import canonical, extract, write_batch

    src = str(tmp_path / "events")
    db = str(tmp_path / "h.db")
    ckpt = str(tmp_path / "ckpt")
    write_batch(spark, kafka_schema, src, canonical())

    def start():
        stream = spark.readStream.schema(kafka_schema).parquet(src)
        prep = validate_iidr(
            with_operation(with_target_table(extract(stream), case="lower"))
        )
        engine = Scd2ApplyEngine(
            connection_factory=lambda: sqlite3.connect(db),
            dialect=SqliteDialect(),
            pk_fields=["ID"],
            value_cols=["ORDER_NAME", "STATUS"],
            order_cols=["offset"],
            errors_tolerance="log",
        )
        return (
            prep.writeStream.foreachBatch(engine.foreach_batch())
            .option("checkpointLocation", ckpt)
            .start()
        )

    q = start()
    q.processAllAvailable()
    q.stop()

    def history():
        con = sqlite3.connect(db)
        rows = con.execute(
            'SELECT "ID", "ORDER_NAME", "valid_from", "valid_to", "is_current" '
            'FROM "test_orders" ORDER BY "ID", "valid_from"'
        ).fetchall()
        con.close()
        return rows

    # canonical() = PT(1)@0 PT(2)@1 PT(3)@2 UP(2)@3 DL(3)@4
    expect = [
        (1, "A", 0, None, 1),
        (2, "B", 1, 3, 0),
        (2, "B2", 3, None, 1),
        (3, "C", 2, 4, 0),
    ]
    assert history() == expect

    # restart from the same checkpoint: no replays, history unchanged
    q2 = start()
    q2.processAllAvailable()
    q2.stop()
    assert history() == expect


class _RecordingConnection:
    """DB-API stand-in that records every statement; its tables report
    ``columns`` as the declared (case-preserved) column names."""

    def __init__(self, log, columns):
        self.log = log
        self.columns = columns

    def cursor(self):
        return _RecordingCursor(self)

    def commit(self):
        pass

    def rollback(self):
        pass

    def close(self):
        pass


class _RecordingCursor:
    description = None

    def __init__(self, conn):
        self.conn = conn

    def execute(self, sql, params=()):
        self.conn.log.append(sql)
        if sql.startswith("SELECT"):
            self.description = [(c,) for c in self.conn.columns]

    def executemany(self, sql, rows):
        self.conn.log.append(sql)


@pytest.mark.parametrize("dialect", [PostgreSqlDialect(), MySqlDialect()])
def test_scd2_statements_follow_the_dialect(spark, dialect):
    """The close UPDATE uses the dialect's placeholder, and auto-evolve
    compares column names the dialect's way (MySQL keeps case)."""
    log: list[str] = []
    columns = ["ID", "NAME", "valid_from", "valid_to", "is_current"]
    eng = Scd2ApplyEngine(
        connection_factory=lambda: _RecordingConnection(log, columns),
        dialect=dialect,
        pk_fields=["ID"],
        value_cols=["NAME"],
        table_col="tbl",
        order_cols=["off"],
        distribute=False,
    )
    eng.apply_batch(
        spark.createDataFrame(
            [(1, "a", "t1", 1, "upsert")],
            "ID long, NAME string, tbl string, off long, op string",
        )
    )
    close = [s for s in log if s.startswith("UPDATE")]
    assert len(close) == 1
    assert "?" not in close[0] and close[0].count("%s") == 3
    assert not [s for s in log if s.startswith("ALTER")]


def test_scd2_dead_letters_carry_created_at(tmp_path, spark):
    db = str(tmp_path / "h.db")
    eng = Scd2ApplyEngine(
        connection_factory=lambda: sqlite3.connect(db),
        dialect=SqliteDialect(),
        pk_fields=["id"],
        value_cols=["v"],
        table_col="tbl",
        order_cols=["off"],
        errors_tolerance="all",
        corrupt_table="dlq",
    )
    eng.apply_batch(
        spark.createDataFrame(
            [(1, "a", "t1", 1, "upsert", None), (2, None, "t1", 2, "upsert", "bad")],
            "id long, v string, tbl string, off long, op string, error_reason string",
        )
    )
    con = sqlite3.connect(db)
    # unquoted: sqlite reads a quoted unknown column as a string literal
    rows = con.execute("SELECT error_reason, created_at FROM dlq").fetchall()
    con.close()
    assert len(rows) == 1 and rows[0][0] == "bad" and rows[0][1]
    assert _history(db) == [(1, "a", 1, None, 1)]
