"""ParquetMergeSink: keyed CDC merge into a hash-bucket-partitioned
parquet table via dynamic partition overwrite — the pure-Spark data-lake
backend (SURVEY §7.1's Delta MERGE INTO slot, built from Spark
primitives since delta-lake is not in the container)."""

from __future__ import annotations

import glob
import os

import pyspark.sql.functions as F
import pytest

from kafka_dbsync_spark.functions.entrytype import OP_DELETE, OP_UPSERT
from kafka_dbsync_spark.streaming.table_sink import ParquetMergeSink

SCHEMA = "ID long, NAME string, op string, offset long"


def rows_of(sink, spark):
    return {
        r["ID"]: r["NAME"] for r in sink.state(spark).select("ID", "NAME").collect()
    }


def make_sink(tmp_path, buckets=8):
    return ParquetMergeSink(
        str(tmp_path / "table"),
        key_cols=["ID"],
        order_cols=["offset"],
        num_buckets=buckets,
    )


def test_merge_upserts_updates_deletes(spark, tmp_path):
    sink = make_sink(tmp_path)
    sink.apply_batch(
        spark.createDataFrame(
            [
                (1, "A", OP_UPSERT, 0),
                (2, "B", OP_UPSERT, 1),
                (3, "C", OP_UPSERT, 2),
            ],
            SCHEMA,
        )
    )
    assert rows_of(sink, spark) == {1: "A", 2: "B", 3: "C"}
    sink.apply_batch(
        spark.createDataFrame(
            [
                (2, "B2", OP_UPSERT, 3),   # update
                (3, None, OP_DELETE, 4),   # delete existing
                (9, None, OP_DELETE, 5),   # delete absent: no-op
                (4, "D", OP_UPSERT, 6),    # insert
            ],
            SCHEMA,
        )
    )
    assert rows_of(sink, spark) == {1: "A", 2: "B2", 4: "D"}


def test_untouched_buckets_files_not_rewritten(spark, tmp_path):
    """The 100 TB property: a batch touching one key must leave every
    other bucket's FILES untouched (same inode mtimes — dynamic
    overwrite never lists them)."""
    sink = make_sink(tmp_path, buckets=8)
    sink.apply_batch(
        spark.createDataFrame(
            [(i, f"v{i}", OP_UPSERT, i) for i in range(64)], SCHEMA
        )
    )
    table = str(tmp_path / "table")
    before = {
        p: os.path.getmtime(p)
        for p in glob.glob(os.path.join(table, "__part=*", "*.parquet"))
    }
    # bucket of key 1
    target = sink._with_part(
        spark.createDataFrame([(1, "x", OP_UPSERT, 100)], SCHEMA)
    ).collect()[0]["__part"]
    sink.apply_batch(
        spark.createDataFrame([(1, "updated", OP_UPSERT, 100)], SCHEMA)
    )
    after = {
        p: os.path.getmtime(p)
        for p in glob.glob(os.path.join(table, "__part=*", "*.parquet"))
    }
    changed = {
        p
        for p in set(before) | set(after)
        if before.get(p) != after.get(p)
    }
    assert changed, "the touched bucket must be rewritten"
    assert all(f"__part={target}" in p for p in changed), changed
    assert rows_of(sink, spark)[1] == "updated"
    assert rows_of(sink, spark)[63] == "v63"


def test_intra_batch_lww_and_replay_idempotence(spark, tmp_path):
    sink = make_sink(tmp_path)
    batch = spark.createDataFrame(
        [
            (1, "v1", OP_UPSERT, 0),
            (1, "v2", OP_UPSERT, 1),
            (1, "v3", OP_UPSERT, 2),
        ],
        SCHEMA,
    )
    sink.apply_batch(batch)
    assert rows_of(sink, spark) == {1: "v3"}
    sink.apply_batch(batch)  # at-least-once replay converges
    assert rows_of(sink, spark) == {1: "v3"}


def test_fully_deleted_bucket_is_cleared(spark, tmp_path):
    """Deleting every key of a bucket must not leave stale files behind
    (dynamic overwrite alone would — the sink clears the directory)."""
    sink = make_sink(tmp_path, buckets=2)
    sink.apply_batch(
        spark.createDataFrame(
            [(i, f"v{i}", OP_UPSERT, i) for i in range(8)], SCHEMA
        )
    )
    all_ids = list(rows_of(sink, spark))
    # delete EVERY key (both buckets fully emptied)
    sink.apply_batch(
        spark.createDataFrame(
            [(i, None, OP_DELETE, 100 + i) for i in all_ids], SCHEMA
        )
    )
    state = sink.read(spark)
    assert state is None or state.count() == 0


def test_streaming_foreach_batch_e2e(spark, tmp_path):
    src = str(tmp_path / "stream")
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame(
        [
            (1, "A", OP_UPSERT, 0),
            (2, "B", OP_UPSERT, 1),
            (2, "B2", OP_UPSERT, 2),
            (1, None, OP_DELETE, 3),
        ],
        SCHEMA,
    ).coalesce(1).write.mode("append").parquet(src)
    sink = make_sink(tmp_path)
    stream = spark.readStream.schema(SCHEMA).parquet(src)
    q = (
        stream.writeStream.foreachBatch(sink.foreach_batch())
        .option("checkpointLocation", ckpt)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert rows_of(sink, spark) == {2: "B2"}


def test_rejects_empty_keys():
    with pytest.raises(ValueError, match="non-empty"):
        ParquetMergeSink("/tmp/x", key_cols=[], order_cols=["o"])


def test_merge_keeps_one_file_per_bucket(spark, tmp_path):
    # the merge path's anti-fragmentation invariant: every batch's
    # dynamic overwrite replaces each touched bucket with exactly ONE
    # repartitioned file, so trickle updates never accumulate files
    sink = make_sink(tmp_path, buckets=4)
    for i in range(5):
        sink.apply_batch(
            spark.createDataFrame(
                [(k, f"v{i}_{k}", OP_UPSERT, i) for k in range(8)], SCHEMA
            )
        )
    root = str(tmp_path / "table")
    for d in glob.glob(os.path.join(root, "__part=*")):
        assert len(glob.glob(os.path.join(d, "*.parquet"))) == 1
    # and compaction is therefore a no-op here
    assert sink.compact(spark)["buckets_compacted"] == 0


def _append_fragmented(spark, root, keys, tag, parallelism=8):
    """Simulate an append-mode writer (bulk import / raw landing zone):
    task-parallel append leaves one file per task per partition."""
    df = (
        spark.createDataFrame([(k, f"{tag}{k}") for k in keys], "ID long, NAME string")
        .withColumn("__part", (F.col("ID") % 4).cast("int"))
        .repartition(parallelism)
    )
    df.write.mode("append").partitionBy("__part").parquet(root)


def test_compact_merges_appended_small_files_state_unchanged(spark, tmp_path):
    from kafka_dbsync_spark.streaming.table_sink import compact_partitioned_table

    root = str(tmp_path / "table")
    for i in range(3):
        _append_fragmented(spark, root, range(i * 20, (i + 1) * 20), f"v{i}_")
    files_before = len(glob.glob(os.path.join(root, "__part=*", "*.parquet")))
    assert files_before > 4  # the appends really did fragment
    before = {
        (r["ID"], r["NAME"]) for r in spark.read.parquet(root).collect()
    }

    report = compact_partitioned_table(spark, root, max_files_per_part=1)
    assert report["parts_compacted"] >= 1
    assert report["files_after"] < report["files_before"]
    for d in glob.glob(os.path.join(root, "__part=*")):
        assert len(glob.glob(os.path.join(d, "*.parquet"))) == 1
    # table state is row-identical
    after = {(r["ID"], r["NAME"]) for r in spark.read.parquet(root).collect()}
    assert after == before
    # idempotent: a second compaction is a no-op
    again = compact_partitioned_table(spark, root, max_files_per_part=1)
    assert again["parts_compacted"] == 0
    assert again["files_after"] == report["files_after"]


def test_compact_leaves_untouched_partitions_alone(spark, tmp_path):
    from kafka_dbsync_spark.streaming.table_sink import compact_partitioned_table

    root = str(tmp_path / "table")
    # partition 0..3 each get one clean file; then only keys ≡ 1 (mod 4)
    # receive fragmented appends
    for p in range(4):
        spark.createDataFrame(
            [(p + 4 * j, f"seed{p}_{j}") for j in range(5)], "ID long, NAME string"
        ).withColumn("__part", F.lit(p)).coalesce(1).write.mode(
            "append"
        ).partitionBy("__part").parquet(root)
    _append_fragmented(spark, root, [1, 5, 9, 13], "hot", parallelism=4)
    mtimes = {
        f: os.path.getmtime(f)
        for f in glob.glob(os.path.join(root, "__part=*", "*.parquet"))
    }
    before = {(r["ID"], r["NAME"]) for r in spark.read.parquet(root).collect()}
    report = compact_partitioned_table(spark, root, max_files_per_part=1)
    assert report["parts_compacted"] == 1
    # every surviving pre-compaction file is untouched (same mtime)
    after_files = {
        f: os.path.getmtime(f)
        for f in glob.glob(os.path.join(root, "__part=*", "*.parquet"))
    }
    survivors = set(mtimes) & set(after_files)
    assert survivors and all(mtimes[f] == after_files[f] for f in survivors)
    # only partition 1's old files disappeared
    gone = set(mtimes) - set(after_files)
    assert gone and all("__part=1" in f for f in gone)
    after = {(r["ID"], r["NAME"]) for r in spark.read.parquet(root).collect()}
    assert after == before


def test_additive_schema_evolution(spark, tmp_path):
    """A batch introducing a new column merges cleanly: existing rows
    backfill NULL, evolved rows carry the value, deletes still apply,
    and a later batch WITHOUT the new column leaves NULL there."""
    sink = make_sink(tmp_path)
    sink.apply_batch(
        spark.createDataFrame(
            [(1, "a", OP_UPSERT, 0), (2, "b", OP_UPSERT, 0), (3, "c", OP_UPSERT, 0)],
            SCHEMA,
        )
    )
    # batch 2 evolves the schema with EMAIL
    sink.apply_batch(
        spark.createDataFrame(
            [
                (2, "b2", "b@x.io", OP_UPSERT, 1),
                (3, None, None, OP_DELETE, 1),
                (4, "d", "d@x.io", OP_UPSERT, 1),
            ],
            "ID long, NAME string, EMAIL string, op string, offset long",
        )
    )
    state = {
        r["ID"]: (r["NAME"], r["EMAIL"])
        for r in sink.state(spark).select("ID", "NAME", "EMAIL").collect()
    }
    assert state == {1: ("a", None), 2: ("b2", "b@x.io"), 4: ("d", "d@x.io")}
    # batch 3 reverts to the narrow schema — EMAIL must survive as a
    # column (NULL for the updated row)
    sink.apply_batch(
        spark.createDataFrame([(4, "d2", OP_UPSERT, 2)], SCHEMA)
    )
    state = {
        r["ID"]: (r["NAME"], r["EMAIL"])
        for r in sink.state(spark).select("ID", "NAME", "EMAIL").collect()
    }
    assert state[4] == ("d2", None)
    assert state[2] == ("b2", "b@x.io")


def test_iidr_cdc_to_lake_e2e_with_restart(spark, tmp_path):
    """The reference scenario (SURVEY §3.2) against the LAKE backend:
    IIDR-shaped kafka records → decode → op-map → validate → keyed merge
    into the hash-bucketed parquet table — across TWO checkpointed
    streaming runs (kill and resume), proving offsets + idempotent merge
    give exactly-once effect on the lakehouse path just like the JDBC
    path."""
    from kafka_dbsync_spark.operators.transforms import (
        split_corrupt,
        validate_iidr,
        with_operation,
    )
    from kafka_dbsync_spark.sources.iidr import events_as_iidr_stream

    src, ck = str(tmp_path / "src"), str(tmp_path / "ck")
    sink = ParquetMergeSink(
        str(tmp_path / "lake"),
        key_cols=["user_id"],
        order_cols=["offset"],
        num_buckets=8,
    )

    def apply_iidr(batch_df, epoch_id):
        iidr = validate_iidr(with_operation(events_as_iidr_stream(batch_df)))
        valid, _ = split_corrupt(iidr)
        row = F.from_json(
            "record_value", "user_id long, event_type string, value double"
        )
        changes = valid.select(
            F.coalesce(
                row["user_id"],
                F.from_json("record_key", "user_id long")["user_id"],
            ).alias("user_id"),
            row["event_type"].alias("event_type"),
            row["value"].alias("value"),
            "op",
            "offset",
        )
        sink.apply_batch(changes, epoch_id)

    ev_schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)

    def run_once(rows):
        spark.createDataFrame(rows, ev_schema).write.mode("append").parquet(src)
        q = (
            spark.readStream.schema(ev_schema)
            .parquet(src)
            .writeStream.foreachBatch(apply_iidr)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # run 1: inserts for users 1..3 (event ids drive the offset order)
    run_once(
        [
            (1, t0, 1, "click", 1.0, "{}"),
            (2, t0, 2, "click", 2.0, "{}"),
            (3, t0, 3, "click", 3.0, "{}"),
        ]
    )
    state = {r["user_id"]: r["value"] for r in sink.state(spark).collect()}
    assert state == {1: 1.0, 2: 2.0, 3: 3.0}

    # run 2 (fresh query, same checkpoint): update user 1, delete user 2
    # (event_type 'error' with even id maps to corrupt, odd to delete —
    # sources/iidr.py's deterministic op mapping)
    run_once(
        [
            (11, t0, 1, "click", 10.0, "{}"),
            (13, t0, 2, "error", 0.0, "{}"),
        ]
    )
    state = {r["user_id"]: r["value"] for r in sink.state(spark).collect()}
    assert state == {1: 10.0, 3: 3.0}


def test_compact_handles_string_and_null_partitions(spark, tmp_path):
    """ADVICE r3: compaction must work on non-integer partition schemes
    — string values and the NULL (__HIVE_DEFAULT_PARTITION__) partition
    — keeping the raw directory strings for the filter instead of
    int()-casting them."""
    import os

    from kafka_dbsync_spark.streaming.table_sink import compact_partitioned_table

    path = str(tmp_path / "strparts")
    df = spark.createDataFrame(
        [("en", 1), ("en", 2), ("fr", 3), (None, 4), (None, 5)],
        "lang string, v long",
    )
    # two appends -> >1 file in each touched partition
    for _ in range(2):
        df.write.mode("append").partitionBy("lang").parquet(path)
    before = {
        r["lang"]: r["cnt"]
        for r in spark.read.parquet(path)
        .groupBy("lang").agg(F.count("*").alias("cnt")).collect()
    }
    stats = compact_partitioned_table(spark, path, part_col="lang")
    assert stats["parts_compacted"] == 3          # en, fr, NULL
    assert stats["files_after"] < stats["files_before"]
    after = {
        r["lang"]: r["cnt"]
        for r in spark.read.parquet(path)
        .groupBy("lang").agg(F.count("*").alias("cnt")).collect()
    }
    assert after == before                        # row-identical
    for d in os.listdir(path):
        if d.startswith("lang="):
            n = sum(1 for f in os.listdir(os.path.join(path, d))
                    if f.endswith(".parquet"))
            assert n == 1                         # one file per partition


def test_merge_and_compact_leave_session_overwrite_mode_alone(
    spark, tmp_path, monkeypatch
):
    """Dynamic overwrite is a per-write option: the sink never switches
    the session-wide partitionOverwriteMode, which a concurrent stream in
    the same session relies on, and untouched buckets survive."""
    from pyspark.sql.conf import RuntimeConfig

    sets = []
    real_set = RuntimeConfig.set

    def recording_set(self, key, value):
        sets.append(key)
        return real_set(self, key, value)

    monkeypatch.setattr(RuntimeConfig, "set", recording_set)
    sink = make_sink(tmp_path, buckets=4)
    sink.apply_batch(
        spark.createDataFrame(
            [(k, f"a{k}", OP_UPSERT, k) for k in range(16)], SCHEMA
        )
    )
    sink.apply_batch(spark.createDataFrame([(0, "b0", OP_UPSERT, 20)], SCHEMA))
    expect = {0: "b0", **{k: f"a{k}" for k in range(1, 16)}}
    assert rows_of(sink, spark) == expect
    _append_fragmented(spark, sink.path, [100, 104], "x", parallelism=2)
    assert sink.compact(spark)["buckets_compacted"] >= 1
    assert rows_of(sink, spark) == {**expect, 100: "x100", 104: "x104"}
    assert sets == []
    mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    assert mode.upper() == "STATIC"
