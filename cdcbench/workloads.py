"""The benchmark's workloads and the harness that times them.

Every workload runs in one fresh process, in a closed loop: the next batch
is published only after the previous one has committed and been read back.

- ``cdc_stream``: small multi-table micro-batches from a file source through
  ``CdcPipeline`` into sqlite (driver-side apply). Per-batch fixed cost
  (Spark jobs per batch, trigger overhead) dominates.
- ``lake_merge``: the same file-source loop with ``ParquetMergeSink`` as the
  ``foreachBatch`` sink over a seeded base table, and a key-lookup read
  through ``ParquetMergeSink.read`` after every commit. The parquet
  read-modify-write of touched buckets dominates.
- ``cdc_backfill``: repeated passes of one snapshot batch through
  ``CdcPipeline.run_batch`` into a fresh sqlite DB. Decode, the transform
  chain and the last-write-wins shuffle dominate; fixed cost is amortised.

The program only ever sees the generated parquet files. A file source stands
in for Kafka: there is no broker or connector jar to run against.
"""

from __future__ import annotations

import functools
import os
import random
import shutil
import sqlite3
import time
from dataclasses import dataclass, field
from pathlib import Path

from cdcbench.datagen import (
    PARTITIONS,
    SPARK_SCHEMA,
    VALUE_COLS,
    Batch,
    ChangeGenerator,
    LwwReference,
)
from cdcbench.tracing import TimedConnectionFactory, Tracer

ROW_SCHEMA = "ID LONG, ORDER_NAME STRING, AMOUNT DOUBLE, STATUS STRING"
DLQ_TABLE = "corrupt_events"


@dataclass
class Settings:
    work: Path
    seed: int
    seconds: float
    trace: bool
    cores: int


@dataclass
class Sample:
    """One closed-loop operation: publish (or start a pass), commit, read."""

    events: int
    commit_s: float
    read_s: float
    read_rows: dict
    input_bytes: int = 0
    epoch: int | None = None
    attrs: dict = field(default_factory=dict)


# -- shared pieces -------------------------------------------------------------
def extract(kafka_df):
    """Kafka records → typed change rows: IIDR header decode plus the JSON
    row image (the key JSON supplies the ID of a delete)."""
    from pyspark.sql import functions as F

    from kafka_dbsync_spark.sources.iidr import decode_iidr_records

    decoded = decode_iidr_records(kafka_df)
    row = F.from_json("record_value", ROW_SCHEMA)
    return decoded.select(
        F.coalesce(row["ID"], F.from_json("record_key", "ID LONG")["ID"]).alias("ID"),
        *[row[c].alias(c) for c in VALUE_COLS],
        "table_name",
        "entry_type",
        "topic",
        "partition",
        "offset",
        F.col("partition").alias("kafka_partition"),
        F.col("offset").alias("kafka_offset"),
        "record_key",
        "record_value",
    )


def sqlite_pipeline_config() -> dict:
    return {
        "transforms": [
            {"op": "route", "table_format": "${TableName}"},
            {"op": "map_operation"},
            {"op": "validate"},
        ],
        "sink": {
            "dialect": "sqlite",
            "pk_fields": ["ID"],
            "value_cols": list(VALUE_COLS),
            "order_cols": ["partition", "offset"],
            "errors_tolerance": "all",
            "corrupt_table": DLQ_TABLE,
            # sqlite takes one writer: the reference's single sink task
            "distribute": False,
        },
    }


LAKE_TRANSFORMS = [
    {"op": "map_operation"},
    {"op": "select", "columns": ["ID", *VALUE_COLS, "op", "partition", "offset"]},
]


def connect_sqlite(path: str) -> sqlite3.Connection:
    """The target DB. Commits skip fsync: the target's durability is not
    what is measured, and disk flush latency would only add noise."""
    conn = sqlite3.connect(path)
    conn.execute("PRAGMA synchronous=OFF")
    return conn


def sqlite_lookup(db: Path, keys_by_table: dict[str, list[int]]) -> dict:
    conn = sqlite3.connect(db)
    try:
        out = {}
        for table, keys in keys_by_table.items():
            marks = ",".join("?" * len(keys))
            cur = conn.execute(
                f'SELECT ID, ORDER_NAME, AMOUNT, STATUS FROM "{table}"'
                f" WHERE ID IN ({marks})",
                keys,
            )
            out[table] = {r[0]: tuple(r[1:]) for r in cur}
        return out
    finally:
        conn.close()


def sqlite_state(db: Path, tables) -> tuple[dict, int]:
    conn = sqlite3.connect(db)
    try:
        state = {}
        names = {r[0] for r in conn.execute("SELECT name FROM sqlite_master")}
        for t in tables:
            rows = (
                conn.execute(f'SELECT ID, ORDER_NAME, AMOUNT, STATUS FROM "{t}"')
                if t in names
                else ()
            )
            state[t] = {r[0]: tuple(r[1:]) for r in rows}
        dlq = (
            conn.execute(f'SELECT COUNT(*) FROM "{DLQ_TABLE}"').fetchone()[0]
            if DLQ_TABLE in names
            else 0
        )
        return state, dlq
    finally:
        conn.close()


def publish(src: Path, path: Path, copy: bool = False) -> None:
    """Make ``path`` visible to the file source in one atomic rename (the
    source skips names starting with ``.`` until then)."""
    hidden = src / f".{path.name}"
    if copy:
        shutil.copyfile(path, hidden)
    else:
        os.replace(path, hidden)
    os.replace(hidden, src / path.name)


def sample_keys(rng: random.Random, batch: Batch, n: int | None) -> dict[str, list[int]]:
    """``n`` of the keys ``batch`` changed, by table; all of them if ``None``."""
    changed = batch.changed_keys()
    picked = changed if n is None else rng.sample(changed, min(n, len(changed)))
    by_table: dict[str, list[int]] = {}
    for table, key in sorted(picked):
        by_table.setdefault(table, []).append(key)
    return by_table


# -- workloads -------------------------------------------------------------------
class Workload:
    """A workload generates its inputs, sets itself up (timed), runs closed-
    loop operations, and checks the final state against the LWW reference."""

    name = ""
    #: keys looked up after each commit (``None``: every key the batch
    #: changed)
    read_sample: int | None = 64

    def __init__(self, s: Settings) -> None:
        self.s = s
        self.inputs = s.work / "inputs"
        self.rng = random.Random(s.seed)
        self.tracer: Tracer | None = Tracer() if s.trace else None
        self.read_keys: list[dict] = []

    # hooks ------------------------------------------------------------------
    def generate(self) -> None:
        raise NotImplementedError

    def setup(self, spark, home: Path) -> None:
        raise NotImplementedError

    def teardown(self) -> None:
        pass

    def preroll(self, spark) -> None:
        """Untimed operations after the set-up, so that the timed region
        starts once the JIT has caught up."""

    def step(self, spark, i: int) -> Sample | None:
        """One operation, or ``None`` when the inputs are used up."""
        raise NotImplementedError

    def final_state_problems(self, spark, n_timed: int) -> list[str]:
        raise NotImplementedError

    def read_problems(self, samples: list[Sample]) -> int:
        raise NotImplementedError

    def probe_input(self) -> Path:
        raise NotImplementedError

    def unit(self, spark, home: Path) -> None:
        """One batch-mode operation of the workload, for the single-thread
        baseline."""
        raise NotImplementedError

    # shared -----------------------------------------------------------------
    def connection_factory(self, db: Path):
        factory = functools.partial(connect_sqlite, str(db))
        if self.tracer is not None:
            return TimedConnectionFactory(factory, self.tracer)
        return factory


class _FileSourceLoop(Workload):
    """A streaming query over a file source; publish one file, wait for it to
    commit, read back a sample of the keys it changed."""

    warmup_batches = 1
    preroll_batches = 10
    batch_events = 2000

    def __init__(self, s: Settings) -> None:
        super().__init__(s)
        self.query = None
        self.home: Path | None = None
        self.warm: list[tuple[Path, Batch]] = []
        self.prerolled: list[tuple[Path, Batch]] = []
        self.timed: list[tuple[Path, Batch]] = []

    def make_generator(self) -> ChangeGenerator:
        raise NotImplementedError

    def start_query(self, spark, home: Path):
        raise NotImplementedError

    def read(self, spark, keys: dict[str, list[int]]) -> dict:
        raise NotImplementedError

    def max_batches(self) -> int:
        # the loop ends on time first; this only bounds input generation
        return int(self.s.seconds * 2) + 4

    def generate(self) -> None:
        self.inputs.mkdir(parents=True)
        gen = self.make_generator()
        self.generate_base(gen)
        for kind, n, out in (("w", self.warmup_batches, self.warm),
                             ("p", self.preroll_batches, self.prerolled),
                             ("t", self.max_batches(), self.timed)):
            (self.inputs / kind).mkdir()
            for i in range(n):
                b = gen.batch(self.batch_events)
                path = self.inputs / kind / f"{kind}{i:05d}.parquet"
                b.write(path)
                out.append((path, b))

    def generate_base(self, gen: ChangeGenerator) -> None:
        pass

    def setup(self, spark, home: Path) -> None:
        self.home = home
        (home / "src").mkdir(parents=True)
        self.query = self.start_query(spark, home)
        for path, _ in self.warm:
            publish(home / "src", path, copy=True)
            self.query.processAllAvailable()

    def preroll(self, spark) -> None:
        rng = random.Random(self.s.seed)
        for path, batch in self.prerolled:
            publish(self.home / "src", path)
            self.query.processAllAvailable()
            self.read(spark, sample_keys(rng, batch, self.read_sample))

    def teardown(self) -> None:
        if self.query is not None:
            self.query.stop()
            self.query = None

    def stream(self, spark):
        return extract(
            spark.readStream.schema(SPARK_SCHEMA).parquet(str(self.home / "src"))
        )

    def step(self, spark, i: int) -> Sample | None:
        if i >= len(self.timed):
            return None
        path, batch = self.timed[i]
        size = path.stat().st_size
        keys = sample_keys(self.rng, batch, self.read_sample)
        self.read_keys.append(keys)
        tracer = self.tracer
        if tracer is not None:
            jobs = spark.sparkContext.statusTracker()
            group = str(self.query.runId)
            jobs_before = len(jobs.getJobIdsForGroup(group))
        t0 = time.perf_counter()
        if tracer is not None:
            tracer.batch = i
            ctx = tracer.span("loop.batch")
            tracer.batch_span = ctx.__enter__().id
        try:
            publish(self.home / "src", path)
            self.last_published = self.home / "src" / path.name
            self.query.processAllAvailable()
        finally:
            if tracer is not None:
                ctx.__exit__(None, None, None)
        t1 = time.perf_counter()
        rows = self.read(spark, keys)
        t2 = time.perf_counter()
        sample = Sample(len(batch), t1 - t0, t2 - t1, rows, input_bytes=size)
        if tracer is not None:
            tracer.record("loop.read", t1, t2, tracer.batch_span)
            sample.epoch = self.query.lastProgress["batchId"]
            sample.attrs["batch_key"] = f"batch-{sample.epoch}"
            sample.attrs["jobs"] = len(jobs.getJobIdsForGroup(group)) - jobs_before
        return sample

    def base_batches(self) -> list[tuple[Path, Batch]]:
        return []

    def reference_after(self, n_timed: int):
        """The LWW reference as it stands after each of the first ``n_timed``
        timed batches (one shared object, yielded once per batch)."""
        ref = LwwReference()
        for _, b in self.base_batches() + self.warm + self.prerolled:
            ref.apply(b)
        for _, b in self.timed[:n_timed]:
            ref.apply(b)
            yield ref

    def final_reference(self, n_timed: int) -> LwwReference:
        ref = LwwReference()
        for _, b in self.base_batches() + self.warm + self.prerolled + self.timed[:n_timed]:
            ref.apply(b)
        return ref

    def read_problems(self, samples: list[Sample]) -> int:
        bad = 0
        for ref, sample, keys in zip(
            self.reference_after(len(samples)), samples, self.read_keys
        ):
            expected = {t: ref.lookup(t, ks) for t, ks in keys.items()}
            bad += sample.read_rows != expected
        return bad

    def probe_input(self) -> Path:
        """The last published batch: re-applying it is idempotent."""
        return self.last_published


class CdcStream(_FileSourceLoop):
    name = "cdc_stream"
    tables = ("ORDERS_0", "ORDERS_1", "ORDERS_2", "ORDERS_3")
    # every key the batch changed is read back and checked
    read_sample = None
    transforms = sqlite_pipeline_config()["transforms"]
    lww_keys = ["target_table", "ID"]

    def make_generator(self) -> ChangeGenerator:
        return ChangeGenerator(
            seed=self.s.seed, tables=self.tables, key_space=50_000,
            delete_share=0.10, corrupt_share=0.01,
        )

    def start_query(self, spark, home: Path):
        from kafka_dbsync_spark.plans.pipeline import CdcPipeline

        self.db = home / "target.db"
        self.pipeline = CdcPipeline(
            sqlite_pipeline_config(), self.connection_factory(self.db)
        )
        if self.tracer is not None:
            engine = self.pipeline.engine
            engine.apply_batch = self.tracer.wrap(
                "streaming.apply", engine.apply_batch
            )
        return self.pipeline.start(self.stream(spark), str(home / "ckpt"))

    def read(self, spark, keys):
        return sqlite_lookup(self.db, keys)

    def final_state_problems(self, spark, n_timed: int) -> list[str]:
        ref = self.final_reference(n_timed)
        state, dlq = sqlite_state(self.db, self.tables)
        problems = [
            f"{t}: {len(state[t])} rows, expected {len(ref.tables.get(t, {}))}"
            for t in self.tables
            if state[t] != ref.tables.get(t, {})
        ]
        if dlq != ref.corrupt:
            problems.append(f"dead-letter rows {dlq}, expected {ref.corrupt}")
        return problems

    def unit(self, spark, home: Path) -> None:
        from kafka_dbsync_spark.plans.pipeline import CdcPipeline

        pipeline = CdcPipeline(
            sqlite_pipeline_config(),
            functools.partial(connect_sqlite, str(home / "unit.db")),
        )
        pipeline.run_batch(
            extract(spark.read.schema(SPARK_SCHEMA).parquet(str(self.probe_input())))
        )


class LakeMerge(_FileSourceLoop):
    name = "lake_merge"
    table = "ORDERS"
    base_keys = 20_000
    batch_events = 500
    num_buckets = 8
    transforms = LAKE_TRANSFORMS
    lww_keys = ["ID"]

    def make_generator(self) -> ChangeGenerator:
        return ChangeGenerator(
            seed=self.s.seed, tables=(self.table,), key_space=self.base_keys,
            delete_share=0.05, hot_keys=self.base_keys // 20, hot_share=0.8,
        )

    def generate_base(self, gen: ChangeGenerator) -> None:
        b = gen.snapshot(self.table, self.base_keys)
        path = self.inputs / "base.parquet"
        b.write(path)
        self.base = (path, b)

    def base_batches(self):
        return [self.base]

    def start_query(self, spark, home: Path):
        from kafka_dbsync_spark.plans.pipeline import build_transform_chain
        from kafka_dbsync_spark.streaming.table_sink import ParquetMergeSink

        self.chain = build_transform_chain(LAKE_TRANSFORMS)
        self.sink = ParquetMergeSink(
            str(home / "lake"), key_cols=["ID"], order_cols=["partition", "offset"],
            num_buckets=self.num_buckets,
        )
        if self.tracer is not None:
            self.sink.apply_batch = self.traced_merge(self.sink.apply_batch, home / "lake")
            self.sink.read = self.tracer.wrap("streaming.table_sink.read", self.sink.read)
        # the lake seed: the base table written through the sink itself
        self.sink.apply_batch(
            self.chain(extract(spark.read.schema(SPARK_SCHEMA).parquet(str(self.base[0]))))
        )
        return (
            self.chain(self.stream(spark))
            .writeStream.foreachBatch(self.sink.foreach_batch())
            .option("checkpointLocation", str(home / "ckpt"))
            .outputMode("update")
            .start()
        )

    def traced_merge(self, merge, lake: Path):
        """``merge`` recorded as a span, with the files it rewrote."""
        tracer = self.tracer

        def files():
            return {str(p): p.stat().st_size for p in lake.glob("*/*.parquet")}

        def traced(batch_df, epoch_id=0):
            before = files()
            with tracer.span("streaming.table_sink.merge", epoch=epoch_id) as span:
                merge(batch_df, epoch_id)
            after = files()
            new = {p: size for p, size in after.items() if p not in before}
            changed = [*new, *(before.keys() - after.keys())]
            span.attrs.update(
                files_rewritten=len(new),
                bytes_rewritten=sum(new.values()),
                buckets_touched=len({Path(p).parent.name for p in changed}),
                table_files=len(after),
            )

        return traced

    def read(self, spark, keys):
        from pyspark.sql import functions as F

        ks = keys.get(self.table, [])
        rows = self.sink.read(spark).filter(F.col("ID").isin(ks)).collect()
        return {self.table: {r["ID"]: tuple(r[c] for c in VALUE_COLS) for r in rows}}

    def final_state_problems(self, spark, n_timed: int) -> list[str]:
        ref = self.final_reference(n_timed).tables.get(self.table, {})
        got = {
            r["ID"]: tuple(r[c] for c in VALUE_COLS)
            for r in self.sink.read(spark).collect()
        }
        if got != ref:
            return [f"lake: {len(got)} rows, expected {len(ref)}"]
        return []

    def unit(self, spark, home: Path) -> None:
        self.sink.apply_batch(
            self.chain(extract(spark.read.schema(SPARK_SCHEMA).parquet(str(self.probe_input()))))
        )


class CdcBackfill(Workload):
    name = "cdc_backfill"
    table = "ORDERS"
    events = 100_000
    keys = 20_000
    transforms = sqlite_pipeline_config()["transforms"]
    lww_keys = ["target_table", "ID"]

    def generate(self) -> None:
        gen = ChangeGenerator(
            seed=self.s.seed, tables=(self.table,), key_space=self.keys,
            delete_share=0.10, corrupt_share=0.01,
        )
        self.batch = gen.batch(self.events)
        # one file per Kafka partition, as a Kafka source splits its input
        self.snapshot = self.inputs / "snapshot"
        self.snapshot.mkdir(parents=True)
        for p in range(PARTITIONS):
            self.batch.select(self.batch.partitions == p).write(
                self.snapshot / f"part-{p}.parquet"
            )
        self.snapshot_bytes = sum(f.stat().st_size for f in self.snapshot.iterdir())
        self.ref = LwwReference()
        self.ref.apply(self.batch)

    def run_pass(self, spark, db: Path) -> None:
        from kafka_dbsync_spark.plans.pipeline import CdcPipeline

        pipeline = CdcPipeline(sqlite_pipeline_config(), self.connection_factory(db))
        if self.tracer is not None:
            engine = pipeline.engine
            engine.apply_batch = self.tracer.wrap("streaming.apply", engine.apply_batch)
            pipeline.run_batch = self.tracer.wrap("plans.run_batch", pipeline.run_batch)
        pipeline.run_batch(
            extract(spark.read.schema(SPARK_SCHEMA).parquet(str(self.snapshot)))
        )

    def setup(self, spark, home: Path) -> None:
        self.home = home
        home.mkdir(parents=True)
        self.run_pass(spark, home / "warm.db")

    def preroll(self, spark) -> None:
        self.run_pass(spark, self.home / "preroll.db")

    def step(self, spark, i: int) -> Sample | None:
        db = self.home / f"pass{i}.db"
        keys = sample_keys(self.rng, self.batch, self.read_sample)
        self.read_keys.append(keys)
        tracer = self.tracer
        t0 = time.perf_counter()
        if tracer is not None:
            tracer.batch = i
            ctx = tracer.span("loop.batch")
            tracer.batch_span = ctx.__enter__().id
            spark.sparkContext.setJobGroup(f"pass-{i}", f"cdc_backfill pass {i}")
        try:
            self.run_pass(spark, db)
        finally:
            if tracer is not None:
                ctx.__exit__(None, None, None)
        t1 = time.perf_counter()
        rows = sqlite_lookup(db, keys)
        t2 = time.perf_counter()
        sample = Sample(len(self.batch), t1 - t0, t2 - t1, rows,
                        input_bytes=self.snapshot_bytes, epoch=i)
        if tracer is not None:
            tracer.record("loop.read", t1, t2, tracer.batch_span)
            spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
            group = f"pass-{i}"
            sample.attrs["batch_key"] = group
            sample.attrs["jobs"] = len(
                spark.sparkContext.statusTracker().getJobIdsForGroup(group)
            )
        prev = self.home / f"pass{i - 1}.db"
        if prev.exists():
            prev.unlink()
        self.db = db
        return sample

    def read_problems(self, samples: list[Sample]) -> int:
        bad = 0
        for sample, keys in zip(samples, self.read_keys):
            expected = {t: self.ref.lookup(t, ks) for t, ks in keys.items()}
            bad += sample.read_rows != expected
        return bad

    def final_state_problems(self, spark, n_timed: int) -> list[str]:
        state, dlq = sqlite_state(self.db, (self.table,))
        problems = []
        if state[self.table] != self.ref.tables.get(self.table, {}):
            problems.append(f"{self.table}: {len(state[self.table])} rows differ")
        if dlq != self.ref.corrupt:
            problems.append(f"dead-letter rows {dlq}, expected {self.ref.corrupt}")
        return problems

    def probe_input(self) -> Path:
        return self.snapshot

    def unit(self, spark, home: Path) -> None:
        db = home / "unit.db"
        db.unlink(missing_ok=True)
        self.run_pass(spark, db)


WORKLOADS = {w.name: w for w in (CdcStream, LakeMerge, CdcBackfill)}
