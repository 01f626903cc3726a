"""The foreachBatch CDC apply engine — Spark's version of the reference's
`IidrCdcSinkTask.put` → `JdbcWriter.write` pipeline (SURVEY.md §3.2).

Per micro-batch:

1. **validate** → corrupt branch to the dead-letter table (K9/K10)
2. **last-write-wins per key** (A3) — the correctness cliff: a set-based
   merge would otherwise apply duplicate keys in arbitrary order
3. **group by target table** (A1), then by op (A2)
4. **one transaction per table** (K11): batched upserts + deletes through
   the dialect SQL; rollback on failure; Structured Streaming's
   checkpoint + the idempotent keyed UPSERT give exactly-once effect over
   at-least-once delivery (docs/puml/kafka-dbsync.puml:28,36-37)
5. **auto-create / auto-evolve** (K6/K7) from the batch schema

Scale notes: the dedup window shuffles on (table, pk) — the only shuffle
in the path. The DB write path is AUTO-SELECTED (``distribute="auto"``,
the default): batches at/above ``distribute_threshold`` rows with a
shippable connection factory run one connection per executor partition
(repartitioned by key so a key never splits across connections); smaller
batches — and ``distribute=False`` — use the driver-side single
connection, the reference's single-sink-task shape and the right debug
path. Force ``distribute=True`` to always fan out.

CAVEAT: auto mode infers "distributable" from batch size + a picklable
factory, which says nothing about the TARGET's concurrency. Single-
writer databases (sqlite, an embedded H2, a constrained PG pool) must
pass ``distribute=False`` explicitly or large backfill batches will
open concurrent writers and hit lock errors — see bench.py's apply-path
engine for the canonical single-writer configuration.
"""

from __future__ import annotations

import functools
import itertools
import logging
from collections.abc import Callable, Sequence
from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_dbsync_spark.functions.entrytype import OP_DELETE, OP_UPSERT
from kafka_dbsync_spark.operators.merge import latest_by_key
from kafka_dbsync_spark.streaming.dialects import Dialect

log = logging.getLogger(__name__)

CORRUPT_TABLE_SCHEMA = (
    "topic",
    "kafka_partition",
    "kafka_offset",
    "record_key",
    "record_value",
    "headers",
    "error_reason",
    "table_name",
    "entry_type",
    "created_at",
)

# rows per executemany call: driver (and executor) memory stays O(chunk)
# however large the batch (e.g. a backfill replay), while the
# transaction still spans the whole table
CHUNK_ROWS = 10_000


@contextmanager
def transaction(connection_factory: Callable[[], object]):
    """One connection holding one transaction: commit when the block
    succeeds, roll back and re-raise when it fails, close either way."""
    conn = connection_factory()
    try:
        yield conn
        conn.commit()
    except Exception:
        conn.rollback()
        raise
    finally:
        conn.close()


def write_chunked(cur, rows, route: Callable) -> int:
    """Batched ``executemany`` from a row iterator. ``route(row)`` gives
    the row's ``(statement, params)``, or None to skip it; each
    statement's parameters flush every ``CHUNK_ROWS`` rows. Rows routed
    to different statements must commute (last-write-wins leaves one row
    per key), since each statement flushes on its own count. Returns the
    number of rows written."""
    pending: dict[str, list[tuple]] = {}
    n = 0
    for r in rows:
        routed = route(r)
        if routed is None:
            continue
        sql, params = routed
        buf = pending.setdefault(sql, [])
        buf.append(params)
        if len(buf) >= CHUNK_ROWS:
            cur.executemany(sql, buf)
            n += len(buf)
            pending[sql] = []
    for sql, buf in pending.items():
        if buf:
            cur.executemany(sql, buf)
            n += len(buf)
    return n


def _change_router(dialect: Dialect, pk, value_cols, op_col: str):
    """``route(table, row)`` for ``write_chunked``: an upsert carries key +
    values, a delete the key, any other op is skipped."""
    cols = [*pk, *value_cols]
    stmts: dict[str, tuple[str, str]] = {}

    def route(table: str, r):
        if table not in stmts:
            stmts[table] = (
                dialect.upsert_sql(table, cols, pk),
                dialect.delete_sql(table, pk),
            )
        upsert, delete = stmts[table]
        op = r[op_col]
        if op == OP_UPSERT:
            return upsert, tuple(r[c] for c in cols)
        if op == OP_DELETE:
            return delete, tuple(r[c] for c in pk)
        return None

    return route


class BatchSink:
    """A foreachBatch sink: ``apply_batch(df, epoch_id)`` commits one
    micro-batch, and replaying an epoch converges to the same state."""

    def foreach_batch(self):
        """Callable for DataStreamWriter.foreachBatch."""

        def fn(batch_df: DataFrame, epoch_id: int) -> None:
            self.apply_batch(batch_df, epoch_id)

        return fn


class CdcApplyEngine(BatchSink):
    """Applies validated CDC micro-batches into DB tables.

    Parameters mirror the reference's sink config (IidrCdcSinkConfig):
    ``pk_fields`` (pk.fields), ``errors_tolerance`` ∈ {none, log, all}
    (iidr.errors.tolerance), ``auto_create`` / ``auto_evolve``,
    ``corrupt_table`` (corrupt.events.table).

    ``order_cols=None`` (default) resolves per batch to
    ``(partition-ish column if present, offset)`` — a deterministic total
    order even when a key's records span Kafka partitions (e.g. after a
    partition-count increase). Pass explicit columns to override.
    """

    def __init__(
        self,
        connection_factory: Callable[[], object],
        dialect: Dialect,
        pk_fields: Sequence[str],
        value_cols: Sequence[str],
        table_col: str = "target_table",
        op_col: str = "op",
        order_cols: Sequence[str] | None = None,
        errors_tolerance: str = "none",
        auto_create: bool = True,
        auto_evolve: bool = True,
        corrupt_table: str | None = None,
        distribute: bool | str = "auto",
        distribute_threshold: int = 100_000,
        num_partitions: int | None = None,
    ) -> None:
        self.connection_factory = connection_factory
        self.dialect = dialect
        self.pk_fields = list(pk_fields)
        self.value_cols = list(value_cols)
        self.table_col = table_col
        self.op_col = op_col
        self.order_cols = list(order_cols) if order_cols is not None else None
        self.errors_tolerance = errors_tolerance
        self.auto_create = auto_create
        self.auto_evolve = auto_evolve
        self.corrupt_table = corrupt_table
        self.distribute = distribute
        self.distribute_threshold = distribute_threshold
        # auto mode needs the factory on the executors; probe once with
        # cloudpickle (what Spark actually uses for closures) — factories
        # holding live connections/files fail here and stay driver-side
        try:
            from pyspark import cloudpickle

            cloudpickle.dumps(connection_factory)
            self._factory_serializable = True
        except Exception:  # noqa: BLE001
            self._factory_serializable = False
        # which path the last apply_batch took ("driver" | "distributed");
        # for tests and ops logging
        self.last_path: str | None = None
        # the reference's tasks.max: pins the number of concurrent sink
        # connections; None lets AQE size the exchange (it will coalesce
        # small batches down to few connections, which is usually right)
        self.num_partitions = num_partitions
        # tables whose CREATE has committed — on a target with transactional
        # DDL a rollback undoes the CREATE, and the replay must issue it again
        self._known_tables: set[str] = set()

    # -- public entry point ---------------------------------------------------
    def apply_batch(self, batch_df: DataFrame, epoch_id: int = 0) -> None:
        """Apply one (batch or micro-batch) DataFrame of validated records.

        Expects columns: pk fields, value columns, op, target_table,
        order columns, and (optionally) error_reason + dead-letter fields.
        """
        # the corrupt branch, the distinct-tables probe, and the per-table
        # applies are separate actions — cache the decoded batch so the
        # upstream decode/validate plan runs once, like the reference's
        # single pass over the poll batch
        batch_df = batch_df.persist()
        try:
            valid = self._split_corrupt(batch_df)

            # A3: last write wins per (table, key) — before set-based apply
            order_cols = self.order_cols
            if order_cols is None:
                part = [
                    c for c in ("partition", "kafka_partition") if c in valid.columns
                ][:1]
                order_cols = [*part, "offset"]
            deduped = latest_by_key(
                valid, [self.table_col, *self.pk_fields], order_cols
            )

            out_cols = [*self.pk_fields, *self.value_cols, self.op_col]
            per_table = deduped.select(self.table_col, *out_cols)

            if self._should_distribute(valid):
                self.last_path = "distributed"
                self._apply_distributed(per_table)
            else:
                self.last_path = "driver"
                # distinct-tables probe on the CACHED pre-dedup batch (a
                # one-column partial-agg shuffle) — probing per_table
                # instead would run the expensive dedup shuffle just to
                # list tables. Dedup never drops a table, so the sets match.
                tables = self._tables(valid)
                if len(tables) > 1:
                    # fan-out: materialize the deduped batch once with ONE
                    # parallel job so the N per-table passes read cache
                    # instead of each re-running the dedup shuffle
                    per_table = per_table.persist()
                    try:
                        per_table.count()
                        self._apply_driver_side(per_table, tables)
                    finally:
                        per_table.unpersist()
                else:
                    # single-table batch (one topic → one table, the common
                    # deployment): stream straight through — persisting
                    # would only add a materialization pass
                    self._apply_driver_side(per_table, tables)
        finally:
            batch_df.unpersist()

    def _should_distribute(self, valid: DataFrame) -> bool:
        """Pick the apply path. ``distribute=True``/``False`` forces it;
        the default ``"auto"`` runs executor-side when the factory ships
        (cloudpickle) AND the batch is at/above ``distribute_threshold``
        rows — small/debug batches keep the reference's single-writer
        shape, a 100×-scale backfill automatically fans out one
        connection per partition. The count is on the CACHED batch, so
        auto mode costs one cached-scan action, not a recompute. Pass
        ``distribute=False`` for single-writer targets (sqlite) that
        cannot take concurrent connections regardless of batch size."""
        if self.distribute is True:
            return True
        if self.distribute == "auto":
            return (
                self._factory_serializable
                and valid.count() >= self.distribute_threshold
            )
        return False

    def _tables(self, df: DataFrame) -> list[str]:
        return sorted(r[0] for r in df.select(self.table_col).distinct().collect())

    # -- corrupt branch (K9/K10) ---------------------------------------------
    def _split_corrupt(self, batch_df: DataFrame) -> DataFrame:
        """Send the rows carrying an ``error_reason`` down the corrupt
        branch; return the valid rows."""
        if "error_reason" not in batch_df.columns:
            return batch_df
        corrupt = batch_df.filter(F.col("error_reason").isNotNull())
        if "created_at" not in corrupt.columns:
            # dead-letter insertion timestamp (CorruptEventWriter
            # populates created_at with now())
            corrupt = corrupt.withColumn(
                "created_at",
                F.date_format(F.current_timestamp(), "yyyy-MM-dd HH:mm:ss"),
            )
        self._handle_corrupt(corrupt)
        return batch_df.filter(F.col("error_reason").isNull())

    def _handle_corrupt(self, corrupt: DataFrame) -> None:
        if not self.corrupt_table and self.errors_tolerance == "all":
            return  # silent-skip mode with no DLQ: nothing to evaluate
        # cheap emptiness probe on the cached batch — the common clean
        # batch must not open a DLQ connection (or depend on DLQ health)
        if corrupt.isEmpty():
            return
        if self.corrupt_table:
            table = self.corrupt_table
            cols = [c for c in CORRUPT_TABLE_SCHEMA if c in corrupt.columns]
            insert = self.dialect.insert_sql(table, cols)

            def route(r):
                return insert, tuple(
                    self._truncate_reason(r[c]) if c == "error_reason" else r[c]
                    for c in cols
                )

            with transaction(self.connection_factory) as conn:
                cur = conn.cursor()
                if self.auto_create and table not in self._known_tables:
                    # auto-create the dead-letter table from the record
                    # shape (IidrCdcSinkTask.java:72-80)
                    schema = T.StructType(
                        [f for f in corrupt.schema.fields if f.name in cols]
                    )
                    cur.execute(self.dialect.create_table_sql(table, schema, ()))
                # every dead-letter row is written, never capped (losing
                # DLQ records defeats the DLQ)
                n = write_chunked(cur, corrupt.toLocalIterator(), route)
            self._known_tables.add(table)
        else:
            n = corrupt.count()
        if n == 0:
            return
        if self.errors_tolerance == "none":
            raise ValueError(f"{n} corrupt record(s) in batch and errors.tolerance=none")
        if self.errors_tolerance == "log":
            log.warning("skipping %d corrupt record(s)", n)

    @staticmethod
    def _truncate_reason(reason: str | None, limit: int = 1000) -> str | None:
        """≤1000 chars with ellipsis — CorruptEventWriter.java:173-178."""
        if reason is None or len(reason) <= limit:
            return reason
        return reason[: limit - 3] + "..."

    # -- apply paths ----------------------------------------------------------
    def _apply_driver_side(self, per_table: DataFrame, tables: list[str]) -> None:
        """One connection, one transaction per table (the reference's
        shape: a single sink task with a JDBC connection). Rows stream
        through the driver via ``toLocalIterator`` in bounded chunks."""
        schema = per_table.drop(self.table_col, self.op_col).schema
        route = _change_router(
            self.dialect, self.pk_fields, self.value_cols, self.op_col
        )
        for table in tables:
            tdf = per_table.filter(F.col(self.table_col) == table).drop(self.table_col)
            with transaction(self.connection_factory) as conn:
                self._ensure_table(conn, table, schema, self.pk_fields)
                write_chunked(
                    conn.cursor(),
                    tdf.toLocalIterator(prefetchPartitions=True),
                    functools.partial(route, table),
                )
            self._known_tables.add(table)

    def _apply_distributed(self, per_table: DataFrame) -> None:
        """Executor-side apply: repartition by (table, pk) so each key
        lands on exactly one partition, then one connection per partition.
        Requires a picklable connection factory (e.g. a psycopg2 DSN
        closure) and a target DB that takes concurrent writers."""
        factory = self.connection_factory
        table_col = self.table_col
        route = _change_router(
            self.dialect, self.pk_fields, self.value_cols, self.op_col
        )

        # DDL runs driver-side up front (one connection for all tables) so
        # executor partitions only ever issue DML — same auto_create/
        # auto_evolve semantics as the driver-side path. Every table
        # shares the batch schema, so no per-table filtering is needed.
        if self.auto_create or self.auto_evolve:
            tables = self._tables(per_table)
            schema = per_table.drop(table_col, self.op_col).schema
            with transaction(factory) as conn:
                for table in tables:
                    self._ensure_table(conn, table, schema, self.pk_fields)
            self._known_tables.update(tables)

        def apply_partition(rows) -> None:
            rows = iter(rows)
            first = next(rows, None)
            if first is None:
                return
            with transaction(factory) as conn:
                write_chunked(
                    conn.cursor(),
                    itertools.chain([first], rows),
                    lambda r: route(r[table_col], r),
                )

        keys = [table_col] + self.pk_fields
        if self.num_partitions is not None:
            shaped = per_table.repartition(self.num_partitions, *keys)
        else:
            shaped = per_table.repartition(*keys)
        shaped.foreachPartition(apply_partition)

    # -- DDL (K6/K7) -----------------------------------------------------------
    def _ensure_table(self, conn, table: str, schema: T.StructType, pk) -> None:
        """Auto-create ``table`` from ``schema`` with primary key ``pk``,
        then add any column the target lacks. The caller adds the table
        to ``_known_tables`` once its transaction commits."""
        cur = conn.cursor()
        if self.auto_create and table not in self._known_tables:
            cur.execute(self.dialect.create_table_sql(table, schema, pk))
        if self.auto_evolve:
            existing = self._existing_columns(conn, table)
            if existing is not None:
                for f in schema.fields:
                    if self.dialect.normalize_identifier(f.name) not in existing:
                        cur.execute(self.dialect.add_column_sql(table, f))

    def _existing_columns(self, conn, table: str) -> set[str] | None:
        """Column metadata via a zero-row probe with dialect quoting (the
        reference uses DatabaseMetaData.getColumns,
        JdbcWriter.java:346-372). Names normalize per the DIALECT's
        metadata rule (PG lowercases unquoted identifiers, sqlite keeps
        case — normalize_identifier), not a blanket lower() that would
        mask case-sensitive targets."""
        try:
            cur = conn.cursor()
            cur.execute(f"SELECT * FROM {self.dialect.quote(table)} LIMIT 0")
            return {self.dialect.normalize_identifier(d[0]) for d in cur.description}
        except Exception:  # noqa: BLE001
            return None
