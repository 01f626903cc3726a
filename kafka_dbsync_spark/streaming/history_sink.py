"""SCD Type-2 history sink — the apply engine's audit-table twin.

Where ``CdcApplyEngine`` keeps the *latest* row per key, this engine
keeps *every version* with its validity interval. Its invariant is
replay idempotence across batches:

- intra-batch versions come from ``operators/history.py::scd2_history``
  (upserts open versions, the next change closes them, deletes close
  without emitting);
- the FIRST change per key in a batch closes the key's still-open
  version in the target table, and that UPDATE is guarded with
  ``valid_from < first_change`` so replaying a batch never closes its
  own freshly-opened versions;
- version rows upsert on PK ``(key…, valid_from)``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kafka_dbsync_spark.operators.history import scd2_history
from kafka_dbsync_spark.streaming.apply import (
    CdcApplyEngine,
    transaction,
    write_chunked,
)

_HISTORY_COLS = ("valid_from", "valid_to", "is_current")


class Scd2ApplyEngine(CdcApplyEngine):
    """Applies validated CDC micro-batches as SCD2 version history.

    Same constructor as ``CdcApplyEngine``; ``order_cols`` must name ONE
    column (the version timeline — e.g. the Kafka offset). The target
    table's PK is ``(pk_fields…, valid_from)``.
    """

    def apply_batch(self, batch_df: DataFrame, epoch_id: int = 0) -> None:
        # "auto" (the CdcApplyEngine default) resolves to driver-side
        # here: the history write has no executor path yet, so only an
        # EXPLICIT distribute=True is a caller error
        if self.distribute is True:
            raise NotImplementedError(
                "Scd2ApplyEngine writes driver-side; repartition-by-key "
                "executor write is a straightforward extension"
            )
        order_cols = self.order_cols or ["offset"]
        if len(order_cols) != 1:
            raise ValueError("history sink needs exactly one order column")
        order = order_cols[0]

        batch_df = batch_df.persist()
        try:
            valid = self._split_corrupt(batch_df)

            keyed = valid.select(
                self.table_col, *self.pk_fields, *self.value_cols,
                self.op_col, order,
            )
            versions = scd2_history(
                keyed, [self.table_col, *self.pk_fields], order, self.op_col
            ).select(
                self.table_col, *self.pk_fields, *self.value_cols,
                "valid_from", "valid_to",
                F.col("is_current").cast("int").alias("is_current"),
            )
            # first change per (table, key) closes the open version in
            # the target — min is partial-aggregated map-side
            closes = valid.groupBy(self.table_col, *self.pk_fields).agg(
                F.min(order).alias("__close_at")
            )

            tables = self._tables(valid)
            if len(tables) > 1:
                versions = versions.persist()
                closes = closes.persist()
            try:
                for table in tables:
                    self._apply_history_table(table, versions, closes)
            finally:
                if len(tables) > 1:
                    versions.unpersist()
                    closes.unpersist()
        finally:
            batch_df.unpersist()

    # -- per-table transaction ---------------------------------------------
    def _apply_history_table(
        self, table: str, versions: DataFrame, closes: DataFrame
    ) -> None:
        vdf = versions.filter(F.col(self.table_col) == table).drop(self.table_col)
        cdf = closes.filter(F.col(self.table_col) == table).drop(self.table_col)
        q, p = self.dialect.quote, self.dialect.placeholder
        where_pk = " AND ".join(f"{q(c)} = {p}" for c in self.pk_fields)
        close_sql = (
            f"UPDATE {q(table)} SET {q('valid_to')} = {p}, "
            f"{q('is_current')} = 0 "
            f"WHERE {where_pk} AND {q('valid_to')} IS NULL "
            f"AND {q('valid_from')} < {p}"
        )
        cols = [*self.pk_fields, *self.value_cols, *_HISTORY_COLS]
        version_pk = [*self.pk_fields, "valid_from"]
        upsert = self.dialect.upsert_sql(table, cols, version_pk)

        def close(r):
            at = r["__close_at"]
            return close_sql, (at, *[r[c] for c in self.pk_fields], at)

        with transaction(self.connection_factory) as conn:
            self._ensure_table(conn, table, vdf.schema, version_pk)
            cur = conn.cursor()
            # 1) close open versions for keys changed in this batch
            write_chunked(cur, cdf.toLocalIterator(prefetchPartitions=True), close)
            # 2) upsert version rows (PK = key + valid_from → replay-safe)
            write_chunked(
                cur,
                vdf.toLocalIterator(prefetchPartitions=True),
                lambda r: (upsert, tuple(r[c] for c in cols)),
            )
        self._known_tables.add(table)
