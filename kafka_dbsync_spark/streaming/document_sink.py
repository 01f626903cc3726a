"""Document-store (MongoDB-style) sink: whole-document replace by _id.

Mirrors the reference's MongoSinkConnector deployment
(hack/sink-mongodb/mongodb-sink.json):

- ``document.id.strategy`` = ProvidedInValue/ProvidedInKey — where the
  ``_id`` comes from (``id_strategy``: "value" | "key");
- ``writemodel.strategy`` = ReplaceOneDefaultStrategy — the whole
  document REPLACES the stored one (fields absent from the new document
  vanish — unlike the JDBC column-upsert, nothing merges);
- ``transforms.dropTombstones`` (RecordIsTombstone predicate) — null
  values are FILTERED, not applied as deletes (``tombstones``: "drop");
  set ``tombstones="delete"`` for the DeleteOne strategy instead.

No document database exists in this container, so the storage engine is
any DB-API target holding ``(_id TEXT PRIMARY KEY, doc TEXT)``; a real
MongoDB client plugs in at the ``write_chunked`` call (one bulk
ReplaceOne/DeleteOne per chunk).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kafka_dbsync_spark.operators.merge import latest_by_key
from kafka_dbsync_spark.streaming.apply import (
    BatchSink,
    transaction,
    write_chunked,
)


class DocumentApplyEngine(BatchSink):
    """foreachBatch engine applying micro-batches as document replaces.

    Expects columns: ``record_key`` / ``record_value`` (JSON strings) and
    an order column; extracts ``_id`` per ``id_strategy`` and keeps the
    whole value JSON as the document."""

    def __init__(
        self,
        connection_factory: Callable[[], object],
        collection: str,
        id_strategy: str = "value",  # 'value' | 'key' (ProvidedInValueStrategy)
        id_field: str = "_id",
        tombstones: str = "drop",  # 'drop' (reference config) | 'delete'
        order_col: str = "offset",
    ) -> None:
        if id_strategy not in ("value", "key"):
            raise ValueError(f"unsupported id strategy: {id_strategy}")
        if tombstones not in ("drop", "delete"):
            raise ValueError(f"unsupported tombstone mode: {tombstones}")
        if tombstones == "delete" and id_strategy == "value":
            # a tombstone's record_value is NULL, so a value-sourced _id
            # can never address the document to delete — every delete
            # would silently drop at the id filter (the reference's
            # DeleteOne strategy likewise requires ProvidedInKey)
            raise ValueError(
                "tombstones='delete' requires id_strategy='key' "
                "(a tombstone has no value to extract the _id from)"
            )
        self.connection_factory = connection_factory
        self.collection = collection
        self.id_strategy = id_strategy
        self.id_field = id_field
        self.tombstones = tombstones
        self.order_col = order_col
        self._created = False

    def apply_batch(self, batch_df: DataFrame, epoch_id: int = 0) -> None:
        src = F.col(
            "record_value" if self.id_strategy == "value" else "record_key"
        )
        with_id = batch_df.withColumn(
            "__id", F.get_json_object(src, f"$.{self.id_field}")
        )
        if self.tombstones == "drop":
            # RecordIsTombstone + Filter: tombstones never reach the store
            with_id = with_id.filter(F.col("record_value").isNotNull())
        # id-less documents cannot address a collection slot — the
        # connector would raise per record; we drop them (counting would
        # cost a second scan of the batch)
        with_id = with_id.filter(F.col("__id").isNotNull())
        deduped = latest_by_key(with_id, ["__id"], [self.order_col])
        rows = deduped.select("__id", "record_value").toLocalIterator(
            prefetchPartitions=True
        )
        replace = (
            f'INSERT INTO "{self.collection}" ("_id", "doc") VALUES (?, ?) '
            'ON CONFLICT ("_id") DO UPDATE SET "doc" = EXCLUDED."doc"'
        )
        delete = f'DELETE FROM "{self.collection}" WHERE "_id" = ?'

        def route(r):
            if r["record_value"] is None:  # reachable only in delete mode
                return delete, (r["__id"],)
            return replace, (r["__id"], r["record_value"])

        with transaction(self.connection_factory) as conn:
            cur = conn.cursor()
            if not self._created:
                cur.execute(
                    f'CREATE TABLE IF NOT EXISTS "{self.collection}" '
                    '("_id" TEXT PRIMARY KEY, "doc" TEXT)'
                )
            write_chunked(cur, rows, route)
        # only after commit: a rollback on a transactional-DDL target
        # undoes the CREATE, and a pre-set flag would make every retry
        # fail with "no such table"
        self._created = True
