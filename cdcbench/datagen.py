"""Seeded generator of Kafka-shaped IIDR change records, plus the pure-Python
last-write-wins (LWW) reference the benchmark checks the program against.

A record is what the Spark Kafka source yields with ``includeHeaders=true``:
key/value JSON bytes, ``TableName``/``A_ENTTYP``/``A_TIMSTAMP`` headers, and
topic/partition/offset/timestamp. Records are written as parquet files that a
file source (batch or streaming) reads in place of a broker.

A key always maps to the same partition (``ID % PARTITIONS``) and offsets rise
per partition across every batch a generator emits, so "last by
(partition, offset)" is also the order the records were produced in.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PARTITIONS = 4
UPSERT_CODES = ("PT", "UP", "RR")
DELETE_CODE = "DL"
#: not an IIDR entry type: the pipeline routes it to the dead-letter table
CORRUPT_CODE = "XX"
STATUSES = ("NEW", "PAID", "SHIPPED", "CLOSED")
VALUE_COLS = ("ORDER_NAME", "AMOUNT", "STATUS")

ARROW_SCHEMA = pa.schema(
    [
        ("key", pa.binary()),
        ("value", pa.binary()),
        (
            "headers",
            pa.list_(pa.struct([("key", pa.string()), ("value", pa.binary())])),
        ),
        ("topic", pa.string()),
        ("partition", pa.int32()),
        ("offset", pa.int64()),
        ("timestamp", pa.timestamp("us")),
    ]
)

#: the same schema as a Spark DDL string, for ``readStream.schema``
SPARK_SCHEMA = (
    "key BINARY, value BINARY, headers ARRAY<STRUCT<key: STRING, value: BINARY>>,"
    " topic STRING, partition INT, offset BIGINT, timestamp TIMESTAMP"
)

_EPOCH = dt.datetime(2026, 1, 1)


@dataclass
class Batch:
    """One generated batch, column-wise. ``codes`` holds the A_ENTTYP header;
    a row's value is ``None`` for deletes."""

    tables: list[str]
    ids: np.ndarray
    codes: list[str]
    names: list[str]
    amounts: list[float]
    statuses: list[str]
    partitions: np.ndarray
    offsets: np.ndarray

    def __len__(self) -> int:
        return len(self.ids)

    def changed_keys(self) -> list[tuple[str, int]]:
        """Distinct (table, ID) pairs of the valid records, in first-seen order."""
        seen: dict[tuple[str, int], None] = {}
        for t, k, c in zip(self.tables, self.ids.tolist(), self.codes):
            if c != CORRUPT_CODE:
                seen.setdefault((t, k), None)
        return list(seen)

    def select(self, mask: np.ndarray) -> "Batch":
        """The records where ``mask`` is true, in order."""
        idx = np.flatnonzero(mask).tolist()
        return Batch(
            [self.tables[i] for i in idx], self.ids[idx], [self.codes[i] for i in idx],
            [self.names[i] for i in idx], [self.amounts[i] for i in idx],
            [self.statuses[i] for i in idx], self.partitions[idx], self.offsets[idx],
        )

    def to_arrow(self) -> pa.Table:
        keys, values, headers, stamps = [], [], [], []
        for i, (t, k, c) in enumerate(zip(self.tables, self.ids.tolist(), self.codes)):
            keys.append(b'{"ID":%d}' % k)
            if c == DELETE_CODE:
                values.append(None)
            else:
                values.append(
                    (
                        '{"ID":%d,"ORDER_NAME":"%s","AMOUNT":%.2f,"STATUS":"%s"}'
                        % (k, self.names[i], self.amounts[i], self.statuses[i])
                    ).encode()
                )
            ts = _EPOCH + dt.timedelta(microseconds=int(self.offsets[i]))
            stamps.append(ts)
            headers.append(
                [
                    {"key": "TableName", "value": t.encode()},
                    {"key": "A_ENTTYP", "value": c.encode()},
                    {
                        "key": "A_TIMSTAMP",
                        "value": ts.strftime("%Y-%m-%d %H:%M:%S.%f000000").encode(),
                    },
                ]
            )
        return pa.table(
            {
                "key": keys,
                "value": values,
                "headers": headers,
                "topic": [f"iidr.CDC.{t}" for t in self.tables],
                "partition": self.partitions.astype(np.int32),
                "offset": self.offsets.astype(np.int64),
                "timestamp": stamps,
            },
            schema=ARROW_SCHEMA,
        )

    def write(self, path: str) -> int:
        """Write the batch as one parquet file; returns its size in bytes."""
        pq.write_table(self.to_arrow(), path)
        return os.path.getsize(path)


@dataclass
class ChangeGenerator:
    """Stateful, seeded source of change batches.

    ``key_space`` keys per table; ``hot_keys``/``hot_share`` skew key choice
    (``hot_share`` of the records draw from the first ``hot_keys`` keys);
    ``delete_share`` and ``corrupt_share`` are the shares of DL and
    unknown-code records. The same seed and call sequence give the same
    batches."""

    seed: int
    tables: tuple[str, ...]
    key_space: int
    delete_share: float = 0.10
    corrupt_share: float = 0.0
    hot_keys: int = 0
    hot_share: float = 0.0
    rng: np.random.Generator = field(init=False)
    next_offset: np.ndarray = field(init=False)
    version: int = field(init=False, default=0)

    def __post_init__(self) -> None:
        self.rng = np.random.default_rng(self.seed)
        self.next_offset = np.zeros(PARTITIONS, dtype=np.int64)

    def _offsets(self, partitions: np.ndarray) -> np.ndarray:
        offsets = np.empty(len(partitions), dtype=np.int64)
        for p in range(PARTITIONS):
            idx = np.flatnonzero(partitions == p)
            offsets[idx] = self.next_offset[p] + np.arange(len(idx))
            self.next_offset[p] += len(idx)
        return offsets

    def _batch(self, tables: list[str], ids: np.ndarray, codes: list[str]) -> Batch:
        n = len(ids)
        self.version += 1
        # round through the JSON text so the reference holds the exact
        # double the program parses
        amounts = [float("%.2f" % a) for a in self.rng.uniform(1, 10_000, n).tolist()]
        statuses = [STATUSES[i] for i in self.rng.integers(0, len(STATUSES), n)]
        names = [f"o{k}v{self.version}" for k in ids.tolist()]
        partitions = (ids % PARTITIONS).astype(np.int32)
        return Batch(
            tables, ids, codes, names, amounts, statuses,
            partitions, self._offsets(partitions),
        )

    def batch(self, n: int) -> Batch:
        """``n`` change records (upserts, deletes, corrupt) over the key space."""
        rng = self.rng
        ids = rng.integers(0, self.key_space, n)
        if self.hot_keys:
            hot = rng.random(n) < self.hot_share
            ids[hot] = rng.integers(0, self.hot_keys, int(hot.sum()))
        tables = [self.tables[i] for i in rng.integers(0, len(self.tables), n)]
        u = rng.random(n)
        upsert = rng.integers(0, len(UPSERT_CODES), n)
        codes = [
            DELETE_CODE if x < self.delete_share
            else CORRUPT_CODE if x < self.delete_share + self.corrupt_share
            else UPSERT_CODES[c]
            for x, c in zip(u.tolist(), upsert.tolist())
        ]
        return self._batch(tables, ids, codes)

    def snapshot(self, table: str, n_keys: int) -> Batch:
        """One upsert per key ``0..n_keys-1`` of ``table`` (a lake seed)."""
        ids = np.arange(n_keys, dtype=np.int64)
        return self._batch([table] * n_keys, ids, ["PT"] * n_keys)


class LwwReference:
    """Expected target state: per table, the last record by (partition,
    offset) wins and a delete drops the key. Corrupt records change nothing
    and are counted as expected dead-letter rows."""

    def __init__(self) -> None:
        self.tables: dict[str, dict[int, tuple]] = {}
        self.corrupt = 0

    def apply(self, batch: Batch) -> None:
        order = np.lexsort((batch.offsets, batch.partitions))
        for i in order.tolist():
            code = batch.codes[i]
            if code == CORRUPT_CODE:
                self.corrupt += 1
                continue
            rows = self.tables.setdefault(batch.tables[i], {})
            k = int(batch.ids[i])
            if code == DELETE_CODE:
                rows.pop(k, None)
            else:
                rows[k] = (batch.names[i], batch.amounts[i], batch.statuses[i])

    def lookup(self, table: str, keys) -> dict[int, tuple]:
        rows = self.tables.get(table, {})
        return {k: rows[k] for k in keys if k in rows}
