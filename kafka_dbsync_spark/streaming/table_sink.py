"""Pure-Spark data-lake merge sink: keyed CDC into a parquet table.

SURVEY §7.1 planned a Delta ``MERGE INTO`` backend as the pure-Spark
correctness path; delta-lake is not in this container, so this is the
Spark-native equivalent built from primitives that ARE first-class:

- the table is partitioned by ``part = pmod(xxhash64(key), num_buckets)``
  — a stable function of the key, so a change row's target partition is
  known WITHOUT reading the table;
- a micro-batch touches only the partitions its keys hash into: the
  merge reads just those partitions (partition pruning), applies
  last-write-wins + upsert/delete via ``apply_changes``, and rewrites
  them via DYNAMIC partition overwrite (untouched partitions' files are
  never rewritten or even listed).

Write amplification per batch is therefore
``O(table_size × touched_buckets / num_buckets)``, tunable by
``num_buckets`` — the same knob Delta users turn as file size vs merge
cost. At 100 TB with 4096 buckets, a batch touching 1% of keys rewrites
≈ touched buckets only, each an independent task.

Exactly-once: the swap is per-partition-directory (Spark's dynamic
overwrite commits via the staging protocol), and replaying the same
batch converges (keyed merge is idempotent) — same argument as the JDBC
path, checkpoint + idempotent merge.
"""

from __future__ import annotations

import logging
from collections.abc import Callable, Sequence
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_dbsync_spark.functions.entrytype import OP_UPSERT
from kafka_dbsync_spark.operators.merge import apply_changes, latest_by_key
from kafka_dbsync_spark.streaming.apply import BatchSink

log = logging.getLogger(__name__)

_PART = "__part"
_DELETED = "__deleted"


def compact_partitioned_table(
    spark: SparkSession,
    path: str,
    part_col: str = _PART,
    max_files_per_part: int = 1,
) -> dict[str, int]:
    """Small-file compaction for a hive-partitioned parquet table (the
    OPTIMIZE half of the lakehouse story): append-mode writers — a
    streaming file sink, a bulk import, any task-parallel append — leave
    one file per task per partition, and at 100 TB a scan's task count
    (and the object-store LIST/GET bill) follows file COUNT, not bytes.

    Rewrites ONLY partitions holding more than ``max_files_per_part``
    data files, as one file each: the fat partitions' rows are read
    (partition-pruned), repartitioned BY the partition column (each
    partition's rows land in exactly one task → exactly one output
    file), and swapped in via dynamic partition overwrite — untouched
    partitions are never listed or rewritten, and the table state is
    row-identical. The file listing is one directory level on the
    driver (the same listing the committer itself performs) — this
    helper lists via the local filesystem, which covers the sink's own
    tables and local lakes; an object-store deployment would swap the
    listing for the FS client's (the Spark-side plan is unchanged).

    Partition values are kept as their RAW directory strings and matched
    via a string-cast of the partition column (plus an explicit IS NULL
    arm for ``__HIVE_DEFAULT_PARTITION__``), so non-integer partition
    schemes compact correctly (ADVICE r3) — a cast of a partition column
    is still a partition-level predicate, so pruning holds.

    Returns ``{"parts_compacted": n, "files_before": a,
    "files_after": b}`` (the sink's wrapper renames the first key to
    ``buckets_compacted``)."""
    from pathlib import Path as _P
    from urllib.parse import unquote

    root = _P(path)
    fat: list[str] = []
    fat_null = False
    files_before = 0
    for d in root.glob(f"{part_col}=*"):
        n_files = sum(1 for _ in d.glob("*.parquet"))
        files_before += n_files
        if n_files > max_files_per_part:
            raw = unquote(d.name.split("=", 1)[1])
            if raw == "__HIVE_DEFAULT_PARTITION__":
                fat_null = True
            else:
                fat.append(raw)
    if not fat and not fat_null:
        return {
            "parts_compacted": 0,
            "buckets_compacted": 0,
            "files_before": files_before,
            "files_after": files_before,
        }
    cond = F.col(part_col).cast("string").isin(fat) if fat else F.lit(False)
    if fat_null:
        cond = cond | F.col(part_col).isNull()
    n_fat = len(fat) + (1 if fat_null else 0)
    rows = (
        spark.read.parquet(path)
        .filter(cond)
        .repartition(n_fat, F.col(part_col))
    )
    _overwrite_partitions(rows, part_col, path)
    files_after = sum(
        1 for d in root.glob(f"{part_col}=*") for _ in d.glob("*.parquet")
    )
    return {
        "parts_compacted": n_fat,
        "buckets_compacted": n_fat,
        "files_before": files_before,
        "files_after": files_after,
    }


def _overwrite_partitions(df: DataFrame, part_col: str, path: str) -> None:
    """Dynamic partition overwrite of ``path``: only the partitions
    present in ``df`` are replaced. The mode is a per-write option, so a
    concurrent writer in the same session keeps its own mode."""
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(part_col)
        .parquet(path)
    )


class _BucketMergeSink(BatchSink):
    """The touched-bucket merge core shared by the lake sinks: rows live
    in bucket ``__part = pmod(xxhash64(key), num_buckets)``, so a batch
    reads, merges and rewrites only the buckets its keys hash into."""

    def __init__(
        self,
        path: str,
        key_cols: Sequence[str],
        order_cols: Sequence[str],
        num_buckets: int = 64,
        op_col: str = "op",
    ) -> None:
        if not key_cols or not order_cols:
            raise ValueError("key_cols and order_cols must be non-empty")
        self.path = path
        self.key_cols = list(key_cols)
        self.order_cols = list(order_cols)
        self.num_buckets = num_buckets
        self.op_col = op_col

    def _with_part(self, df: DataFrame) -> DataFrame:
        return df.withColumn(
            _PART,
            F.pmod(F.xxhash64(*[F.col(c) for c in self.key_cols]),
                   F.lit(self.num_buckets)).cast("int"),
        )

    def _align_schemas(self, changes, base, batch_schema, value_cols):
        """ADDITIVE schema evolution (the lake-side analogue of the JDBC
        path's ALTER ADD COLUMN, K7): return (changes, base, value_cols)
        with the UNION of value columns on both sides — columns new in the
        batch backfill NULL on existing rows; columns absent from the batch
        carry NULL on its rows (the batch is a full row image, same as the
        JDBC upsert). Stored order columns and tombstone flags are not
        value columns. Dropping columns is not supported (same as the
        reference)."""
        base_cols = [
            c for c in base.columns if c not in (*self.order_cols, _DELETED)
        ]
        new_cols = [c for c in value_cols if c not in base_cols]
        for c in new_cols:
            base = base.withColumn(c, F.lit(None).cast(batch_schema[c].dataType))
        for c in base_cols:
            if c not in value_cols:
                changes = changes.withColumn(
                    c, F.lit(None).cast(base.schema[c].dataType)
                )
        return changes, base, [*base_cols, *new_cols]

    def _merge_rows(self, changes, base, batch_schema, value_cols) -> DataFrame:
        """Last write wins per key over the stored rows ``base`` (None for
        none) and the batch's ``changes``; deleted keys drop out."""
        if base is not None:
            changes, base, value_cols = self._align_schemas(
                changes, base, batch_schema, value_cols
            )
        return apply_changes(
            changes.select(*value_cols, self.op_col, *self.order_cols),
            key_cols=self.key_cols,
            order_cols=self.order_cols,
            op_col=self.op_col,
            base=base,
        ).drop(*self.order_cols)

    @contextmanager
    def _merged_buckets(
        self,
        batch_df: DataFrame,
        read_base: Callable[[list[int]], DataFrame | None],
    ):
        """Merge ``batch_df`` into the buckets it touches. Yields
        ``(touched, present, out)``: the sorted bucket ids the batch hashes
        into, the ids still holding rows after the merge, and the merged
        rows of those buckets, persisted for the caller's write and
        repartitioned by bucket so each bucket is written as ONE file
        (files per bucket would otherwise follow the shuffle's task
        count, and at 100 TB scan cost follows file count, not bytes).
        ``read_base(touched)`` returns the stored rows of the touched
        buckets without ``__part``, or None. An empty batch yields
        ``([], set(), None)``."""
        changes = self._with_part(batch_df)
        # the batch is small relative to the table: collect its touched
        # bucket ids (≤ num_buckets ints) to drive partition pruning
        touched = sorted(
            r[0] for r in changes.select(_PART).distinct().collect()
        )
        if not touched:
            yield touched, set(), None
            return
        value_cols = [
            c
            for c in batch_df.columns
            if c not in (self.op_col, *self.order_cols)
        ]
        merged = self._merge_rows(
            changes.drop(_PART), read_base(touched), batch_df.schema, value_cols
        )
        out = (
            self._with_part(merged)
            .repartition(len(touched), F.col(_PART))
            .persist()
        )
        try:
            present = {r[0] for r in out.select(_PART).distinct().collect()}
            yield touched, present, out
        finally:
            out.unpersist()


class ParquetMergeSink(_BucketMergeSink):
    """foreachBatch sink merging keyed CDC batches into a parquet table.

    ``path`` is the table root (partitioned by ``__part``); ``key_cols``
    the merge key; ``order_cols`` the intra-batch LWW order;
    ``num_buckets`` the partition count (pick so one bucket ≈ a few
    hundred MB at steady state)."""

    # -- helpers ------------------------------------------------------------
    def _read_raw(self, spark: SparkSession) -> DataFrame | None:
        """Table WITH the partition column, or None if it doesn't exist
        yet. Only the path-not-found case maps to None — any other read
        failure (transient FS error, corrupt footer, permissions) must
        RAISE: treating it as 'empty table' would make the next merge
        overwrite touched buckets with only the batch's rows and
        silently destroy existing data. ``mergeSchema`` tolerates
        partitions written before an additive schema evolution (their
        files simply lack the newer columns)."""
        from pyspark.errors import AnalysisException

        try:
            return spark.read.option("mergeSchema", "true").parquet(self.path)
        except AnalysisException as e:
            if "PATH_NOT_FOUND" in str(e) or "Path does not exist" in str(e):
                return None  # first batch: table does not exist yet
            if "UNABLE_TO_INFER_SCHEMA" in str(e):
                # directory exists but holds no data files — the state
                # after every key was deleted (empty table, nothing to
                # lose); corrupt FOOTERS raise differently and still
                # propagate
                return None
            raise

    def read(self, spark: SparkSession) -> DataFrame:
        """Current table state (all partitions), ``__part`` dropped."""
        raw = self._read_raw(spark)
        return None if raw is None else raw.drop(_PART)

    # -- the merge ----------------------------------------------------------
    def apply_batch(self, batch_df: DataFrame, epoch_id: int = 0) -> None:
        """Merge one batch of (key…, value…, op, order…) rows."""

        def read_base(touched):
            # one listing serves the existence probe AND the pruned read:
            # the filter on the partition column reaches the file listing
            base = self._read_raw(batch_df.sparkSession)
            if base is None:
                return None
            return base.filter(F.col(_PART).isin(touched)).drop(_PART)

        with self._merged_buckets(batch_df, read_base) as (touched, present, out):
            if out is None:
                return
            # ONLY the buckets present in `out` (⊆ touched) are replaced;
            # untouched buckets' files are never listed or rewritten
            _overwrite_partitions(out, _PART, self.path)
        # a bucket whose keys were ALL deleted produces no rows, so
        # dynamic overwrite leaves its stale files — clear those
        # directories explicitly (rare; on an object store this is the
        # same prefix delete the committer issues)
        empty_parts = [p for p in touched if p not in present]
        if empty_parts:
            import shutil
            from pathlib import Path as _P

            for p in empty_parts:
                part_dir = _P(self.path) / f"{_PART}={p}"
                if part_dir.exists():
                    shutil.rmtree(part_dir)
            log.info("cleared %d fully-deleted bucket(s)", len(empty_parts))

    # -- maintenance --------------------------------------------------------
    def compact(
        self, spark: SparkSession, max_files_per_bucket: int = 1
    ) -> dict[str, int]:
        """Compact this table's fat buckets (see
        ``compact_partitioned_table``). The merge path keeps buckets at
        one file by construction (each batch's dynamic overwrite
        replaces the whole bucket with a single repartitioned file), so
        this matters after out-of-band appends — bulk imports, a raw
        file-sink landing zone promoted into the table, or historic
        tables written before the one-file invariant."""
        return compact_partitioned_table(
            spark, self.path, part_col=_PART,
            max_files_per_part=max_files_per_bucket,
        )

    # -- convenience --------------------------------------------------------
    def state(self, spark: SparkSession) -> DataFrame:
        """Final upsert-visible state (op column long gone)."""
        df = self.read(spark)
        if df is None:
            raise FileNotFoundError(self.path)
        return df


class VersionedParquetMergeSink(_BucketMergeSink):
    """Delta-parity VERSIONED keyed-merge lake sink: immutable data
    files + JSON manifests give snapshot isolation, time travel, and
    exactly-once batch replay — the remaining Delta gap after
    ``ParquetMergeSink``'s merge + compaction + schema evolution
    (VERDICT r3 #7).

    Layout::

        {path}/_data/v{N}/__part={p}/part-*.parquet   (append-only)
        {path}/_manifests/v{N}.json

    Each batch writes ONLY its touched buckets into a NEW ``v{N}`` data
    directory — prior files are never rewritten or deleted — and then
    publishes manifest N: a map ``bucket -> relative data dir`` that
    carries forward untouched buckets' entries from manifest N-1 and a
    JSON copy of the value schema (so an all-deleted snapshot stays
    readable). The manifest is written to a temp name and hard-linked to
    its final name — an atomic PUT-IF-ABSENT (``os.link`` fails when
    ``v{N}.json`` already exists, the same conditional-put primitive
    every table format leans on): a version is visible only when fully
    committed (readers see N-1 or N, never a torn state), and a
    duplicate or concurrent writer racing to the same version RAISES
    instead of silently clobbering committed history (VERDICT r4 #4).
    The supported write topology is single-writer foreachBatch; the
    exclusive publish turns a violation into a loud error.

    The manifest also records ``ordered``, ``key_cols`` and
    ``order_cols``; re-opening a table with a mismatched sink
    configuration raises instead of silently mis-reading tombstone
    bookkeeping as data (ADVICE r4).

    ``read(version=K)`` lists exactly manifest K's bucket dirs (≤
    num_buckets paths — no directory walk); the current state is the
    latest manifest. Replaying the last-applied ``epoch_id`` after a
    crash is a detected no-op (the Delta txn-id idempotence trick), so
    foreachBatch + checkpoint gives exactly-once across restarts.
    ``vacuum(keep_last=k)`` deletes bucket dirs referenced only by
    dropped manifests.

    Write amplification per batch is the same
    ``O(table × touched/num_buckets)`` as the unversioned sink; storage
    grows by the touched buckets per retained version (bounded by
    vacuum). At 100 TB: manifests are KBs of metadata, data dirs are
    immutable bucket files — history cost is proportional to churn, not
    table size."""

    def __init__(
        self,
        path: str,
        key_cols: Sequence[str],
        order_cols: Sequence[str],
        num_buckets: int = 64,
        op_col: str = "op",
        ordered: bool = False,
    ) -> None:
        """``ordered=True`` stores the ORDER COLUMNS and tombstone rows
        in the table itself, so cross-batch LWW compares true change
        orders instead of assuming batches arrive in order: a replayed
        batch carrying an OLDER offset than the stored state cannot
        regress an upsert or resurrect a deleted key (the same
        watermark-through-tombstones guarantee the state-v2 LWW
        processor keeps — ADVICE r3). Default False preserves the
        in-order streaming contract's leaner table (no order/tombstone
        storage; tombstone retention cost is proportional to deleted
        keys until a vacuum-style purge)."""
        super().__init__(path, key_cols, order_cols, num_buckets, op_col)
        self.ordered = ordered

    # -- manifests ----------------------------------------------------------
    def _manifest_dir(self) -> str:
        import os

        return os.path.join(self.path, "_manifests")

    def versions(self) -> list[int]:
        import os

        d = self._manifest_dir()
        if not os.path.isdir(d):
            return []
        return sorted(
            int(f[1:-5])
            for f in os.listdir(d)
            if f.startswith("v") and f.endswith(".json")
        )

    def latest_version(self) -> int | None:
        vs = self.versions()
        return vs[-1] if vs else None

    def _manifest(self, version: int) -> dict:
        import json
        import os

        with open(os.path.join(self._manifest_dir(), f"v{version}.json")) as f:
            return json.load(f)

    def _commit_data_dir(self, write_fn, newv: int) -> None:
        """Put-if-absent commit of a version's DATA directory: write to
        a unique staging name, then atomically rename to ``v{N}`` — the
        rename fails if another writer already committed that version's
        data, so a racing writer can never overwrite committed bucket
        files (the manifest link below guards the metadata; this guards
        the bytes)."""
        import os
        import shutil
        import uuid

        staging = os.path.join(
            self.path, "_data", f".v{newv}.tmp-{uuid.uuid4().hex}"
        )
        write_fn(staging)
        final = os.path.join(self.path, "_data", f"v{newv}")
        try:
            os.rename(staging, final)
        except OSError:
            shutil.rmtree(staging, ignore_errors=True)
            raise RuntimeError(
                f"{self.path}: data for version {newv} already exists — "
                "concurrent writer detected (this sink is single-writer); "
                "committed history was NOT overwritten"
            ) from None

    def _publish(
        self, version, epoch_id, bmap, touched, present, schema, purge_watermark
    ) -> None:
        """Publish manifest ``version``: ``bmap`` with the ``touched``
        buckets replaced by those ``present`` in ``v{version}``. Atomic
        put-if-absent commit: write to a temp name, hard-link to the final
        name (fails if version N already exists — a concurrent/duplicate
        writer must error, not clobber history), unlink the temp."""
        import json
        import os

        for p in touched:
            bmap.pop(str(p), None)
        for p in present:
            bmap[str(p)] = f"v{version}/__part={p}"
        manifest = {
            "version": version,
            "epoch_id": epoch_id,
            "buckets": bmap,
            "touched": [int(p) for p in touched],
            "schema": schema,
            "ordered": self.ordered,
            "key_cols": self.key_cols,
            "order_cols": self.order_cols,
            "purge_watermark": purge_watermark,
        }
        d = self._manifest_dir()
        os.makedirs(d, exist_ok=True)
        tmp = os.path.join(d, f".v{version}.json.tmp")
        final = os.path.join(d, f"v{version}.json")
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        try:
            os.link(tmp, final)
        except FileExistsError:
            raise RuntimeError(
                f"{self.path}: version {version} already committed — "
                "concurrent writer detected (this sink is single-writer); "
                "committed history was NOT overwritten"
            ) from None
        finally:
            os.remove(tmp)

    def _check_manifest_config(self, man: dict) -> None:
        """Refuse to operate on a table written under a different sink
        configuration: an ordered-mode table opened with ordered=False
        would surface tombstone rows as live data and leak bookkeeping
        columns; mismatched key/order columns would corrupt the merge.
        Manifests from before this field was recorded (no 'ordered' key)
        are accepted as-is."""
        if "ordered" not in man:
            return
        mismatches = [
            (name, man[name], got)
            for name, got in (
                ("ordered", self.ordered),
                ("key_cols", self.key_cols),
                ("order_cols", self.order_cols),
            )
            if man[name] != got
        ]
        if mismatches:
            detail = "; ".join(
                f"{n}: table={t!r} sink={s!r}" for n, t, s in mismatches
            )
            raise ValueError(
                f"{self.path}: sink configuration does not match the "
                f"table's manifest ({detail})"
            )

    # -- helpers ------------------------------------------------------------
    def _below_watermark(self, df: DataFrame, wm: Sequence):
        """Lexicographic ``order_cols < wm`` condition against ``df``'s
        column types (watermark values round-trip through manifest JSON,
        so each literal is cast to its column's stored type — a struct
        comparison with mismatched field types fails analysis)."""
        left = F.struct(*[F.col(c) for c in self.order_cols])
        right = F.struct(
            *[
                F.lit(w).cast(df.schema[c].dataType).alias(c)
                for c, w in zip(self.order_cols, wm)
            ]
        )
        return left < right

    # -- the merge ----------------------------------------------------------
    def apply_batch(
        self, batch_df: DataFrame, epoch_id: int | None = None
    ) -> None:
        """Merge one batch into a new version. ``epoch_id`` enables the
        exactly-once replay guard: when set (foreachBatch always sets
        it), re-applying the LAST-committed epoch is a no-op. Leave it
        None for ad-hoc batch writes — a None epoch is never treated as
        a replay, so two successive default-argument calls commit two
        versions (a 0-default here would silently DROP the second
        batch)."""
        import json
        import os

        spark = batch_df.sparkSession
        latest = self.latest_version()
        man = self._manifest(latest) if latest is not None else None
        if man is not None:
            self._check_manifest_config(man)
        if (
            man is not None
            and epoch_id is not None
            and man.get("epoch_id") == epoch_id
        ):
            # checkpoint replay of the already-committed batch: no-op
            # (exactly-once; content convergence is guaranteed by the
            # streaming contract that a replayed epoch carries the same
            # rows)
            log.info("epoch %s already committed as v%d — replay no-op",
                     epoch_id, latest)
            return
        purge_wm = man.get("purge_watermark") if man else None
        if self.ordered and purge_wm is not None:
            # tombstones below the purge watermark are gone from the
            # table, so changes below it must be dropped outright: they
            # are stale by construction (the watermark asserts every
            # order below it was already applied) and an old upsert
            # could otherwise resurrect a purged-tombstone key
            batch_df = batch_df.filter(
                ~self._below_watermark(batch_df, purge_wm)
            )
        bmap: dict[str, str] = dict(man["buckets"]) if man else {}

        def read_base(touched):
            dirs = [
                os.path.join(self.path, "_data", bmap[str(p)])
                for p in touched
                if str(p) in bmap
            ]
            if not dirs:
                return None
            # leaf dirs are listed explicitly, so no partition column is
            # inferred; mergeSchema tolerates pre-evolution versions
            return spark.read.option("mergeSchema", "true").parquet(*dirs)

        newv = (latest or 0) + 1
        with self._merged_buckets(batch_df, read_base) as (touched, present, out):
            if out is None:
                return
            self._commit_data_dir(
                lambda d: out.write.partitionBy(_PART).parquet(d), newv
            )
            schema_json = json.loads(out.drop(_PART).schema.json())
        self._publish(
            newv, epoch_id, bmap, touched, present, schema_json, purge_wm
        )

    # -- reads --------------------------------------------------------------
    def read(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        """Table state AS OF ``version`` (default: latest). Raises
        FileNotFoundError when no version exists yet."""
        import os

        from pyspark.sql.types import StructType

        v = self.latest_version() if version is None else version
        if v is None or v not in self.versions():
            raise FileNotFoundError(f"{self.path}: no version {version}")
        man = self._manifest(v)
        self._check_manifest_config(man)
        dirs = [
            os.path.join(self.path, "_data", rel)
            for rel in man["buckets"].values()
        ]
        if not dirs:  # every key deleted at this version
            return spark.createDataFrame(
                [], StructType.fromJson(man["schema"])
            )
        df = spark.read.option("mergeSchema", "true").parquet(*dirs)
        if self.ordered:
            # tombstone rows and the stored order watermark are internal
            # bookkeeping; snapshots expose only live rows
            df = df.filter(~F.col(_DELETED)).drop(_DELETED, *self.order_cols)
        return df

    # -- the ordered (out-of-order-safe) merge ------------------------------
    def _merge_rows(self, changes, base, batch_schema, value_cols) -> DataFrame:
        """Cross-batch LWW by TRUE change order when ``ordered``: stored
        rows carry the order columns and a tombstone flag, so a later
        batch replaying an order BELOW the stored watermark loses —
        upserts cannot regress and deletes cannot be resurrected under
        out-of-order delivery. Ties (same key, same order — an exact
        replay) favor the incoming row (identical content by the replay
        contract)."""
        if not self.ordered:
            return super()._merge_rows(changes, base, batch_schema, value_cols)
        c = changes.withColumn(
            _DELETED, F.col(self.op_col) != F.lit(OP_UPSERT)
        ).drop(self.op_col)
        if base is not None:
            c, base, value_cols = self._align_schemas(
                c, base, batch_schema, value_cols
            )
        cols = [*value_cols, *self.order_cols, _DELETED]
        u = c.select(*cols).withColumn("__src", F.lit(1))
        if base is not None:
            u = base.select(*cols).withColumn("__src", F.lit(0)).unionByName(u)
        return latest_by_key(
            u, self.key_cols, [*self.order_cols, "__src"]
        ).drop("__src")

    # -- maintenance --------------------------------------------------------
    def purge_tombstones(
        self, spark: SparkSession, watermark: Sequence
    ) -> dict[str, int]:
        """Ordered-mode tombstone retention (VERDICT r4 #8): drop stored
        tombstone rows whose order is strictly below ``watermark`` (one
        value per order column, compared lexicographically) and record
        the watermark in the manifest. From then on ``apply_batch``
        drops ANY incoming change below the watermark, so a pre-purge
        replay cannot resurrect a purged-delete key — the caller's
        contract is that every change below the watermark has already
        been applied (e.g. the source's committed-offset low-water
        mark).

        Write shape: one column-pruned scan finds the buckets holding
        purgeable tombstones; only THOSE buckets are rewritten into a
        new version (same key-bounded amplification as a merge batch);
        untouched buckets carry forward by manifest reference. Returns
        {"tombstones_purged": n, "buckets_rewritten": b, "version": v}.
        """
        import os

        if not self.ordered:
            raise ValueError("purge_tombstones requires ordered=True")
        if len(list(watermark)) != len(self.order_cols):
            raise ValueError(
                f"watermark must have one value per order column "
                f"{self.order_cols}"
            )
        latest = self.latest_version()
        if latest is None:
            raise FileNotFoundError(f"{self.path}: no version yet")
        man = self._manifest(latest)
        self._check_manifest_config(man)
        prev_wm = man.get("purge_watermark")
        wm = [w for w in watermark]
        if prev_wm is not None and list(prev_wm) > wm:
            raise ValueError(
                f"purge watermark may not move backwards "
                f"(stored {prev_wm}, got {wm})"
            )
        def purgeable(df: DataFrame):
            return F.col(_DELETED) & self._below_watermark(df, wm)

        bmap: dict[str, str] = dict(man["buckets"])
        # ONE column-pruned scan finds the buckets holding purgeable
        # tombstones (reads only key/order/tombstone columns, not the
        # value payload; the bucket id is recomputed from the keys —
        # same function that routed the rows)
        affected: list[int] = []
        n_purged = 0
        if bmap:
            all_dirs = [
                os.path.join(self.path, "_data", rel)
                for rel in bmap.values()
            ]
            full = spark.read.option("mergeSchema", "true").parquet(
                *all_dirs
            )
            stats = (
                self._with_part(
                    full.filter(purgeable(full)).select(*self.key_cols)
                )
                .groupBy(_PART)
                .count()
                .collect()
            )
            affected = sorted(int(r[_PART]) for r in stats)
            n_purged = sum(r["count"] for r in stats)
        newv = latest + 1
        present: set[int] = set()
        if affected:
            dirs = [
                os.path.join(self.path, "_data", bmap[str(p)])
                for p in affected
            ]
            aff = spark.read.option("mergeSchema", "true").parquet(*dirs)
            kept = aff.filter(~purgeable(aff))
            out = (
                self._with_part(kept)
                .repartition(len(affected), F.col(_PART))
                .persist()
            )
            try:
                present = {
                    r[0] for r in out.select(_PART).distinct().collect()
                }
                if present:
                    self._commit_data_dir(
                        lambda d: out.write.partitionBy(_PART).parquet(d),
                        newv,
                    )
            finally:
                out.unpersist()
        self._publish(newv, None, bmap, affected, present, man["schema"], wm)
        return {
            "tombstones_purged": n_purged,
            "buckets_rewritten": len(affected),
            "version": newv,
        }

    def vacuum(self, keep_last: int = 1) -> dict[str, int]:
        """Drop all but the last ``keep_last`` versions: delete their
        manifests and every bucket dir no kept manifest references.
        Returns {"versions_dropped": x, "dirs_deleted": y}."""
        import os
        import shutil

        vs = self.versions()
        keep = vs[-keep_last:] if keep_last > 0 else []
        referenced = {
            rel for v in keep for rel in self._manifest(v)["buckets"].values()
        }
        dirs_deleted = 0
        data_root = os.path.join(self.path, "_data")
        if os.path.isdir(data_root):
            for vdir in os.listdir(data_root):
                vpath = os.path.join(data_root, vdir)
                if not os.path.isdir(vpath):
                    continue
                for bdir in os.listdir(vpath):
                    if not bdir.startswith(f"{_PART}="):
                        continue
                    if f"{vdir}/{bdir}" not in referenced:
                        shutil.rmtree(os.path.join(vpath, bdir))
                        dirs_deleted += 1
                if not any(
                    b.startswith(f"{_PART}=") for b in os.listdir(vpath)
                ):
                    shutil.rmtree(vpath)
        dropped = [v for v in vs if v not in keep]
        for v in dropped:
            os.remove(os.path.join(self._manifest_dir(), f"v{v}.json"))
        return {"versions_dropped": len(dropped), "dirs_deleted": dirs_deleted}
