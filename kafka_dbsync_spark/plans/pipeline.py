"""Declarative pipeline assembly — the analog of the reference's connector
JSON configs (a source config + an SMT chain + a sink config become a
running pipeline).

A config is a plain dict (JSON-compatible), e.g.::

    {
      "transforms": [
        {"op": "route", "table_format": "${TableName}", "case": "lower"},
        {"op": "map_operation"},
        {"op": "validate"},
        {"op": "coerce", "overrides": {"created_at": "timestamp"}},
        {"op": "charset", "columns": ["name"], "charset": "big5"},
        {"op": "filter_table", "table": "TEST_ORDERS"},
      ],
      "sink": {"pk_fields": ["ID"], "value_cols": [...],
               "errors_tolerance": "log", "corrupt_table": "corrupt_events"}
    }

The transform chain order is declared, exactly like the reference's
``transforms=a,b`` lists (oracle-source-with-smt.json:22-25). Every
transform is a narrow DataFrame→DataFrame function, so the same chain
serves batch backfills (S6 snapshot) and Structured Streaming.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kafka_dbsync_spark.functions.charset import recover_legacy_charset
from kafka_dbsync_spark.operators.transforms import (
    case_convert,
    coerce_fields,
    filter_table,
    validate_iidr,
    with_operation,
    with_target_table,
)
from kafka_dbsync_spark.streaming.apply import CdcApplyEngine
from kafka_dbsync_spark.streaming.dialects import dialect_for

Transform = Callable[[DataFrame], DataFrame]


def _t_route(cfg) -> Transform:
    return lambda df: with_target_table(
        df, cfg.get("table_format", "${TableName}"), case=cfg.get("case", "none")
    )


def _t_map_operation(cfg) -> Transform:
    return lambda df: with_operation(df, cfg.get("entry_type_col", "entry_type"))


def _t_validate(cfg) -> Transform:
    return lambda df: validate_iidr(df)


def _t_filter_table(cfg) -> Transform:
    return lambda df: filter_table(
        df, cfg["table"], table_col=cfg.get("table_col", "target_table")
    )


def _t_coerce(cfg) -> Transform:
    return lambda df: coerce_fields(df, cfg["overrides"])


def _t_case(cfg) -> Transform:
    return lambda df: case_convert(df, cfg.get("case", "lower"))


def _t_charset(cfg) -> Transform:
    def fn(df: DataFrame) -> DataFrame:
        out = df
        topic_pattern = cfg.get("table_pattern")
        for col in cfg["columns"]:
            recovered = recover_legacy_charset(col, cfg.get("charset", "big5"))
            if topic_pattern:
                # per-table regex filter (LegacyCharsetTransform.java:106-116)
                recovered = F.when(
                    F.col(cfg.get("table_col", "table_name")).rlike(topic_pattern),
                    recovered,
                ).otherwise(F.col(col))
            out = out.withColumn(col, recovered)
        return out

    return fn


def _t_select(cfg) -> Transform:
    return lambda df: df.select(*cfg["columns"])


def _t_tombstone_filter(cfg) -> Transform:
    # drop null-value records (Mongo sink predicate, T13)
    return lambda df: df.filter(F.col(cfg.get("value_col", "record_value")).isNotNull())


def _t_bare_tombstone_filter(cfg) -> Transform:
    # drop compaction tombstones only (null value AND no op header, T13b)
    from kafka_dbsync_spark.operators.transforms import filter_bare_tombstones

    return lambda df: filter_bare_tombstones(
        df,
        value_col=cfg.get("value_col", "record_value"),
        entry_type_col=cfg.get("entry_type_col", "entry_type"),
    )


_TRANSFORMS: dict[str, Callable[[dict], Transform]] = {
    "route": _t_route,
    "map_operation": _t_map_operation,
    "validate": _t_validate,
    "filter_table": _t_filter_table,
    "coerce": _t_coerce,
    "case_convert": _t_case,
    "charset": _t_charset,
    "select": _t_select,
    "tombstone_filter": _t_tombstone_filter,
    "bare_tombstone_filter": _t_bare_tombstone_filter,
}


def build_transform_chain(transforms: Sequence[dict]) -> Transform:
    """Compose the declared transform list into one DataFrame function."""
    fns = [_TRANSFORMS[t["op"]](t) for t in transforms]

    def chain(df: DataFrame) -> DataFrame:
        for fn in fns:
            df = fn(df)
        return df

    return chain


class CdcPipeline:
    """source DataFrame (batch or streaming) + transform chain + merge sink.

    Streaming: ``start(stream_df, checkpoint)`` returns the
    StreamingQuery (checkpointed foreachBatch — offsets commit after each
    successful transactional apply, so recovery is exactly-once-effect).
    Batch/backfill: ``run_batch(df)`` applies the same chain once (S6
    snapshot seeding).
    """

    def __init__(self, config: dict, connection_factory) -> None:
        self.config = config
        self.chain = build_transform_chain(config.get("transforms", ()))
        # the sink config is the engine's keyword arguments, so the
        # engine's defaults hold and a misspelt key raises TypeError
        sink = dict(config["sink"])
        self.engine = CdcApplyEngine(
            connection_factory=connection_factory,
            dialect=dialect_for(sink.pop("dialect", "sqlite")),
            **sink,
        )

    def run_batch(self, df: DataFrame) -> None:
        self.engine.apply_batch(self.chain(df))

    def start(self, stream_df: DataFrame, checkpoint: str, **trigger):
        transformed = self.chain(stream_df)
        writer = (
            transformed.writeStream.foreachBatch(self.engine.foreach_batch())
            .option("checkpointLocation", checkpoint)
            .outputMode("update")
        )
        if trigger:
            writer = writer.trigger(**trigger)
        return writer.start()
