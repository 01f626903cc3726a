"""Reduce a Spark event log to a per-batch table of jobs, stages and tasks.

A job belongs to the batch named by its local properties: the micro-batch
id Structured Streaming sets (``streaming.sql.batchId``) or, for batch-mode
passes, the job group the benchmark sets (``spark.jobGroup.id``). Jobs with
neither are left out.
"""

from __future__ import annotations

import json
from collections import defaultdict
from dataclasses import asdict, dataclass
from pathlib import Path

BATCH_PROPERTY = "streaming.sql.batchId"
GROUP_PROPERTY = "spark.jobGroup.id"


@dataclass
class BatchRow:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    jvm_gc_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


def batch_key(properties: dict) -> str | None:
    if properties.get(BATCH_PROPERTY) is not None:
        return f"batch-{properties[BATCH_PROPERTY]}"
    return properties.get(GROUP_PROPERTY)


def reduce_events(events) -> dict[str, BatchRow]:
    """Per-batch rows from an iterable of decoded event-log records."""
    stage_batch: dict[int, str] = {}
    rows: dict[str, BatchRow] = defaultdict(BatchRow)
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            key = batch_key(ev.get("Properties") or {})
            if key is None:
                continue
            rows[key].jobs += 1
            for sid in ev.get("Stage IDs", ()):
                stage_batch[sid] = key
        elif kind == "SparkListenerStageCompleted":
            key = stage_batch.get(ev["Stage Info"]["Stage ID"])
            if key is not None:
                rows[key].stages += 1
        elif kind == "SparkListenerTaskEnd":
            key = stage_batch.get(ev["Stage ID"])
            metrics = ev.get("Task Metrics")
            if key is None or metrics is None:
                continue
            row = rows[key]
            row.tasks += 1
            row.executor_run_s += metrics.get("Executor Run Time", 0) / 1e3
            row.executor_cpu_s += metrics.get("Executor CPU Time", 0) / 1e9
            row.jvm_gc_s += metrics.get("JVM GC Time", 0) / 1e3
            read = metrics.get("Shuffle Read Metrics") or {}
            row.shuffle_read_bytes += read.get("Remote Bytes Read", 0) + read.get(
                "Local Bytes Read", 0
            )
            write = metrics.get("Shuffle Write Metrics") or {}
            row.shuffle_write_bytes += write.get("Shuffle Bytes Written", 0)
            row.spill_bytes += metrics.get("Memory Bytes Spilled", 0) + metrics.get(
                "Disk Bytes Spilled", 0
            )
    return dict(rows)


def read_log(path: str | Path):
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            if line.strip():
                yield json.loads(line)


def as_json(rows: dict[str, BatchRow]) -> dict[str, dict]:
    return {k: asdict(v) for k, v in rows.items()}
