"""Unit tests for the benchmark's own helpers (no Spark session needed).

    python3 -m pytest cdcbench/tests -q
"""

from __future__ import annotations

import numpy as np
import pytest

from cdcbench import eventlog
from cdcbench.datagen import Batch, ChangeGenerator, LwwReference
from cdcbench.harness import MIN_CLEAN, STEAL_LIMIT, measured_batches, steal_rate
from cdcbench.stats import percentile, quartile_spread, tail_percentile
from cdcbench.tracing import Tracer, covered
from cdcbench.workloads import Sample


def _gen(seed):
    return ChangeGenerator(seed=seed, tables=("A", "B"), key_space=100,
                           corrupt_share=0.05, hot_keys=10, hot_share=0.5)


def test_generator_is_deterministic_for_a_seed():
    a, b, c = _gen(7), _gen(7), _gen(8)
    for _ in range(3):
        ta, tb, tc = (g.batch(200).to_arrow() for g in (a, b, c))
        assert ta.equals(tb)
        assert not ta.equals(tc)


def test_generator_offsets_rise_per_partition_across_batches():
    g = _gen(1)
    first, second = g.batch(300), g.batch(300)
    for p in np.unique(first.partitions):
        assert first.offsets[first.partitions == p].max() < (
            second.offsets[second.partitions == p].min()
        )


def _f1() -> Batch:
    """FIXTURES F1 canonical sequence: PT(1), PT(2), PT(3), UP(2), DL(3)."""
    ids = np.array([1, 2, 3, 2, 3])
    return Batch(
        tables=["TEST_ORDERS"] * 5,
        ids=ids,
        codes=["PT", "PT", "PT", "UP", "DL"],
        names=["one", "two", "three", "two-updated", "three"],
        amounts=[1.0, 2.0, 3.0, 20.5, 3.0],
        statuses=["NEW", "NEW", "NEW", "SHIPPED", "NEW"],
        partitions=np.zeros(5, dtype=np.int32),
        offsets=np.arange(5),
    )


def test_lww_reference_on_fixture_f1():
    ref = LwwReference()
    ref.apply(_f1())
    assert ref.tables == {
        "TEST_ORDERS": {1: ("one", 1.0, "NEW"), 2: ("two-updated", 20.5, "SHIPPED")}
    }
    assert ref.corrupt == 0


def test_lww_reference_orders_by_offset_not_arrival_and_counts_corrupt():
    b = _f1()
    # the update arrives first in the file but carries the later offset
    b.offsets = np.array([0, 1, 2, 9, 4])
    b.codes[0] = "XX"
    ref = LwwReference()
    ref.apply(b)
    assert ref.tables["TEST_ORDERS"] == {2: ("two-updated", 20.5, "SHIPPED")}
    assert ref.corrupt == 1


@pytest.mark.parametrize(
    "n,expected",
    [(0, None), (5, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0),
     (99, 75.0), (100, 90.0), (200, 95.0), (1000, 99.0), (10_000, 99.9)],
)
def test_tail_percentile_leaves_ten_samples_beyond(n, expected):
    p = tail_percentile(n)
    assert p == expected
    if p is not None:
        values = list(range(1, n + 1))
        assert sum(v > percentile(values, p) for v in values) >= 10


def test_percentile_is_nearest_rank():
    assert percentile([5, 1, 4, 2, 3], 50) == 3
    assert percentile(list(range(1, 101)), 90) == 90
    assert quartile_spread([1, 2, 3, 4, 5]) == pytest.approx((4.5 - 1.5) / 3)


def _job(job_id, stages, **props):
    return {"Event": "SparkListenerJobStart", "Job ID": job_id,
            "Stage IDs": stages, "Properties": props}


def _task(stage, run_ms, cpu_ns, gc_ms=0, read=0, write=0, spill=0):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns,
            "JVM GC Time": gc_ms, "Memory Bytes Spilled": spill,
            "Disk Bytes Spilled": 0,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": read},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": write},
        },
    }


def _stage_done(stage):
    return {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": stage}}


def test_eventlog_reducer_on_canned_log():
    log = [
        {"Event": "SparkListenerApplicationStart"},
        _job(0, [0, 1], **{"spark.jobGroup.id": "run", "streaming.sql.batchId": "3"}),
        _task(0, 100, 50_000_000, gc_ms=10, write=400),
        _task(0, 300, 150_000_000, write=600),
        _stage_done(0),
        _task(1, 200, 100_000_000, read=1000, spill=64),
        _stage_done(1),
        # a second job of the same batch whose stage was skipped
        _job(1, [2], **{"spark.jobGroup.id": "run", "streaming.sql.batchId": "3"}),
        # batch-mode pass attributed by job group
        _job(2, [3], **{"spark.jobGroup.id": "pass-0"}),
        _task(3, 1000, 900_000_000),
        _stage_done(3),
        # no batch and no group: left out
        _job(3, [4]),
        _task(4, 5000, 1),
        _stage_done(4),
    ]
    rows = eventlog.as_json(eventlog.reduce_events(log))
    assert rows == {
        "batch-3": {
            "jobs": 2, "stages": 2, "tasks": 3, "executor_run_s": pytest.approx(0.6),
            "executor_cpu_s": pytest.approx(0.3), "jvm_gc_s": pytest.approx(0.01),
            "shuffle_read_bytes": 1000, "shuffle_write_bytes": 1000, "spill_bytes": 64,
        },
        "pass-0": {
            "jobs": 1, "stages": 1, "tasks": 1, "executor_run_s": pytest.approx(1.0),
            "executor_cpu_s": pytest.approx(0.9), "jvm_gc_s": 0.0,
            "shuffle_read_bytes": 0, "shuffle_write_bytes": 0, "spill_bytes": 0,
        },
    }


def test_self_time_subtracts_the_union_of_children():
    assert covered([(1, 3), (2, 4), (6, 7), (9, 12)], 0, 10) == pytest.approx(5)
    t = Tracer()
    parent = t.record("parent", 0.0, 10.0)
    t.record("a", 1.0, 3.0, parent.id)
    t.record("b", 2.0, 4.0, parent.id)
    t.record("grandchild", 2.5, 3.5, parent.id + 1)
    assert t.self_time(parent) == pytest.approx(7.0)


def _timed(commit_s: float, rate: float) -> Sample:
    """A timed batch of 2 s whose host steal rate was ``rate``."""
    return Sample(events=1, commit_s=commit_s, read_s=0.0, read_rows={},
                  attrs={"cycle_s": 2.0, "steal_s": 2.0 * rate})


def test_measured_batches_leave_out_stolen_ones_when_enough_are_quiet():
    quiet = [_timed(1.0 + i / 10, 0.01) for i in range(MIN_CLEAN)]
    stolen = [_timed(3.0, 0.5), _timed(2.5, STEAL_LIMIT * 1.5)]
    got = measured_batches([stolen[0], *quiet, stolen[1]])
    assert sorted(map(id, got)) == sorted(map(id, quiet))


def test_measured_batches_fall_back_to_the_least_stolen():
    got = measured_batches([_timed(2.0, r) for r in (0.9, 0.3, 0.5, 0.2, 0.7, 0.4)])
    assert sorted(steal_rate(x) for x in got) == [0.2, 0.3, 0.4, 0.5][:MIN_CLEAN]
