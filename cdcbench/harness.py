"""Run one workload: set up several times, measure a closed loop, check the
result against the LWW reference, and (traced runs) break it down by layer.

End-to-end metrics come from untraced runs. A traced run adds the event log,
spans around the program's public entry points, a timing connection factory,
the streaming progress reports, noop-sink probes of decode and the LWW
shuffle, and a single-thread (local[1]) baseline.
"""

from __future__ import annotations

import os
import platform
import sys
import time
from pathlib import Path

from cdcbench import eventlog
from cdcbench.stats import mean, median, percentile, tail_percentile
from cdcbench.tracing import covered
from cdcbench.workloads import DLQ_TABLE, WORKLOADS, Settings, Workload

#: runs of each noop-sink probe (after one warm-up run)
PROBE_REPS = 3
#: runs of the batch-mode unit at each core count (after one warm-up run)
UNIT_REPS = 2
#: a timed batch counts towards the end-to-end metrics only if the host's
#: steal time (summed over its vCPUs) stayed at or below this many seconds
#: per second of the batch: the hypervisor running other guests on the
#: host's cores slows every thread alike, and says nothing of the program
STEAL_LIMIT = 0.1
#: batches the end-to-end metrics are taken over, at least
MIN_CLEAN = 4


# -- host and process ----------------------------------------------------------
def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_kb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_memory() -> str:
    """An eighth of the host's memory, between 1 and 4 GiB: the heap the
    workloads need with room to spare, on a host other programs share."""
    mb = min(max(mem_total_kb() // 8 // 1024, 1024), 4096)
    return f"{mb}m"


def vm_hwm_mb(pid: int | str = "self") -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"VmHWM missing for pid {pid}")


def heap_peaks_mb(spark) -> dict[str, float]:
    """High-water mark of each JVM heap pool's used bytes (G1 Eden Space,
    Survivor Space, Old Gen), from the pools' MXBeans."""
    mgmt = spark._jvm.java.lang.management.ManagementFactory
    return {
        str(pool.getName()): pool.getPeakUsage().getUsed() / 2**20
        for pool in mgmt.getMemoryPoolMXBeans()
        if pool.getType().name() == "HEAP"
    }


def steal_s() -> float:
    """CPU time the hypervisor gave to others while this host's vCPUs were
    runnable, summed over all vCPUs, since boot."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def host_context(spark=None) -> dict:
    ctx = {
        "nproc": host_cores(),
        "mem_total_kb": mem_total_kb(),
        "loadavg": list(os.getloadavg()),
        "python": platform.python_version(),
    }
    if spark is not None:
        import pyspark

        ctx["pyspark"] = pyspark.__version__
        ctx["java"] = spark._jvm.System.getProperty("java.version")
    return ctx


def spark_conf(s: Settings, event_log: bool) -> dict:
    conf = {
        "spark.driver.memory": driver_memory(),
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(s.work / "spark-local"),
        "spark.sql.warehouse.dir": str(s.work / "warehouse"),
        # no hsperfdata file in the system temp directory
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={s.work / 'tmp'} -XX:-UsePerfData -Xms{driver_memory()} "
            # the fixed heap is touched at start, so the JVM's VmHWM does not
            # depend on which heap regions a run happened to allocate from
            "-XX:+AlwaysPreTouch "
            # two JIT compiler threads and few GC threads: with the tasks'
            # cores they stay within the host's cores
            "-XX:CICompilerCount=2 -XX:ParallelGCThreads=2 -XX:ConcGCThreads=1"
        ),
        "spark.sql.streaming.numRecentProgressUpdates": "10000",
    }
    if event_log:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": (s.work / "eventlog").as_uri(),
            "spark.eventLog.compress": "false",
            # one plain file per application, named by its id
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def start_session(s: Settings, cores: int, event_log: bool):
    from kafka_dbsync_spark import get_spark

    return get_spark(
        app_name="cdcbench", cpus=cores, shuffle_partitions=cores,
        extra_conf=spark_conf(s, event_log),
    )


def stop_jvm(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - the JVM must not outlive the run
            proc.kill()
            proc.wait()


# -- the run -------------------------------------------------------------------
def run(name: str, s: Settings) -> tuple[dict, dict]:
    """Returns (result, detail): ``result`` is the benchmark's output line."""
    wl: Workload = WORKLOADS[name](s)
    for d in ("tmp", "spark-local", "eventlog"):
        (s.work / d).mkdir(parents=True, exist_ok=True)
    load_start = list(os.getloadavg())
    steal_start = steal_s()
    t_gen = time.perf_counter()
    wl.generate()
    gen_s = time.perf_counter() - t_gen

    spark = None
    try:
        # one cold set-up: the run is a fresh process, so this pays for the
        # package imports, the JVM launch and the JIT's first batch
        t0 = time.perf_counter()
        spark = start_session(s, s.cores, event_log=s.trace)
        t1 = time.perf_counter()
        wl.setup(spark, s.work / "home")
        setup_s = time.perf_counter() - t0
        session_s = t1 - t0
        t2 = time.perf_counter()
        wl.preroll(spark)
        preroll_s = time.perf_counter() - t2

        pids = ("self", jvm_pid(spark))
        cpu_start = sum(cpu_s(p) for p in pids)
        jvm_start = jvm_counters(spark)
        samples, loop_error, wall = closed_loop(wl, spark, s.seconds)
        loop_cpu_s = sum(cpu_s(p) for p in pids) - cpu_start
        jvm_end = jvm_counters(spark)
        bad_reads = wl.read_problems(samples)
        problems = wl.final_state_problems(spark, len(samples))
        if loop_error:
            problems.insert(0, loop_error)
        # ops: every timed batch (with its read), a batch that raised, and
        # the final-state comparison
        attempted = len(samples) + (1 if loop_error else 0) + 1
        failed = bad_reads + (1 if loop_error else 0) + (1 if problems else 0)

        detail = {
            "workload": name,
            "seed": s.seed,
            "cores": s.cores,
            "driver_memory": driver_memory(),
            "input_generation_s": gen_s,
            "setup_s": setup_s,
            "session_start_s": session_s,
            "preroll_s": preroll_s,
            "batches": len(samples),
            "timed_wall_s": wall,
            "timed_cpu_s": loop_cpu_s,
            "timed_jvm": {k: jvm_end[k] - jvm_start[k] for k in jvm_end},
            "commit_s": [x.commit_s for x in samples],
            "batch_steal_rate": [steal_rate(x) for x in samples],
            "read_s": [x.read_s for x in samples],
            "error_rate": failed / attempted,
            "problems": problems,
        }
        detail["read_p50_s"] = median(detail["read_s"])
        tail_p = tail_percentile(len(samples))
        detail["commit_tail"] = {
            "percentile": tail_p,
            "samples": len(samples),
            "value_s": percentile(detail["commit_s"], tail_p) if tail_p else None,
        }
        measured = measured_batches(samples)
        picked = {id(x) for x in measured}
        detail["measured_batches"] = [i for i, x in enumerate(samples) if id(x) in picked]
        detail["events_per_s_all_batches"] = sum(x.events for x in samples) / wall if wall else 0.0
        events_per_s = (sum(x.events for x in measured)
                        / sum(x.attrs["cycle_s"] for x in measured)) if measured else 0.0
        detail["host"] = host_context(spark)
        detail["host"]["loadavg_start"] = load_start

        if s.trace:
            metrics = trace_metrics(wl, spark, s, samples, session_s, events_per_s, detail)
        else:
            metrics = {
                "setup_s": (setup_s, "s"),
                "events_per_s": (events_per_s, "events/s"),
                "commit_p50_s": (median(x.commit_s for x in measured), "s"),
                "peak_rss_mb": (vm_hwm_mb() + vm_hwm_mb(jvm_pid(spark)), "MB"),
            }
        detail["host"]["loadavg_end"] = list(os.getloadavg())
        detail["host"]["steal_s"] = steal_s() - steal_start
        result = {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
        return result, detail
    finally:
        wl.teardown()
        if spark is not None:
            stop_jvm(spark)


def cpu_s(pid: int | str = "self") -> float:
    """User plus system CPU time of a process (its threads included)."""
    with open(f"/proc/{pid}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def jvm_counters(spark) -> dict[str, float]:
    """Classes loaded, JIT compile time and GC time of the JVM so far."""
    mgmt = spark._jvm.java.lang.management.ManagementFactory
    return {
        "classes_loaded": mgmt.getClassLoadingMXBean().getTotalLoadedClassCount(),
        "jit_s": mgmt.getCompilationMXBean().getTotalCompilationTime() / 1e3,
        "gc_s": sum(b.getCollectionTime() for b in mgmt.getGarbageCollectorMXBeans()) / 1e3,
    }


def jvm_pid(spark) -> int:
    return int(spark._jvm.ProcessHandle.current().pid())


def steal_rate(sample) -> float:
    """Host steal seconds (all vCPUs) per second of the batch's cycle."""
    return sample.attrs["steal_s"] / sample.attrs["cycle_s"]


def measured_batches(samples: list) -> list:
    """The batches the end-to-end metrics are taken over: those during which
    the hypervisor took at most ``STEAL_LIMIT`` of the host, or, when fewer
    than ``MIN_CLEAN`` were, the ``MIN_CLEAN`` least stolen."""
    ranked = sorted(samples, key=steal_rate)
    clean = [x for x in ranked if steal_rate(x) <= STEAL_LIMIT]
    return clean if len(clean) >= MIN_CLEAN else ranked[:MIN_CLEAN]


def closed_loop(wl: Workload, spark, seconds: float):
    """Run operations back to back until ``seconds`` have passed and at
    least ``MIN_CLEAN`` of them ran on a quiet host, for at most
    ``2 * seconds``."""
    samples = []
    t_start = time.perf_counter()
    error = None

    def more() -> bool:
        elapsed = time.perf_counter() - t_start
        clean = sum(steal_rate(x) <= STEAL_LIMIT for x in samples)
        return elapsed < seconds or (elapsed < 2 * seconds and clean < MIN_CLEAN)

    while more():
        t0, steal_before = time.perf_counter(), steal_s()
        try:
            sample = wl.step(spark, len(samples))
        except Exception as e:  # noqa: BLE001 - a failed batch is a measured outcome
            error = f"batch {len(samples)} raised {type(e).__name__}: {str(e)[:500]}"
            print(f"# {error}", file=sys.stderr)
            break
        if sample is None:
            break
        sample.attrs["steal_s"] = steal_s() - steal_before
        sample.attrs["cycle_s"] = time.perf_counter() - t0
        samples.append(sample)
    wall = time.perf_counter() - t_start
    if wl.tracer is not None:
        # later spans (probes, the baseline) belong to no timed batch
        wl.tracer.batch = wl.tracer.batch_span = None
    return samples, error, wall


# -- the traced run ------------------------------------------------------------
def noop_seconds(df_fn, reps: int = PROBE_REPS) -> float:
    """Median time to materialise ``df_fn()`` into the noop sink."""
    times = []
    for i in range(reps + 1):
        t0 = time.perf_counter()
        df_fn().write.format("noop").mode("overwrite").save()
        if i:
            times.append(time.perf_counter() - t0)
    return median(times)


def probes(wl: Workload, spark) -> dict:
    """Decode+SMT and decode+SMT+LWW materialised with the noop sink on one
    representative input, so their cost can be told apart from the apply."""
    from pyspark.sql import functions as F

    from kafka_dbsync_spark.operators.merge import latest_by_key
    from kafka_dbsync_spark.plans.pipeline import build_transform_chain

    from cdcbench.datagen import SPARK_SCHEMA
    from cdcbench.workloads import extract

    path = str(wl.probe_input())
    chain = build_transform_chain(wl.transforms)

    def raw():
        return spark.read.schema(SPARK_SCHEMA).parquet(path)

    def decoded():
        return chain(extract(raw()))

    def valid():
        df = decoded()
        return df.filter(F.col("error_reason").isNull()) if "error_reason" in df.columns else df

    def lww():
        return latest_by_key(valid(), wl.lww_keys, ["partition", "offset"])

    out = {
        "scan_s": noop_seconds(raw),
        "decode_s": noop_seconds(decoded),
        "decode_lww_s": noop_seconds(lww),
    }
    rows_in, rows_out = valid().count(), lww().count()
    out["lww_s"] = max(out["decode_lww_s"] - out["decode_s"], 0.0)
    out["collapse_ratio"] = rows_in / rows_out if rows_out else 0.0
    return out


def unit_seconds(wl: Workload, spark, home: Path) -> float:
    home.mkdir(parents=True, exist_ok=True)
    times = []
    for i in range(UNIT_REPS + 1):
        t0 = time.perf_counter()
        wl.unit(spark, home)
        if i:
            times.append(time.perf_counter() - t0)
    return median(times)


def per_batch(spans, samples, fn) -> list[float]:
    """``fn(spans of one batch)`` for each timed batch."""
    by_batch: dict[int, list] = {}
    for sp in spans:
        by_batch.setdefault(sp.batch, []).append(sp)
    return [fn(by_batch.get(i, [])) for i in range(len(samples))]


def trace_metrics(wl, spark, s, samples, session_s, events_per_s, detail) -> dict:
    tracer = wl.tracer
    timed = [sp for sp in tracer.spans if sp.batch is not None and sp.batch < len(samples)]
    named = lambda spans, name: [sp for sp in spans if sp.name == name]  # noqa: E731

    # streaming progress of the timed batches (empty for batch-mode passes)
    progress = {}
    if getattr(wl, "query", None) is not None:
        by_id = {p["batchId"]: p for p in wl.query.recentProgress}
        progress = {i: by_id[x.epoch] for i, x in enumerate(samples) if x.epoch in by_id}

    def dur(i, *keys):
        d = progress.get(i, {}).get("durationMs", {}) if progress else {}
        return sum(d.get(k, 0) for k in keys) / 1e3

    n = len(samples)
    idx = range(n)
    pr = probes(wl, spark)
    jobs_tracker = [x.attrs.get("jobs", 0) for x in samples]

    db_calls = ("target.executemany", "target.execute", "target.commit")

    def db_time(spans):
        return sum(sp.duration for sp in spans if sp.name in db_calls)

    def driver_wait(spans):
        conns = named(spans, "target.connection")
        return sum(
            c.duration - covered([(x.start, x.end) for x in spans
                                  if x.parent == c.id], c.start, c.end)
            for c in conns
        )

    def em(spans, dlq: bool | None = None):
        return [sp for sp in named(spans, "target.executemany")
                if dlq is None or ((DLQ_TABLE in sp.attrs["sql"]) == dlq)]

    apply_s = per_batch(timed, samples, lambda sp: sum(x.duration for x in named(sp, "streaming.apply")))
    merge_spans = per_batch(timed, samples, lambda sp: named(sp, "streaming.table_sink.merge"))
    merge_s = [sum(x.duration for x in m) for m in merge_spans]
    read_s = [sp.duration for sp in named(tracer.spans, "streaming.table_sink.read")
              if sp.batch is not None and sp.batch < n]
    mattr = lambda key: [sum(x.attrs.get(key, 0) for x in m) for m in merge_spans]  # noqa: E731
    bytes_rewritten = mattr("bytes_rewritten")

    app_id = spark.sparkContext.applicationId
    # memory high-water marks before the single-thread baseline starts
    py_hwm, jvm_hwm = vm_hwm_mb(), vm_hwm_mb(jvm_pid(spark))
    heap = heap_peaks_mb(spark)
    unit_n = unit_seconds(wl, spark, s.work / "unit")
    wl.teardown()
    # stopping the timed context completes its event log
    spark.stop()
    rows = eventlog.reduce_events(eventlog.read_log(s.work / "eventlog" / app_id))
    keys = [x.attrs.get("batch_key") for x in samples]
    ev = [rows.get(k, eventlog.BatchRow()) for k in keys]
    single = start_session(s, 1, event_log=False)
    try:
        unit_1 = unit_seconds(wl, single, s.work / "unit1")
    finally:
        single.stop()

    if progress:
        get_batch = [dur(i, "latestOffset", "getBatch") for i in idx]
        trigger = [dur(i, "triggerExecution") - dur(i, "addBatch") for i in idx]
        wal = [dur(i, "walCommit", "commitOffsets") for i in idx]
        planning = [dur(i, "queryPlanning") for i in idx]
        input_rows = [progress[i]["numInputRows"] for i in idx]
    else:
        get_batch = [pr["scan_s"]] * n
        trigger = per_batch(timed, samples, lambda sp: sum(
            tracer.self_time(x) for x in named(sp, "plans.run_batch")))
        wal = planning = [0.0] * n
        input_rows = [x.events for x in samples]

    # a layer the workload bypasses reads 0
    m = {
        "session.start_s": (session_s, "s"),
        "sources.input_rows": (median(input_rows), "count"),
        "sources.get_batch_s": (mean(get_batch), "s"),
        "sources.decode_s": (pr["decode_s"], "s"),
        "plans.trigger_overhead_s": (mean(trigger), "s"),
        "plans.wal_commit_s": (mean(wal), "s"),
        "plans.query_planning_s": (mean(planning), "s"),
        "operators.merge.lww_s": (pr["lww_s"], "s"),
        "operators.merge.collapse_ratio": (pr["collapse_ratio"], "ratio"),
        "operators.merge.shuffle_write_bytes": (median(r.shuffle_write_bytes for r in ev), "bytes"),
        "streaming.apply.apply_s": (median(apply_s), "s"),
        "streaming.apply.driver_wait_s": (median(per_batch(timed, samples, driver_wait)), "s"),
        "streaming.apply.spark_jobs_per_batch": (median(jobs_tracker), "count"),
        "streaming.apply.spark_tasks_per_batch": (median(r.tasks for r in ev), "count"),
        "streaming.apply.driver_rows": (median(per_batch(timed, samples, lambda sp: sum(
            x.attrs["rows"] for x in em(sp)))), "count"),
        "streaming.apply.connections_per_batch": (median(per_batch(timed, samples, lambda sp: len(
            named(sp, "target.connection")))), "count"),
        "streaming.apply.dlq_rows": (median(per_batch(timed, samples, lambda sp: sum(
            x.attrs["rows"] for x in em(sp, dlq=True)))), "count"),
        "target.executemany_s": (median(per_batch(timed, samples, lambda sp: sum(
            x.duration for x in em(sp)))), "s"),
        "target.executemany_calls": (median(per_batch(timed, samples, lambda sp: len(em(sp)))), "count"),
        "target.commit_s": (median(per_batch(timed, samples, lambda sp: sum(
            x.duration for x in named(sp, "target.commit")))), "s"),
        "target.rows_written": (median(per_batch(timed, samples, lambda sp: sum(
            x.attrs["rowcount"] for x in em(sp, dlq=False)))), "count"),
        "streaming.table_sink.merge_s": (median(merge_s), "s"),
        "streaming.table_sink.read_s": (median(read_s), "s"),
        "streaming.table_sink.buckets_touched": (median(mattr("buckets_touched")), "count"),
        "streaming.table_sink.files_rewritten": (median(mattr("files_rewritten")), "count"),
        "streaming.table_sink.bytes_rewritten": (median(bytes_rewritten), "bytes"),
        "streaming.table_sink.write_amplification": (median(
            b / x.input_bytes for b, x in zip(bytes_rewritten, samples)), "ratio"),
        "streaming.table_sink.table_files": (
            merge_spans[-1][-1].attrs.get("table_files", 0) if n and merge_spans[-1] else 0, "count"),
        "spark.executor_run_s": (median(r.executor_run_s for r in ev), "s"),
        "spark.executor_cpu_s": (median(r.executor_cpu_s for r in ev), "s"),
        "spark.jvm_gc_s": (mean(r.jvm_gc_s for r in ev), "s"),
        "spark.shuffle_read_bytes": (median(r.shuffle_read_bytes for r in ev), "bytes"),
        "spark.spill_bytes": (median(r.spill_bytes for r in ev), "bytes"),
        "spark.parallel_speedup": (unit_1 / unit_n if unit_n else 0.0, "ratio"),
        "spark.eventlog_jobs_per_batch": (median(r.jobs for r in ev), "count"),
        "spark.job_count_mismatches": (sum(
            1 for r, j in zip(ev, jobs_tracker) if r.jobs != j), "count"),
        "mem.driver_py_hwm_mb": (py_hwm, "MB"),
        "mem.jvm_hwm_mb": (jvm_hwm, "MB"),
        # the fixed heap sets most of the JVM's VmHWM; the pools' used
        # high-water marks follow the program's allocation and live set
        "mem.jvm_heap_peak_mb": (sum(heap.values()), "MB"),
        "mem.jvm_old_gen_peak_mb": (
            sum(v for k, v in heap.items() if "Old" in k), "MB"),
        "trace.events_per_s": (events_per_s, "events/s"),
    }

    # self time per layer and batch: spans and progress give the blocking
    # steps; decode and the LWW shuffle run inside the apply's Spark jobs,
    # so the noop-sink probes apportion that share
    layers = {}
    for i, x in enumerate(samples):
        db = db_time([sp for sp in timed if sp.batch == i])
        inner = pr["decode_s"] + pr["lww_s"]
        if progress:
            add_batch = dur(i, "addBatch")
            row = {
                "loop": x.commit_s - dur(i, "triggerExecution"),
                "plans": trigger[i] - get_batch[i],
                "sources": get_batch[i] + pr["decode_s"],
            }
        else:
            add_batch = apply_s[i]
            row = {"loop": x.commit_s - apply_s[i], "plans": trigger[i],
                   "sources": pr["decode_s"]}
            row["loop"] -= trigger[i]
        row["operators.merge"] = pr["lww_s"]
        if merge_s[i]:
            row["streaming.table_sink"] = add_batch - inner
        else:
            row["target"] = db
            row["streaming.apply"] = add_batch - inner - db
        for k, v in row.items():
            layers.setdefault(k, []).append(v)
    self_time = {k: median(v) for k, v in layers.items()}
    detail["trace"] = {
        "self_time_s": self_time,
        "dominant_layer": max(self_time, key=self_time.get) if self_time else None,
        "probes": pr,
        "unit_local_n_s": unit_n,
        "unit_local_1_s": unit_1,
        "per_batch_eventlog": eventlog.as_json(dict(zip(keys, ev))),
        "spans": tracer.to_json(),
    }
    return m
