"""Run one workload of the CDC replication benchmark and print its result.

    python3 cdcbench/run.py --workload cdc_stream --seed 1 --seconds 15 --trace 0

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``. The
line before it is ``# detail {...}``: host context, per-batch latencies, the
commit tail, and (traced) the self time per layer. Everything the run writes
goes under ``.cdcbench_work/`` in the checkout and is removed at exit, except
the detail record, kept as ``.cdcbench_work/results/<workload>-s<seed>-t<trace>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "kafka_dbsync_spark" / "__init__.py").is_file():
        print(f"cdcbench: no kafka_dbsync_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from cdcbench.harness import host_cores, run
    from cdcbench.workloads import WORKLOADS, Settings

    if args.workload not in WORKLOADS:
        print(f"cdcbench: unknown workload {args.workload!r}; "
              f"one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    base = ROOT / ".cdcbench_work"
    work = base / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    # py4j and Spark's own temporary files stay inside the checkout
    os.environ["TMPDIR"] = str(work / "tmp")
    # the JVM spark-submit runs to build the driver's command line
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    tempfile.tempdir = str(work / "tmp")
    settings = Settings(
        work=work, seed=args.seed, seconds=args.seconds, trace=bool(args.trace),
        cores=max(host_cores() - 2, 1),
    )
    try:
        result, detail = run(args.workload, settings)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    results = base / "results"
    results.mkdir(parents=True, exist_ok=True)
    (results / f"{args.workload}-s{args.seed}-t{args.trace}.json").write_text(
        json.dumps({"result": result, "detail": detail}, indent=1)
    )
    summary = {k: v for k, v in detail.items() if k != "trace"}
    if "trace" in detail:
        summary["trace"] = {k: v for k, v in detail["trace"].items()
                            if k not in ("spans", "per_batch_eventlog")}
    print("# detail " + json.dumps(summary))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
