"""Run every workload once untraced and once traced (same seed), and write
the per-layer record: which layer's self time dominates each workload, the
per-layer metrics, and the tracing overhead (traced ÷ untraced events/s).

    python3 cdcbench/report.py --seed 1

Writes ``cdcbench/TRACE_REPORT.md`` and ``cdcbench/trace_report.json``.
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

#: every workload, including cdc_backfill, which BENCHMARK.json leaves out
WORKLOADS = ("cdc_stream", "lake_merge", "cdc_backfill")
#: the layer the workload was built around
EXPECTED = {
    "cdc_stream": ("streaming.apply", "plans"),
    "lake_merge": ("streaming.table_sink",),
    "cdc_backfill": ("sources", "operators.merge"),
}


def run(workload: str, seed: int, seconds: float, trace: int) -> dict:
    cmd = [sys.executable, str(ROOT / "cdcbench" / "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if out.returncode != 0:
        raise RuntimeError(f"{workload} trace={trace} failed:\n{out.stderr[-3000:]}")
    lines = out.stdout.strip().splitlines()
    detail = json.loads(lines[-2].removeprefix("# detail "))
    return {"result": json.loads(lines[-1]), "detail": detail}


def fmt(v) -> str:
    return f"{v:.4g}" if isinstance(v, float) else str(v)


def main() -> int:
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=bench["run_seconds"])
    args = ap.parse_args()

    record = {}
    for w in WORKLOADS:
        plain = run(w, args.seed, args.seconds, 0)
        traced = run(w, args.seed, args.seconds, 1)
        e2e = plain["result"]["metrics"]
        layers = traced["result"]["metrics"]
        trace = traced["detail"]["trace"]
        record[w] = {
            "correct": plain["result"]["correct"] and traced["result"]["correct"],
            "end_to_end": {k: v["value"] for k, v in e2e.items()},
            "read_p50_s": plain["detail"]["read_p50_s"],
            "per_layer": {k: v["value"] for k, v in layers.items()},
            "self_time_s": trace["self_time_s"],
            "dominant_layer": trace["dominant_layer"],
            "expected_dominant": list(EXPECTED[w]),
            "tracing_overhead": layers["trace.events_per_s"]["value"]
            / e2e["events_per_s"]["value"],
            "batches_untraced": plain["detail"]["batches"],
            "commit_tail": plain["detail"]["commit_tail"],
            "host": plain["detail"]["host"],
            "cores": plain["detail"]["cores"],
        }
        print(f"{w}: dominant={trace['dominant_layer']}", flush=True)

    (ROOT / "cdcbench" / "trace_report.json").write_text(json.dumps(record, indent=1) + "\n")
    first = next(iter(record.values()))
    host = first["host"]
    lines = [
        "# Per-layer record",
        "",
        f"Generated by `python3 cdcbench/report.py --seed {args.seed}` "
        f"({args.seconds:g} s per run) on a host with {host['nproc']} cores and "
        f"{host['mem_total_kb'] // 1024} MB RAM; pyspark {host['pyspark']}, "
        f"Java {host['java']}, Python {host['python']}. Spark runs at "
        f"local[{first['cores']}].",
        "",
        "Self time per layer is the per-batch median. Decode and the LWW shuffle"
        " run inside the apply's Spark jobs; their share comes from noop-sink"
        " probes and is subtracted from the enclosing apply or merge span."
        " The tracing overhead compares one traced run with one untraced run,"
        " so it carries the run-to-run spread of events_per_s.",
        "",
        "| workload | dominant layer | built around | confirmed | tracing overhead |",
        "|---|---|---|---|---|",
    ]
    for w, r in record.items():
        ok = "yes" if r["dominant_layer"] in r["expected_dominant"] else "no"
        lines.append(
            f"| {w} | {r['dominant_layer']} | {' or '.join(r['expected_dominant'])} "
            f"| {ok} | traced/untraced events/s = {r['tracing_overhead']:.3f} |"
        )
    for w, r in record.items():
        lines += ["", f"## {w}", "", "Self time per batch (s): " + ", ".join(
            f"{k} {v:.3f}" for k, v in sorted(r["self_time_s"].items(), key=lambda kv: -kv[1]))]
        lines += ["", "End to end (untraced): " + ", ".join(
            f"{k} {fmt(v)}" for k, v in r["end_to_end"].items())
            + f"; read_p50_s (detail line) {fmt(r['read_p50_s'])}"]
        lines += ["", "| per-layer metric | value |", "|---|---|"]
        lines += [f"| {k} | {fmt(v)} |" for k, v in r["per_layer"].items()]
    (ROOT / "cdcbench" / "TRACE_REPORT.md").write_text("\n".join(lines) + "\n")
    return 0 if all(r["correct"] for r in record.values()) else 1


if __name__ == "__main__":
    sys.exit(main())
