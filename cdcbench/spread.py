"""Run one workload over several seeds, each in a fresh process, and report
each metric's median and quartile spread ((Q3 - Q1) / median) against the
bound in BENCHMARK.json.

    python3 cdcbench/spread.py --workload cdc_stream --seeds 1-10

Spreads below a third of the bound are steady enough; ``setup_s`` is
reported but has no spread requirement.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from cdcbench.stats import quartile_spread  # noqa: E402


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="inclusive range, e.g. 1-10")
    ap.add_argument("--seconds", type=float, default=bench["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    runs = []
    for seed in seeds(args.seeds):
        cmd = [sys.executable, str(ROOT / "cdcbench" / "run.py"),
               "--workload", args.workload, "--seed", str(seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace)]
        out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
        if out.returncode != 0:
            print(out.stderr[-3000:], file=sys.stderr)
            return out.returncode
        result = json.loads(out.stdout.strip().splitlines()[-1])
        runs.append(result)
        line = " ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items())
        print(f"seed {seed}: correct={result['correct']} {line}", flush=True)

    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    report = {"workload": args.workload, "seconds": args.seconds, "runs": runs,
              "metrics": {}}
    all_correct = all(r["correct"] for r in runs)
    for name in runs[0]["metrics"]:
        values = [r["metrics"][name]["value"] for r in runs]
        spread = quartile_spread(values) if len(values) > 1 else 0.0
        bound = bounds.get(name)
        report["metrics"][name] = {"median": statistics.median(values),
                                   "spread": spread, "bound": bound}
        flag = "" if bound is None else (
            "ok" if spread < bound / 3 or name == "setup_s" else "NOISY")
        print(f"{name:40s} median={statistics.median(values):<12.5g} "
              f"spread={spread:.4f} bound={bound} {flag}")
    out_dir = ROOT / ".cdcbench_work" / "results"
    out_dir.mkdir(parents=True, exist_ok=True)
    (out_dir / f"spread-{args.workload}-t{args.trace}.json").write_text(
        json.dumps(report, indent=1))
    print(f"all correct: {all_correct}")
    return 0 if all_correct else 1


if __name__ == "__main__":
    sys.exit(main())
