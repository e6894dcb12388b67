"""Run every workload untraced and traced, and print every end-to-end
metric by name, with its unit, for each workload, plus the tracing
overhead (traced minus untraced ``op_p50_s``).

    python3 perfbench/suite.py --seed 1 --seconds 10 [--layers]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import workloads  # noqa: E402

RESULTS = os.path.join(os.path.dirname(HERE), ".perfbench_work", "results")


def _run(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, dict]:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True, timeout=600, check=True)
    result = json.loads(out.stdout.strip().splitlines()[-1])
    with open(os.path.join(RESULTS, f"{workload}-seed{seed}-trace{trace}.json"),
              encoding="utf-8") as fh:
        return result, json.load(fh)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--layers", action="store_true", help="also print per-layer metrics")
    args = ap.parse_args()
    all_correct = True
    print(f"{'workload':20s} {'metric':26s} {'value':>14s} unit")
    for name in sorted(workloads.WORKLOADS):
        plain, record = _run(name, args.seed, args.seconds, 0)
        traced, trace_record = _run(name, args.seed, args.seconds, 1)
        all_correct &= plain["correct"] and traced["correct"]
        rows = [(k, m["value"], m["unit"]) for k, m in plain["metrics"].items()]
        rows += [("op_p50_s", record["op_p50_s"], "s (not gated)"),
                 ("op_cpu_raw_s", record["op_cpu_raw_s"], "s (not gated)"),
                 ("setup_raw_s", record["setup_raw_s"], "s (not gated)"),
                 ("canary_cpu_s", record["canary_cpu_s"], "s (not gated)"),
                 ("jit_cpu_s", record["jit_cpu_s"], "s (not gated)"),
                 ("rows_per_s", record["rows_per_s"], "1/s (not gated)"),
                 ("setup_rss_mb", record["setup_rss_mb"], "MB (not gated)")]
        tail = record["op_tail_s"]
        rows.append(("op_tail_s", tail["value"], f"s (p{tail['percentile']}, "
                                                 f"{tail['samples']} samples)"))
        rows.append(("peak_rss_mb", record["peak_rss_mb"], "MB (whole run, not gated)"))
        rows.append(("failed_ratio", record["failed_ratio"],
                     f"of {record['attempted']} ops"))
        overhead = traced["metrics"]["trace.op_p50_s"]["value"] - record["op_p50_s"]
        rows.append(("tracing_overhead_s", overhead, "s"))
        rows.append(("canary_before_after_s", record["canary_before_s"],
                     f"s -> {record['canary_after_s']:.3f} s"))
        if args.layers:
            rows += [(k, v, "") for k, v in trace_record["per_layer"].items()]
        for k, v, unit in rows:
            value = "n/a" if v is None else f"{v:.6g}"
            print(f"{name:20s} {k:26s} {value:>14s} {unit}")
    print("all outputs correct" if all_correct else "SOME OUTPUTS WRONG")
    return 0 if all_correct else 1


if __name__ == "__main__":
    sys.exit(main())
