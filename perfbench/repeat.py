#!/usr/bin/env python3
"""Run the benchmark once per seed and summarise each metric.

    python3 perfbench/repeat.py --workload flagship --seeds 1-10 --seconds 14 [--trace 1] [--out FILE]

Runs are sequential (never run two benchmarks at once on one box). For every
metric it prints the median, the quartiles (`statistics.quantiles(n=4)`) and
the spread (p75 - p25) / median; `--out` writes the same as JSON.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent


def _seeds(text: str) -> list:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def summarise(values: list) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else values * 3
    return {
        "median": statistics.median(values),
        "p25": q1,
        "p75": q3,
        "spread": (q3 - q1) / statistics.median(values) if statistics.median(values) else 0.0,
        "n": len(values),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="a seed or an inclusive range, e.g. 1-10")
    ap.add_argument("--seconds", default="14")
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    ap.add_argument("--out")
    args = ap.parse_args(argv)

    runs, values = [], {}
    for seed in _seeds(args.seeds):
        t = time.perf_counter()
        proc = subprocess.run(
            [sys.executable, str(HERE / "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", args.seconds, "--trace", args.trace],
            capture_output=True, text=True, cwd=HERE.parent, timeout=900,
        )
        elapsed = time.perf_counter() - t
        if proc.returncode != 0:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
            return 1
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        runs.append({"seed": seed, "elapsed_s": elapsed, **result})
        print(
            f"seed {seed} ({elapsed:.1f} s) correct={result['correct']} "
            f"failed={result['failed']}/{result['attempted']} "
            + " ".join(f"{k}={v['value']:.4f}" for k, v in result["metrics"].items()),
            flush=True,
        )
        for k, v in result["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    summary = {k: summarise(v) for k, v in values.items()}
    for k, s in summary.items():
        print(f"{k:<30} median {s['median']:.4f}  p25 {s['p25']:.4f}  p75 {s['p75']:.4f}  spread {s['spread']:.4f}")
    if args.out:
        Path(args.out).write_text(json.dumps({"workload": args.workload, "runs": runs, "summary": summary}, indent=1) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
