#!/usr/bin/env python3
"""Repeat one workload N times, each with another seed, and summarize.

    python3 perfbench/repeat.py --workload iterative_chain --runs 10

Runs `perfbench/run.py` once per seed 1..N, one run at a time, and prints for
every metric its median, first and third quartile and the spread
(Q3 - Q1) / median, with the failed share of attempted operations. Each
run's JSON line is kept in .perfbench_out/repeat-WORKLOAD.jsonl.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    args = ap.parse_args(argv)
    seconds = json.loads((ROOT / "BENCHMARK.json").read_text())["run_seconds"]
    out = ROOT / ".perfbench_out" / f"repeat-{args.workload}.jsonl"
    out.parent.mkdir(parents=True, exist_ok=True)
    results = []
    with out.open("w") as sink:
        for seed in range(1, args.runs + 1):
            cmd = [sys.executable, "perfbench/run.py", "--workload", args.workload, "--seed", str(seed),
                   "--seconds", str(seconds), "--trace", "0"]
            proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                print(f"seed {seed}: exit {proc.returncode}, no result", file=sys.stderr)
                return 1
            res = json.loads(lines[-1])
            sink.write(json.dumps({"seed": seed, **res}) + "\n")
            sink.flush()
            results.append(res)
            print(f"seed {seed}: correct={res['correct']} failed={res['failed']}/{res['attempted']} "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), file=sys.stderr)
    print(f"{args.workload}: {len(results)} runs, failed share "
          f"{sorted({r['failed'] / r['attempted'] for r in results})}, "
          f"all correct={all(r['correct'] for r in results)}")
    for name in results[0]["metrics"]:
        values = [r["metrics"][name]["value"] for r in results]
        q1, med, q3 = statistics.quantiles(values, n=4)
        spread = (q3 - q1) / med if med else float("nan")
        print(f"  {name:32s} median={med:<12.5g} q1={q1:<12.5g} q3={q3:<12.5g} spread={spread:.2%}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
