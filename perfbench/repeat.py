#!/usr/bin/env python3
"""Repeatability record for the graft benchmark.

Runs one workload once per seed and reports, for each end-to-end metric,
the median and the spread: the distance between the first and third
quartiles (statistics.quantiles(values, n=4)) as a share of the median.
Run from the root of a graft checkout:

    python3 perfbench/repeat.py --workload table_reads --seeds 1-10 --seconds 10 \
        --out perfbench/results/table_reads.json
"""

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,5,8")
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()

    runs = []
    for s in seeds(a.seeds):
        t = time.time()
        p = subprocess.run([sys.executable, str(Path(__file__).parent / "run.py"),
                            "--workload", a.workload, "--seed", str(s),
                            "--seconds", str(a.seconds), "--trace", str(a.trace)],
                           capture_output=True, text=True)
        wall = time.time() - t
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            print(f"seed {s}: exit {p.returncode}\n{p.stderr[-2000:]}", file=sys.stderr)
            sys.exit(1)
        result = json.loads(lines[-1])
        runs.append({"seed": s, "wall_s": round(wall, 1), **result})
        print(f"seed {s}: {wall:.0f} s, correct {result['correct']}, "
              + ", ".join(f"{k} {v['value']:.4g}" for k, v in result["metrics"].items()),
              flush=True)

    summary = {}
    for name in runs[0]["metrics"]:
        values = [r["metrics"][name]["value"] for r in runs]
        med = statistics.median(values)
        q1, _, q3 = statistics.quantiles(values, n=4)
        summary[name] = {"unit": runs[0]["metrics"][name]["unit"], "median": med,
                         "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else None}
    record = {"workload": a.workload, "seconds": a.seconds, "trace": a.trace,
              "all_correct": all(r["correct"] for r in runs), "summary": summary, "runs": runs}
    Path(a.out).parent.mkdir(parents=True, exist_ok=True)
    Path(a.out).write_text(json.dumps(record, indent=1) + "\n")
    for name, m in summary.items():
        spread = "n/a" if m["spread"] is None else f"{m['spread']:.4f}"
        print(f"{name:<34} median {m['median']:.4f} {m['unit']}  spread {spread}")


if __name__ == "__main__":
    main()
