#!/usr/bin/env python3
"""Run the benchmark once per seed and report, for each end-to-end metric,
the median and the inter-quartile range as a share of the median (the
quantity each metric's bound in BENCHMARK.json is compared with), plus the
wall time of each run.

    python3 perfbench/spread.py --workload query_mix --seeds 1-10 [--out runs.jsonl]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import stats  # noqa: E402


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out")
    a = ap.parse_args()
    spec = stats.spec()
    rows = []
    for seed in seeds(a.seeds):
        t0 = time.time()
        r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
                            "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
                            "--trace", "0"], capture_output=True, text=True)
        wall = time.time() - t0
        if r.returncode != 0:
            sys.exit(f"seed {seed}: exit {r.returncode}\n{r.stderr[-2000:]}")
        line = json.loads(r.stdout.strip().splitlines()[-1])
        rows.append({"seed": seed, "wall_s": wall, **line})
        print(json.dumps(rows[-1]), flush=True)
        if a.out:
            with open(a.out, "a") as fh:
                fh.write(json.dumps(rows[-1]) + "\n")
    print(f"{a.workload}: {len(rows)} runs, wall median {statistics.median(r['wall_s'] for r in rows):.1f} s, "
          f"all correct: {all(r['correct'] for r in rows)}, "
          f"failed ops: {sum(r['failed'] for r in rows)}")
    for m in spec["end_to_end"]:
        vals = [r["metrics"][m["name"]]["value"] for r in rows]
        if len(vals) >= 2 and None not in vals:
            s = stats.spread(vals)
            print(f"  {m['name']:<16} median {statistics.median(vals):>12.4f} {m['unit']:<4} "
                  f"spread {s:.3f} (bound {m['bound']}, third {m['bound'] / 3:.3f})"
                  f"{'' if s < m['bound'] / 3 else '  <-- too wide'}")


if __name__ == "__main__":
    main()
