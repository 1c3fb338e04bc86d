#!/usr/bin/env python3
"""Record traced runs per workload, each next to an untraced run of the
same seed, and write perfbench/traces/<workload>.json: the per-layer
metrics of the last traced run, the self times along its blocking path
with the unattributed remainder (they add up to the measured window), and
the tracing overhead as the median over the pairs of the traced end-to-end
figures over the untraced ones.

    python3 perfbench/record_traces.py [--seed 11] [--pairs 3] [--workloads a,b]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402
import stats  # noqa: E402


def one(workload, seed, traced, tmp):
    out = os.path.join(tmp, f"{workload}-{traced}.json")
    subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                    "--seed", str(seed), "--seconds", str(stats.spec()["run_seconds"]),
                    "--trace", str(traced), "--raw", out], check=True, stdout=subprocess.DEVNULL)
    with open(out) as fh:
        return json.load(fh)["report"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=11)
    ap.add_argument("--pairs", type=int, default=3)
    ap.add_argument("--workloads", default=",".join(run.WORKLOADS))
    a = ap.parse_args()
    os.makedirs(os.path.join(HERE, "traces"), exist_ok=True)
    with tempfile.TemporaryDirectory() as tmp:
        for w in a.workloads.split(","):
            pairs = [(one(w, a.seed, 0, tmp), one(w, a.seed, 1, tmp)) for _ in range(a.pairs)]
            plain, traced = pairs[-1]
            detail = dict(traced["layer_detail"])
            path = detail.pop("blocking_path_ms")
            window = detail.pop("window_ms")
            for k in ("op_ms", "units"):
                detail.pop(k)
            doc = {
                "workload": w, "seed": a.seed, "host": traced["host"],
                "correct": all(p["correct"] and t["correct"] for p, t in pairs),
                "attempted": traced["attempted"], "failed": traced["failed"],
                "end_to_end_untraced": plain["end_to_end"],
                "end_to_end_traced": traced["end_to_end"],
                "tracing_overhead": {
                    k: statistics.median(t["end_to_end"][k] / p["end_to_end"][k] - 1
                                         for p, t in pairs)
                    for k in traced["end_to_end"]},
                "tracing_overhead_pairs": len(pairs),
                "more_untraced": plain["more"], "more_traced": traced["more"],
                "per_layer": traced["per_layer"],
                "blocking_path_ms": dict(path, measured_window=window,
                                         sum_of_parts=sum(path.values())),
                "layers": detail,
            }
            with open(os.path.join(HERE, "traces", f"{w}.json"), "w") as fh:
                json.dump(doc, fh, indent=1, sort_keys=True)
                fh.write("\n")
            print(f"{w}: overhead {doc['tracing_overhead']}")


if __name__ == "__main__":
    main()
