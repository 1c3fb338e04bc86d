#!/usr/bin/env python3
"""Choose the queries one query_mix pass runs, from one recorded warm pass
over every declared query, and write the choice with its evidence to
perfbench/query_mix.json.

    python3 perfbench/select_queries.py [--seed 1] [--size 14] [--check-cap 3]

It runs the query_mix harness over all declared queries: the set-up writes
every result (building every artifact), and the one timed pass gives each
query's warm cost. Each result is then compared with its DuckDB oracle, in
a process of its own with a time limit, which gives the cost of checking
it. The sample is stratified twice: each operator module gets a share of
the size in proportion to its number of queries (largest remainder, at
least one), and within a module the queries are ranked by warm cost and
split into that many equal-count strata. From each stratum the query
nearest its middle whose result matched its oracle within `--check-cap`
seconds is taken, because every run checks the queries it times. The
file records every query's cost and check, so the choice can be re-derived.
"""
import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402
import stats  # noqa: E402

RECORD_TIMEOUT = 1800

CHECK_ONE = r"""
import json, sys, time
sys.path.insert(0, sys.argv[1])
import checks
q = json.loads(sys.stdin.read())
con = checks.connect(q["data"])
t0 = time.time()
diff = checks.compare(con, q["results"], q["oracle"])
print(json.dumps({"check_s": round(time.time() - t0, 3), "diff": diff}))
"""


def record(seed, work):
    """The raw record of one query_mix run over every declared query."""
    classes = run.build()
    data = run.inputs(classes, seed)
    out = os.path.join(work, "raw.json")
    run.jvm(classes, ["run", "query_mix", str(seed), "1", "0", data, out, "all"], work,
            os.path.join(run.WORK, "select.log"),
            env={"SPARK_GRAFT_ARTIFACTS_DIR": os.path.join(work, "artifacts")},
            timeout=RECORD_TIMEOUT)
    with open(out) as fh:
        return json.load(fh), data


def check_all(raw, data, cap):
    """{query: {check_s, diff}}; check_s is None if the check did not end
    within `cap` seconds."""
    out = {}
    for q in raw["checks"]["queries"]:
        if q["oracle"] is None:
            out[q["name"]] = {"check_s": None, "diff": "no oracle"}
            continue
        try:
            r = subprocess.run([sys.executable, "-c", CHECK_ONE, HERE], capture_output=True,
                               text=True, timeout=cap,
                               input=json.dumps(dict(q, data=data)))
            out[q["name"]] = json.loads(r.stdout.splitlines()[-1]) if r.returncode == 0 else \
                {"check_s": None, "diff": r.stderr.strip().splitlines()[-1][:300]}
        except subprocess.TimeoutExpired:
            out[q["name"]] = {"check_s": None, "diff": f"not done in {cap} s"}
        print(q["name"], out[q["name"]], flush=True)
    return out


def costs(raw, checked):
    """{query: {module, ms, plan_ms, exec_ms, check_s, diff}}; the times
    are those of the first timed pass."""
    fam = raw["extra"]["family"]
    out = {}
    for s in raw["spans"]:
        if s["pass"] == 1 and s["kind"] in ("query", "plan", "exec"):
            c = out.setdefault(s["name"], {"module": fam[s["name"]], **checked[s["name"]]})
            c["ms" if s["kind"] == "query" else s["kind"] + "_ms"] = round(stats.ms(s), 3)
    return out


def allocate(sizes, total):
    """Seats per module in proportion to its size, each at least one,
    by largest remainder; `total` seats in all (at least one a module)."""
    n = sum(sizes.values())
    quota = {m: total * k / n for m, k in sizes.items()}
    seats = {m: max(1, math.floor(q)) for m, q in quota.items()}
    while sum(seats.values()) > total and any(v > 1 for v in seats.values()):
        m = max((m for m in seats if seats[m] > 1), key=lambda m: (seats[m] - quota[m], m))
        seats[m] -= 1
    while sum(seats.values()) < total:
        m = min((m for m in seats if seats[m] < sizes[m]), key=lambda m: (seats[m] - quota[m], m))
        seats[m] += 1
    return seats


def select(cost, size):
    by_module = {}
    for q, c in cost.items():
        by_module.setdefault(c["module"], []).append(q)
    seats = allocate({m: len(qs) for m, qs in by_module.items()}, size)
    chosen = []
    for m in sorted(by_module):
        ranked = sorted(by_module[m], key=lambda q: (cost[q]["ms"], q))
        k = seats[m]
        for i in range(k):
            lo, hi = i * len(ranked) // k, (i + 1) * len(ranked) // k
            mid = (lo + hi) / 2
            usable = [j for j in range(lo, hi) if cost[ranked[j]]["check_s"] is not None
                      and cost[ranked[j]]["diff"] is None]
            if usable:
                chosen.append(ranked[min(usable, key=lambda j: (abs(j + 0.5 - mid), j))])
    return sorted(chosen)


def summary(cost, names):
    ms = [cost[q]["ms"] for q in names]
    plan = sum(cost[q]["plan_ms"] for q in names)
    execute = sum(cost[q]["exec_ms"] for q in names)
    return {"queries": len(names), "pass_s": round(sum(ms) / 1e3, 3),
            "p50_ms": round(statistics.median(ms), 3),
            "p90_ms": round(statistics.quantiles(ms, n=10)[-1], 3),
            "mean_ms": round(statistics.mean(ms), 3),
            "plan_share": round(plan / (plan + execute), 4)}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--size", type=int, default=14)
    ap.add_argument("--check-cap", type=float, default=3.0)
    a = ap.parse_args()
    work = os.path.join(run.WORK, "select")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t0 = time.time()
        raw, data = record(a.seed, work)
        print(f"recorded in {time.time() - t0:.0f} s", flush=True)
        cost = costs(raw, check_all(raw, data, a.check_cap))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    chosen = select(cost, a.size)
    modules = sorted({c["module"] for c in cost.values()})
    share = lambda names, m: round(sum(cost[q]["ms"] for q in names if cost[q]["module"] == m)
                                   / sum(cost[q]["ms"] for q in names), 4)
    out = {
        "scale": run.SF, "seed": a.seed, "size": a.size, "check_cap_s": a.check_cap,
        "host": raw["host"],
        "rule": "per module, seats in proportion to its query count (largest remainder, "
                "at least one); within it, queries ranked by warm cost in equal-count strata, "
                "one per stratum: the one nearest the middle whose result matched its oracle "
                "within check_cap_s",
        "queries": chosen,
        "full": summary(cost, list(cost)),
        "sample": summary(cost, chosen),
        "checks": {"matched": sum(c["diff"] is None and c["check_s"] is not None
                                  for c in cost.values()),
                   "differ": sorted(q for q, c in cost.items()
                                    if c["check_s"] is not None and c["diff"] is not None),
                   "over_cap_or_error": sorted(q for q, c in cost.items() if c["check_s"] is None)},
        "module_share": {m: {"full": share(list(cost), m), "sample": share(chosen, m)}
                         for m in modules},
        "warm_pass": dict(sorted(cost.items())),
    }
    with open(run.MIX, "w") as fh:
        json.dump(out, fh, indent=1)
        fh.write("\n")
    print(json.dumps({k: out[k] for k in ("queries", "full", "sample", "checks")}, indent=1))


if __name__ == "__main__":
    main()
