"""Metrics of one benchmark run, from the JVM harness's raw record.

Timings are reported as a median and a tail: the highest percentile that
has at least ten samples beyond it, with its percentile and sample count.
A failed op is a miss at every percentile (it sorts as +inf), never a fast
sample, and counts toward `failed`.
"""
import json
import math
import os
import statistics

INF = float("inf")
HERE = os.path.dirname(os.path.abspath(__file__))


def median(xs):
    return statistics.median(xs) if xs else INF


def tail(xs):
    """(value, percentile, n): the largest sample with at least ten samples
    above it, at percentile floor(100 * (n - 10) / n). Below 20 samples
    that percentile would be under the median, so there is no tail and the
    value is None."""
    n = len(xs)
    if n < 20:
        return None, None, n
    s = sorted(xs)
    return s[n - 11], math.floor(100 * (n - 10) / n), n


def spread(values):
    """Inter-quartile range over the median, with quartiles as
    `statistics.quantiles(values, n=4)` gives them."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


def ms(s):
    return (s["t1"] - s["t0"]) / 1e6


def union_ms(intervals, a, b):
    """Length of the union of [start, end] intervals clipped to [a, b]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, a), min(e, b)) for s, e in intervals if e > a and s < b):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def ops_of(raw):
    """(op samples in ms, attempted, failed, pass walls in s, read samples)
    of the measured passes. Set-up ops count toward attempted and failed."""
    w, spans = raw["workload"], raw["spans"]
    meas = [s for s in spans if s["pass"] >= 1]
    lat = lambda ss: [ms(s) if s["ok"] else INF for s in ss]
    if w == "etl_trigger":
        reqs = [s for s in spans if s["kind"] in ("trigger", "verify", "sample")]
        ops = lat([s for s in meas if s["kind"] == "trigger"])
        reads = lat([s for s in meas if s["kind"] in ("verify", "sample")])
        passes = [ms(s) / 1e3 if s["ok"] else INF for s in meas if s["kind"] == "flow"]
        return ops, len(reqs), sum(not s["ok"] for s in reqs), passes, reads
    if w == "query_mix":
        qs = [s for s in spans if s["kind"] in ("query", "warmup")]
        mq = [s for s in meas if s["kind"] == "query"]
        passes = []
        for p in sorted({s["pass"] for s in mq}):
            ps = [s for s in mq if s["pass"] == p]
            ok = all(s["ok"] for s in ps)
            passes.append((max(s["t1"] for s in ps) - min(s["t0"] for s in ps)) / 1e9 if ok else INF)
        return lat(mq), len(qs), sum(not s["ok"] for s in qs), passes, []
    # index_build: the op is one artifact build, and an artifact a pass did
    # not build is a failed op; so is every query constructor that threw,
    # even after the artifacts it asked for were built
    c = raw["checks"]
    want = c["artifacts_expected"]
    ops, failed = [], 0
    for p in c["passes"]:
        ops += [v * 1e3 for v in p["per_artifact_s"].values()]
        missing = max(0, want - len(p["per_artifact_s"]))
        ops += [INF] * missing
        failed += missing
    threw = [s for s in meas if s["kind"] == "build" and not s["ok"]]
    ops += [INF] * len(threw)
    bad = {s["pass"] for s in threw}
    bp = {s["pass"]: s for s in meas if s["kind"] == "build_pass"}
    passes = [ms(s) / 1e3 if s["ok"] and p not in bad else INF for p, s in sorted(bp.items())]
    return ops, want * len(c["passes"]) + len(threw), failed + len(threw), passes, []


def layers(raw):
    """Self time along the blocking path, per layer, from a traced run.
    Every op's wall time splits into time inside Spark SQL executions and
    time outside them (planning, engine code, HTTP handling);
    the measured window minus the ops is the benchmark's own loop, the
    unattributed remainder."""
    tr, w = raw["trace"], raw["workload"]
    clock = raw["clock"]
    epoch = lambda t: clock["epoch_ms"] - (clock["nano"] - t) / 1e6
    kind = {"etl_trigger": ("trigger", "verify", "sample"), "query_mix": ("query",),
            "index_build": ("build",)}[w]
    ops = [s for s in raw["spans"] if s["pass"] >= 1 and s["kind"] in kind]
    sql = [(x["start_ms"], x["end_ms"]) for x in tr["sql"] if x["end_ms"] >= 0]
    stages = {s["id"]: s for s in tr["stages"]}
    op_ms = sum(ms(s) for s in ops)
    sql_ms = sum(union_ms(sql, epoch(s["t0"]), epoch(s["t1"])) for s in ops)
    windows = [(epoch(s["t0"]), epoch(s["t1"])) for s in ops]
    jobs = [j for j in tr["jobs"] if any(a <= j["start_ms"] <= b for a, b in windows)]
    st = [stages[i] for j in jobs for i in j["stages"] if i in stages]
    run_ms = sum(s["run_ms"] for s in st)
    window_ms = raw["measured_ns"] / 1e6
    n = _units(raw, ops)
    out = {
        "layer.sql_exec_ms": sql_ms / n,
        "layer.outside_sql_ms": (op_ms - sql_ms) / n,
        "layer.unattributed_ms": (window_ms - op_ms) / n,
        "scheduler.jobs": len(jobs) / n,
        "scheduler.stages": len(st) / n,
        "scheduler.tasks": sum(s["tasks"] for s in st) / n,
        "scheduler.core_util": run_ms / (sql_ms * raw["host"]["cores"]) if sql_ms else 0.0,
        "scheduler.gc_ms": raw["gc_ms"] / n,
        "scheduler.shuffle_kb": sum(s["shuffle_bytes"] for s in st) / 1024 / n,
    }
    path, named = WORKLOAD_LAYERS[w](raw, ops, epoch)
    path["unattributed"] = window_ms - op_ms
    path = {k: round(v, 3) for k, v in path.items()}
    detail = {"scheduler.spill_bytes": sum(s["spill_bytes"] for s in st), "window_ms": window_ms,
              "op_ms": op_ms, "units": n, "blocking_path_ms": path}
    detail.update(named)
    return out, detail


def _units(raw, ops):
    """Ops the per-op layer figures divide by: artifacts for index_build."""
    if raw["workload"] == "index_build":
        return max(1, sum(len(p["per_artifact_s"]) for p in raw["checks"]["passes"]))
    return max(1, len(ops))


def _etl_layers(raw, ops, epoch):
    trig = [s for s in ops if s["kind"] == "trigger"]
    meas = raw["checks"]["triggers"][-len(trig):] if trig else []
    dur = [t["duration_sec"] * 1e3 for t in meas]
    layers = raw["checks"]["layers"]
    order = [(layer, n) for layer in ("bronze", "silver", "gold") for n in layers[layer]]
    per_layer = {"bronze": [], "silver": [], "gold": [], "inventory": []}
    execs = sorted((x for x in raw["trace"]["sql"] if x["end_ms"] >= 0), key=lambda x: x["start_ms"])
    for s in trig:
        a, b = epoch(s["t0"]), epoch(s["t1"])
        # the pipeline runs one counting action per statement, in
        # defaultLayers() order, then one per inventory row
        mine = [x for x in execs if a <= x["start_ms"] <= b and "Pipeline.scala" in x["desc"]]
        mine = [x for x in mine if not any(a <= y["start_ms"] < x["start_ms"] <= y["end_ms"]
                                            for y in mine if y is not x)]
        sums = {k: 0.0 for k in per_layer}
        for i, x in enumerate(mine):
            key = order[i][0] if i < len(order) else "inventory"
            sums[key] += x["end_ms"] - x["start_ms"]
        for k in per_layer:
            per_layer[k].append(sums[k])
    rtt = [ms(s) for s in trig]
    verify = [ms(s) for s in ops if s["kind"] == "verify"]
    sample = [ms(s) for s in ops if s["kind"] == "sample"]
    spark = {k: sum(v) for k, v in per_layer.items()}
    path = {"Serve.trigger_overhead": sum(rtt) - sum(dur),
            **{f"Pipeline.{k}_exec": v for k, v in spark.items()},
            "Pipeline.outside_sql": sum(dur) - sum(spark.values()),
            "Serve.verify_results": sum(verify), "Serve.sample_data": sum(sample)}
    return path, {
        "Serve.overhead_ms": median([r - d for r, d in zip(rtt, dur)]),
        "Pipeline.run_ms": median(dur),
        "Pipeline.bronze_ms": median(per_layer["bronze"]),
        "Pipeline.silver_ms": median(per_layer["silver"]),
        "Pipeline.gold_ms": median(per_layer["gold"]),
        "Pipeline.inventory_ms": median(per_layer["inventory"]),
        "Serve.verify_results_ms": median(verify),
        "Serve.sample_data_ms": median(sample),
    }


def _query_layers(raw, ops, epoch):
    """Per pass: planning (build, analyze, executedPlan) and execution
    through the noop sink, in total and per operator module."""
    spans = [s for s in raw["spans"] if s["pass"] >= 1]
    passes = max(1, len({s["pass"] for s in spans}))
    fam = raw["extra"]["family"]
    plan = sum(ms(s) for s in spans if s["kind"] == "plan")
    exe = sum(ms(s) for s in spans if s["kind"] == "exec")
    out = {"plans.plan_ms": plan / passes,
           "plans.plan_share": plan / (plan + exe) if plan + exe else 0.0,
           "cache.leaked_persists": raw["extra"]["leaked_persists"] / passes}
    for f in sorted(set(fam[s["name"]] for s in spans if s["name"] in fam)):
        for kind in ("plan", "exec"):
            out[f"operators.{f}.{kind}_ms"] = sum(
                ms(s) for s in spans if s["kind"] == kind and fam.get(s["name"]) == f) / passes
    q_ms = sum(ms(s) for s in ops)
    return {"plans.plan": plan, "execute": exe, "query_other": q_ms - plan - exe}, out


def _build_layers(raw, ops, epoch):
    passes = raw["checks"]["passes"]
    per = {}
    for p in passes:
        for k, v in p["per_artifact_s"].items():
            per.setdefault(k, []).append(v)
    built = sum(p["built"] for p in passes)
    # a bucketed artifact's saveAsTable runs nested executions, so the
    # write time is the union of the executions issued from Artifacts
    # (writes and catalog DDL), never their sum
    tr = raw["trace"]
    sql = [x for x in tr["sql"] if x["end_ms"] >= 0]
    inside = lambda xs: sum(union_ms([(x["start_ms"], x["end_ms"]) for x in xs],
                                     epoch(s["t0"]), epoch(s["t1"])) for s in ops)
    write_ms = inside([x for x in sql if "Artifacts.scala" in x["desc"]])
    sql_ms = inside(sql)
    path = {"Artifacts.write": write_ms, "constructors.sql_exec": sql_ms - write_ms,
            "constructors.outside_sql": sum(ms(s) for s in ops) - sql_ms}
    out = {"Artifacts.build_s": sum(sum(v) for v in per.values()),
           "Artifacts.builds_per_artifact": built / max(1, len(per) * len(passes)),
           "Artifacts.bytes_written": sum(p["bytes_written"] for p in passes),
           "Artifacts.write_commands": sum(a["ok"] and bool(a["artifact"]) for a in tr["actions"])}
    for k in sorted(per):
        out[f"Artifacts.{k}_s"] = median(per[k])
    return path, out


WORKLOAD_LAYERS = {"etl_trigger": _etl_layers, "query_mix": _query_layers,
                   "index_build": _build_layers}


def report(raw, verdict):
    """The run's metrics: `end_to_end` holds the ones BENCHMARK.json gates;
    `more` holds the rest, printed by name for the reader."""
    ops, attempted, failed, passes, reads = ops_of(raw)
    t, pct, n = tail(ops)
    w, host = raw["workload"], raw["host"]
    more = {"op_p50_ms": median(ops), "op_tail_ms": t, "tail_percentile": pct, "tail_samples": n,
            "peak_heap_mb": raw["peak_heap_bytes"] / 2 ** 20,
            "live_heap_mb": raw["live_heap_bytes"] / 2 ** 20,
            "failed_ops_frac": failed / attempted if attempted else 0.0,
            "passes": len(passes)}
    if w == "etl_trigger":
        more["read_p50_ms"] = median(reads)
    if w == "index_build":
        written = sum(p["bytes_written"] for p in raw["checks"]["passes"])
        more["artifact_bytes_per_input_byte"] = written / max(1, len(passes)) / host["input_bytes"]
    r = {
        "workload": w, "seed": raw["seed"], "host": host,
        "correct": bool(verdict["ok"]) and failed == 0, "check_failures": verdict["failures"],
        "attempted": attempted, "failed": failed,
        "end_to_end": {
            "setup_s": raw["setup_ns"] / 1e9,
            "pass_s": median(passes),
        },
        "more": more,
    }
    if raw.get("trace"):
        r["per_layer"], r["layer_detail"] = layers(raw)
    return r


def spec():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        return json.load(fh)


def result_line(report, traced):
    """The last line of a run. A metric with no finite value (every sample
    of it failed) is null, and such a run is never correct."""
    group = "per_layer" if traced else "end_to_end"
    values = report["per_layer"] if traced else report["end_to_end"]
    finite = lambda v: v if v is not None and math.isfinite(v) else None
    return {"correct": report["correct"], "attempted": report["attempted"],
            "failed": report["failed"],
            "metrics": {m["name"]: {"value": finite(values[m["name"]]), "unit": m["unit"]}
                        for m in spec()[group]}}


# the name each metric goes by on each workload
ALIASES = {
    "etl_trigger": {"op_p50_ms": "trigger_etl_p50_ms", "op_tail_ms": "trigger_etl_tail_ms",
                    "pass_s": "flow_s"},
    "query_mix": {"op_p50_ms": "query_p50_ms", "op_tail_ms": "query_tail_ms",
                  "pass_s": "suite_s"},
    "index_build": {"op_p50_ms": "artifact_p50_ms", "op_tail_ms": "artifact_tail_ms",
                    "pass_s": "build_s"},
}
UNITS = {"op_p50_ms": "ms", "op_tail_ms": "ms", "read_p50_ms": "ms", "peak_heap_mb": "MB", "live_heap_mb": "MB",
         "artifact_bytes_per_input_byte": "ratio", "failed_ops_frac": "ratio"}


def render(report):
    w = report["workload"]
    units = dict(UNITS, **{m["name"]: m["unit"] for g in ("end_to_end", "per_layer")
                           for m in spec()[g]})
    more = report["more"]
    lines = [f"workload {w} seed {report['seed']} host {json.dumps(report['host'], sort_keys=True)}"]

    def line(k, v):
        alias = ALIASES[w].get(k)
        lines.append(f"  {k:<34} {v!s:>22} {units.get(k, '')}" + (f"  ({alias})" if alias else ""))
    for k, v in report["end_to_end"].items():
        line(k, v)
    line("op_p50_ms", more["op_p50_ms"])
    line("op_tail_ms", more["op_tail_ms"])
    lines.append(f"  {'':<34} p{more['tail_percentile']} of {more['tail_samples']} samples"
                 + ("" if more["op_tail_ms"] is not None else "; a tail needs 20"))
    for k in ("read_p50_ms", "artifact_bytes_per_input_byte", "peak_heap_mb", "live_heap_mb",
              "failed_ops_frac"):
        if k in more:
            line(k, more[k])
    lines.append(f"  {'attempted / failed ops':<34} {report['attempted']} / {report['failed']}")
    for k, v in report.get("per_layer", {}).items():
        line(k, v)
    for k, v in report.get("layer_detail", {}).items():
        line(k, v)
    lines.append(f"  correct {report['correct']} {report['check_failures'][:5]}")
    return lines
