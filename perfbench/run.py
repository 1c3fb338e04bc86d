#!/usr/bin/env python3
"""The graft benchmark: three closed-loop workloads, timed end to end and,
in a separate traced run, layer by layer.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (one client that waits for each reply, on one thread):

  etl_trigger  repeated reference flows over loopback HTTP:
               POST /trigger-etl, GET /verify-results, GET /sample-data
  query_mix    a cost-stratified sample of the declared queries
               (query_mix.json) in a warm session, in seed order, each
               materialized through the noop sink; artifacts built in set-up
  index_build  cold builds of every index artifact in seed order, through
               the query constructors

The first run in a checkout compiles the engine and the benchmark's JVM harness
with sbt (offline) and writes a base data set with the engine's own
generator; each seed's inputs are derived from it (see inputs.py). All of
it stays under perfbench/work/. Every run checks the program's outputs
(DuckDB oracles, HTTP replies, artifact counts) outside the timed region.
The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics"}; the lines above it print
each metric by name with its unit, the host facts and the seed.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
sys.path.insert(0, HERE)

import checks  # noqa: E402
import inputs as inputs_  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("etl_trigger", "query_mix", "index_build")
# Input scale: GenData sf 0.1, the scale graft.Bench times (600k lineitem
# rows, 100k events, 5000 documents, 2000 embeddings).
SF = "0.1"
# The queries one query_mix pass runs, chosen by select_queries.py from a
# recorded warm pass over every declared query at this scale.
MIX = os.path.join(HERE, "query_mix.json")
HEAP = "2g"
# a run ends within 180 s, the first one in a checkout (which builds and
# generates the base data) within 900 s
BUILD_TIMEOUT = 600
GEN_TIMEOUT = 300
RUN_TIMEOUT = 170


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    files = []
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        files += sorted(glob.glob(os.path.join(base, "**", "*"), recursive=True))
    files += [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    return [f for f in files if os.path.isfile(f)]


def build():
    """Compile once per source state; the stamp is a hash of every source."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("no engine sources at ../src/main/scala; run from a full checkout")
    if not os.environ.get("SPARK_HOME"):
        fail("SPARK_HOME is not set; the build compiles against $SPARK_HOME/jars")
    h = hashlib.sha256()
    for f in sources():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp_path = os.path.join(WORK, "build.stamp")
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    if os.path.isdir(classes) and os.path.exists(stamp_path):
        with open(stamp_path) as fh:
            if fh.read() == h.hexdigest():
                return classes
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline" not in opts:
        env["SBT_OPTS"] = (opts + " -Dsbt.offline=true").strip()
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "-Dsbt.server.autostart=false", "compile"],
                           cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                           timeout=BUILD_TIMEOUT)
    if r.returncode != 0:
        with open(log, errors="replace") as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail("build failed")
    with open(stamp_path, "w") as fh:
        fh.write(h.hexdigest())
    return classes


ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def jvm(classes, args, cwd, log, env=None, timeout=RUN_TIMEOUT):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd += [f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            "-cp", classes + os.pathsep + os.path.join(os.environ["SPARK_HOME"], "jars", "*"),
            "perfbench.Main"] + args
    try:
        with open(log, "w") as out:
            r = subprocess.run(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT, timeout=timeout,
                               env=dict(os.environ, SPARK_LOCAL_DIRS=tmp, **(env or {})))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    if r.returncode != 0:
        with open(log, errors="replace") as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"JVM exited with {r.returncode}: {' '.join(args[:2])}")


def inputs(classes, seed):
    """The seed's input tables, derived from the checkout's base data set
    (generated on first use). Neither step is part of any timed region."""
    base = os.path.join(WORK, f"base-sf{SF}")
    if not os.path.exists(os.path.join(base, "_DONE")):
        shutil.rmtree(base, ignore_errors=True)
        jvm(classes, ["gen", SF, base], WORK, os.path.join(WORK, "gen.log"), timeout=GEN_TIMEOUT)
        inputs_.events_ts_to_timestamp(os.path.join(base, "events.parquet"))
        open(os.path.join(base, "_DONE"), "w").close()
    d = os.path.join(WORK, "data", f"sf{SF}-seed{seed}")
    if not os.path.isdir(d):
        os.makedirs(os.path.dirname(d), exist_ok=True)
        inputs_.derive(base, d, seed)
    return d


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--raw", help="also write the raw run record (spans, trace) here")
    a = ap.parse_args(argv)

    os.makedirs(WORK, exist_ok=True)
    with open(MIX) as fh:
        queries = ",".join(json.load(fh)["queries"])
    classes = build()
    data = inputs(classes, a.seed)
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    out = os.path.join(run_dir, "raw.json")
    try:
        jvm(classes, ["run", a.workload, str(a.seed), str(a.seconds), str(a.trace), data, out, queries],
            run_dir, os.path.join(WORK, "run.log"),
            env={"SPARK_GRAFT_ARTIFACTS_DIR": os.path.join(run_dir, "artifacts")})
        with open(out) as fh:
            raw = json.load(fh)
        verdict = checks.check(raw, data)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    report = stats.report(raw, verdict)
    if a.raw:
        with open(a.raw, "w") as fh:
            json.dump({"raw": raw, "checks": verdict, "report": report}, fh, indent=1)
    for line in stats.render(report):
        print(line)
    print(json.dumps(stats.result_line(report, a.trace == 1), allow_nan=False))

if __name__ == "__main__":
    main()
