"""Self-tests for the benchmark: the tail rule and quartiles, failed-op
accounting against a deliberately failing stub, the comparison of results
with their oracles, and the agreement of the printed metrics with
BENCHMARK.json.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import datetime
import json
import math
import os
import re
import statistics
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import checks  # noqa: E402
import run  # noqa: E402
import select_queries  # noqa: E402
import stats  # noqa: E402

INF = float("inf")


def span(i, kind, name, p, t0_ms, t1_ms, ok=True, parent=-1):
    return {"id": i, "parent": parent, "kind": kind, "name": name, "pass": p,
            "t0": int(t0_ms * 1e6), "t1": int(t1_ms * 1e6), "ok": ok, "err": ""}


HOST = {"nproc": 4, "cores": 4, "heap_max_bytes": 1, "kernel": "k", "spark": "s",
        "java": "j", "input_bytes": 1000}


def raw_record(workload, spans, checks_, traced=False, extra=None):
    r = {"workload": workload, "seed": 7, "traced": traced, "setup_ns": 2e9,
         "measured_ns": 10e9, "passes": 1, "peak_heap_bytes": 2 ** 29,
         "live_heap_bytes": 2 ** 27, "gc_ms": 40,
         "clock": {"nano": int(20e9), "epoch_ms": 1_000_000}, "host": HOST,
         "spans": spans, "checks": checks_, "extra": extra or {}, "trace": None}
    if traced:
        # one SQL execution and one job inside every op of the record
        sql, jobs, stages = [], [], []
        base = 1_000_000 - 20e3
        for i, s in enumerate(x for x in spans if x["pass"] >= 1
                              and x["kind"] not in ("flow", "build_pass")):
            a, b = base + s["t0"] / 1e6, base + s["t1"] / 1e6
            sql.append({"id": i, "start_ms": a + 1, "end_ms": b - 1, "desc": "count at Pipeline.scala:1"})
            jobs.append({"id": i, "start_ms": a + 1, "end_ms": b - 1, "stages": [i]})
            stages.append({"id": i, "tasks": 4, "run_ms": 8, "shuffle_bytes": 2048,
                           "spill_bytes": 0})
        r["trace"] = {"sql": sql, "jobs": jobs, "stages": stages,
                      "actions": [{"func": "save", "ms": 5.0, "artifact": "a", "ok": True}]}
    return r


def etl_raw(traced=False):
    spans, t, i = [], 0.0, 0
    for p in range(0, 4):
        f0 = t
        for kind, path, d in (("trigger", "/trigger-etl", 100), ("verify", "/verify-results", 20),
                              ("sample", "/sample-data", 10)):
            spans.append(span(i, kind, path, p, t, t + d))
            i, t = i + 1, t + d
        spans.append(span(i, "flow", "flow", p, f0, t))
        i += 1
    c = {"triggers": [{"code": 200, "layers": ["bronze", "silver", "gold"], "duration_sec": 0.099}] * 4,
         "verifies": [], "samples": [], "oracle": {},
         "layers": {"bronze": ["b"], "silver": ["s"], "gold": ["g"]}}
    return raw_record("etl_trigger", spans, c, traced)


def query_raw(traced=False, failing=()):
    spans, t, i = [], 0.0, 0
    names = [f"q{k}" for k in range(24)]
    for p in (0, 1):
        for n in names:
            kind = "warmup" if p == 0 else "query"
            spans.append(span(i, kind, n, p, t, t + 30, ok=not (p == 1 and n in failing)))
            if p == 1:
                spans.append(span(i + 1, "plan", n, p, t, t + 10, parent=i))
                spans.append(span(i + 2, "exec", n, p, t + 10, t + 30, parent=i))
            i, t = i + 3, t + 31
    extra = {"leaked_persists": 0, "family": {n: "Dedup" for n in names}}
    return raw_record("query_mix", spans, {"queries": []}, traced, extra)


def build_raw(traced=False, built=37, failing=()):
    spans = [span(0, "build", "dedup_cascade", 1, 0, 900, ok="dedup_cascade" not in failing),
             span(1, "build_pass", "build_pass", 1, 0, 1000)]
    per = {f"art{k}": 0.01 * (k + 1) for k in range(built)}
    c = {"artifacts_expected": 37,
         "passes": [{"pass": 1, "built": built, "bytes_written": 500, "per_artifact_s": per}]}
    r = raw_record("index_build", spans, c, traced)
    if traced:
        # a saveAsTable and its nested insert: 600 ms of writing, not 1000
        base = 1_000_000 - 20e3
        r["trace"]["sql"] += [
            {"id": 90, "start_ms": base + 100, "end_ms": base + 700, "desc": "saveAsTable at Artifacts.scala:163"},
            {"id": 91, "start_ms": base + 200, "end_ms": base + 600, "desc": "saveAsTable at Artifacts.scala:163"}]
    return r


RAWS = {"etl_trigger": etl_raw, "query_mix": query_raw, "index_build": build_raw}
OK = {"ok": True, "failures": []}


class TailAndQuartiles(unittest.TestCase):
    def test_tail_is_the_highest_percentile_with_ten_samples_beyond(self):
        xs = list(range(1, 101))  # shuffled order must not matter
        xs.reverse()
        self.assertEqual(stats.tail(xs), (90, 90, 100))
        v, pct, n = stats.tail(list(range(20)))
        self.assertEqual((v, pct, n), (9, 50, 20))
        self.assertEqual(sum(1 for x in range(20) if x > v), 10)

    def test_tail_is_never_below_the_median(self):
        self.assertEqual(stats.tail(list(range(19))), (None, None, 19))
        self.assertEqual(stats.tail(list(range(21))), (10, 52, 21))

    def test_spread_uses_statistics_quantiles(self):
        vals = [10, 11, 12, 13, 14, 15, 16, 17, 18, 19]
        q1, q2, q3 = statistics.quantiles(vals, n=4)
        self.assertAlmostEqual(stats.spread(vals), (q3 - q1) / q2)
        self.assertAlmostEqual(stats.spread([5.0] * 10), 0.0)

    def test_union_counts_overlaps_once(self):
        self.assertEqual(stats.union_ms([(0, 10), (5, 15), (20, 30)], 0, 100), 25)
        self.assertEqual(stats.union_ms([(0, 10), (5, 15)], 8, 12), 4)


class FailedOps(unittest.TestCase):
    def test_a_failed_op_is_a_miss_at_every_percentile(self):
        raw = query_raw(failing={"q3", "q7"})
        ops, attempted, failed, passes, _ = stats.ops_of(raw)
        self.assertEqual((attempted, failed), (48, 2))
        self.assertEqual(sorted(ops)[-2:], [INF, INF])
        self.assertEqual(passes, [INF])
        rep = stats.report(raw, OK)
        self.assertFalse(rep["correct"])
        self.assertAlmostEqual(rep["more"]["failed_ops_frac"], 2 / 48)
        self.assertEqual(rep["more"]["op_tail_ms"], 30.0)
        most = query_raw(failing={f"q{k}" for k in range(13)})
        self.assertEqual(stats.report(most, OK)["more"]["op_p50_ms"], INF)

    def test_missing_artifacts_are_failed_builds(self):
        _, attempted, failed, _, _ = stats.ops_of(build_raw(built=35))
        self.assertEqual((attempted, failed), (37, 2))

    def test_a_throwing_constructor_is_a_failed_build_even_if_its_artifacts_exist(self):
        raw = build_raw(failing={"dedup_cascade"})
        ops, attempted, failed, passes, _ = stats.ops_of(raw)
        self.assertEqual((attempted, failed), (38, 1))
        self.assertEqual((sorted(ops)[-1], passes), (INF, [INF]))
        rep = stats.report(raw, OK)
        self.assertFalse(rep["correct"])
        self.assertAlmostEqual(rep["more"]["failed_ops_frac"], 1 / 38)
        line = stats.result_line(rep, False)
        self.assertEqual((line["failed"], line["metrics"]["pass_s"]["value"]), (1, None))
        json.loads(json.dumps(line, allow_nan=False))

    def test_recorder_counts_a_failing_stub_and_lets_fatal_errors_through(self):
        classes = run.build()
        with tempfile.TemporaryDirectory() as d:
            out = os.path.join(d, "selftest.json")
            run.jvm(classes, ["selftest", out], d, os.path.join(d, "log"))
            with open(out) as fh:
                got = json.load(fh)
        self.assertTrue(got["fatal_propagated"])
        stub = [s for s in got["spans"] if s["name"] == "stub"]
        self.assertEqual([s["ok"] for s in stub], [True, False, True])
        self.assertEqual(stub[1]["err"], "java.lang.IllegalStateException")
        self.assertTrue(all(s["t1"] - s["t0"] >= 5e6 for s in stub))
        raw = raw_record("query_mix", stub, {"queries": []},
                         extra={"leaked_persists": 0, "family": {}})
        ops, attempted, failed, _, _ = stats.ops_of(raw)
        self.assertEqual((attempted, failed), (3, 1))
        self.assertEqual(stats.result_line(stats.report(raw, OK), False)["failed"], 1)


class OracleCompare(unittest.TestCase):
    """checks.compare against DuckDB, on parquet files like the ones the JVM
    harness writes."""

    def setUp(self):
        import duckdb
        import pyarrow as pa
        import pyarrow.parquet as pq
        self.tmp = tempfile.TemporaryDirectory()
        self.results = os.path.join(self.tmp.name, "q")
        os.makedirs(self.results)
        pq.write_table(pa.table({"b": ["x", "y", None], "a": [1.5, 2.0, float("nan")],
                                 "ts": [datetime.datetime(1970, 1, 1, 0, 0, 1)] * 3}),
                       os.path.join(self.results, "part-0.parquet"))
        self.con = duckdb.connect()
        self.con.execute("SET TimeZone='UTC'")

    def tearDown(self):
        self.con.close()
        self.tmp.cleanup()

    def test_same_rows_in_any_row_and_column_order_match(self):
        oracle = ("SELECT * FROM (VALUES (CAST('nan' AS DOUBLE), NULL, TIMESTAMPTZ '1970-01-01 00:00:01+00'), "
                  "(2.0, 'y', TIMESTAMPTZ '1970-01-01 00:00:01+00'), "
                  "(CAST(1.50 AS DECIMAL(18,2)), 'x', TIMESTAMPTZ '1970-01-01 00:00:01+00')) t(a, b, ts)")
        self.assertIsNone(checks.compare(self.con, self.results, oracle))

    def test_a_changed_value_missing_row_or_column_fails(self):
        ts = "TIMESTAMP '1970-01-01 00:00:01'"
        rows = [f"(1.5, 'x', {ts})", f"(2.0, 'y', {ts})", f"(CAST('nan' AS DOUBLE), NULL, {ts})"]
        oracle = lambda rs, cols="a, b, ts": f"SELECT * FROM (VALUES {', '.join(rs)}) t({cols})"
        self.assertIsNone(checks.compare(self.con, self.results, oracle(rows)))
        self.assertIn("1 not in oracle, 1 missing",
                      checks.compare(self.con, self.results, oracle([rows[0].replace("1.5", "1.25")] + rows[1:])))
        self.assertIn("3 rows != oracle 2", checks.compare(self.con, self.results, oracle(rows[:2])))
        self.assertIn("3 rows != oracle 4", checks.compare(self.con, self.results, oracle(rows + rows[:1])))
        self.assertIn("columns", checks.compare(self.con, self.results, oracle(rows, "a, c, ts")))


class QuerySample(unittest.TestCase):
    def test_seats_follow_module_size_with_one_each_at_least(self):
        seats = select_queries.allocate({"A": 60, "B": 30, "C": 2}, 10)
        self.assertEqual(seats, {"A": 6, "B": 3, "C": 1})

    def test_one_query_per_cost_stratum_skipping_uncheckable_ones(self):
        cost = {f"a{k}": {"module": "A", "ms": float(k), "check_s": 0.1, "diff": None}
                for k in range(10)}
        self.assertEqual(select_queries.select(cost, 2), ["a2", "a7"])
        cost["a2"]["check_s"] = None
        cost["a7"]["diff"] = "1 rows != oracle 2"
        self.assertEqual(select_queries.select(cost, 2), ["a1", "a6"])

    def test_the_committed_sample_is_declared_and_recorded(self):
        with open(run.MIX) as fh:
            mix = json.load(fh)
        self.assertEqual(mix["scale"], run.SF)
        self.assertEqual(mix["queries"], select_queries.select(mix["warm_pass"], mix["size"]))


class MetricsMatchBenchmarkJson(unittest.TestCase):
    spec = stats.spec()
    name = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")

    def test_workloads_and_reasons(self):
        self.assertEqual([w["name"] for w in self.spec["workloads"]], list(run.WORKLOADS))
        for w in self.spec["workloads"]:
            self.assertEqual(set(w), {"name", "why"})
            self.assertTrue(0 < len(w["why"]) <= 200 and "\n" not in w["why"])

    def test_metric_fields(self):
        names = []
        for group, keys in (("end_to_end", {"name", "unit", "better", "bound"}),
                            ("per_layer", {"name", "unit", "better"})):
            for m in self.spec[group]:
                self.assertEqual(set(m), keys)
                self.assertRegex(m["name"], self.name)
                self.assertRegex(m["unit"], r"^[A-Za-z0-9_/%.-]{1,16}$")
                self.assertIn(m["better"], ("lower", "higher"))
                if group == "end_to_end":
                    self.assertTrue(0 < m["bound"] <= 0.25)
                names.append(m["name"])
        self.assertEqual(len(names), len(set(names)))
        setup = [m for m in self.spec["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual((setup[0]["unit"], setup[0]["better"]), ("s", "lower"))
        self.assertEqual(setup[0]["bound"], max(m["bound"] for m in self.spec["end_to_end"]))

    def test_every_workload_prints_every_metric_by_name_and_unit(self):
        for w, make in RAWS.items():
            for traced, group in ((False, "end_to_end"), (True, "per_layer")):
                rep = stats.report(make(traced), OK)
                line = stats.result_line(rep, traced)
                self.assertEqual(set(line), {"correct", "attempted", "failed", "metrics"})
                self.assertTrue(line["correct"])
                want = {m["name"]: m["unit"] for m in self.spec[group]}
                self.assertEqual({k: v["unit"] for k, v in line["metrics"].items()}, want, w)
                for k, v in line["metrics"].items():
                    self.assertIsInstance(v["value"], float, (w, k))
                    self.assertTrue(math.isfinite(v["value"]) and v["value"] > 0, (w, k, v))
                json.loads(json.dumps(line))
                text = "\n".join(stats.render(rep))
                for k in want:
                    self.assertIn(k, text)

    def test_blocking_path_adds_up(self):
        for w, make in RAWS.items():
            rep = stats.report(make(True), OK)
            per, d = rep["per_layer"], rep["layer_detail"]
            total = (per["layer.sql_exec_ms"] + per["layer.outside_sql_ms"]
                     + per["layer.unattributed_ms"]) * d["units"]
            self.assertAlmostEqual(total, d["window_ms"], places=6, msg=w)
            path = d["blocking_path_ms"]
            self.assertAlmostEqual(sum(path.values()), d["window_ms"], places=2, msg=w)
            self.assertTrue(all(v >= 0 for v in path.values()), (w, path))
        self.assertEqual(stats.report(build_raw(True), OK)["layer_detail"]["blocking_path_ms"]
                         ["Artifacts.write"], 600)


if __name__ == "__main__":
    unittest.main()
