"""Output checks for a benchmark run, made after the timed region.

query_mix:   each query's set-up result, written as parquet by the JVM
             harness, against its DuckDB oracle on the same inputs: column
             names, row count and the rows themselves in any order.
etl_trigger: every reply is HTTP 200, every trigger processed
             bronze/silver/gold, every /verify-results count equals the
             DuckDB count of the same relation, and every /sample-data
             table holds min(5, rows) rows.
index_build: every pass built every artifact and wrote bytes.
"""
import glob
import os

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def quote(name):
    return '"' + name.replace('"', '""') + '"'


def compare(con, results, oracle):
    """None if the parquet files under `results` hold the same rows as the
    `oracle` query, in any row and column order; else what differs. Both
    sides are compared inside DuckDB: column names, row counts, and the rows
    each side has more of (EXCEPT ALL both ways, NULLs matching NULLs)."""
    got = f"read_parquet('{os.path.join(results, '*.parquet')}')"
    con.execute(f"CREATE OR REPLACE TEMP TABLE oracle_rows AS {oracle}")
    want_cols = sorted(d[0] for d in con.execute("SELECT * FROM oracle_rows LIMIT 0").description)
    got_cols = sorted(d[0] for d in con.execute(f"SELECT * FROM {got} LIMIT 0").description)
    if got_cols != want_cols:
        return f"columns {got_cols} != oracle {want_cols}"
    cols = ", ".join(quote(c) for c in want_cols)
    n_got = con.execute(f"SELECT count(*) FROM {got}").fetchone()[0]
    n_want = con.execute("SELECT count(*) FROM oracle_rows").fetchone()[0]
    extra, missing = (con.execute(f"SELECT count(*) FROM (SELECT {cols} FROM {a} "
                                  f"EXCEPT ALL SELECT {cols} FROM {b})").fetchone()[0]
                      for a, b in ((got, "oracle_rows"), ("oracle_rows", got)))
    if n_got != n_want or extra or missing:
        return f"{n_got} rows != oracle {n_want}; {extra} not in oracle, {missing} missing"
    return None


def connect(data):
    import duckdb
    spill = os.path.join(os.path.dirname(os.path.abspath(data)), "duckdb_tmp")
    con = duckdb.connect(":memory:", config={"threads": 2, "memory_limit": "2GB",
                                             "temp_directory": spill})
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(data, t)}.parquet'")
    return con


def check_query_mix(raw, data, fails):
    con = connect(data)
    for q in raw["checks"]["queries"]:
        name, results = q["name"], q["results"]
        if q["oracle"] is None:
            fails.append(f"{name}: no oracle")
        elif not glob.glob(os.path.join(results, "*.parquet")):
            fails.append(f"{name}: no result files")
        else:
            try:
                diff = compare(con, results, q["oracle"])
            except Exception as e:  # an oracle that cannot run is a failed check
                diff = f"check error {type(e).__name__}: {e}"
            if diff:
                fails.append(f"{name}: {diff}")


def check_etl(raw, data, fails):
    c = raw["checks"]
    layers = list(c["layers"])
    want_layers = ["bronze", "silver", "gold"]
    if sorted(layers) != sorted(want_layers):
        fails.append(f"pipeline layers {layers}")
    for t in c["triggers"]:
        if t["code"] != 200 or t["layers"] != want_layers or t["duration_sec"] <= 0:
            fails.append(f"trigger reply {t}")
    con = connect(data)
    counts = {}
    for name, sql in c["oracle"].items():
        counts[name] = con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0]
    for name in c["layers"]["bronze"]:
        counts[name] = con.execute(f"SELECT count(*) FROM {name[len('bronze_'):]}").fetchone()[0]
    expected = [n for ls in c["layers"].values() for n in ls]
    missing = [n for n in expected if n not in counts]
    if missing:
        fails.append(f"no DuckDB count for {missing}")
    for v in c["verifies"]:
        if v["code"] != 200 or any(v["tables"].get(n) != counts.get(n) for n in expected):
            fails.append(f"verify reply {v['code']} {v['tables']} != {counts}")
    for s in c["samples"]:
        want = {n: min(5, counts.get(n, -1)) for n in s["tables"]}
        if s["code"] != 200 or s["tables"] != want or not s["tables"]:
            fails.append(f"sample reply {s}")


def check_index_build(raw, data, fails):
    c = raw["checks"]
    for p in c["passes"]:
        if p["built"] != c["artifacts_expected"] or len(p["per_artifact_s"]) != p["built"]:
            fails.append(f"pass {p['pass']} built {p['built']} artifacts, "
                         f"expected {c['artifacts_expected']}")
        if p["bytes_written"] <= 0:
            fails.append(f"pass {p['pass']} wrote no bytes")


def check(raw, data):
    fails = []
    {"query_mix": check_query_mix, "etl_trigger": check_etl,
     "index_build": check_index_build}[raw["workload"]](raw, data, fails)
    return {"ok": not fails, "failures": fails}
