"""Per-workload input preparation and output checks run outside the JVM.

`prepare` makes the seeded inputs a workload needs before the harness
starts; `verify` compares what the harness left behind with an answer
computed independently of the engine and returns a list of problems
(empty when every output is correct).
"""
import hashlib
import json
import math
import os

import duckdb

import gen

ORACLE_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
                 "lineitem", "events", "documents", "embeddings"]
WARM_FILES = 6
TIMED_FILES = 90


def prepare(workload, seed, run_dir):
    if workload != "ingest_trickle":
        return None
    inp = os.path.join(run_dir, "input")
    gen.ingest_files(seed * 7919 + 1, os.path.join(inp, "warm"), WARM_FILES)
    return gen.ingest_files(seed, os.path.join(inp, "timed"), TIMED_FILES)


def verify(workload, r, run_dir, data, digest, prep):
    if workload == "ingest_trickle":
        return _verify_ingest(r, run_dir, prep)
    if workload == "query_mix":
        return _verify_queries(run_dir, data, digest)
    return []


def _canon(rows):
    """Rows as sorted tuples of canonical strings (order-independent)."""
    def c(v):
        if v is None:
            return "null"
        if isinstance(v, float):
            return "nan" if math.isnan(v) else repr(v)
        return str(v)
    return sorted(tuple(c(v) for v in row) for row in rows)


def _digest(rows):
    return hashlib.sha256(repr(rows).encode()).hexdigest()[:16]


def _verify_ingest(r, run_dir, expected_files):
    n = int(r["extra"]["arrivals"])
    expected = _canon([row for f in expected_files[:n] for row in f])
    cols = [c.lower() for c in gen.HEADER]
    sel = ", ".join(cols[:-1]) + \
        ", strftime(modifieddate, '%Y-%m-%d %H:%M:%S') AS modifieddate"
    got = _canon(duckdb.sql(
        f"SELECT {sel} FROM '{run_dir}/final/*.parquet'").fetchall())
    if len(got) != len(expected):
        return [f"final table has {len(got)} rows, input aligns to {len(expected)}"]
    if _digest(got) != _digest(expected):
        diff = next(i for i, (a, b) in enumerate(zip(got, expected)) if a != b)
        return [f"final table content differs from the aligned input "
                f"(first sorted difference: {got[diff]} vs {expected[diff]})"]
    return []


# DuckDB answers keyed by (table digest, oracle SQL). SHIPPED holds the
# answers for the tables gen.py makes, so a fresh checkout need not spend
# minutes on slow oracles; any other key is computed into the run cache.
SHIPPED = os.path.join(os.path.dirname(os.path.abspath(__file__)), "oracle_answers")


def _connect(data):
    con = duckdb.connect()
    for t in ORACLE_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    return con


def _oracle_answer(con, sql, data, digest):
    """The cached DuckDB answer of `sql`, computed and cached if missing."""
    key = hashlib.sha256((digest + "\0" + sql).encode()).hexdigest()[:24]
    cache_dir = os.path.join(os.path.dirname(data), "oracle")
    for d in (SHIPPED, cache_dir):
        path = os.path.join(d, key + ".json")
        if os.path.exists(path):
            return json.load(open(path))
    rel = con.sql(sql)
    order = sorted(range(len(rel.columns)), key=lambda i: rel.columns[i])
    rows = rel.fetchall()
    ans = {"columns": [rel.columns[i] for i in order],
           "rows": _canon([[row[i] for i in order] for row in rows])}
    os.makedirs(cache_dir, exist_ok=True)
    path = os.path.join(cache_dir, key + ".json")
    with open(path + ".tmp", "w") as fh:
        json.dump(ans, fh)
    os.replace(path + ".tmp", path)
    return ans


def _verify_queries(run_dir, data, digest):
    oracle = json.load(open(os.path.join(run_dir, "oracle_sql.json")))
    con = _connect(data)
    problems = []
    for name in sorted(oracle):
        want = _oracle_answer(con, oracle[name], data, digest)
        # the cold pass (set-up) and the untimed pass after the window
        for run in ("cold", "after"):
            rel = con.sql(f"SELECT * FROM '{run_dir}/{run}/{name}/*.parquet'")
            order = sorted(range(len(rel.columns)), key=lambda i: rel.columns[i])
            cols = [rel.columns[i] for i in order]
            rows = _canon([[row[i] for i in order] for row in rel.fetchall()])
            if cols != want["columns"]:
                problems.append(f"{name} ({run} pass): columns {cols} vs oracle "
                                f"{want['columns']}")
            elif rows != [tuple(x) for x in want["rows"]]:
                problems.append(f"{name} ({run} pass): {len(rows)} rows differ "
                                f"from the DuckDB oracle's {len(want['rows'])}")
    return problems
