#!/usr/bin/env python3
"""The graft benchmark: one command runs one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. On first use it builds the engine and
the harness from source (sbt, offline) and generates the fixed input
tables under perfbench/.work; later runs reuse both while the sources are
unchanged. It then runs the workload closed-loop in one local[4] JVM,
checks every output and prints one JSON object as the last line of
stdout: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ledger of a
separately traced run. A wrong answer exits 1; a missing engine or a
broken build exits 2. Workloads, metrics and the layer map are described
in perfbench/NOTES.md.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("ingest_trickle", "query_mix", "lifecycle_mix")
CORES = 4
RUN_BUDGET_S = 175
BUILD_BUDGET_S = 890
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# ---------------------------------------------------------------- build

def _source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def _spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        die("no Spark distribution found (set SPARK_HOME)")
    return home


def build(deadline):
    """Compile engine + harness unless the sources are unchanged. Returns
    the runtime classpath and whether it compiled."""
    bdir = os.path.join(WORK, "build")
    stamp_f, cp_f = os.path.join(bdir, "stamp"), os.path.join(bdir, "classpath")
    stamp = _source_stamp()
    if os.path.exists(stamp_f) and os.path.exists(cp_f):
        if open(stamp_f).read() == stamp:
            return open(cp_f).read().strip(), False
    sbt = shutil.which("sbt")
    if not sbt:
        die("sbt not found on PATH")
    os.makedirs(bdir, exist_ok=True)
    env = dict(os.environ, SPARK_HOME=_spark_home(), COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline=true" not in opts:
        opts += " -Dsbt.offline=true"
    env["SBT_OPTS"] = opts.strip()
    log = os.path.join(bdir, "sbt.log")
    with open(log, "w") as fh:
        rc = _run([sbt, "--batch", "-Dsbt.log.noformat=true",
                   "-Dsbt.server.forcestart=false", "compile",
                   "export Runtime/fullClasspath"],
                  cwd=HERE, env=env, stdout=fh, timeout=deadline - time.time())
    lines = open(log).read().splitlines()
    cps = [ln for ln in lines if ".jar" in ln and not ln.startswith("[")]
    if rc != 0 or not cps:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        die(f"build failed (rc={rc}); see {log}")
    with open(cp_f, "w") as fh:
        fh.write(cps[-1].strip())
    with open(stamp_f, "w") as fh:
        fh.write(stamp)
    return cps[-1].strip(), True


def _run(cmd, timeout, **kw):
    """Run `cmd` in its own process group; on timeout kill the group and
    wait for it. Returns the exit code (None on timeout)."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=max(1.0, timeout))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None


# ---------------------------------------------------------------- inputs

def tables_dir():
    """The fixed sf0.1 tables, generated once per checkout. Returns the
    dir, a digest of the table files' bytes and whether it generated them."""
    d = os.path.join(WORK, "data", f"sf{gen.SF}")
    stamp = os.path.join(d, "_DIGEST")
    with open(gen.__file__, "rb") as fh:
        version = hashlib.sha256(fh.read()).hexdigest()
    made = not (os.path.exists(stamp) and open(stamp).read().split()[0] == version)
    if made:
        shutil.rmtree(d, ignore_errors=True)
        gen.tables(d)
        h = hashlib.sha256()
        for t in checks.ORACLE_TABLES:
            with open(os.path.join(d, f"{t}.parquet"), "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
        with open(stamp, "w") as fh:
            fh.write(f"{version} {h.hexdigest()}")
    return d, open(stamp).read().split()[1], made


def java_cmd(cp, tmp):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else shutil.which("java")
    return [java] + [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xms2g", "-Xmx2g", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false", "-cp", cp,
        "perfbench.Main"]


# ---------------------------------------------------------------- metrics

def pct(values, q):
    """Linear-interpolated percentile q (0..1) of `values`."""
    v = sorted(values)
    if not v:
        return float("nan")
    k = (len(v) - 1) * q
    lo = math.floor(k)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (k - lo)


def tail_q(n):
    """The highest percentile up to p90 with at least ten samples beyond
    it; p50 when there are too few samples for any higher one."""
    return max(0.5, min(0.9, (n - 10) / n)) if n else 0.5


def op_samples(r):
    """Per-op latency samples split into op / write / read."""
    op, wr, rd = [], [], []
    for o in r["ops"]:
        c = o["calls"]
        op.append(o["ms"])
        if o["cls"] == "write":
            wr.append(o["ms"])
        elif o["cls"] in ("read", "query"):
            rd.append(o["ms"])
        elif o["cls"] == "write+read":
            wr.append(c.get("load.commit", 0.0))
            rd.append(c.get("load.read_plan", 0.0) + c.get("exec.count", 0.0))
    return op, wr, rd


def end_to_end(r):
    op, _, rd = op_samples(r)
    ok = sum(1 for o in r["ops"] if o["ok"])
    m = {
        "setup_s": (r["session_start_s"] + statistics.median(r["setup_s"]), "s"),
        "ops_per_s": (ok / r["measure_s"], "1/s"),
        "op_ms.p50": (pct(op, 0.5), "ms"),
        "op_ms.p90": (pct(op, tail_q(len(op))), "ms"),
        "read_ms.p50": (pct(rd, 0.5), "ms"),
        "read_ms.p90": (pct(rd, tail_q(len(rd))), "ms"),
        "heap_retained_mb": (r["heap_retained_mb"], "MB"),
    }
    counts = {"op_ms": [len(op), tail_q(len(op))],
              "read_ms": [len(rd), tail_q(len(rd))]}
    return m, counts


CALL_METRICS = {
    "sources.infer_ms": "sources.infer",
    "transform.to_json_ms": "transform.to_json",
    "load.commit_ms": "load.commit",
    "load.append_ms": "load.append",
    "load.merge_ms": "load.merge",
    "load.takedown_ms": "load.takedown",
    "load.compact_ms": "load.compact",
    "load.vacuum_ms": "load.vacuum",
    "load.read_plan_ms": "load.read_plan",
    "queries.build_ms": "queries.build",
    "queries.exec_ms": "exec.noop",
}
COUNTER_METRICS = [
    ("streaming.query_planning_ms", "ms"), ("streaming.get_batch_ms", "ms"),
    ("streaming.add_batch_ms", "ms"), ("streaming.wal_commit_ms", "ms"),
    ("streaming.commit_offsets_ms", "ms"), ("streaming.batches", "count"),
    ("catalyst.analysis_ms", "ms"), ("catalyst.optimization_ms", "ms"),
    ("catalyst.planning_ms", "ms"), ("catalyst.query_executions", "count"),
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
    ("spark.job_ms", "ms"), ("spark.exec_run_ms", "ms"),
    ("spark.exec_cpu_ms", "ms"), ("spark.shuffle_read_bytes", "bytes"),
    ("spark.shuffle_write_bytes", "bytes"), ("spark.spill_bytes", "bytes"),
    ("fs.read_ops", "count"), ("fs.write_ops", "count"),
    ("fs.list_ops", "count"), ("fs.bytes_read", "bytes"),
    ("fs.bytes_written", "bytes"), ("jvm.gc_ms", "ms"),
]
SELF_LAYERS = ["harness", "sources", "transform", "load", "queries", "exec",
               "spark"]
# counts that noise does not move; compared across traced runs of a seed
EXACT = ["spark.jobs", "catalyst.query_executions", "fs.read_ops",
         "fs.write_ops", "fs.list_ops", "fs.bytes_written",
         "spark.shuffle_read_bytes", "spark.shuffle_write_bytes"]


def per_layer(r):
    ops = r["ops"]
    n = max(1, len(ops))
    m = {}
    for name, call in CALL_METRICS.items():
        xs = [o["calls"][call] for o in ops if call in o["calls"]]
        m[name] = (statistics.fmean(xs) if xs else 0.0, "ms")

    def tot(k):
        return sum(o["counters"].get(k, 0.0) for o in ops)

    for name, unit in COUNTER_METRICS:
        m[name] = (tot(name) / n, unit)
    m["load.live_batches"] = (float(r["extra"].get("live_batches", 0)), "count")
    batches = tot("plans.batches")
    m["plans.roots_kept_ratio"] = (tot("plans.roots") / batches if batches else 0.0,
                                   "ratio")
    m["spark.driver_gap_ms"] = (sum(o["driver_gap_ms"] for o in ops) / n, "ms")
    wall = sum(o["ms"] for o in ops)
    m["spark.core_busy_ratio"] = (tot("spark.exec_run_ms") / (wall * CORES)
                                  if wall else 0.0, "ratio")
    rows_out = tot("rows_out")
    rows_read = sum(o["counters"].get("spark.records_read", 0.0)
                    for o in ops if "rows_out" in o["counters"])
    m["spark.rows_read_per_row_out"] = (rows_read / rows_out if rows_out else 0.0,
                                        "ratio")
    for layer in SELF_LAYERS:
        m[f"self.{layer}_ms"] = (sum(o["self"].get(layer, 0.0) for o in ops) / n,
                                 "ms")
    _, wr, _ = op_samples(r)
    m["write_ms.p50"] = (pct(wr, 0.5) if wr else 0.0, "ms")
    m["write_ms.p90"] = (pct(wr, tail_q(len(wr))) if wr else 0.0, "ms")
    m["failed_ratio"] = (sum(1 for o in ops if not o["ok"]) / n, "ratio")
    m["stored_bytes_per_row"] = (r["stored_bytes"] / r["live_rows"]
                                 if r["live_rows"] else 0.0, "B/row")
    return m


def nondeterminism(r, path):
    """Compare the exact counts of this traced run, op by op, with the
    previous traced run of the same workload and seed."""
    counts = [[o["kind"]] + [o["counters"].get(k, 0.0) for k in EXACT]
              for o in r["ops"]]
    flagged = []
    if os.path.exists(path):
        prev = json.load(open(path))
        for i, (a, b) in enumerate(zip(prev, counts)):
            if a[0] != b[0]:
                flagged.append(f"op {i}: kind {a[0]} vs {b[0]}")
                break
            for k, x, y in zip(EXACT, a[1:], b[1:]):
                if x != y:
                    flagged.append(f"op {i} ({b[0]}): {k} {x:g} vs {y:g}")
    with open(path, "w") as fh:
        json.dump(counts, fh)
    return flagged


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.time()
    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft",
                                       "SparkEntry.scala")):
        die("engine sources (src/main/scala/graft) not found next to perfbench/")
    # Building and generating the tables happen once per checkout; the
    # run that does them gets the longer budget.
    cp, built = build(t_start + BUILD_BUDGET_S - 120)
    data, digest, made = tables_dir()
    deadline = t_start + (BUILD_BUDGET_S if built or made else RUN_BUDGET_S)

    run_dir = os.path.join(WORK, "runs", f"{a.workload}-{a.seed}-t{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    t_prep = time.time()
    prep = checks.prepare(a.workload, a.seed, run_dir)

    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    out = os.path.join(run_dir, "result.json")
    cmd = java_cmd(cp, tmp) + [
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--work", run_dir, "--data", data, "--out", out]
    log = os.path.join(run_dir, "jvm.log")
    t_jvm = time.time()
    with open(log, "w") as fh:
        rc = _run(cmd, timeout=deadline - time.time() - 5, cwd=run_dir,
                  stdout=fh, stderr=subprocess.STDOUT)
    if rc != 0 or not os.path.exists(out):
        sys.stderr.write("".join(open(log).readlines()[-40:]))
        die(f"harness JVM failed (rc={rc}); see {log}", 1)
    r = json.load(open(out))
    t_verify = time.time()

    problems = [f"{c['name']}: {c['detail']}" for c in r["checks"] if not c["ok"]]
    problems += checks.verify(a.workload, r, run_dir, data, digest, prep)
    ops = r["ops"]
    attempted, failed = len(ops), sum(1 for o in ops if not o["ok"])
    if attempted == 0:
        problems.append("no operation completed in the timed window")

    e2e, counts = end_to_end(r) if ops else ({}, {})
    last_dir = os.path.join(WORK, "last")
    os.makedirs(last_dir, exist_ok=True)
    diag = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
            "samples": counts, "errors": sorted({o["error"] for o in ops if not o["ok"]}),
            "extra": r["extra"], "problems": problems,
            "phase_s": {"build": round(t_prep - t_start, 2),
                        "inputs": round(t_jvm - t_prep, 2),
                        "jvm": round(t_verify - t_jvm, 2),
                        "verify": round(time.time() - t_verify, 2)}}
    if a.trace:
        metrics = per_layer(r)
        trace_dir = os.path.join(WORK, "trace")
        os.makedirs(trace_dir, exist_ok=True)
        base = os.path.join(trace_dir, f"{a.workload}-seed{a.seed}")
        diag["nondeterministic_counts"] = nondeterminism(r, base + ".counts.json")
        untraced = os.path.join(last_dir, f"{a.workload}.json")
        if os.path.exists(untraced):
            u = json.load(open(untraced))
            diag["tracing_overhead"] = {
                k: e2e[k][0] / u[k] - 1.0 for k in ("op_ms.p50", "ops_per_s")
                if k in e2e and u.get(k)}
        diag["traced_end_to_end"] = {k: v[0] for k, v in e2e.items()}
        with open(base + ".json", "w") as fh:
            json.dump({"metrics": {k: v[0] for k, v in metrics.items()},
                       "diagnostics": diag, "run": r}, fh)
    else:
        metrics = e2e
        with open(os.path.join(last_dir, f"{a.workload}.json"), "w") as fh:
            json.dump({k: v[0] for k, v in e2e.items()}, fh)

    if not problems:
        # keep the record of the run, drop its tables and inputs
        for f in os.listdir(run_dir):
            if f not in ("result.json", "jvm.log"):
                p = os.path.join(run_dir, f)
                shutil.rmtree(p) if os.path.isdir(p) else os.remove(p)
    print(json.dumps(diag))
    result = {"correct": not problems, "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
    print(json.dumps(result))
    if problems:
        for p in problems:
            print(f"perfbench: WRONG: {p}", file=sys.stderr)
        sys.exit(1)


if __name__ == "__main__":
    main()
