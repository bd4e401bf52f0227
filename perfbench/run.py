#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload intake|queries \
        --seed N --seconds S --trace 0|1

Run from the repository root.  The harness is compiled on first use
(see build.py).  Inputs are generated from the seed into
``.bench_build/work``; the JVM harness (``graftbench.Main``) runs the
workload closed-loop for ``--seconds`` and checks the intake outputs
against the generator's expectations; the query outputs are checked
here against each query's DuckDB oracle, and a process whose late
runs read slower than its early runs by more than the ``run_s`` bound
fails the drift check.  The last line of standard
output is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``, as named in BENCHMARK.json).
"""

import argparse
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402

# Input sizes of the queries workload.  The graph-ANN query is bound by
# its job count, not by input size, so a small corpus keeps a run short
# without changing what it stresses.
TABLE_SIZES = {"embeddings": 1000, "documents": 2000, "events": 20000,
               "orders": 30000}
TABLES = ["documents", "embeddings", "events", "orders", "lineitem"]
# Allowance for the harness beyond --seconds: set-up plus the run that
# crosses the deadline, or the traced process's two runs and replay.
JVM_ALLOWANCE_S = 170

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def jvm_cmd(cp, work, args, t0_ms):
    opens = []
    for p in ADD_OPENS:
        opens += ["--add-opens", "java.base/%s=ALL-UNNAMED" % p]
    return (["java"] + opens + [
        # no hsperfdata file outside the working directory
        "-XX:-UsePerfData",
        "-Xms2g", "-Xmx2g", "-XX:ReservedCodeCacheSize=512m",
        "-Dspark.ui.enabled=false", "-Duser.timezone=UTC",
        "-Dderby.stream.error.file=" + os.path.join(work, "derby.log"),
        "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        "-cp", cp, "graftbench.Main",
        "--workload", args.workload, "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--work", work, "--t0-ms", str(t0_ms)])


def norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return v


def rows_of(rel):
    cols = sorted(rel.columns)
    idx = [rel.columns.index(c) for c in cols]
    return cols, [tuple(norm(r[i]) for i in idx) for r in rel.fetchall()]


def check_queries(work):
    """Compare every timed output with the query's DuckDB oracle; one
    failure per (query, pass) that differs."""
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(work, "data", t + ".parquet")
        if os.path.exists(p):
            con.sql("CREATE VIEW %s AS SELECT * FROM '%s'" % (t, p))
    with open(os.path.join(work, "oracles.json")) as fh:
        oracles = json.load(fh)
    failures = []
    out = os.path.join(work, "out")
    for name in sorted(os.listdir(out)) if os.path.isdir(out) else []:
        passes = sorted(os.listdir(os.path.join(out, name)))
        if name not in oracles:
            failures.append("%s: no oracle" % name)
            continue
        exp = rows_of(con.sql(oracles[name]))
        for p in passes:
            got = rows_of(con.sql("SELECT * FROM '%s/*.parquet'"
                                  % os.path.join(out, name, p)))
            if got != exp:
                failures.append("%s %s: %d rows vs oracle %d rows" % (
                    name, p, len(got[1]), len(exp[1])))
    return failures


def drift_failures(runs, bound):
    """The late runs of one process may read no slower than its
    early runs by more than the run-time bound: state that piles up in
    one JVM would show here."""
    if len(runs) < 2:
        return []
    half = len(runs) // 2
    early, late = median(runs[:half]), median(runs[-half:])
    if late <= early * (1 + bound):
        return []
    return ["drift: late runs %.3f s over early runs %.3f s exceeds 1 + %.2f"
            % (late, early, bound)]


def median(xs):
    s = sorted(xs)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def fail(msg):
    """A run that could not finish: say why, report it as one failed
    operation and exit non-zero."""
    sys.stderr.write(msg + "\n")
    print(json.dumps({"correct": False, "attempted": 1, "failed": 1,
                      "metrics": {}}))
    raise SystemExit(1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["intake", "queries"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    cp = build.build()

    t0 = time.time()
    work = os.path.join(build.OUT, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    if args.workload == "intake":
        plan, fleet, expect = gen.fleet(args.seed)
        for name, obj in [("plan", plan), ("fleet", fleet),
                          ("expect", expect)]:
            with open(os.path.join(work, name + ".json"), "w") as fh:
                json.dump(obj, fh)
    else:
        os.makedirs(os.path.join(work, "data"))
        gen.write_tables(args.seed, os.path.join(work, "data"), TABLE_SIZES)

    timeout = JVM_ALLOWANCE_S + max(0.0, args.seconds)
    with open(os.path.join(work, "jvm.log"), "w") as log:
        try:
            # subprocess.run kills and reaps the harness on timeout
            r = subprocess.run(jvm_cmd(cp, work, args, int(t0 * 1000)),
                               stdout=subprocess.PIPE, stderr=log,
                               text=True, timeout=timeout, cwd=work)
        except subprocess.TimeoutExpired:
            fail("harness killed after %.0f s" % timeout)
    lines = [l for l in r.stdout.splitlines() if l.startswith("RESULT ")]
    if r.returncode != 0 or not lines:
        with open(os.path.join(work, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail("harness failed (exit %d)" % r.returncode)
    res = json.loads(lines[-1][len("RESULT "):])

    failures = list(res["failures"])
    if args.workload != "intake":
        failures += check_queries(work)
    bound = {m["name"]: m["bound"] for m in spec["end_to_end"]}["run_s"]
    failures += drift_failures(res["run_seq"], bound)
    attempted = res["attempted"] + (1 if len(res["run_seq"]) >= 2 else 0)
    for f in failures:
        print("FAIL", f)
    print("runs_s", " ".join("%.3f" % s for s in res["runs"]))
    if args.trace:
        spans = os.path.join(work, "spans.jsonl")
        if os.path.exists(spans):
            shutil.copy(spans, os.path.join(
                build.OUT, "spans-%s.jsonl" % args.workload))
        layer = res["per_layer"]
        metrics = {m["name"]: {"value": float(layer.get(m["name"], 0.0)),
                               "unit": m["unit"]} for m in spec["per_layer"]}
    else:
        e2e = res["end_to_end"]
        metrics = {m["name"]: {"value": float(e2e[m["name"]]),
                               "unit": m["unit"]} for m in spec["end_to_end"]}
    for k, v in metrics.items():
        print("%-44s %16.4f %s" % (k, v["value"], v["unit"]))
    shutil.rmtree(work, ignore_errors=True)
    attempted = max(1, attempted)
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": min(len(failures), attempted),
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
