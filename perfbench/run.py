#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the engine and the
harness from source with sbt (perfbench/build.sbt). Later runs reuse that
build while the sources it compiled are unchanged, and have sbt recompile
them otherwise. One JVM then sets up the workload's seeded inputs,
measures it and checks its outputs (see perfbench/README.md). For the
battery this script also cross-checks every dumped query result against
the engine's DuckDB oracle SQL. The last line on stdout is the result object:
{"correct", "attempted", "failed", "metrics"}; everything else goes to
stderr and to perfbench/work/<workload>/report.json.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
BUILD_FILE = os.path.join(HERE, "target", "bench-build.json")
WORKLOADS = ("extract", "battery", "incremental")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# JDK 17 module opens Spark needs outside spark-submit (the engine's
# build.sbt carries the same list).
ADD_OPENS = [a for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")
    for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]

# The garbage collector of each workload, as a deployment would choose it:
# the throughput collector for the batch extract job, the JVM's default G1
# for short queries and streaming drops. Under G1 the extract pass ran at a
# different speed in every JVM: its passes agreed within a run, but ten runs
# spread 0.18 of their median pass wall between the quartiles, against 0.15
# for ten runs under the throughput collector. The battery's query walls and
# peak RSS were steadier under G1 (0.03 and 0.04 over ten runs, against 0.08
# and 0.16 over seven).
GC = {"extract": "-XX:+UseParallelGC", "battery": "-XX:+UseG1GC",
      "incremental": "-XX:+UseG1GC"}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_hash():
    """Hash of everything the build compiles: the engine's src/main, the
    harness sources and the harness build definition."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
            os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in tops:
        files = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for path in files:
            h.update(os.path.relpath(path, ROOT).encode() + b"\0")
            with open(path, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Compiles engine + harness unless the last build in this checkout was
    of the same sources; sbt's incremental compile then does the rest."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        sys.exit("perfbench: engine sources (src/main/scala) not found; "
                 "run from the root of a full checkout")
    digest = source_hash()
    if os.path.exists(BUILD_FILE):
        with open(BUILD_FILE) as f:
            if json.load(f).get("sources") == digest:
                return
        os.remove(BUILD_FILE)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g")
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] += f" -Djava.io.tmpdir={tmp} -Dsbt.server.autostart=false"
    log("building engine + harness with sbt (sources changed since the last build)")
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=BUILD_TIMEOUT_S)
    cp = [ln for ln in p.stdout.splitlines()
          if ln.startswith("/") and "classes" in ln]
    if p.returncode != 0 or not cp:
        sys.stderr.write(p.stdout[-4000:])
        sys.exit(f"perfbench: build failed (sbt exit {p.returncode})")
    with open(BUILD_FILE, "w") as f:
        json.dump({"sources": digest, "classpath": cp[-1].strip()}, f)


def run_jvm(args, work):
    out = os.path.join(work, "result.json")
    with open(BUILD_FILE) as f:
        cp = json.load(f)["classpath"]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-XX:-UsePerfData", GC[args.workload], "-Xms3g", "-Xmx3g",
            f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false"] + ADD_OPENS +
           ["-cp", cp, "perfbench.Main", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--work", work, "--out", out])
    logfile = os.path.join(work, "jvm.log")
    with open(logfile, "w") as lf:
        p = subprocess.Popen(cmd, cwd=work, stdout=lf, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0 or not os.path.exists(out):
        with open(logfile) as lf:
            sys.stderr.write(lf.read()[-6000:])
        sys.exit(f"perfbench: benchmark JVM failed ({rc})")
    with open(out) as f:
        return json.load(f)


def canon_rows(cur):
    """Rows of a DuckDB result, columns in name order; floats rounded to 6
    decimals (the battery's output convention). Returns (sorted column
    names, sorted canonical row strings, raw rows in column-name order)."""
    cols = [d[0] for d in cur.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    raw = [[r[i] for i in order] for r in cur.fetchall()]

    def canon(v):
        if isinstance(v, float):
            return "nan" if math.isnan(v) else str(round(v, 6))
        return str(v)
    return sorted(cols), sorted("\x01".join(map(canon, r)) for r in raw), raw


def fingerprint(cols, rows):
    """Row count + order-independent hash of the canonical rows."""
    h = hashlib.sha256("\x02".join(cols).encode())
    for r in rows:
        h.update(r.encode())
        h.update(b"\n")
    return len(rows), h.hexdigest()[:16]


def float_tie_only(a, b):
    """True when two results differ only in float values, each by at most
    one unit of the 4th decimal: an AVG that sits exactly on a rounding
    tie rounds one way in Spark's double arithmetic and the other way in
    DuckDB's. Returns the number of such values, or None if the results
    differ in anything else."""
    if len(a) != len(b):
        return None

    def key(r):
        return tuple(str(v) for v in r if not isinstance(v, float))
    a, b = sorted(a, key=key), sorted(b, key=key)
    ties = 0
    for ra, rb in zip(a, b):
        if key(ra) != key(rb):
            return None
        for x, y in zip(ra, rb):
            if isinstance(x, float) and isinstance(y, float) and x != y:
                if abs(x - y) > 1.0001e-4:
                    return None
                ties += 1
    return ties


def oracle_checks(work):
    """Every dumped query result with an oracle against the DuckDB oracle
    SQL over the same generated tables."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    with open(os.path.join(work, "tables.txt")) as f:
        tables = f.read().strip()
    for t in sorted(os.listdir(tables)):
        if t.endswith(".parquet"):
            con.execute(f"CREATE VIEW {t[:-8]} AS SELECT * FROM '{tables}/{t}/*.parquet'")
    with open(os.path.join(work, "oracle_sql.json")) as f:
        oracle = json.load(f)
    checks, prints = [], {}
    outdir = os.path.join(work, "out")
    for name in sorted(os.listdir(outdir)):
        scols, srows, sraw = canon_rows(con.execute(f"SELECT * FROM '{outdir}/{name}/*.parquet'"))
        spark = fingerprint(scols, srows)
        prints[name] = spark
        if name in oracle:
            dcols, drows, draw = canon_rows(con.execute(oracle[name]))
            duck = fingerprint(dcols, drows)
            ok, detail = duck == spark, ""
            if not ok:
                ties = float_tie_only(sraw, draw) if scols == dcols else None
                ok = bool(ties)
                detail = (f"{ties} float value(s) differ by <= 1e-4 (rounding tie)" if ok
                          else f"spark {spark} vs duckdb {duck}")
            checks.append({"name": f"oracle_{name}", "ok": ok, "detail": detail})
    return checks, prints


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = {m["name"]: m["unit"] for m in spec["per_layer" if args.trace else "end_to_end"]}

    build()
    work = os.path.join(WORK, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    res = run_jvm(args, work)

    checks = res["checks"]
    if args.workload == "battery":
        oc, prints = oracle_checks(work)
        checks += oc
        res["extra"]["fingerprints"] = prints
    correct = bool(res["correct"]) and all(c["ok"] for c in checks)
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    if got != want:
        sys.exit("perfbench: metrics differ from BENCHMARK.json: "
                 f"{sorted(set(got.items()) ^ set(want.items()))}")
    with open(os.path.join(work, "report.json"), "w") as f:
        json.dump({"checks": checks, "extra": res["extra"], "metrics": res["metrics"]},
                  f, indent=1)
    for c in checks:
        if c["detail"]:
            log(f"check {'note' if c['ok'] else 'FAILED'}: {c['name']}: {c['detail']}")
    log(f"{sum(c['ok'] for c in checks)}/{len(checks)} checks passed; "
        f"extra: {json.dumps(res['extra'])[:600]}")
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": res["metrics"]}))


if __name__ == "__main__":
    main()
