#!/usr/bin/env python3
"""graft pipeline benchmark: builds the checkout, runs one workload, checks
its outputs and prints one JSON result line.

    python3 perfbench/run.py --workload consumer_stats --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --smoke      # all workloads on tiny inputs, traced

Run it from the root of a checkout. The first run compiles graft's sources
together with the benchmark driver (perfbench/src) into .bench_build/; later
runs reuse the build while no source file changes. Every run works in its
own directory under .bench_build/runs/, removed when the run ends; a traced
run leaves its spans and per-layer figures in .bench_build/traces/.
See perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
# analyst_mix's tables: the repository's sf0.01 fixture (see README)
TABLES = os.path.join(HERE, "fixtures", "sf0.01")
WORKLOADS = ["consumer_stats", "ingest_gate", "analyst_mix"]
END_TO_END = ("setup_s", "first_pass_s", "op_p50_ms", "work_per_s")
JVM_TIMEOUT_S = 170
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    """Every file the build reads, in a stable order."""
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def build():
    """Compile once per distinct source tree; returns the classes directory."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("no graft sources under src/main/scala: run from the root of a graft checkout")
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "sbt", "scala-2.13", "classes")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.isdir(classes) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    os.makedirs(BUILD, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(opts))
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT).returncode
    if rc != 0:
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"build failed (exit {rc}); log in {log}", 3)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classes


def jvm(classes, workload, seed, seconds, trace, work, smoke, cpus):
    spark_home = os.environ.get("SPARK_HOME", "/opt/spark")
    for d in ("tmp", "local", "store"):
        os.makedirs(os.path.join(work, d))
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus),
               SPARK_GRAFT_ARTIFACT_DIR=os.path.join(work, "store"),
               SPARK_LOCAL_DIRS=os.path.join(work, "local"))
    env.pop("SPARK_GRAFT_ARTIFACT_STORE", None)
    # a fixed heap: no resizing pauses inside the timed window; no perf-data
    # file, which the JVM would otherwise keep in the system's /tmp
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}{os.pathsep}{os.path.join(spark_home, 'jars', '*')}", "perfbench.Main",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", "1" if trace else "0", "--work", work, "--smoke", "1" if smoke else "0",
            "--tables", TABLES]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as out:
        try:
            rc = subprocess.run(cmd, cwd=work, env=env, stdout=out, stderr=subprocess.STDOUT,
                                timeout=JVM_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            rc = "timeout"
    result = os.path.join(work, "result.json")
    if rc != 0 or not os.path.exists(result):
        sys.stderr.write(open(log, errors="replace").read()[-6000:])
        fail(f"{workload}: benchmark JVM ended with {rc}", 4)
    with open(result) as fh:
        return json.load(fh)


def oracle_errors(work):
    """analyst_mix: every query's result against its DuckDB oracle on the
    same tables -- row count, columns, and cells after ordering by every
    column, as tools/local_verify.py compares them."""
    import duckdb
    con = duckdb.connect()
    for t in sorted(os.listdir(TABLES)):
        con.execute(f"CREATE VIEW {t.split('.')[0]} AS SELECT * FROM read_parquet('{TABLES}/{t}')")
    errors = []
    for name, sql in sorted(json.load(open(os.path.join(work, "oracle_sql.json"))).items()):
        got = con.sql(f"SELECT * FROM read_parquet('{work}/results/{name}/*.parquet')")
        if sql is None:
            n = con.execute("SELECT COUNT(*) FROM got").fetchone()[0]
            if n == 0:
                errors.append(f"{name}: empty result and no oracle")
            continue
        want = con.sql(sql)
        cols = sorted(got.columns)
        if cols != sorted(want.columns):
            errors.append(f"{name}: columns {cols} != oracle {sorted(want.columns)}")
            continue
        collist = ", ".join(f'"{c}"' for c in cols)
        g = con.execute(f"SELECT {collist} FROM got ORDER BY {collist}").fetchall()
        w = con.execute(f"SELECT {collist} FROM want ORDER BY {collist}").fetchall()
        if len(g) != len(w):
            errors.append(f"{name}: {len(g)} rows != oracle {len(w)}")
        elif g != w:
            diff = next((a, b) for a, b in zip(g, w) if a != b)
            errors.append(f"{name}: value mismatch, first spark={diff[0]} oracle={diff[1]}")
    return errors


def run_one(classes, workload, seed, seconds, trace, cpus, smoke=False):
    runs = os.path.join(BUILD, "runs")
    os.makedirs(runs, exist_ok=True)
    work = os.path.join(runs, f"{workload}-{seed}-{os.getpid()}-{time.time_ns()}")
    os.makedirs(work)
    try:
        res = jvm(classes, workload, seed, seconds, trace, work, smoke, cpus)
        errors = list(res["errors"])
        if workload == "analyst_mix":
            errors += oracle_errors(work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    e2e = res["end_to_end"]
    if res["failed"]:
        errors.append(f"{res['failed']} of {res['attempted']} operations failed; none is expected")
    missing = set(END_TO_END) - set(e2e)
    errors += [f"metric {m} was not measured" for m in sorted(missing)]
    if trace:
        traces = os.path.join(BUILD, "traces")
        os.makedirs(traces, exist_ok=True)
        path = os.path.join(traces, f"{workload}-seed{seed}{'-smoke' if smoke else ''}.json")
        with open(path, "w") as fh:
            json.dump({"workload": workload, "seed": seed, "end_to_end_traced": e2e,
                       "per_layer": res["per_layer"], **res["trace"]}, fh, indent=1)
    for e in errors:
        print(f"perfbench: CHECK FAILED [{workload}] {e}", file=sys.stderr)
    return {"correct": not errors, "attempted": res["attempted"], "failed": res["failed"],
            "metrics": res["per_layer"] if trace else e2e}


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--cpus", type=int, default=min(len(os.sched_getaffinity(0)), 4),
                    help="Spark local[n] threads (default: min(nproc, 4))")
    ap.add_argument("--smoke", action="store_true",
                    help="run every workload on tiny inputs with tracing and every check on")
    a = ap.parse_args()
    if not a.smoke and not a.workload:
        ap.error("--workload is required unless --smoke is given")
    classes = build()
    if a.smoke:
        ok = True
        for w in WORKLOADS:
            t0 = time.time()
            r = run_one(classes, w, a.seed, 0, True, a.cpus, smoke=True)
            ok &= r["correct"] and r["failed"] == 0
            print(f"smoke {w}: correct={r['correct']} attempted={r['attempted']} "
                  f"failed={r['failed']} ({time.time() - t0:.0f} s)")
        print(json.dumps({"smoke": "pass" if ok else "FAIL"}))
        sys.exit(0 if ok else 1)
    r = run_one(classes, a.workload, a.seed, a.seconds, a.trace == 1, a.cpus)
    print(json.dumps(r))
    sys.exit(0 if r["correct"] else 1)


if __name__ == "__main__":
    main()
