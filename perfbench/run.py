#!/usr/bin/env python3
"""Build and run the benchmark.

Usage (from the repository root):

    python3 perfbench/run.py --workload daily_backfill --seed 1 \
        --seconds 20 --trace 0

The first run in a checkout compiles the engine and the benchmark with sbt
(perfbench/build.sbt); later runs reuse the classes while the sources are
unchanged. The benchmark itself runs in one JVM on the compiled classes plus
Spark's jars. Its last stdout line is the JSON result; everything else goes
to stderr. All files it writes stay under the checkout (.bench_work and the
sbt target directories).

For query_suite, the answers are checked here, after the JVM exits: each
query's DuckDB oracle runs over the tables the benchmark generated, and its
row count must equal the one the engine returned.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")
WORK = os.path.join(ROOT, ".bench_work")
RUN_TIMEOUT_S = 170

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation found (set SPARK_HOME)")
    return home


def source_digest():
    """Hash of every input of the build, so a changed checkout rebuilds."""
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    files = []
    for r in roots:
        if os.path.isfile(r):
            files.append(r)
        for d, _, fs in os.walk(r):
            files.extend(os.path.join(d, f) for f in fs)
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(env):
    digest = source_digest()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return
    sbt = shutil.which("sbt")
    if not sbt:
        fail("sbt not found on PATH")
    print("perfbench: building with sbt", file=sys.stderr)
    r = subprocess.run([sbt, "-batch", "compile"], cwd=HERE, env=env,
                       stdout=sys.stderr, stderr=sys.stderr,
                       stdin=subprocess.DEVNULL)
    if r.returncode != 0:
        fail("sbt compile failed")
    with open(STAMP, "w") as fh:
        fh.write(digest + "\n")


QUERY_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
                "lineitem", "events", "documents", "embeddings"]


def check_queries(result):
    """Count every query that threw, or whose DuckDB oracle returns
    another number of rows, as failed, and fold that into the result."""
    import duckdb
    check_dir = os.path.join(WORK, "query_suite_check")
    with open(os.path.join(check_dir, "expect.json")) as fh:
        expect = json.load(fh)
    con = duckdb.connect()
    for t in QUERY_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{expect['dir']}/{t}.parquet/*.parquet')")
    failed = 0
    for q in expect["queries"]:
        try:
            want = len(con.execute(q["sql"]).fetchall())
        except duckdb.Error as e:
            want = f"error: {e}"
        if q["rows"] != want:
            print(f"perfbench: {q['name']}: {q['rows']} rows, oracle {want}",
                  file=sys.stderr)
            failed += 1
    con.close()
    shutil.rmtree(check_dir)
    result["failed"] = failed
    result["correct"] = result["correct"] and failed == 0
    if "ok_frac" in result["metrics"]:
        result["metrics"]["ok_frac"]["value"] = 1 - failed / result["attempted"]
    return result


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=20)
    p.add_argument("--trace", choices=["0", "1"], default="0")
    a = p.parse_args()

    if not os.path.isdir(ENGINE_SRC):
        fail(f"engine sources not found at {os.path.relpath(ENGINE_SRC, ROOT)}"
             " (run from a full checkout)")
    env = dict(os.environ)
    env["SPARK_HOME"] = spark_home()
    env.setdefault("COURSIER_MODE", "offline")
    build(env)

    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java = os.path.join(env["JAVA_HOME"], "bin", "java") \
        if env.get("JAVA_HOME") else shutil.which("java")
    cmd = [java]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{m}=ALL-UNNAMED"]
    cmd += [
        "-Xms2g", "-Xmx2g",
        f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.local.dir={tmp}",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-Duser.timezone=UTC",
        "-cp", os.pathsep.join([CLASSES,
                                os.path.join(env["SPARK_HOME"], "jars", "*")]),
        "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", a.trace, "--work", WORK,
    ]
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                            stdin=subprocess.DEVNULL, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    lines = [ln for ln in out.splitlines() if ln.strip()]
    for ln in lines[:-1]:
        print(ln, file=sys.stderr)
    if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
        fail(f"benchmark exited with code {proc.returncode}")
    if a.workload == "query_suite":
        print(json.dumps(check_queries(json.loads(lines[-1]))))
    else:
        print(lines[-1])


if __name__ == "__main__":
    main()
