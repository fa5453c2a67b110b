#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result as one JSON line.

Usage, from the repository root:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

The first run in a checkout builds the program and the harness with sbt
(`perfbench/build.sbt` depends on the root build); later runs reuse the
build while the sources are unchanged. The harness JVM prints the workload's
figures and a `RESULT {...}` line; this script adds the DuckDB cross-check of
the catalog queries (by the rules of `tools/oracle_check.py`), keeps exactly
the metrics BENCHMARK.json lists for the mode (end-to-end with --trace 0,
per-layer with --trace 1) and prints the final JSON object as its last line.
"""
import argparse
import hashlib
import importlib.util
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORK = os.path.join(ROOT, ".bench_work")
DEADLINE_S = 170
BUILD_TIMEOUT_S = 840

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def load_spec():
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(path):
        die("BENCHMARK.json not found in the working directory")
    with open(path) as f:
        return json.load(f)


def source_stamp():
    """Digest of every build input: rebuild when any of them changes."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, x) for x in sorted(fs)]
    for p in files:
        if os.path.isfile(p):
            st = os.stat(p)
            h.update(f"{p}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def classpath():
    """Builds on first use; returns the harness's runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        die("the program's sources (build.sbt, src/main/scala) are missing")
    if shutil.which("sbt") is None:
        die("sbt is not on PATH")
    os.makedirs(BUILD, exist_ok=True)
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.isfile(cp_file):
        with open(cp_file) as f:
            saved_stamp, cp = f.read().split("\n", 1)
        if saved_stamp == stamp and all(os.path.exists(p) for p in cp.split(os.pathsep)):
            return cp
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        try:
            p = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                 "export Runtime/fullClasspath"],
                cwd=HERE, stdout=subprocess.PIPE, stderr=out, text=True,
                timeout=BUILD_TIMEOUT_S, stdin=subprocess.DEVNULL)
        except subprocess.TimeoutExpired:
            die(f"build timed out; see {log}", 1)
        out.write(p.stdout)
    lines = [x for x in p.stdout.splitlines() if x.strip()]
    if p.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        die(f"build failed; see {log}", 1)
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + cp)
    return cp


def run_jvm(cp, argv, work, timeout):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [a for p in JVM_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = [java, "-XX:+UseParallelGC", "-Xms2g", "-Xmx3g", "-XX:ReservedCodeCacheSize=512m",
           "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}"] + opens + \
          ["-cp", cp, "perfbench.Main", "--work", work] + argv
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                            text=True, start_new_session=True,
                            stdin=subprocess.DEVNULL)
    try:
        out, err = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        die("the workload did not finish in time", 3)
    return proc.returncode, out, err


def corrupted(tbl):
    """Self-check: the table with the first non-null cell of its first
    column set to null."""
    import pyarrow as pa
    name = tbl.column_names[0]
    vals = tbl.column(name).to_pylist()
    i = next((k for k, v in enumerate(vals) if v is not None), None)
    if i is None:
        return tbl.slice(1)
    vals[i] = None
    return tbl.set_column(0, name, pa.array(vals, type=tbl.schema.field(name).type))


def compare(oc, q, got, exp):
    """Failure messages of one query under the repository's oracle gate
    (`tools/oracle_check.py`): columns by name, dtype hazards, then rows in
    emitted order, compared exactly."""
    if got is None:
        return [f"{q}: no Spark output"]
    gc, gr = oc.table_rows(got)
    ec, er = oc.table_rows(exp)
    if gc != ec:
        return [f"{q}: columns differ: spark={gc} duckdb={ec}"]
    hazards = oc.type_hazards(q, got, exp)
    if hazards:
        return hazards
    if len(gr) != len(er):
        return [f"{q}: row counts differ: spark={len(gr)} duckdb={len(er)}"]
    for i, (a, b) in enumerate(zip(gr, er)):
        if a != b:
            j = next(k for k in range(len(gc)) if a[k] != b[k])
            return [f"{q}: row {i} column {gc[j]}: spark={a[j]!r} duckdb={b[j]!r}"]
    return []


def oracle_check(work, corrupt):
    """Compares each dumped catalog result with DuckDB running the query's
    oracle SQL over the same tables, by the rules of the repository's
    oracle gate. Returns (checked, failures): one failure per query that
    does not match."""
    out = os.path.join(work, "oracle")
    sql_file = os.path.join(out, "oracle_sql.json")
    if not os.path.isfile(sql_file):
        return 0, []
    with open(sql_file) as f:
        oracle = json.load(f)
    with open(os.path.join(out, "tables")) as f:
        tables = f.read().strip()
    try:
        path = os.path.join(ROOT, "tools", "oracle_check.py")
        spec = importlib.util.spec_from_file_location("oracle_check", path)
        oc = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(oc)  # imports duckdb and pyarrow.parquet
    except (OSError, ImportError) as e:
        return len(oracle), [f"oracle: cannot load tools/oracle_check.py: {e}"]
    con = oc.duckdb.connect()
    for t in os.listdir(tables):
        if t.endswith(".parquet"):
            name = t[:-len(".parquet")]
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                        f"read_parquet('{tables}/{t}/*.parquet')")
    fails = []
    for n, (q, sql) in enumerate(sorted(oracle.items())):
        parts = sorted(x for x in os.listdir(os.path.join(out, q)) if x.endswith(".parquet"))
        got = oc.pq.read_table(os.path.join(out, q, parts[0])) if parts else None
        if corrupt and n == 0 and got is not None:
            got = corrupted(got)
        try:
            exp = con.execute(sql).fetch_arrow_table()
        except Exception as e:  # an oracle that cannot run is a failure
            fails.append(f"oracle: {q}: SQL error {str(e)[:200]}")
            continue
        msgs = compare(oc, q, got, exp)
        if msgs:
            fails.append("oracle: " + "; ".join(msgs))
    con.close()
    return len(oracle), fails


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--corrupt", action="store_true",
                    help="self-check: corrupt one expected result, and one "
                         "dumped catalog result before its oracle check")
    a = ap.parse_args()
    t0 = time.time()
    spec = load_spec()
    names = [w["name"] for w in spec["workloads"]]
    if a.workload not in names:
        die(f"unknown workload {a.workload}; choose from {names}")
    cp = classpath()
    work = os.path.join(WORK, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        argv = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace)]
        if a.corrupt:
            argv.append("--corrupt")
        # On a file system mounted with `discard`, freed blocks are trimmed
        # when the journal commits. Sync before and after the run, so that
        # no run pays for the files another run deleted.
        os.sync()
        left = DEADLINE_S - (time.time() - t0)
        if left < a.seconds + 30:
            left = a.seconds + 120  # the build used the first run's allowance
        code, out, err = run_jvm(cp, argv, work, left)
        lines = out.splitlines()
        res = [x for x in lines if x.startswith("RESULT ")]
        if code != 0 or not res:
            sys.stderr.write(err[-4000:])
            die(f"the workload exited with code {code} and no result", 1)
        for x in err.splitlines():
            if x.startswith(("FAILURE ", "perfbench: ")):
                print(x, file=sys.stderr)
        r = json.loads(res[-1][len("RESULT "):])
        checked, fails = oracle_check(work, a.corrupt)
        for m in fails:
            print(f"FAILURE {m}", file=sys.stderr)
        attempted = r["attempted"] + checked
        failed = r["failed"] + len(fails)
        section = "per_layer" if a.trace else "end_to_end"
        metrics = {}
        for m in spec[section]:
            got = r["metrics"].pop(m["name"], None)
            if got is None:
                if a.trace:  # a layer this workload does not exercise
                    got = {"value": 0.0, "unit": m["unit"]}
                else:
                    die(f"the workload did not report {m['name']}", 1)
            if got["unit"] != m["unit"] or got["value"] is None:
                die(f"bad figure for {m['name']}: {got}", 1)
            metrics[m["name"]] = {"value": got["value"], "unit": m["unit"]}
        unknown = sorted(k for k in r["metrics"]
                         if k not in {m["name"] for m in spec["end_to_end"] + spec["per_layer"]})
        if unknown:
            die(f"metrics missing from BENCHMARK.json: {unknown}", 1)
        for x in lines:
            if not x.startswith("RESULT "):
                print(x)
        print(f"{'error_rate (with oracle)':<24} {failed / max(attempted, 1):14.4f} ratio")
        trace = os.path.join(work, "trace.jsonl")
        if os.path.isfile(trace):
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            shutil.copy(trace, os.path.join(WORK, "traces", f"{a.workload}-{a.seed}.jsonl"))
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        os.sync()


if __name__ == "__main__":
    main()
