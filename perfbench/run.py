#!/usr/bin/env python3
"""graft's benchmark. Run from the repository root:

    python3 perfbench/run.py --workload daily_ingest --seed 1 --seconds 15 --trace 0

Builds graft and the benchmark driver from source (perfbench/build.sbt) on
first use, runs one workload in a fresh JVM under a scratch dir
(perfbench/.work/<workload>), checks the outputs, and prints one JSON line
as the last line of stdout:

    {"correct": true, "attempted": N, "failed": F, "metrics": {...}}

--trace 0 gives the end-to-end metrics, --trace 1 the per-layer ones. See
perfbench/README.md for the workloads and what each metric means.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

import summarize

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "perfbench.classpath")
WORKLOADS = ["daily_ingest", "chain_query", "query_mix"]
HEAP = "3g"
TIME_LIMIT_S = 170  # for one run once the build is done
BUILD_LIMIT_S = 850
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_fingerprint():
    h = hashlib.sha256()
    roots = [os.path.join(REPO, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for root in roots:
        paths = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)
        for p in paths:
            st = os.stat(p)
            h.update(f"{p}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compile with sbt unless the sources are unchanged since the last
    build; returns the runtime classpath."""
    stamp = source_fingerprint()
    if os.path.exists(CLASSPATH):
        with open(CLASSPATH) as f:
            saved_stamp, cp = f.read().split("\n", 1)
        if saved_stamp == stamp:
            return cp.strip()
    log_path = os.path.join(HERE, "build.log")
    with open(log_path, "w") as log:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, stdout=subprocess.PIPE, stderr=log, text=True,
            timeout=BUILD_LIMIT_S)
        log.write(proc.stdout)
    lines = [l for l in proc.stdout.splitlines() if "scala-library" in l and not l.startswith("[")]
    if proc.returncode != 0 or not lines:
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        fail("build failed (log: perfbench/build.log)", 1)
    os.makedirs(TARGET, exist_ok=True)
    with open(CLASSPATH, "w") as f:
        f.write(stamp + "\n" + lines[-1].strip())
    return lines[-1].strip()


def run_jvm(cp, args, root, sf, cpus, deadline):
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(os.path.join(root, "tmp"))
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(root, "spark-local"))
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={root}/tmp"]
           + ADD_OPENS + ["-cp", cp, "graft.perfbench.Main",
                          "--workload", args.workload, "--seed", str(args.seed),
                          "--seconds", str(args.seconds), "--trace", str(args.trace),
                          "--root", root, "--sf", sf, "--cpus", str(cpus),
                          "--launch-ms", str(int(time.time() * 1000))])
    log_path = os.path.join(root, "jvm.log")
    with open(log_path, "w") as log:
        try:
            proc = subprocess.run(cmd, cwd=root, env=env, stdout=log,
                                  stderr=subprocess.STDOUT,
                                  timeout=max(10, deadline - time.time()))
            code = proc.returncode
        except subprocess.TimeoutExpired:
            code = "timeout"
    result = os.path.join(root, "result.json")
    if code != 0 or not os.path.exists(result):
        with open(log_path, errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"benchmark JVM failed ({code}); log: {log_path}", 1)
    with open(result) as f:
        return json.load(f)


def duckdb_totals(csv_dirs):
    """Per return flag: rows and exact l_extendedprice sum over the rows of
    the CSV drops where every typed column parses — the ingest's rule."""
    import duckdb
    files = sorted(f for d in csv_dirs for f in glob.glob(os.path.join(d, "*.csv")))
    parses = " AND ".join(f"TRY_CAST({c} AS {t}) IS NOT NULL" for c, t in [
        ("l_orderkey", "BIGINT"), ("l_partkey", "BIGINT"), ("l_suppkey", "BIGINT"),
        ("l_linenumber", "INTEGER"), ("l_quantity", "DOUBLE"),
        ("l_extendedprice", "DOUBLE"), ("l_discount", "DOUBLE"), ("l_tax", "DOUBLE"),
        ("l_shipdate", "DATE")])
    rows = duckdb.connect().execute(
        "SELECT l_returnflag, count(*), sum(CAST(l_extendedprice AS DECIMAL(18,2))) "
        f"FROM read_csv(?, header=true, all_varchar=true) WHERE {parses} GROUP BY 1",
        [files]).fetchall()
    return {flag: [n, str(total)] for flag, n, total in rows}


def gate(result, samples, deadline):
    """Checks that run outside the JVM; marks the samples they fail."""
    workload = result["workload"]
    if workload == "daily_ingest":
        for chain in result["gate"]["chains"]:
            want = duckdb_totals(chain["csv"])
            got = {k: [v[0], v[1]] for k, v in chain["totals"].items()}
            if got != want:
                for s in samples:
                    if s[0] in chain["ops"] and not s[3]:
                        s[3] = f"chain totals {got}, DuckDB {want}"
    elif workload == "query_mix":
        dump = result["gate"]["dump"]
        try:
            out = subprocess.run(
                [sys.executable, os.path.join(REPO, "tools", "check_oracle.py"),
                 result["sf"], dump], cwd=os.path.dirname(dump), capture_output=True,
                text=True, timeout=max(5, deadline - time.time())).stdout
        except subprocess.TimeoutExpired:
            out = ""  # unchecked: every op fails
        passed = {l.split()[1].rstrip(":") for l in out.splitlines() if l.startswith("OK ")}
        for s in samples:
            if s[1] not in passed and not s[3]:
                s[3] = "oracle check failed: " + result["gate"]["dump_errors"].get(s[1], "mismatch")
        failing = sorted({s[1] for s in samples if s[1] not in passed})
        if failing:
            print("perfbench: oracle failures: " + ", ".join(failing), file=sys.stderr)


def end_to_end(result, samples):
    ok_ms = [s[2] for s in samples if not s[3]]
    p50, n, _ = summarize.percentile(ok_ms, 50) if ok_ms else (0.0, 0, 0)
    p90, _, beyond = summarize.percentile(ok_ms, 90) if ok_ms else (0.0, 0, 0)
    print(f"perfbench: {n} timed ops ok; {beyond} samples beyond p90", file=sys.stderr)
    return {
        "setup_s": (result["setup_s"], "s"),
        "ops_per_s": (len(ok_ms) / result["timed_s"], "1/s"),
        "op_p50_ms": (p50, "ms"),
        "op_p90_ms": (p90, "ms"),
        "store_bytes_per_input_byte": (result["store_bytes"] / max(1, result["input_bytes"]), "ratio"),
        "peak_heap_mb": (result["peak_heap_mb"], "MB"),
    }


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(REPO, "src", "main", "scala")):
        fail(f"no graft sources at {REPO}/src/main/scala: run from a full checkout")
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", os.path.expanduser("~/testdata/sf0.1"))
    if not os.path.exists(os.path.join(sf, "lineitem.parquet")):
        fail(f"no lineitem.parquet under {sf} (set SPARK_GRAFT_SF_DIR)")
    cpus = min(4, len(os.sched_getaffinity(0)))

    cp = build()
    work = os.path.join(HERE, ".work")
    root = os.path.join(work, args.workload)
    t_jvm = time.time()
    result = run_jvm(cp, args, root, sf, cpus, t_jvm + TIME_LIMIT_S)
    t_gate = time.time()
    result["sf"] = sf
    samples = result["samples"]
    gate(result, samples, t_jvm + TIME_LIMIT_S + 5)
    failed = sum(1 for s in samples if s[3])
    for s in samples:
        if s[3]:
            print(f"perfbench: op {s[0]} {s[1]} failed: {s[3][:300]}", file=sys.stderr)

    e2e = end_to_end(result, samples)
    if args.trace:
        metrics = summarize.per_layer(result)
        if args.workload != "chain_query":
            metrics = {k: v for k, v in metrics.items() if k not in summarize.CHAIN_ONLY}
    else:
        metrics = e2e
    print(f"perfbench: fail_ratio {failed}/{len(samples)}; input {result['input_bytes']} bytes; "
          f"k={cpus}; JVM {t_gate - t_jvm:.1f} s (session {result['session_s']:.1f}, set-up "
          f"{result['setup_s']:.1f}, timed {result['timed_s']:.1f}, checks {result['checks_s']:.1f}), "
          f"gate {time.time() - t_gate:.1f} s", file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(samples),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
