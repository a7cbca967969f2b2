#!/usr/bin/env python3
"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload <migrate|sync|search_serve> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the program and the
benchmark harness from source with sbt (perfbench/build.sbt) and caches
the runtime classpath under .bench_build/; later runs reuse it until a
source file changes. Each run starts one JVM (Spark local[4]), which
generates the workload's inputs from the seed, sets up, measures and
checks its outputs. A traced search_serve run also refines its corpus
with the program's pipeline; this script checks that output against
DuckDB running the program's oracle SQL (refine_check). The last line of
standard output is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 its per-layer metrics.
"""
import argparse
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
BUILD = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(BUILD, "classpath.txt")
WORKLOADS = ("migrate", "sync", "search_serve")
RUN_LIMIT_S = 160


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, files in os.walk(top):
            for f in files:
                yield os.path.join(d, f)
    yield os.path.join(HERE, "build.sbt")


def run_group(cmd, cwd, limit_s, stdout):
    """Run `cmd` in its own process group and wait for it; if it outlives
    `limit_s`, kill the whole group, so no child survives the run."""
    proc = subprocess.Popen(cmd, cwd=cwd, stdout=stdout, stderr=sys.stderr, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=limit_s)
        return proc.returncode, out
    except subprocess.TimeoutExpired:
        raise SystemExit(f"{cmd[0]} exceeded {limit_s} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def classpath():
    """Build with sbt unless the cached classpath is newer than every source."""
    if os.path.exists(CLASSPATH):
        built = os.path.getmtime(CLASSPATH)
        if all(os.path.getmtime(f) < built for f in sources()):
            return open(CLASSPATH).read().strip()
    log("building with sbt")
    os.makedirs(BUILD, exist_ok=True)
    t0 = time.time()
    rc, out = run_group(["sbt", "-batch", "-Dsbt.server.autostart=false", "-Dsbt.log.noformat=true",
                         "export Runtime/fullClasspath"], HERE, 800, subprocess.PIPE)
    lines = [l for l in out.splitlines() if l.strip()]
    if rc != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(out)
        raise SystemExit(f"build failed (sbt exit {rc})")
    with open(CLASSPATH, "w") as f:
        f.write(lines[-1].strip())
    log(f"built in {time.time() - t0:.0f} s")
    return lines[-1].strip()


def run_jvm(cp, args, work, out):
    # a fixed-size heap keeps the GC cadence alike across runs
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    with open(os.path.join(HERE, "jvm-opens.txt")) as f:
        for p in f.read().split():
            cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--work", work, "--out", out]
    os.makedirs(f"{work}/tmp", exist_ok=True)
    return run_group(cmd, None, RUN_LIMIT_S, sys.stderr)[0]


def oracle_rows(documents, sql):
    """(column names, rows) of `sql` in DuckDB over the parquet dir
    `documents`. DuckDB 1.0 re-evaluates a CTE at every reference unless it
    is declared AS MATERIALIZED, so every CTE is."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{documents}/*.parquet')")
        cur = con.execute(re.sub(r"(?m)^(\s*(?:WITH\s+)?\w+\s+AS)\s*\(", r"\1 MATERIALIZED (", sql))
        cols = [d[0] for d in cur.description]
        return cols, cur.fetchall()
    finally:
        con.close()


def refine_check(columns, rows, oracle_columns, oracle):
    """True if the program's rows equal the oracle's as multisets, with
    every value compared as a string, column by column name."""
    if sorted(columns) != sorted(oracle_columns):
        return False
    at = [oracle_columns.index(c) for c in columns]
    want = sorted(tuple("null" if r[i] is None else str(r[i]) for i in at) for r in oracle)
    return sorted(tuple(r) for r in rows) == want


def expected_metrics(trace):
    spec = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec):
        return None
    with open(spec) as f:
        b = json.load(f)
    return {m["name"] for m in b["per_layer" if trace else "end_to_end"]}


def main():
    # on SIGTERM unwind through run_group, which kills the JVM's group
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("no program sources under ./src/main/scala: run from the repository root")

    cp = classpath()
    work = os.path.join(BUILD, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    out = os.path.join(work, "result.json")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        rc = run_jvm(cp, args, work, out)
        if rc != 0 or not os.path.exists(out):
            raise SystemExit(f"benchmark JVM failed (exit {rc})")
        with open(out) as f:
            res = json.load(f)
        if os.path.exists(f"{work}/refine.json"):
            with open(f"{work}/refine.json") as f:
                ref = json.load(f)
            ok = refine_check(ref["columns"], ref["rows"], *oracle_rows(ref["documents"], ref["sql"]))
            res["attempted"] += 1
            res["failed"] += 0 if ok else 1
            res["correct"] = res["correct"] and ok
            if "failed_share" in res["metrics"]:
                res["metrics"]["failed_share"]["value"] = res["failed"] / res["attempted"]
            log(f"refine output {'equals' if ok else 'DIFFERS FROM'} the DuckDB oracle")
        if os.path.exists(f"{work}/spans.jsonl"):
            os.makedirs(f"{BUILD}/traces", exist_ok=True)
            shutil.copy(f"{work}/spans.jsonl", f"{BUILD}/traces/{args.workload}-seed{args.seed}.jsonl")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    want = expected_metrics(args.trace)
    if want is not None and set(res["metrics"]) != want:
        raise SystemExit(f"metrics {sorted(set(res['metrics']) ^ want)} disagree with BENCHMARK.json")
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
