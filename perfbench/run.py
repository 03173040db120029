#!/usr/bin/env python3
"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload route_serve --seed 1 --seconds 10 --trace 0

Builds the engine and the harness with sbt (once per source state, into
$CARGO_TARGET_DIR or .bench_build), makes the seeded inputs, runs one
workload in a fresh JVM inside a fresh work directory, checks the outputs,
and prints one JSON line: correct, attempted, failed and the metrics that
BENCHMARK.json lists (end_to_end untraced, per_layer traced).
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

WORKLOADS = ["route_serve", "route_batch"]
# seconds a run may take beyond its measured window
RUN_LIMIT_S = 160
BUILD_INPUTS = ["build.sbt", "project/build.properties", "src/main",
                "perfbench/build.sbt", "perfbench/project/build.properties", "perfbench/src"]
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def source_stamp(root):
    h = hashlib.sha256()
    for rel in BUILD_INPUTS:
        path = os.path.join(root, rel)
        if not os.path.exists(path):
            fail(f"missing build input {rel}: run from the repository root")
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            st = os.stat(f)
            h.update(f"{os.path.relpath(f, root)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build(root, build_dir):
    """Compiles engine + harness with sbt, offline; caches the classpath."""
    stamp = source_stamp(root)
    cp_file = os.path.join(build_dir, "classpath.txt")
    stamp_file = os.path.join(build_dir, "classpath.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline=true" not in opts:
        env["SBT_OPTS"] = (opts + " -Dsbt.offline=true").strip()
    log("building engine and harness with sbt")
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=os.path.join(root, "perfbench"), env=env, stdin=subprocess.DEVNULL,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=850)
    sys.stderr.write(p.stdout[-4000:])
    lines = [l for l in p.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        fail(f"sbt build failed (exit {p.returncode})")
    os.makedirs(build_dir, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].strip()


def oracle_failures(tables_dir, out_dir):
    """Compares each corpus query's output with its DuckDB oracle; returns
    (wrong outputs, problems)."""
    import duckdb
    import corpus_tables
    con = duckdb.connect()
    for t in corpus_tables.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables_dir}/{t}.parquet')")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    failed, problems = 0, []
    for name, sql in sorted(oracle.items()):
        exp = con.execute(sql).fetchdf()
        got = con.execute(f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')").fetchdf()
        exp, got = exp[sorted(exp.columns)], got[sorted(got.columns)]
        bad = None
        if list(exp.columns) != list(got.columns):
            bad = f"columns {list(got.columns)} != {list(exp.columns)}"
        elif len(exp) != len(got):
            bad = f"rows {len(got)} != {len(exp)}"
        else:
            for c in exp.columns:
                e, g = exp[c], got[c]
                if e.dtype.kind != g.dtype.kind:
                    bad = f"column {c} dtype {g.dtype} != {e.dtype}"
                elif e.dtype.kind == "f":
                    if (~((e == g) | (e.isna() & g.isna()))).any():
                        bad = f"column {c} values differ"
                elif (e.astype(str) != g.astype(str)).any():
                    bad = f"column {c} values differ"
                if bad:
                    break
        if bad:
            failed += 1
            problems.append(f"{name}: {bad}")
    return failed, problems


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=[0, 1])
    args = ap.parse_args()

    root = os.getcwd()
    bench_file = os.path.join(root, "BENCHMARK.json")
    if not os.path.exists(bench_file):
        fail("BENCHMARK.json not found: run from the repository root")
    with open(bench_file) as f:
        spec = json.load(f)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]

    build_dir = os.path.abspath(os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build")))
    classpath = build(root, build_dir)
    t_start = time.time()

    work = os.path.join(build_dir, f"run-{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    proc = None
    try:
        jvm_args = ["--workload", args.workload, "--seed", str(args.seed),
                    "--seconds", str(args.seconds), "--trace", str(args.trace),
                    "--work", work, "--result", os.path.join(work, "result.json")]
        tables = os.path.join(work, "tables")
        if args.trace:
            import corpus_tables
            corpus_tables.generate(args.seed, tables)
            jvm_args += ["--tables", tables]
            traces = os.path.join(build_dir, "traces")
            os.makedirs(traces, exist_ok=True)
            jvm_args += ["--trace-file", os.path.join(traces, f"{args.workload}-seed{args.seed}.json")]
        mem_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
        cmd = (["java", f"-Xmx{max(2048, min(4096, mem_mb // 4))}m"] +
               [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
               [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-cp", classpath,
                "perfbench.Main"] + jvm_args)
        proc = subprocess.Popen(cmd, cwd=work, stdin=subprocess.DEVNULL,
                                stdout=sys.stderr, stderr=sys.stderr)
        try:
            code = proc.wait(timeout=max(30, RUN_LIMIT_S + args.seconds - (time.time() - t_start)))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail("benchmark JVM exceeded its time limit", 1)
        if code != 0:
            fail(f"benchmark JVM exited with {code}", 1)
        with open(os.path.join(work, "result.json")) as f:
            res = json.load(f)

        attempted, failed = res["attempted"], res["failed"]
        if args.trace:
            bad, problems = oracle_failures(tables, os.path.join(work, "corpus-out"))
            for p in problems:
                log(f"oracle mismatch: {p}")
            failed += bad
        metrics = {}
        for m in wanted:
            v = res["metrics"].get(m["name"])
            if v is None or not math.isfinite(v):
                fail(f"metric {m['name']} was not measured", 1)
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
        print(json.dumps({"correct": failed == 0 and attempted > 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
