#!/usr/bin/env python3
"""Benchmark runner for graft.

Run from the repository root:

    python3 graftbench/run.py --workload mr_jobs --seed 1 --seconds 10 --trace 0

Builds the engine and the harness (sbt, once per source tree), writes the
workload's inputs from the seed, runs the workload in one JVM (Spark
local[nproc], one client in a closed loop), checks the outputs and
prints one JSON result object as the last line of standard output.
Everything it writes stays under `.bench_build/` in the current
directory. See graftbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gendata  # noqa: E402

WORKLOADS = ("mr_jobs", "query_suite", "ingest_ticks")
# input kind and size per workload (see gendata.py)
INPUTS = {
    "mr_jobs": ("mr_input", 1_000_000),
    "query_suite": ("tables", 0.001),
    "ingest_ticks": ("corpus", 1000),
}
BUILD_DIR = ".bench_build"
DATAGEN_REPEATS = 3
RUN_DEADLINE_S = 170
JVM_FLAGS = [
    "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [f for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for f in ("--add-opens", f"{p}=ALL-UNNAMED")]


def log(msg):
    print(f"[graftbench] {msg}", file=sys.stderr, flush=True)


def source_key(root):
    """Digest of every file the build reads."""
    h = hashlib.sha1()
    dirs = [os.path.join(root, "src", "main"), os.path.join(HERE, "src", "main"),
            os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt")]
    for d in dirs:
        for base, _, names in os.walk(d):
            if os.sep + "target" in base:
                continue
            files += [os.path.join(base, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(root):
    """Compiles the engine and the harness; returns the runtime classpath."""
    key, key_file = source_key(root), os.path.join(root, BUILD_DIR, "build.key")
    cp_file = os.path.join(root, BUILD_DIR, "classpath.txt")
    if os.path.exists(cp_file) and os.path.exists(key_file) and open(key_file).read() == key:
        return open(cp_file).read().strip()
    log("building (sbt compile)")
    os.makedirs(os.path.join(root, BUILD_DIR), exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    proc = subprocess.run(
        ["sbt", "-batch", "-J-XX:-UsePerfData", "-Dsbt.offline=true", "-Dsbt.server.forcestart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840,
    )
    out = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not out:
        sys.stderr.write("\n".join(out[-40:]) + "\n")
        raise SystemExit("build failed")
    classpath = out[-1].strip()
    with open(cp_file, "w") as f:
        f.write(classpath)
    with open(key_file, "w") as f:
        f.write(key)
    return classpath


def tree_digest(path):
    h = hashlib.sha1()
    for name in sorted(os.listdir(path)):
        h.update(name.encode())
        with open(os.path.join(path, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def make_inputs(run_dir, workload, seed):
    """Writes the inputs DATAGEN_REPEATS times; returns (dir, median seconds).
    The copies must be byte-identical: the generator is a pure function
    of the seed."""
    kind, size = INPUTS[workload]
    times, digests = [], []
    for i in range(DATAGEN_REPEATS):
        out = os.path.join(run_dir, f"input{i}")
        t0 = time.perf_counter()
        gendata.generate(kind, out, seed, size)
        times.append(time.perf_counter() - t0)
        digests.append(tree_digest(out))
        if i:
            shutil.rmtree(out)
    if len(set(digests)) != 1:
        raise SystemExit("input generation is not deterministic")
    return os.path.join(run_dir, "input0"), statistics.median(times)


def oracle_check(input_dir, work_dir):
    """Compares each dumped build-pass result with the query's DuckDB
    oracle over the same tables; returns the failing query names."""
    import duckdb
    import pandas as pd

    def canon(df):
        df = df.reindex(sorted(df.columns), axis=1)
        if len(df) and len(df.columns):
            df = df.sort_values(by=list(df.columns), kind="mergesort")
        df = df.reset_index(drop=True).astype(object)
        return df.where(pd.notna(df), None)

    con = duckdb.connect()
    for f in sorted(os.listdir(input_dir)):
        con.sql(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{input_dir}/{f}')")
    with open(os.path.join(work_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    failed = []
    for name, sql in sorted(oracle.items()):
        try:
            got = con.sql(f"SELECT * FROM read_parquet('{work_dir}/results/{name}/*.parquet')").df()
            exp = con.sql(sql).df()
            if not canon(exp).equals(canon(got)):
                failed.append(name)
        except Exception as e:  # noqa: BLE001 - any failure fails the query
            log(f"oracle {name}: {type(e).__name__}: {str(e)[:200]}")
            failed.append(name)
    return failed, len(oracle)


def run_jvm(root, classpath, args, run_dir, deadline):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", *JVM_FLAGS, f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           "-cp", classpath, "graft.graftbench.Main", *args]
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as logf:
        proc = subprocess.Popen(cmd, cwd=root, stdout=logf, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            code = None
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if code != 0:
        with open(log_path) as f:
            tail = f.read()[-4000:]
        sys.stderr.write(tail + "\n")
        raise SystemExit("the benchmark JVM timed out" if code is None else f"the benchmark JVM exited with {code}")


def select_metrics(declared, measured, fill):
    """The declared metrics, in order, with the declared units. A per-layer
    metric the workload does not exercise reads 0 (`fill`)."""
    out = {}
    for m in declared:
        got = measured.get(m["name"])
        if got is None and not fill:
            raise SystemExit(f"metric {m['name']} was not measured")
        if got is not None and got["unit"] != m["unit"]:
            raise SystemExit(f"metric {m['name']}: unit {got['unit']} != declared {m['unit']}")
        out[m["name"]] = {"value": got["value"] if got else 0, "unit": m["unit"]}
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    for need in ("BENCHMARK.json", "src/main/scala/graft/engine/MapReduce.scala", "src/test/resources/refcorpus"):
        if not os.path.exists(os.path.join(root, need)):
            log(f"{need} not found: run from the root of a graft checkout")
            return 2
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    classpath = build(root)
    deadline = time.monotonic() + RUN_DEADLINE_S

    run_dir = os.path.join(root, BUILD_DIR, f"run-{a.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        input_dir, datagen_s = make_inputs(run_dir, a.workload, a.seed)
        work = os.path.join(run_dir, "work")
        os.makedirs(work)
        result_path = os.path.join(run_dir, "result.json")
        launch_ms = int(time.time() * 1000)
        run_jvm(root, classpath, [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--input", input_dir, "--work", work,
            "--result", result_path, "--launch-ms", str(launch_ms),
            "--datagen-s", repr(datagen_s),
        ], run_dir, deadline)
        with open(result_path) as f:
            res = json.load(f)
        attempted, failed, errors = res["attempted"], res["failed"], res["errors"]
        if a.workload == "query_suite":
            bad, n = oracle_check(input_dir, work)
            failed += len(bad)
            errors += [f"oracle mismatch: {q}" for q in bad]
            log(f"oracle check: {n - len(bad)}/{n} queries match DuckDB")
        for e in errors[:20]:
            log(f"failed: {e}")
        e2e, layers = res["end_to_end"], res["per_layer"]
        log(f"{a.workload} seed={a.seed} attempted={attempted} failed={failed} "
            f"failed_share={failed / max(1, attempted):.4f} {json.dumps(res['info'])}")
        for name, m in list(e2e.items()) + list(layers.items()):
            log(f"  {name:36s} {m['value']:.6g} {m['unit']}")
        if a.trace:
            for name in ("op_p50_s", "op_tail_pct", "op_count"):
                layers[f"trace.{name}"] = e2e[name]
        metrics = select_metrics(spec["per_layer" if a.trace else "end_to_end"], layers if a.trace else e2e,
                                 fill=bool(a.trace))
        print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
        return 0
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
