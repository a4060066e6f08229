#!/usr/bin/env python3
"""graft's benchmark: build, run one workload, check it, report.

    python3 graftbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a graft checkout. It builds graft and the
benchmark from source with sbt when the sources changed since the last
build (offline; the first build takes about a minute), runs one workload
in a fresh JVM, and prints one JSON object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
ones. Build outputs, run scratch and per-op traces go under
`.bench_build/` in the checkout; the scratch of a run is deleted when it
ends, its trace is kept in `.bench_build/traces/`.
"""

import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time

WORKLOADS = ("recall_batch", "build_and_prep")
ROOT = os.getcwd()
BENCH = os.path.dirname(os.path.abspath(__file__))
OUT = os.path.join(ROOT, ".bench_build")
BUILD_TIMEOUT_S = 850
RUN_LIMIT_S = 170
# A fixed 3 GB heap, and few JVM service threads: two JIT compiler threads
# and two GC threads. With Spark's two executor threads and the driver
# thread, the JVM's busy threads fit the 4 cores the benchmark was sized
# for; with the JVM's defaults they did not.
JVM_FLAGS = ["-Xms3g", "-Xmx3g", "-XX:+UseParallelGC",
             "-XX:ParallelGCThreads=2", "-XX:CICompilerCount=2"]
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    """Content digest of everything the build reads."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"),
             os.path.join(BENCH, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    """Build if the sources changed; return the runtime classpath."""
    stamp = os.path.join(OUT, "build", "stamp")
    cp_file = os.path.join(OUT, "build", "classpath")
    digest = source_digest()
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as fh:
            if fh.read() == digest:
                with open(cp_file) as fh:
                    return fh.read()
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    log = os.path.join(OUT, "build", "sbt.log")
    with open(log, "w") as fh:
        try:
            p = subprocess.run(
                ["sbt", "-batch", "-Dsbt.log.noformat=true",
                 "export graftbench/Runtime/fullClasspath"],
                cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=fh,
                stdin=subprocess.DEVNULL, text=True, timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail("build timed out", 3)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or ".jar" not in lines[-1]:
        with open(log, "a") as fh:
            fh.write(p.stdout)
        tail = p.stdout.splitlines()[-15:]
        fail("build failed:\n" + "\n".join(tail), 3)
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp, "w") as fh:
        fh.write(digest)
    return cp


def mirror_check(run_dir):
    """Run the DuckDB mirror of q_batch_recall_100q over the tables the
    JVM wrote and compare it with Spark's answer. Returns violations."""
    import duckdb
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                    f"'{run_dir}/{t}.parquet/*.parquet')")
    with open(os.path.join(run_dir, "mirror.sql")) as fh:
        sql = fh.read()
    cols = ["qid", "rank", "id", "final_score", "match_type", "s_vector",
            "s_keyword", "s_tag"]
    want = [tuple(r) for r in con.execute(sql).fetchall()]
    got = []
    ans = os.path.join(run_dir, "spark_answer.json")
    for f in sorted(os.listdir(ans)):
        if f.endswith(".json"):
            with open(os.path.join(ans, f)) as fh:
                got += [tuple(json.loads(l)[c] for c in cols) for l in fh]
    got.sort(key=lambda r: (r[0], r[1]))

    def same(a, b):
        return all(x == y or (isinstance(x, float) and isinstance(y, float)
                              and math.isclose(x, y, abs_tol=1e-9))
                   for x, y in zip(a, b))
    errs = []
    if not want:
        errs.append("DuckDB mirror returned no rows")
    if len(want) != len(got):
        errs.append(f"mirror rows {len(want)} != spark rows {len(got)}")
    errs += [f"mirror {w} != spark {g}" for w, g in zip(want, got)
             if not same(w, g)][:10]
    return errs


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no {need} here: run from the root of a graft checkout")
    cp = classpath()
    t0 = time.time()  # the run limit starts after the build

    run_dir = os.path.join(OUT, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    result = os.path.join(run_dir, "result.json")
    cmd = (["java"] +
           [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           JVM_FLAGS + [f"-Djava.io.tmpdir={run_dir}/tmp",
            "-cp", cp, "graftbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--dir", run_dir, "--out", result])
    try:
        # Spark's scratch stays in the run dir even where the environment
        # names another one (SPARK_LOCAL_DIRS overrides spark.local.dir)
        env = dict(os.environ,
                   SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
        p = subprocess.run(cmd, cwd=ROOT, env=env, stdin=subprocess.DEVNULL,
                           stdout=sys.stderr, timeout=RUN_LIMIT_S)
        if p.returncode != 0 or not os.path.exists(result):
            fail(f"benchmark JVM exited with {p.returncode}", 4)
        with open(result) as fh:
            res = json.load(fh)
        t_jvm = time.time()
        if a.workload == "recall_batch":
            errs = mirror_check(run_dir)
            for e in errs:
                print(f"CHECK FAILED: {e}", file=sys.stderr)
            res["correct"] = res["correct"] and not errs
        traces = os.path.join(OUT, "traces")
        os.makedirs(traces, exist_ok=True)
        shutil.copy(os.path.join(run_dir, "result.trace.json"),
                    os.path.join(traces, f"{a.workload}-seed{a.seed}"
                                         f"-trace{a.trace}.json"))
    except subprocess.TimeoutExpired:
        fail("benchmark JVM timed out", 5)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(f"graftbench: run {t_jvm - t0:.1f} s, mirror check "
          f"{time.time() - t_jvm:.1f} s", file=sys.stderr)
    print(json.dumps(res))


if __name__ == "__main__":
    main()
