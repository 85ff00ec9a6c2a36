#!/usr/bin/env python3
"""Repository benchmark for the graft copy engine and its operator library.

Usage (from the repository root):

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Workloads (see BENCHMARK.json):
  copy_catalog  a Copy.run of six declared tables, each to a parquet
                destination of its own declared storage, with safe-check
                readonly and sync-identity, then a Copy.run of ORDERS into an
                embedded Derby database; LINEITEM is replicated 4x and
                written as a directory of part files, the shape a
                Spark-written source has
  ops_mix       six operator-library keys, each result materialized as
                its order-independent hash

Each run builds the engine together with the benchmark driver (sbt, once
per source state), generates its inputs from the committed base tables
and the seed, runs the driver JVM for the workload, checks every output
outside the timed region and prints one JSON result as the last line of
standard output. A line before it records the environment and the
generated inputs. With --trace 0 the metrics are the end-to-end metrics
of BENCHMARK.json, with --trace 1 the per-layer metrics.

Everything the run writes stays inside the repository checkout: build
outputs under perfbench/target, inputs, destinations, Derby, Spark and
streaming scratch under .bench_work/ (removed at exit).
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
BASE = os.path.join(HERE, "base")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
# copy_catalog's LINEITEM: the base table (60k rows) replicated with key
# offsets, written as a directory of part files
LINEITEM_COPIES = 4
LINEITEM_FILES = 8
HEAP = "2g"
JVM_TIMEOUT_S = 160

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


# --------------------------------------------------------------------------
# build
# --------------------------------------------------------------------------

def source_digest():
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def spark_jars():
    """The jars directory of the local Spark installation: SPARK_HOME, else
    the installation that provides spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home, "jars") if home else ""
    if not os.path.isdir(jars):
        fail("Spark installation not found (set SPARK_HOME)")
    return jars


def build():
    """Compile engine + driver once per source state; returns the classpath."""
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail(f"engine sources not found under {os.path.relpath(ENGINE_SRC, ROOT)}")
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH")
    jars = spark_jars()
    digest = source_digest()
    stamp = os.path.join(TARGET, "perfbench.stamp")
    cp_file = os.path.join(TARGET, "perfbench.classpath")
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as fh:
            if fh.read().strip() == digest:
                with open(cp_file) as fh:
                    return fh.read().strip()
    t0 = time.time()
    log("building engine and driver with sbt")
    p = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", f"-Dperfbench.sparkJars={jars}",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        stdin=subprocess.DEVNULL, text=True)
    lines = p.stdout.splitlines()
    if p.returncode != 0:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (sbt exit {p.returncode})", 3)
    cp = [ln for ln in lines if "perfbench" in ln and "classes" in ln
          and not ln.startswith("[")]
    if not cp:
        fail("build printed no classpath", 3)
    os.makedirs(TARGET, exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(cp[-1].strip())
    with open(stamp, "w") as fh:
        fh.write(digest)
    log(f"build done in {time.time() - t0:.1f} s")
    return cp[-1].strip()


# --------------------------------------------------------------------------
# inputs
# --------------------------------------------------------------------------

def generate(workload, seed, out):
    """Seeded inputs from the committed base tables: row permutations, and
    for LINEITEM replication with key offsets. Same seed, same inputs."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(out)

    def base(t):
        return pq.read_table(os.path.join(BASE, f"{t}.parquet"))

    def permuted(tab):
        return tab.take(pa.array(rng.permutation(tab.num_rows)))

    def replicated(tab, copies):
        span = pc.max(tab["l_orderkey"]).as_py() + 1
        i = tab.schema.get_field_index("l_orderkey")
        parts = [tab.set_column(i, "l_orderkey",
                                pc.add(tab["l_orderkey"], pa.scalar(k * span, pa.int64())))
                 for k in range(copies)]
        return pa.concat_tables(parts)

    written = {}

    def write(name, tab, files=1):
        path = os.path.join(out, f"{name}.parquet")
        if files == 1:
            pq.write_table(tab, path)
        else:
            os.makedirs(path)
            n = -(-tab.num_rows // files)
            for f in range(files):
                pq.write_table(tab.slice(f * n, n),
                               os.path.join(path, f"part-{f:05d}.parquet"))
        written[name] = {"rows": tab.num_rows, "files": files}

    for t in TABLES:
        if workload == "copy_catalog" and t == "lineitem":
            write(t, permuted(replicated(base(t), LINEITEM_COPIES)),
                  files=LINEITEM_FILES)
        else:
            write(t, permuted(base(t)))
    for name, w in written.items():
        w["bytes"] = dir_bytes(os.path.join(out, f"{name}.parquet"))
    return written


def dir_bytes(p):
    if os.path.isfile(p):
        return os.path.getsize(p)
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(p) for f in fs)


# --------------------------------------------------------------------------
# oracle check for ops_mix: tools/check.py's canonicalization and its loose
# compare (exact, else numeric columns allclose and the rest as strings)
# --------------------------------------------------------------------------

def same(g, e):
    import numpy as np
    import pandas as pd
    if sorted(g.columns) != sorted(e.columns) or len(g) != len(e):
        return False
    g, e = g.reset_index(drop=True), e.reset_index(drop=True)
    if g.equals(e):
        return True
    for c in g.columns:
        a, b = g[c], e[c]
        if pd.api.types.is_numeric_dtype(a) and pd.api.types.is_numeric_dtype(b):
            if not np.allclose(a.astype("float64"), b.astype("float64"),
                               rtol=1e-9, atol=1e-9, equal_nan=True):
                return False
        elif not a.astype(str).equals(b.astype(str)):
            return False
    return True


def oracle_failures(data_dir, out_dir, keys):
    """Keys whose dumped result does not match its DuckDB oracle (or, for a
    key without one, is empty)."""
    import duckdb
    import pandas as pd
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from check import canon
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data_dir, t + '.parquet')}')")
    with open(os.path.join(out_dir, "oracle_sql.json")) as fh:
        oracles = json.load(fh)
    bad = set()
    for k in keys:
        try:
            got = pd.read_parquet(os.path.join(out_dir, k))
            if k not in oracles:
                ok = len(got) > 0
            else:
                ok = same(canon(got), canon(con.execute(oracles[k]).df()))
        except Exception as e:  # a missing or unreadable result is a failure
            log(f"oracle check of {k}: {type(e).__name__}: {e}")
            ok = False
        if not ok:
            bad.add(k)
            log(f"oracle mismatch: {k}")
    con.close()
    return bad


# --------------------------------------------------------------------------
# run
# --------------------------------------------------------------------------

def scratch_fs(path):
    best = ("", "")
    with open("/proc/mounts") as fh:
        for line in fh:
            parts = line.split()
            mnt, fstype = parts[1], parts[2]
            if path == mnt or path.startswith(mnt.rstrip("/") + "/"):
                if len(mnt) > len(best[0]):
                    best = (mnt, fstype)
    return {"mount": best[0], "fstype": best[1]}


def cpu_ticks():
    """(total, steal) ticks of the machine's CPUs, from /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return sum(f[:8]), f[7]


def run_jvm(cp, workload, seconds, trace, data, work, cpus):
    out = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local, os.path.join(work, "scratch")):
        os.makedirs(d, exist_ok=True)
    java = os.path.join(os.environ.get("JAVA_HOME", ""), "bin", "java")
    if not os.path.exists(java):
        java = "java"
    cmd = [java, f"-Xmx{HEAP}", "-Duser.timezone=UTC",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={local}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", workload,
            "--seconds", str(seconds), "--trace", "1" if trace else "0",
            "--data", data, "--work", work, "--out", out]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus),
               SPARK_GRAFT_SCRATCH=os.path.join(work, "scratch"),
               SPARK_LOCAL_DIRS=local)
    p = subprocess.Popen(cmd, cwd=work, env=env, stdin=subprocess.DEVNULL,
                         stdout=sys.stderr, stderr=sys.stderr)
    try:
        code = p.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        fail(f"driver JVM exceeded {JVM_TIMEOUT_S} s", 4)
    if code != 0 or not os.path.exists(out):
        fail(f"driver JVM exited {code}", 4)
    with open(out) as fh:
        return json.load(fh)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def aggregate(spec, rec, workload, trace, bad_keys):
    """The result line: end-to-end metrics (trace 0) or per-layer metrics
    (trace 1) as medians over the checked operations, peak_heap_mb as their
    largest value."""
    ops = rec["ops"]
    if workload == "ops_mix":
        execs = rec["key_executions"]
        bad = set(bad_keys) | {k for k, n in rec["key_failures"].items() if n}
        attempted = sum(execs.values())
        failed = sum(execs[k] if k in bad else rec["key_failures"][k] for k in execs)
        good = [k for k in execs if k not in bad]
        passes = [op for op in ops if op["kind"] == "untraced"]
        # per-key median over the timed passes, summed over the keys whose
        # outputs passed every check
        timed = [sum(median([op["metrics"][f"ops.{k}_s"] for op in passes]) for k in good)] \
            if passes and good else []
    else:
        attempted = sum(op["attempted"] for op in ops)
        failed = sum(op["failed"] for op in ops)
        timed = [op["secs"] for op in ops if op["kind"] == "untraced" and op["ok"]]
    op_s = median(timed)
    # a peak is the largest value over the timed operations
    peaks = [op["metrics"]["peak_heap_mb"] for op in ops
             if op["kind"] == "untraced" and op["ok"]]
    values = {
        "op_s": op_s,
        "peak_heap_mb": max(peaks, default=0.0),
        "setup_s": median(rec["setup_s"]),
        "trace.untraced_op_s": op_s,
    }
    wanted = spec["per_layer"] if trace else spec["end_to_end"]
    metrics = {}
    for m in wanted:
        name = m["name"]
        if name in values:
            v = values[name]
        else:
            v = 0.0
            for kind in ("untraced", "traced"):
                xs = [op["metrics"][name] for op in ops
                      if op["kind"] == kind and op["ok"] and name in op["metrics"]]
                if xs:
                    v = median(xs)
                    break
        metrics[name] = {"value": v, "unit": m["unit"]}
    correct = failed == 0 and bool(timed)
    return {"correct": correct, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found at the repository root")
    with open(spec_path) as fh:
        spec = json.load(fh)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {a.workload}")
    if not os.path.isdir(BASE):
        fail("base tables missing")

    cp = build()
    cpus = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    work = os.path.join(ROOT, ".bench_work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        load0 = os.getloadavg()
        ticks0 = cpu_ticks()
        t0 = time.time()
        data = os.path.join(work, "data")
        inputs = generate(a.workload, a.seed, data)
        gen_s = time.time() - t0
        rec = run_jvm(cp, a.workload, a.seconds, a.trace == 1, data, work, cpus)
        bad = set()
        if a.workload == "ops_mix":
            bad = oracle_failures(data, os.path.join(work, "ops_out"),
                                  list(rec["key_executions"]))
        result = aggregate(spec, rec, a.workload, a.trace == 1, bad)
        ticks1 = cpu_ticks()
        env = {
            "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
            "trace": a.trace, "session_cpus": rec["session_cpus"],
            "nproc": os.cpu_count(), "heap": HEAP,
            "heap_max_mb": round(rec["heap_max_mb"], 1),
            "spark_version": rec["spark_version"],
            "loadavg_start": load0, "loadavg_end": os.getloadavg(),
            # share of the machine's CPU time the hypervisor took during the
            # run: the usual cause of a run slower than its neighbours
            "steal_share": round((ticks1[1] - ticks0[1]) /
                                 max(1, ticks1[0] - ticks0[0]), 4),
            "scratch_fs": scratch_fs(os.path.realpath(work)),
            "inputs": inputs, "generate_s": round(gen_s, 3),
            "operations": len(rec["ops"]),
        }
        print(json.dumps({"environment": env}))
        print(json.dumps(result), flush=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
