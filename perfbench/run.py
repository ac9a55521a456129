#!/usr/bin/env python3
"""Benchmark of the graft engine: one seeded workload per invocation.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: warehouse_nightly, corpus_curation (see LAYERS.md).
`--workload all` runs both in turn and prints one result line each.

The script builds the engine and the benchmark from source with sbt (once per
checkout; rebuilt when a source file changes), derives the workload's inputs
from the engine's read-only test tables using the seed, runs the workload in
one Spark process at local[nproc], checks every output, and prints as its last
line a JSON object: {"correct", "attempted", "failed", "metrics"}. With
`--trace 0` the metrics are the end-to-end ones, with `--trace 1` the
per-layer ones. Outputs of query workloads are verified once per seed against
each query's DuckDB oracle SQL; a query that fails verification counts every
one of its timed runs as failed.

Metric names and units come from BENCHMARK.json at the repository root; the
oracle comparison is the engine's correctness gate, dev/check.py.

Environment: PERFBENCH_SOURCE (default ~/testdata/sf0.1) names the source
tables; SPARK_HOME the Spark installation (default: the one whose
spark-submit is on PATH).
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")
WORKLOADS = ["warehouse_nightly", "corpus_curation"]
# the benchmark process gets this much for session start, set-up, checks and
# stop, plus twice the window (the last pass may overrun it)
JAVA_SETUP_ALLOWANCE_S = 140
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


# dev/check.py, the engine's correctness gate, holds the oracle comparison
sys.path.insert(0, os.path.join(ROOT, "dev"))


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def metric_units(trace):
    """Name -> unit of every metric a run reports, from BENCHMARK.json:
    the per-layer ones with --trace 1, else the end-to-end ones."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def source_files():
    roots = [ENGINE_SRC, os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        st = os.stat(f)
        h.update(f"{os.path.relpath(f, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def spark_home():
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    submit = shutil.which("spark-submit")
    if not submit:
        raise SystemExit("no Spark installation: set SPARK_HOME")
    return os.path.dirname(os.path.dirname(os.path.realpath(submit)))


def build():
    want = stamp()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP) and open(STAMP).read() == want:
        return
    log("building the engine and the benchmark with sbt")
    env = dict(os.environ)
    env["SPARK_HOME"] = spark_home()
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = env.get("SBT_OPTS") or (
        "-Dsbt.override.build.repos=true -Dsbt.repository.config=" +
        os.path.expanduser("~/.sbt/repositories") + " -Dsbt.offline=true -Xmx2g")
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=700)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("build failed")
    with open(STAMP, "w") as f:
        f.write(want)


def run_java(args, work, seconds):
    jars = os.path.join(spark_home(), "jars")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS] +
           ["-Xmx3g", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dlog4j2.level=ERROR",
            "-cp", f"{CLASSES}:{jars}/*", "perfbench.Main"] + args)
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                            text=True, start_new_session=True)
    # the watchdog kills the whole process group, even one that went silent
    timeout = JAVA_SETUP_ALLOWANCE_S + 2 * seconds
    watchdog = threading.Timer(timeout, os.killpg, (proc.pid, signal.SIGKILL))
    watchdog.start()
    lines = []
    try:
        for line in proc.stdout:
            if line.startswith("[perfbench]"):
                sys.stderr.write(line)
            lines.append(line)
        proc.wait()
    finally:
        watchdog.cancel()
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    if proc.returncode != 0:
        sys.stderr.write("".join(lines[-60:]))
        raise SystemExit(f"the benchmark process exited with {proc.returncode}")


# --- oracle ---------------------------------------------------------------

def compare(spark_rel, oracle_rel):
    """None when the engine's output equals the oracle's, else the reason;
    the comparison of dev/check.py."""
    from check import table_rows
    scols, stypes, srows = table_rows(spark_rel)
    ocols, otypes, orows = table_rows(oracle_rel)
    if scols != ocols:
        return f"columns {scols} != {ocols}"
    if stypes != otypes:
        return f"types {stypes} != {otypes}"
    if len(srows) != len(orows):
        return f"rows {len(srows)} != {len(orows)}"
    bad = sum(1 for a, b in zip(srows, orows) if a != b)
    return f"{bad}/{len(srows)} rows differ" if bad else None


def verify(oracle):
    """Runs each query's DuckDB oracle on the generated inputs and compares
    it with the engine's warm-up output. Returns the failed query names."""
    import duckdb
    con = duckdb.connect()
    con.execute(f"SET threads TO {os.cpu_count() or 1}")
    con.execute("SET memory_limit = '2GB'")
    for path in glob.glob(os.path.join(oracle["inputs"], "*.parquet")):
        name = os.path.basename(path)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}/*.parquet')")
    sqls = json.load(open(os.path.join(oracle["dumps"], "oracle_sql.json")))
    failed = []
    for q in sorted(oracle["runs"]):
        dump = os.path.join(oracle["dumps"], q)
        if q not in sqls or not glob.glob(os.path.join(dump, "*.parquet")):
            log(f"oracle: {q} has no oracle SQL or no output")
            failed.append(q)
            continue
        t0 = time.monotonic()
        try:
            why = compare(con.sql(f"SELECT * FROM read_parquet('{dump}/*.parquet')"), con.sql(sqls[q]))
        except Exception as e:  # a broken oracle is a failed check, not a crash
            why = f"{type(e).__name__}: {e}"
        if why:
            log(f"oracle: {q} FAILED: {why}")
            failed.append(q)
        else:
            log(f"oracle: {q} ok ({time.monotonic() - t0:.2f} s)")
    con.close()
    return failed


# --- one run --------------------------------------------------------------

def run_one(workload, seed, seconds, trace, source, extra):
    out_dir = os.path.join(ROOT, ".perfbench_out")
    work = os.path.join(ROOT, ".perfbench_work", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(out_dir, f"{workload}-seed{seed}-trace{int(trace)}.json")
    try:
        t0 = time.monotonic()
        run_java(["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
                  "--trace", "1" if trace else "0", "--source", source, "--work", work,
                  "--out", out] + extra, work, seconds)
        log(f"benchmark process: {time.monotonic() - t0:.1f} s")
        res = json.load(open(out))
        failed = res["failed"]
        if res["oracle"]:
            t0 = time.monotonic()
            bad = verify(res["oracle"])
            log(f"oracle verification: {time.monotonic() - t0:.1f} s")
            failed += sum(res["oracle"]["runs"].get(q, 0) for q in bad)
            failed = min(failed, res["attempted"])
    finally:
        shutil.rmtree(work, ignore_errors=True)
    units, measured = metric_units(trace), res["metrics"]
    if set(measured) - set(units):
        raise SystemExit(f"metrics missing from BENCHMARK.json: {sorted(set(measured) - set(units))}")
    # a per-layer metric of a layer the workload does not exercise reads 0;
    # every end-to-end metric must be measured
    if not trace and set(units) - set(measured):
        raise SystemExit(f"end-to-end metrics not measured: {sorted(set(units) - set(measured))}")
    metrics = {k: {"value": measured.get(k, 0.0), "unit": u} for k, u in units.items()}
    return {"correct": failed == 0, "attempted": res["attempted"], "failed": failed,
            "metrics": metrics}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--corrupt", action="store_true",
                    help="offset every expected checksum (for the benchmark's own tests)")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ENGINE_SRC, "scala", "graft")):
        log(f"engine sources not found under {ENGINE_SRC}")
        return 2
    source = os.environ.get("PERFBENCH_SOURCE", os.path.expanduser("~/testdata/sf0.1"))
    if not os.path.isfile(os.path.join(source, "orders.parquet")):
        log(f"source tables not found under {source}")
        return 2
    build()
    extra = ["--corrupt"] if a.corrupt else []
    for w in (WORKLOADS if a.workload == "all" else [a.workload]):
        result = run_one(w, a.seed, a.seconds, a.trace == 1, source, extra)
        if a.workload == "all":
            result["workload"] = w
        print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
