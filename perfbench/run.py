#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload, one seed, one run.

    python3 perfbench/run.py --workload heal|curate|stream \
        --seed N --seconds S --trace 0|1

Builds the engine and the harness from source on first use (sbt, cached
under perfbench/target), runs the workload in one JVM (perfbench.BenchMain),
checks its outputs -- the checks that need an independent engine run here,
on DuckDB -- and prints the host, the workload's own metrics, and as the
last line one JSON object: correct, attempted, failed and metrics. With
--trace 0 the metrics are the end-to-end ones, with --trace 1 the per-layer
ones of a traced run. See perfbench/README.md for every metric.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
TARGET = os.path.join(HERE, "target")
CLASSPATH_FILE = os.path.join(TARGET, "bench-classpath.txt")
FINGERPRINT_FILE = os.path.join(TARGET, "bench-fingerprint.txt")
WORKLOADS = ("heal", "curate", "stream")
END_TO_END = {"setup_s": "s", "fast_s": "s", "slow_s": "s", "rss_peak_mb": "MB"}
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def fingerprint():
    """Hash of every input of the build, so a changed source rebuilds."""
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (ENGINE_SRC, os.path.join(HERE, "src")):
        for d, _, fs in sorted(os.walk(base)):
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    fp = fingerprint()
    if os.path.exists(CLASSPATH_FILE) and os.path.exists(FINGERPRINT_FILE):
        with open(FINGERPRINT_FILE) as fh:
            if fh.read().strip() == fp:
                return fp
    log("perfbench: building engine + harness with sbt ...")
    env = dict(os.environ, COURSIER_MODE="offline")
    if not os.path.isdir(os.path.join(env.get("SPARK_HOME", ""), "jars")):
        raise SystemExit("perfbench: SPARK_HOME must name a Spark installation")
    t0 = time.time()
    r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0 or not os.path.exists(CLASSPATH_FILE):
        raise SystemExit("perfbench: build failed")
    with open(FINGERPRINT_FILE, "w") as fh:
        fh.write(fp)
    log(f"perfbench: built in {time.time() - t0:.1f} s")
    return fp


def run_jvm(args, work):
    with open(CLASSPATH_FILE) as fh:
        cp = fh.read().strip()
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") \
        else "java"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "perfbench.BenchMain",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", work]
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, start_new_session=True)

    def stop(signum, _frame):  # a stopped benchmark leaves no JVM behind
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit(f"perfbench: stopped by signal {signum}")
    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, stop)
    try:
        proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        raise SystemExit("perfbench: the workload did not finish in time")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    path = os.path.join(work, "result.json")
    if proc.returncode != 0 or not os.path.exists(path):
        raise SystemExit(f"perfbench: the workload JVM exited with {proc.returncode}")
    with open(path) as fh:
        return json.load(fh)


# ---- checks against DuckDB ------------------------------------------------

def check_heal(con, pc):
    """Each DQ report's row count and null fractions equal DuckDB's
    try_cast over the same CSV."""
    types = {"int": "BIGINT", "float": "DOUBLE", "string": "VARCHAR"}
    declared = dict(pc["declared"])
    truth = {}

    def stats(path):
        if path not in truth:
            src = f"read_csv('{path}/*.csv', header=true, all_varchar=true)"
            cols = [c for c in con.execute(f"select * from {src} limit 0").df().columns
                    if c in declared]
            nulls = ", ".join(
                f"count(*) filter (where try_cast(\"{c}\" as {types[declared[c]]}) is null)"
                for c in cols)
            row = con.execute(f"select count(*), {nulls} from {src}").fetchone()
            truth[path] = (row[0], dict(zip(cols, row[1:])))
        return truth[path]

    bad = []
    for cyc in pc["heal_cycles"]:
        for inc in cyc["incidents"]:
            path = cyc["clean"] if inc["stage"] == "baseline" else cyc["broken"]
            n, nulls = stats(path)
            rep = json.loads(inc["issues"])
            nf = rep["null_fractions"]
            ok = rep["row_count"] == n and set(nf) == set(nulls) and all(
                abs(nf[c] - nulls[c] / n) <= 1e-12 for c in nulls)
            if not ok:
                bad.append(f"{cyc['cycle']} {inc['stage']}: report {rep['row_count']} rows "
                           f"{nf} vs duckdb {n} rows {nulls}")
                break
    return bad


def check_curate(con, pc):
    """Every pass wrote exactly the split counts its funnel reports."""
    bad = []
    for p in pc["curate_passes"]:
        got = dict(con.execute(
            f"select split, count(*) from read_parquet('{p['out']}/*/*.parquet', "
            f"hive_partitioning=true) group by split").fetchall())
        want = {k: v for k, v in p["splits"].items() if v}
        if got != want:
            bad.append(f"{p['out']}: wrote {got}, funnel says {want}")
    return bad


def duck_checks(res):
    pc = res.get("py_checks") or {}
    if not pc:
        return []
    import duckdb
    con = duckdb.connect()
    if "heal_cycles" in pc:
        return check_heal(con, pc)
    if "curate_passes" in pc:
        return check_curate(con, pc)
    return []


def cpu_ticks():
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return f[7], sum(f)


def host_info(res):
    def commit():
        try:
            return subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                                  text=True, timeout=10).stdout.strip() or None
        except (OSError, subprocess.SubprocessError):
            return None
    h = dict(res["host"])
    h["nproc"] = len(os.sched_getaffinity(0))
    h["git_commit"] = commit() or "none (not a git checkout)"
    return h


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        raise SystemExit(f"perfbench: no engine sources under {ENGINE_SRC}")

    fp = build()
    work = os.path.join(HERE, ".work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    ticks0 = cpu_ticks()
    res = run_jvm(args, work)
    ticks1 = cpu_ticks()
    bad = [f"{c['name']}: {c['detail']}" for c in res["checks"] if not c["ok"]]
    bad += duck_checks(res)
    shutil.rmtree(work, ignore_errors=True)

    host = host_info(res)
    host["source_sha256"] = fp[:16]
    # CPU time the hypervisor gave to other guests while the JVM ran: a
    # wall time taken under high steal is slow for reasons outside the code
    host["cpu_steal_ratio"] = (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1])
    named = {m["name"]: {"value": m["value"], "unit": m["unit"]} for m in res["named"]}
    print(json.dumps({"host": host, "workload": args.workload, "seed": args.seed,
                      "seconds": args.seconds, "trace": args.trace,
                      "setup_reps_s": res["setup_reps_s"], "warm_up_s": res["warm_up_s"],
                      "workload_metrics": named,
                      "trace_overhead_ratio": res["layers"].get("trace.overhead_ratio"),
                      "failed_checks": bad}))
    failed = res["failed"] + (len(bad) if res["failed"] == 0 else 0)
    if args.trace:
        # a layer the workload does not exercise reads 0
        metrics = {k: {"value": res["layers"].get(k, 0.0), "unit": u}
                   for k, u in LAYER_UNITS.items()}
    else:
        metrics = {k: {"value": res[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({"correct": not bad, "attempted": max(1, res["attempted"]),
                      "failed": failed, "metrics": metrics}))
    return 0 if not bad else 1


def layer_units():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}


LAYER_UNITS = layer_units() if os.path.exists(os.path.join(ROOT, "BENCHMARK.json")) else {}

if __name__ == "__main__":
    sys.exit(main())
