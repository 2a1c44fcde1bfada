#!/usr/bin/env python3
"""Benchmark of the graft engine: declared SparkEntry queries in a closed
loop with one client, on seeded row permutations of the vendored tables.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload rag_serve --seed 1 --seconds 18 --trace 0

Builds the engine and the harness with sbt into $CARGO_TARGET_DIR (default
.bench_build) when their sources changed, generates the run's inputs from
the seed, runs one JVM (perfbench.Main), checks every output against its
DuckDB oracle and prints one JSON object as the last line of stdout. With
--trace 0 it holds the end-to-end metrics of BENCHMARK.json, with
--trace 1 the per-layer metrics of a traced run. Progress and the run
record go to stderr and to the run's directory under the build directory.
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
ROOT = os.getcwd()
JVM_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 700
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def run_process(cmd, cwd, timeout, out_path, env=None):
    """Runs `cmd` in its own process group; kills the group on timeout."""
    with open(out_path, "w") as out:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                             start_new_session=True, env=env)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


def tail(path, n=30):
    with open(path, errors="replace") as f:
        return "".join(f.readlines()[-n:])


def cpu_ticks():
    """(steal, total) jiffies of all CPUs, or None off Linux."""
    try:
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:9]]
        return ticks[7], sum(ticks)
    except (OSError, ValueError, IndexError):
        return None


def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode() + b"\0")
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def spark_home():
    """$SPARK_HOME, or the installation that holds spark-submit on the PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation: set SPARK_HOME")
    return home


def build(build_dir, spark):
    """Compiles the engine and the harness when their sources changed."""
    target = os.path.join(build_dir, "perfbench")
    classes = os.path.join(target, "scala-2.13", "classes")
    stamp_path = os.path.join(target, "source.sha256")
    stamp = source_stamp()
    if os.path.exists(stamp_path) and open(stamp_path).read() == stamp:
        return classes
    os.makedirs(target, exist_ok=True)
    log("building with sbt")
    out = os.path.join(target, "build.log")
    code = run_process(["sbt", "--batch", "-J-XX:-UsePerfData", "-Dsbt.log.noformat=true",
                        f"-Dperfbench.target={target}", f"-Dperfbench.sparkHome={spark}",
                        "compile"],
                       HERE, BUILD_TIMEOUT_S, out)
    if code != 0:
        fail(f"build failed ({code}):\n{tail(out)}", 1)
    with open(stamp_path, "w") as f:
        f.write(stamp)
    return classes


def end_to_end(rec, ok_queries):
    """End-to-end metrics from the run record; failed queries give no time."""
    passes = [p for p in rec["passes"] if p["phase"] == "timed" and not p["traced"]]
    samples = sorted(q["s"] for p in passes for q in p["queries"]
                     if q["ok"] and q["name"] in ok_queries)
    per_query = {}
    for p in passes:
        for q in p["queries"]:
            if q["ok"] and q["name"] in ok_queries:
                per_query.setdefault(q["name"], []).append(q["s"])
    # a run holds 12 to 35 samples of 3 or 5 different queries: the highest
    # percentile with 10 samples beyond it is below the median on the
    # shorter runs and moves with the pass count; p90 (interpolated)
    # follows the upper samples of the slowest queries
    n = len(samples)
    tail_s = statistics.quantiles(samples, n=10, method="inclusive")[-1]
    log(f"query_tail_s is p90 of {n} samples")
    return {
        "setup_s": rec["setup_s"],
        "pass_s": statistics.median([p["wall_s"] for p in passes]),
        "queries_per_min": 60.0 * n / rec["timed_s"],
        # the median of the pooled samples jumps between two queries
        # whose times overlap (kmeans_clusters and events_bootstrap);
        # the median over the queries of each one's median does not
        "query_p50_s": statistics.median(statistics.median(v) for v in per_query.values()),
        "query_tail_s": tail_s,
    }, {"query_tail_percentile": 90, "query_samples": n,
        "cpu_s": statistics.median([p["cpu_s"] for p in passes]),
        "heap_peak_mb": max(p["heap_mb"] for p in passes)}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    with open(os.path.join(HERE, "workloads.json")) as f:
        spec = json.load(f)
    bench_path = os.path.join(ROOT, "BENCHMARK.json")
    for p in [bench_path, os.path.join(ROOT, "src", "main", "scala"),
              os.path.join(ROOT, spec["data"])]:
        if not os.path.exists(p):
            fail(f"missing {p}: run from the root of a checkout of the repository")
    with open(bench_path) as f:
        bench = json.load(f)
    if args.workload not in spec["workloads"]:
        fail(f"unknown workload {args.workload}")
    queries = spec["workloads"][args.workload]["queries"]
    tables = spec["tables"]

    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    spark = spark_home()
    classes = build(build_dir, spark)

    cores = os.cpu_count() or 1
    work = os.path.join(build_dir, "runs", f"{args.workload}-{args.seed}-{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    sys.dont_write_bytecode = True
    sys.path.insert(0, HERE)
    import inputs
    from oracle import Oracle

    base = os.path.join(ROOT, spec["data"])
    data = os.path.join(work, "input")
    inputs.permute(base, data, tables, args.seed)
    digest = inputs.content_digest(data, tables)
    if digest != inputs.content_digest(base, tables):
        fail("permuted input does not hold the rows of the base tables", 1)

    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if "JAVA_HOME" in os.environ else "java"
    cmd = [java, "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}:{spark}/jars/*", "perfbench.Main",
            "--queries", ",".join(queries),
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--input", data,
            "--once", ",".join(spec["workloads"][args.workload]["traced_once"]),
            "--cores", str(cores), "--scratch", work,
            "--check", os.path.join(work, "check"),
            "--result", os.path.join(work, "result.json"),
            "--spans", os.path.join(work, "spans.json")]
    jvm_log = os.path.join(work, "jvm.log")
    t0, ticks0 = time.time(), cpu_ticks()
    code = run_process(cmd, work, JVM_TIMEOUT_S, jvm_log)
    ticks1 = cpu_ticks()
    # the share of the host's CPU time taken by other guests during the run
    steal = (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1]) if ticks0 and ticks1 else None
    log(f"jvm exited {code} after {time.time() - t0:.1f} s; log {jvm_log}")
    if code != 0:
        fail(f"benchmark JVM failed:\n{tail(jvm_log)}", 1)
    with open(os.path.join(work, "result.json")) as f:
        rec = json.load(f)

    # oracle check, off the timed path, on exactly this run's input
    oracle = Oracle(data, tables, os.path.join(build_dir, "oracle-cache"),
                    os.path.join(work, "duck-spill"), cores, "4GB")
    checked = {q["name"]: q["ok"] for p in rec["passes"] if p["phase"] == "check"
               for q in p["queries"]}
    mismatched, digests = [], {}
    for q in queries:
        if not checked.get(q):
            continue
        want = oracle.expected(digest, rec["oracle_sql"][q])
        got = oracle.actual(os.path.join(work, "check", q))
        digests[q] = got["sha256"]
        if got != want:
            mismatched.append(q)
            log(f"{q}: output does not match its oracle: {got} vs {want}")
    # every query call of every pass counts; a call that threw is a failure
    calls = [q for p in rec["passes"] for q in p["queries"]]
    threw = [q["name"] for q in calls if not q["ok"]]
    attempted = len(calls)
    failed = len(threw) + len(mismatched)
    ok_queries = set(queries) - set(threw) - set(mismatched)

    if args.trace:
        units = {m["name"]: m["unit"] for m in bench["per_layer"]}
        values = rec["layers"]
        extra_info = {}
    else:
        units = {m["name"]: m["unit"] for m in bench["end_to_end"]}
        values, extra_info = end_to_end(rec, ok_queries)
    missing = [k for k in units if values.get(k) is None]
    if missing:
        log(f"metrics not measured: {missing}")
        failed += len(missing)
    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "content_digest": digest, "output_digests": digests,
              "threw": threw, "mismatched": mismatched,
              "failed_frac": failed / attempted, "host_steal_frac": steal, **extra_info,
              "values": values, "queries": rec["queries"]}
    with open(os.path.join(work, "record.json"), "w") as f:
        json.dump(record, f, indent=1)
    log(f"failed_frac {failed / attempted}; run record {work}/record.json")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u}
                    for k, u in units.items() if values.get(k) is not None}}))


if __name__ == "__main__":
    main()
