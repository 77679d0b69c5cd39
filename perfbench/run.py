#!/usr/bin/env python3
"""The repo benchmark: one workload, one seed, one JVM.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It builds the engine plus the harness from
source (perfbench/build.sbt, skipped when the sources are unchanged),
generates the workload's input tables from the seed, runs the harness JVM
(two untimed set-up passes, then as many timed passes as fill --seconds on
the reference host), compares each query's result with the DuckDB oracle
(tools/check.py), and prints one JSON line last: end-to-end metrics with
--trace 0, per-layer metrics with --trace 1. The full record of the run, per query and per pass, goes to
.perfbench/results/<workload>-seed<seed>-trace<t>.json.
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
STATE = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, HERE)
import gen    # noqa: E402
import stats  # noqa: E402

# Each list is the part of its workload's query set that fits the run budget
# (README.md, "Sizing").
TABULAR = ["q_filter", "q_join_broadcast", "q_join_shuffle", "q_join_range",
           "q_bloom_join", "q_agg_pricing", "q_cube",
           # write-then-read round trips: the sources write path
           "q_csv_roundtrip", "q_orc_roundtrip", "q_partitioned_roundtrip",
           "q_vecbin_roundtrip"]
CORPUS = ["q_dedup_minhash", "q_tfidf", "q_line_dedup"]

# shape: generator arguments; warm_pass_s: the measured time of one warm
# pass on the 4-core reference host, which turns --seconds into a pass count
WORKLOADS = {
    "tabular_sf01": {"queries": TABULAR, "warm_pass_s": 4.9,
                     "shape": {"sf": 0.1, "docs": 5000, "vecs": 2000, "copies": 1}},
    # four disjoint-vocabulary copies, as graft.tools.GrowCorpus grows a
    # corpus, over a 1,250-document base; the TPC-H tables stay tiny
    "corpus_x4": {"queries": CORPUS, "warm_pass_s": 3.9,
                  "shape": {"sf": 0.001, "docs": 5000, "vecs": 2000, "copies": 4}},
}

JVM_TIMEOUT_S = 150
CHECK_TIMEOUT_S = 60
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def stop(procs):
    """Kills and reaps any of `procs` still running."""
    for p in procs:
        if p.poll() is None:
            p.kill()
            p.wait()


def source_hash():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt once per source state; returns the classpath."""
    stamp = os.path.join(STATE, "build", "stamp.json")
    digest = source_hash()
    if os.path.exists(stamp):
        with open(stamp) as fh:
            st = json.load(fh)
        if st["hash"] == digest:
            return st["classpath"]
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories")
                   + " -Dsbt.offline=true -Xmx2g")
    log = os.path.join(STATE, "build", "sbt.log")
    tmp = os.path.join(STATE, "build", "tmp")
    os.makedirs(tmp, exist_ok=True)
    with open(log, "w") as fh:
        rc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "-Dsbt.server.autostart=false", f"-Djava.io.tmpdir={tmp}",
             "-J-XX:-UsePerfData", "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=fh, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=800).returncode
    with open(log) as fh:
        cp = [ln.strip() for ln in fh if "target/scala-2.13/classes" in ln
              and not ln.startswith("[")]
    if rc != 0 or not cp:
        fail(f"build failed (rc={rc}), see {log}")
    with open(stamp, "w") as fh:
        json.dump({"hash": digest, "classpath": cp[-1]}, fh)
    return cp[-1]


def loadavg():
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def inputs(data):
    """Rows and bytes per input table."""
    import pyarrow.parquet as pq
    out = {}
    for f in sorted(os.listdir(data)):
        p = os.path.join(data, f)
        out[f.removesuffix(".parquet")] = {
            "rows": pq.ParquetFile(p).metadata.num_rows,
            "bytes": os.path.getsize(p)}
    return out


def run_jvm(cp, work, data, queries, passes, args, cpus, out, verify):
    # a fixed heap and young generation, so the touched heap (and with it
    # peak_rss_mb) does not follow G1's adaptive resizing from run to run
    cmd = ["java", "-Xms4g", "-Xmx4g", "-Xmn1g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work}/tmp",
           f"-Dderby.system.home={work}", "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.Harness", "--data", data,
            "--queries", ",".join(queries), "--seed", str(args.seed),
            "--passes", str(passes), "--trace", str(args.trace),
            "--cpus", str(cpus), "--work", work, "--out", out,
            "--verify", verify]
    env = dict(os.environ, GRAFT_SCRATCH=f"{work}/scratch",
               SPARK_LOCAL_DIRS=f"{work}/local", SPARK_GRAFT_CPUS=str(cpus))
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=log,
                                stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"harness JVM timed out after {JVM_TIMEOUT_S}s")
        finally:
            stop([proc])
    if rc != 0 or not os.path.exists(out):
        with open(os.path.join(work, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-3000:])
        fail(f"harness JVM failed (rc={rc})")


def oracle_check(data, verify, queries):
    """Runs tools/check.py on each dumped result, one process per query;
    returns the queries whose result differs from the DuckDB oracle (or was
    never produced), and the compare's output."""
    check = os.path.join(ROOT, "tools", "check.py")
    procs = [subprocess.Popen([sys.executable, check, data, verify, q],
                              stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                              stdin=subprocess.DEVNULL, text=True)
             for q in queries]
    deadline = time.time() + CHECK_TIMEOUT_S
    try:
        log = "".join(p.communicate(timeout=max(1, deadline - time.time()))[0]
                      for p in procs)
    except subprocess.TimeoutExpired:
        fail(f"oracle check timed out after {CHECK_TIMEOUT_S}s")
    finally:
        stop(procs)
    ok = {ln.split()[1] for ln in log.splitlines() if ln.startswith("OK ")}
    return sorted(q for q in queries if q not in ok), log


def report(workload, seed, trace, seconds, raw, wrong, inputs_, host, check_log):
    """The run's full record and its result line (the last stdout line)."""
    e2e = stats.end_to_end(raw, len(wrong))
    execs = stats.executions(raw["passes"])
    n_failed = sum(1 for s in execs if not s["ok"])
    record = {
        "workload": workload, "seed": seed, "trace": trace, "seconds": seconds,
        "queries": raw["queries"], "inputs": inputs_, "host": host,
        "harness": {k: raw[k] for k in ("setup_s", "session_start_s",
                                        "dump_pass_s", "measured_s",
                                        "peak_rss_mb", "assets_after_setup")},
        "end_to_end": {k: {"value": v, "unit": u, "detail": d}
                       for k, (v, u, d) in e2e.items()},
        "wrong_results": wrong,
        "errors": sorted({s["error"] for s in execs if not s["ok"]}),
        "per_query": stats.per_query(raw),
        "check_log": check_log.splitlines()[-40:],
    }
    if trace:
        record["per_layer"] = {k: {"value": v, "unit": u}
                               for k, (v, u) in stats.per_layer(raw).items()}
        metrics = record["per_layer"]
    else:
        metrics = {k: {"value": m["value"], "unit": m["unit"]}
                   for k, m in record["end_to_end"].items()}
    record["passes"] = raw["passes"]
    line = {"correct": not wrong and n_failed == 0, "attempted": len(execs),
            "failed": n_failed, "metrics": metrics}
    return record, line


def main():
    # a terminated run still stops its JVM and check processes (the
    # `finally` clauses run on SystemExit)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    for need in ["src/main/scala/graft/SparkEntry.scala", "tools/check.py"]:
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found: run from the root of a full checkout")
    wl = WORKLOADS[args.workload]
    queries = wl["queries"]
    cp = build()

    work = os.path.join(STATE, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ["tmp", "scratch", "local", "data"]:
        os.makedirs(os.path.join(work, d))
    try:
        data = os.path.join(work, "data")
        t0 = time.time()
        sh = wl["shape"]
        gen.generate(data, args.seed, sh["sf"], sh["docs"], sh["vecs"], sh["copies"])
        t1 = time.time()
        cpus = len(os.sched_getaffinity(0))
        load0 = loadavg()
        out = os.path.join(work, "raw.json")
        verify = os.path.join(work, "verify")
        # a fixed pass count, so every run times the same stretch of the
        # JVM's warm-up (pass time still falls for ~10 passes as the JIT
        # finishes; a time-based count made the median depend on speed)
        passes = max(2, round(args.seconds / wl["warm_pass_s"]))
        run_jvm(cp, work, data, queries, passes, args, cpus, out, verify)
        load1 = loadavg()
        t2 = time.time()
        with open(out) as fh:
            raw = json.load(fh)
        wrong, check_log = oracle_check(data, verify, queries)
        host = {"nproc": cpus, "loadavg_start": load0, "loadavg_end": load1,
                "calibration_s": raw["calibration_s"],
                "wall_s": {"generate": t1 - t0, "jvm": t2 - t1,
                           "check": time.time() - t2}}
        record, line = report(args.workload, args.seed, args.trace,
                              args.seconds, raw, wrong, inputs(data), host,
                              check_log)
        os.makedirs(os.path.join(STATE, "results"), exist_ok=True)
        res = os.path.join(STATE, "results",
                           f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
        with open(res, "w") as fh:
            json.dump(record, fh, indent=1)
        print(json.dumps(line))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
