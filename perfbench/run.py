#!/usr/bin/env python3
"""Benchmark of the S3 -> Elasticsearch sync engine.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload W --seed N --seconds T --trace 0|1

Builds the program and the harness (perfbench/build.py), runs workload W in
one JVM (perfbench.Main: a single closed-loop client on a local[nproc]
session), checks the outputs, and prints one JSON line last:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are BENCHMARK.json's end_to_end list, with
--trace 1 its per_layer list. A line before it records the run (seed,
input sizes, source hash, Spark version, -Xmx, nproc and cores used).
Exits non-zero when the build, the run or any output check fails.
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

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import corpus  # noqa: E402
import oracle  # noqa: E402

RUN_TIMEOUT_S = 170
CORPUS_SF = 0.01
# the tables the LLM operators read are larger, so that the operators' own
# work, not a query's fixed cost, sets those queries' times
CORPUS_ROWS = {"documents": 5000, "embeddings": 15000}
SETUP_REPS = 3
XMX = "3g"
# this engine runs slower with more cores; a fixed ceiling keeps runs on
# larger boxes comparable and inside the run-time budget
MAX_CORES = 4


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_revision(root):
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True, text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except OSError:
        pass
    h = hashlib.sha256()
    for f in build.program_sources(root):
        with open(f, "rb") as fh:
            h.update(fh.read())
    return "src-sha256:" + h.hexdigest()[:16]


def cpu_jiffies():
    """(steal, total) jiffies of the host's CPUs as this VM sees them."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields)


def main():
    t_start = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.exists("BENCHMARK.json"):
        fail("run from the root of a checkout (BENCHMARK.json not found)")
    spec = json.load(open("BENCHMARK.json"))
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {args.workload}")
    try:
        build_s = build.build(root)
    except (subprocess.CalledProcessError, SystemExit, OSError) as e:
        fail(f"build failed: {e}")

    work = os.path.abspath(os.path.join(root, build.BUILD_DIR, "work", args.workload))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    nproc = len(os.sched_getaffinity(0))
    cores = min(nproc, MAX_CORES)
    extra = []
    if args.workload == "operator_mix":
        # the set-up is repeated and its median reported; the last copy stays
        times = []
        for _ in range(SETUP_REPS):
            t0 = time.time()
            shutil.rmtree(os.path.join(work, "corpus"), ignore_errors=True)
            rows = corpus.generate(os.path.join(work, "corpus"), args.seed, CORPUS_SF, CORPUS_ROWS)
            times.append(time.time() - t0)
        with open(os.path.join(work, "corpus", "rows.txt"), "w") as fh:
            fh.writelines(f"{t} {n}\n" for t, n in rows.items())
        extra = ["--prepare-s", repr(sorted(times)[len(times) // 2])]
    report_file = os.path.join(work, "report.json")
    log_file = os.path.join(work, "jvm.log")
    cmd = (["java"] + build.java_opens() +
           [f"-Xmx{XMX}", f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.sql.warehouse.dir={work}/warehouse",
            "-cp", build.classpath(root), "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cores", str(cores), "--work", work, "--out", report_file] + extra)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    t_jvm0 = time.time()
    steal0 = cpu_jiffies()
    with open(log_file, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env, cwd=work)

        def stop(signum, _frame):
            proc.kill()
            proc.wait()
            sys.exit(128 + signum)
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            rc = proc.wait(timeout=max(10.0, RUN_TIMEOUT_S - (time.time() - t_start)))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"run timed out; log in {log_file}")
    if not os.path.exists(report_file):
        with open(log_file) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"run exited {rc} without a report")
    report = json.load(open(report_file))
    t_checks = time.time()
    steal1 = cpu_jiffies()

    checks = list(report["checks"])
    if args.workload == "operator_mix" and "oracle" in report["meta"]:
        checks += oracle.check(report["meta"]["oracle"])
    jvm_checks = len(report["checks"])
    attempted = report["attempted"] + len(checks) - jvm_checks
    failed = report["failed"] + sum(1 for c in checks[jvm_checks:] if not c["ok"])

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics = {}
    missing = []
    for m in wanted:
        v = report["metrics"].get(m["name"])
        if v is None:
            if args.trace:
                v = 0.0  # a layer the workload never enters
            else:
                missing.append(m["name"])
                continue
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    # an end-to-end metric is never 0: a missing or non-positive one means the run measured nothing
    bad = missing + [n for n, v in metrics.items()
                     if not args.trace and not (v["value"] > 0 and math.isfinite(v["value"]))]
    if rc != 0 or bad:
        failed = max(failed, 1)  # the run itself failed or measured nothing
    correct = rc == 0 and failed == 0 and not bad

    meta = dict(report["meta"])
    meta.pop("oracle", None)
    if args.workload == "operator_mix":
        meta.update({"corpus_sf": CORPUS_SF, "corpus_rows": rows, "corpus_bytes": sum(
            os.path.getsize(os.path.join(work, "corpus", f)) for f in os.listdir(os.path.join(work, "corpus")))})
    meta.update({"nproc": nproc, "cores_used": cores, "xmx": XMX, "build_s": round(build_s, 3),
                 "revision": source_revision(root), "seconds": args.seconds, "trace": args.trace,
                 "wall_s": round(time.time() - t_start, 3), "check_s": round(time.time() - t_checks, 3),
                 "jvm_s": round(t_checks - t_jvm0, 3),
                 "host_steal_frac": round((steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]), 4),
                 "failed_checks": [c for c in checks if not c["ok"]][:20],
                 "errors": report["errors"][:20], "bad_metrics": bad})
    print(json.dumps({"run": meta}))
    print(json.dumps({"correct": correct, "attempted": max(1, attempted), "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
