#!/usr/bin/env python3
"""Reference-pipeline benchmark: one workload, one run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark when stale (build.py), runs the
workload in one JVM with one local[nproc] Spark session, checks the outputs
outside the timed region (check.py), and prints one JSON line last:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are BENCHMARK.json's end_to_end ones, with --trace 1 its per_layer ones
(a layer the workload does not exercise reads 0). Traffic parameters of
each workload are in workloads.json; LAYERS.md maps layers to metrics.
Everything a run writes stays under .bench_build/ in the checkout.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import check  # noqa: E402

ROOT = build.ROOT
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def jvm(cp, work, main_args, timeout):
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
           "-Dsun.net.httpserver.nodelay=true"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--work", work] + main_args
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    return subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=timeout).returncode


def fresh_work(name):
    work = os.path.join(build.OUT, "work", f"{name}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    return work


def params_args(params):
    return [f"{k}={v}" for k, v in params.items()]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    with open(os.path.join(HERE, "workloads.json")) as f:
        workloads = json.load(f)
    if a.workload not in workloads:
        sys.exit(f"perfbench: unknown workload {a.workload}")
    try:
        cp = build.build()
    except build.BuildError as e:
        sys.exit(f"perfbench: {e}")

    work = fresh_work(a.workload)
    try:
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace)] + params_args(workloads[a.workload])
        t0 = time.time()
        if jvm(cp, work, args, JVM_TIMEOUT_S) != 0:
            sys.exit("perfbench: benchmark JVM failed")
        print(f"perfbench: JVM {time.time() - t0:.1f} s", file=sys.stderr)
        with open(os.path.join(work, "result.json")) as f:
            res = json.load(f)
        checks = dict(res["checks"])
        t0 = time.time()
        checks.update(check.run(a.workload, work))
        print(f"perfbench: checks {time.time() - t0:.1f} s", file=sys.stderr)
        for name, ok in checks.items():
            if not ok:
                print(f"perfbench: check failed: {name}", file=sys.stderr)
        failed = res["failed"] + (0 if all(checks.values()) else 1)
        names = spec["per_layer" if a.trace else "end_to_end"]
        metrics = {}
        for m in names:
            v = res["metrics"].get(m["name"], 0.0 if a.trace else None)
            if v is None:
                sys.exit(f"perfbench: metric {m['name']} not measured")
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
        print(json.dumps({"correct": failed == 0, "attempted": res["attempted"],
                          "failed": failed, "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
