#!/usr/bin/env python3
"""Determinism test of the feed generator: the same seed gives the same
feed digest in two separate JVMs, and another seed gives another digest.

    python3 perfbench/test_feed.py
"""
import json
import os
import shutil
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import run  # noqa: E402


def digest(cp, name, params, seed):
    work = run.fresh_work(f"digest-{seed}")
    try:
        args = ["--digest", "--workload", name, "--seed", str(seed)] + run.params_args(params)
        assert run.jvm(cp, work, args, run.JVM_TIMEOUT_S) == 0, "generator JVM failed"
        with open(os.path.join(work, "digest.txt")) as f:
            return f.read()
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    cp = build.build()
    with open(os.path.join(run.HERE, "workloads.json")) as f:
        workloads = json.load(f)
    for name, params in workloads.items():
        params = {k: min(v, 4000) if k.endswith("records") else v for k, v in params.items()}
        a, b, c = (digest(cp, name, params, s) for s in (7, 7, 8))
        assert a == b, f"{name}: seed 7 gave {a} then {b}"
        assert a != c, f"{name}: seeds 7 and 8 gave the same feed"
        print(f"ok {name}: seed 7 -> {a[:16]}, seed 8 -> {c[:16]}")


if __name__ == "__main__":
    main()
