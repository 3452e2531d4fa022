#!/usr/bin/env python3
"""Benchmark entry point.

Usage: python3 perfbench/run.py --workload board|tail --seed N
           --seconds S --trace 0|1

Builds the engine and the benchmark from source on first use (build.py),
makes the workload's inputs from the seed, runs the workload in one JVM on
the compiled classes, checks its outputs, and prints as its last line one
JSON object: correct, attempted, failed, and the end-to-end metrics
(--trace 0) or per-layer metrics (--trace 1) named in BENCHMARK.json.
Everything it writes stays under the build directory of the checkout.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build  # noqa: E402
import gen_tables  # noqa: E402
import oracles  # noqa: E402

ROOT = build.ROOT
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
JVM_TIMEOUT_S = 165
# Per-layer metric prefixes of the layers each workload exercises. A traced
# run reports 0 for every other layer's metric; a metric of an exercised
# layer that the run did not measure is an error.
EXERCISED = {
    "board": ("board.", "host."),
    "tail": ("gold.", "serve.", "setup.", "store.", "tail.", "host."),
}


def java(classes, work, main_class, args):
    """The JVM command line: Spark's module opens, the session settings
    of tools/run_main.sh, and every temporary file inside `work`."""
    return ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] + [
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/tmp",
        f"-Dderby.system.home={work}", "-Xmx3g",
        "-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"),
        main_class] + args


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["board", "tail"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer" if a.trace else "end_to_end"]

    classes = build.build()
    work = os.path.join(build.build_dir(), "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        jvm_args = ["--workload", a.workload, "--seed", str(a.seed),
                    "--seconds", str(a.seconds), "--trace", str(a.trace),
                    "--work", work]
        if a.workload == "board":
            tables = os.path.join(work, "tables")
            gen_tables.generate(tables, a.seed)
            jvm_args += ["--tables", tables]
        proc = subprocess.run(java(classes, work, "perfbench.Main", jvm_args), cwd=work,
                              stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
                              timeout=JVM_TIMEOUT_S)
        out = proc.stdout.splitlines()
        lines = [ln for ln in out if ln.startswith("{")]
        for ln in out:
            if not ln.startswith("{"):
                sys.stderr.write(ln + "\n")
        if proc.returncode != 0 or not lines:
            raise SystemExit(f"perfbench: {a.workload} run failed ({proc.returncode})")
        res = json.loads(lines[-1])
        sys.stderr.write(f"perfbench: measured {lines[-1]}\n")
        correct = bool(res["correct"])
        for p in res["problems"]:
            sys.stderr.write(f"perfbench: {a.workload}: {p}\n")
        if a.workload == "board":
            for name, why in oracles.check(tables, os.path.join(work, "out")).items():
                if why is not None:
                    correct = False
                    sys.stderr.write(f"perfbench: oracle {name}: {why}\n")
        measured = res["per_layer" if a.trace else "end_to_end"]
        metrics = {}
        for m in wanted:
            value = measured.get(m["name"])
            if value is None and a.trace and not m["name"].startswith(EXERCISED[a.workload]):
                value = 0
            if value is None:
                raise SystemExit(f"perfbench: {a.workload} did not measure {m['name']}")
            metrics[m["name"]] = {"value": value, "unit": m["unit"]}
        print(json.dumps({"correct": correct, "attempted": int(res["attempted"]),
                          "failed": int(res["failed"]), "metrics": metrics}))
    finally:
        if os.environ.get("PERFBENCH_KEEP") != "1":
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
