#!/usr/bin/env python3
"""Lists the pipeline queries whose work a count() prunes.

Builds the benchmark, generates the board tables for a seed, and runs
perfbench.CountPrune: for every SparkEntry query it compares the optimized
plan of the query with the optimized plan of its count() and prints one
JSON line per query with the computed expressions and operators the count
plan lost.

Usage: python3 perfbench/count_prune.py [seed]
"""
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import gen_tables  # noqa: E402
import run  # noqa: E402

if __name__ == "__main__":
    seed = int(sys.argv[1]) if len(sys.argv) > 1 else 1
    classes = build.build()
    work = os.path.join(build.build_dir(), "work", f"count-prune-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    try:
        gen_tables.generate(os.path.join(work, "tables"), seed)
        subprocess.run(run.java(classes, work, "perfbench.CountPrune",
                                [os.path.join(work, "tables")]), cwd=work, check=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
