#!/usr/bin/env python3
"""Regenerate perfbench/expected/query_serial.tsv, the row counts and
result hashes that query_serial checks every query against.

  python3 perfbench/make_expected.py

Runs each query_serial query once after the warm-up laps, hashes the
collected rows and writes those same rows as parquet with the query's
oracle SQL, then runs the repository's DuckDB oracle
(scripts/check_oracle.py) over them. Only queries whose Spark output
matches the oracle are written to the expected file; the others are
reported and left out, so query_serial then counts them as failed.
"""
import importlib.util
import os
import re
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
spec = importlib.util.spec_from_file_location(
    "perfbench_run", os.path.join(os.path.dirname(__file__), "run.py"))
run = importlib.util.module_from_spec(spec)
spec.loader.exec_module(run)

EXPECTED = f"{run.BENCH}/expected/query_serial.tsv"


def main():
    classes = run.ensure_build(run.source_digest())
    work = os.path.abspath(f"{run.BUILD}/work/make-expected")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(f"{work}/{d}")
    dump = f"{work}/out"
    args = ["--workload", "query_serial", "--seed", "0", "--seconds", "1",
            "--trace", "0", "--data", os.path.abspath(run.DATA),
            "--work", work, "--out", f"{work}/result.json",
            "--expected", EXPECTED, "--dump", dump,
            "--launched-ms", f"{time.time() * 1000:.3f}"]
    log = f"{run.BUILD}/logs/make-expected.log"
    os.makedirs(os.path.dirname(log), exist_ok=True)
    if run.run_jvm(run.java_cmd(classes, "perfbench.Main", args, work),
                   log) != 0:
        print(run.tail_of(log), file=sys.stderr)
        run.fail("query dump failed", 4)
    hashes = {}
    with open(f"{dump}/hashes.tsv") as f:
        for line in f:
            name, rows, h = line.rstrip("\n").split("\t")
            hashes[name] = (rows, h)
    oracle = subprocess.run(
        [sys.executable, "scripts/check_oracle.py", run.DATA, dump,
         *sorted(hashes)], capture_output=True, text=True)
    print(oracle.stdout, end="")
    ok = {m.group(1): m.group(2) for m in re.finditer(
        r"^(\S+): OK \((\d+) rows", oracle.stdout, re.M)}
    kept = {n: v for n, v in hashes.items() if ok.get(n) == v[0]}
    with open(EXPECTED, "w") as f:
        f.write("# query\trows\thash — written by perfbench/make_expected.py "
                "from results that match the DuckDB oracle at sf0.1\n")
        for n in sorted(kept):
            f.write(f"{n}\t{kept[n][0]}\t{kept[n][1]}\n")
    left_out = sorted(set(hashes) - set(kept))
    print(f"kept {len(kept)} of {len(hashes)}; left out: {left_out}")
    shutil.rmtree(work, ignore_errors=True)
    sys.exit(1 if left_out else 0)


if __name__ == "__main__":
    main()
