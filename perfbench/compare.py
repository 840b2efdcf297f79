#!/usr/bin/env python3
"""Compare two benchmark records of the same workload.

  python3 perfbench/compare.py BASE.json NEW.json

A record is the full result a run keeps under .bench_build/results/ (or
the second-to-last stdout line of perfbench/run.py). The comparison is
refused, with exit code 2, when the two runs differ in shape: workload,
trace mode, run length, host cores, Spark parallelism, heap or scale.
Otherwise it prints each metric of both runs and NEW / BASE.
"""
import json
import sys

SHAPE = ("nproc", "default_parallelism", "heap_bytes", "sf", "seconds",
         "trace", "spark_cpus")


def shape(r):
    p = r["provenance"]
    missing = [k for k in SHAPE if k not in p]
    if missing:
        sys.exit(f"compare: record lacks provenance {missing}")
    return {"workload": r["workload"], **{k: p[k] for k in SHAPE}}


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    base, new = (json.load(open(f)) for f in sys.argv[1:])
    sb, sn = shape(base), shape(new)
    if sb != sn:
        diff = {k: (sb[k], sn[k]) for k in sb if sb[k] != sn[k]}
        print(f"compare: refusing, runs differ in shape: {diff}",
              file=sys.stderr)
        sys.exit(2)
    for k in sorted(set(base["metrics"]) | set(new["metrics"])):
        b = base["metrics"].get(k, {}).get("value")
        n = new["metrics"].get(k, {}).get("value")
        ratio = f"{n / b:.3f}" if b and n is not None else "-"
        print(f"{k:32s} {b!s:>22} {n!s:>22} {ratio:>8}")
    print(f"steal_s: {base['provenance'].get('steal_s')} -> "
          f"{new['provenance'].get('steal_s')}")


if __name__ == "__main__":
    main()
