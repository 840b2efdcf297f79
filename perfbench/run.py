#!/usr/bin/env python3
"""The repository benchmark. Run from the repository root:

  python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
  python3 perfbench/run.py --self-test

Workloads: cdc_backlog, query_serial (perfbench/README.md).
The first run builds the program and the harness from source into
.bench_build/ (perfbench/build.sh); later runs reuse the build while the
sources are unchanged. One run starts one JVM, which makes its inputs
from the seed, measures for S seconds and checks the program's outputs.

The last stdout line is the result: {"correct", "attempted", "failed",
"metrics"}. With --trace 0 the metrics are the workload's end-to-end
numbers; with --trace 1 the per-layer numbers of a traced run. A traced run
traces every other pair of timed operations and reports the tracing
overhead between the traced and the untraced ones. The line
before it carries the full record (provenance, notes); it is also kept
under .bench_build/results/.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = "perfbench"
BUILD = ".bench_build"
DATA = f"{BENCH}/data/sf0.1"
SF = 0.1
WORKLOADS = ("cdc_backlog", "query_serial")
# the heap is fixed at its full size from the start, so heap growth does
# not reach into the timed window
HEAP = "3g"
# the whole command, build excluded, must end well inside 180 s
DEADLINE_S = 170
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            fail("set SPARK_HOME or put spark-submit on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return os.path.join(home, "jars")


def source_digest():
    """Digest of everything the build compiles: the build is redone when
    it changes, and results carry it as the code's identity."""
    h = hashlib.sha256()
    roots = ["src/main", f"{BENCH}/src", f"{BENCH}/build.sh"]
    for root in roots:
        paths = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)
        for p in sorted(paths):
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def ensure_build(digest):
    classes = f"{BUILD}/classes"
    stamp = f"{BUILD}/classes.digest"
    os.makedirs(BUILD, exist_ok=True)
    # one build at a time: a second run waits and then reuses it
    with open(f"{BUILD}/build.lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(stamp) and open(stamp).read() == digest:
            return classes
        if os.path.exists(stamp):
            os.remove(stamp)
        t0 = time.time()
        if run_child(["bash", f"{BENCH}/build.sh", classes],
                     stdout=sys.stderr, stderr=sys.stderr) != 0:
            fail("build failed", 3)
        with open(stamp, "w") as f:
            f.write(digest)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return classes


def steal_seconds():
    """All-CPU steal time from /proc/stat (USER_HZ = 100)."""
    try:
        with open("/proc/stat") as f:
            for line in f:
                if line.startswith("cpu "):
                    fields = line.split()
                    return int(fields[8]) / 100.0 if len(fields) > 8 else 0.0
    except OSError:
        pass
    return 0.0


def git_commit():
    """Commit as a number (first 12 hex digits), 0 outside a git checkout."""
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
        if out.returncode == 0:
            return int(out.stdout.strip()[:12], 16)
    except (OSError, ValueError, subprocess.SubprocessError):
        pass
    return 0


def java_cmd(classes, main, args, work):
    cp = os.pathsep.join([f"{classes}/main", f"{classes}/test",
                          os.path.join(spark_jars(), "*")])
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    props = [f"-Djava.io.tmpdir={work}/tmp",
             f"-Dspark.local.dir={work}/spark-local",
             f"-Dspark.sql.warehouse.dir={work}/warehouse"]
    return ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
            *opens, *props, "-cp", cp, main, *args]


def run_child(cmd, timeout=None, **kw):
    """Run cmd in a process group of its own and wait for it; returns its
    exit code, or None on a timeout. On a timeout, and on SIGTERM or
    Ctrl-C, the whole group is killed and waited for, so nothing the
    benchmark started outlives it."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        return None
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            # the group's other members (the compiler under build.sh)
            # are not our children: wait until the group is gone
            for _ in range(100):
                try:
                    os.killpg(p.pid, 0)
                except ProcessLookupError:
                    break
                time.sleep(0.1)


def run_jvm(cmd, log_path, timeout=DEADLINE_S):
    with open(log_path, "w") as log:
        return run_child(cmd, max(1.0, timeout), stdout=log,
                         stderr=subprocess.STDOUT)


def tail_of(path, n=30):
    with open(path, errors="replace") as f:
        return "".join(f.readlines()[-n:])


def declared():
    with open("BENCHMARK.json") as f:
        b = json.load(f)
    return ({m["name"]: m for m in b["end_to_end"]},
            {m["name"]: m for m in b["per_layer"]})


def self_test():
    classes = ensure_build(source_digest())
    work = os.path.abspath(f"{BUILD}/work/self-test")
    os.makedirs(work, exist_ok=True)
    code = run_child(java_cmd(classes, "perfbench.StatsTest", [], work))
    shutil.rmtree(work, ignore_errors=True)
    sys.exit(code)


def measure(classes, a, trace, digest, deadline):
    """One JVM run of the workload; returns its full record."""
    tag = f"{a.workload}-seed{a.seed}-trace{trace}"
    work = os.path.abspath(f"{BUILD}/work/{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(f"{work}/{d}")
    os.makedirs(f"{BUILD}/results", exist_ok=True)
    os.makedirs(f"{BUILD}/logs", exist_ok=True)
    out_file = f"{work}/result.json"
    log_file = f"{BUILD}/logs/{tag}.log"
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(trace),
            "--data", os.path.abspath(DATA), "--work", work,
            "--out", out_file,
            "--expected", f"{BENCH}/expected/query_serial.tsv"]

    steal0 = steal_seconds()
    launched_ms = time.time() * 1000
    code = run_jvm(java_cmd(classes, "perfbench.Main",
                            args + ["--launched-ms", f"{launched_ms:.3f}"],
                            work), log_file, deadline - time.time())
    steal = steal_seconds() - steal0
    if code != 0 or not os.path.exists(out_file):
        print(tail_of(log_file), file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        fail("harness timed out" if code is None else
             f"harness exited with {code}", 4)
    with open(out_file) as f:
        r = json.load(f)
    spans = f"{work}/spans.jsonl"
    if os.path.exists(spans):
        shutil.move(spans, f"{BUILD}/results/{tag}.spans.jsonl")
    shutil.rmtree(work, ignore_errors=True)
    r["provenance"].update({
        "nproc": len(os.sched_getaffinity(0)), "sf": SF, "seed": a.seed,
        "seconds": a.seconds, "trace": trace, "git_commit": git_commit(),
        "source_digest": int(digest[:12], 16), "steal_s": steal})
    return r


def keep(r):
    p = r["provenance"]
    with open(f"{BUILD}/results/{r['workload']}-seed{p['seed']}-"
              f"trace{p['trace']}.json", "w") as f:
        json.dump(r, f, indent=1, sort_keys=True)


def main():
    # SIGTERM unwinds like Ctrl-C, so the child processes are stopped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1))
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if not (os.path.isdir("src/main/scala") and os.path.isdir(DATA)
            and os.path.isfile("BENCHMARK.json")):
        fail("run from the repository root (program sources, "
             f"{DATA} and BENCHMARK.json are needed)")
    if a.self_test:
        self_test()
    if None in (a.workload, a.seed, a.seconds, a.trace):
        ap.error("--workload, --seed, --seconds and --trace are required")
    if not 1 <= a.seconds <= 60:
        ap.error("--seconds must be within 1..60")

    e2e, per_layer = declared()
    digest = source_digest()
    classes = ensure_build(digest)
    deadline = time.time() + DEADLINE_S
    r = measure(classes, a, a.trace, digest, deadline)
    if a.trace:
        metrics = {k: {"value": v, "unit": per_layer[k]["unit"]}
                   for k, v in r["per_layer"].items() if k in per_layer}
        missing = set(per_layer) - set(r["per_layer"])
    else:
        metrics = r["metrics"]
        missing = set(e2e) - set(metrics)
    unknown = [k for k in metrics if k not in (per_layer if a.trace else e2e)]
    units = [k for k, m in metrics.items() if not a.trace
             and e2e.get(k, {}).get("unit") != m["unit"]]
    if unknown or missing or units:
        fail(f"metrics do not match BENCHMARK.json: unknown={unknown} "
             f"missing={sorted(missing)} unit={units}", 5)

    keep(r)
    print(json.dumps(r, sort_keys=True))
    attempted, failed = r["attempted"], r["failed"]
    print(json.dumps({"correct": failed == 0 and attempted >= 1,
                      "attempted": attempted, "failed": failed,
                      "metrics": metrics}, sort_keys=True))


if __name__ == "__main__":
    main()
