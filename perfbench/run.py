"""The repository benchmark, one command.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Run from the repository root. It builds the engine and the harness
(perfbench/build.py), generates the seeded inputs of the workload
(perfbench/gen.py, cached per seed under .bench_build/inputs), runs one
JVM that sets the workload up, drives its closed loop for `--seconds`
and checks every operation, then prints the workload's named metrics
and, as the last line, one JSON object:

    {"correct": .., "attempted": .., "failed": .., "metrics": {..}}

With `--trace 0` the metrics are the `end_to_end` metrics of
BENCHMARK.json; with `--trace 1` they are its `per_layer` metrics (a
span the workload never enters reads 0), and the full span trace is
written to .bench_build/traces/. See perfbench/README.md.
"""

import argparse
import filecmp
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen    # noqa: E402

CORES = 4          # Spark runs at local[CORES]
SETUPS = 2         # set-ups per run; setup_s is their median
HEAP = "2g"
RUN_LIMIT_S = 170  # a run must end within 180 s

# JDK 17 module opens Spark needs outside spark-submit (as in build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def java_cmd(work, label, main_args):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cp = build.class_path()
    # class-data sharing: the first run of a workload in a checkout
    # dumps the classes it loaded, later runs map them (a start-up saving
    # for the harness only; a missing or stale archive is ignored)
    jsa = cp[0][:-len(".jar")] + f"-{label}.jsa"
    cds = (f"-XX:SharedArchiveFile={jsa}" if os.path.exists(jsa)
           else f"-XX:ArchiveClassesAtExit={jsa}.{os.getpid()}")
    return (["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:+UseG1GC", cds, "-Xlog:disable"] +
            opens +
            ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             f"-Dspark.local.dir={tmp}", f"-Djava.io.tmpdir={tmp}",
             "-cp", os.pathsep.join(cp), "perfbench.Main"] + main_args)


def run_java(cmd, deadline):
    """Run the JVM, stdout passed through; False if it failed or ran late."""
    try:
        proc = subprocess.run(cmd, timeout=max(30.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        print("perfbench: run exceeded its time limit", file=sys.stderr)
        return False
    dump = [a.split("=", 1)[1] for a in cmd if a.startswith("-XX:ArchiveClassesAtExit=")]
    if dump and os.path.exists(dump[0]):
        os.replace(dump[0], dump[0].rsplit(".", 1)[0])
    return proc.returncode == 0


def selftest():
    """Generator determinism plus the planted-failure checks."""
    root = os.path.join(build.BUILD_DIR, "selftest")
    shutil.rmtree(root, ignore_errors=True)
    ok = True

    def same(a, b):
        cmp = filecmp.dircmp(a, b)
        if cmp.left_only or cmp.right_only or cmp.funny_files:
            return False
        _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
        return not mismatch and not errors and all(
            same(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs)

    for w in gen.WORKLOADS:
        a, b, c = (os.path.join(root, f"{w}-{k}") for k in ("s7a", "s7b", "s8"))
        gen.generate(w, 7, a)
        gen.generate(w, 7, b)
        gen.generate(w, 8, c)
        repeat, differ = same(a, b), not same(a, c)
        ok &= repeat and differ
        print(f"[selftest] {'ok  ' if repeat else 'MISS'} {w}: seed 7 twice gives "
              f"{'byte-identical' if repeat else 'DIFFERENT'} inputs")
        print(f"[selftest] {'ok  ' if differ else 'MISS'} {w}: seeds 7 and 8 give "
              f"{'different' if differ else 'IDENTICAL'} inputs")
    work = os.path.abspath(os.path.join(root, "work"))
    ok &= run_java(java_cmd(work, "selftest", ["--selftest", "1", "--work", work]),
                   time.time() + RUN_LIMIT_S)
    shutil.rmtree(root, ignore_errors=True)
    print("[selftest] " + ("all checks behave" if ok else "FAILED"))
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()
    if args.selftest:
        return selftest()
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    if args.workload not in gen.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload}", file=sys.stderr)
        return 2
    build.build()
    inputs = gen.cached(os.path.join(build.BUILD_DIR, "inputs"), args.workload, args.seed)
    start = time.time()   # a first run may spend longer building
    work = os.path.abspath(os.path.join(build.BUILD_DIR, "work",
                                        f"{args.workload}-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    result = os.path.join(work, "result.json")
    trace_out = os.path.join(build.BUILD_DIR, "traces", f"{args.workload}-s{args.seed}.json")
    try:
        ok = run_java(java_cmd(work, args.workload, [
            "--workload", args.workload, "--inputs", os.path.abspath(inputs),
            "--work", work, "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cores", str(CORES), "--setups", str(SETUPS), "--result", result,
            "--trace-out", trace_out]), start + RUN_LIMIT_S)
        if not ok or not os.path.exists(result):
            return 1
        with open(result) as f:
            res = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    wanted = spec["per_layer" if args.trace else "end_to_end"]
    metrics = {}
    for m in wanted:
        v = res["metrics"].get(m["name"])
        if v is None and not args.trace:
            print(f"perfbench: run did not measure {m['name']}", file=sys.stderr)
            return 1
        metrics[m["name"]] = {"value": v if v is not None else 0, "unit": m["unit"]}
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
