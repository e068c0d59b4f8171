#!/usr/bin/env python3
"""The repo benchmark: Sparkify ETL, star-schema reads and registry loops.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload sparkify_etl --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1       # every workload, one summary
    python3 perfbench/run.py --selftest                    # the benchmark's own tests
    python3 perfbench/run.py --registry-hashes [--verify-dump DIR]

It builds the program and the benchmark from source (perfbench/build.py),
runs one JVM at local[N] with N = the core count, and relays its output.
Lines starting "[perfbench]" are the human summary, with every metric by
name and unit; the last line is the result JSON. With --trace 0 its metrics
are BENCHMARK.json's end_to_end metrics, with --trace 1 its per_layer ones.
Everything the run writes stays under .bench_build/ and .bench_work/.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # keep perfbench/ free of build products
import build  # noqa: E402

ROOT = build.ROOT
WORK = os.path.join(ROOT, ".bench_work")
WORKLOADS = ["sparkify_etl", "star_reads", "registry_loops"]
JVM_TIMEOUT_S = 170  # a run BENCHMARK.json drives must end within 180 s
# registry_loops runs by hand; its traced run (a cold pass, then pairs of
# warm passes, then the other layers) takes longer
BY_HAND_TIMEOUT_S = {"registry_loops": 400}
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def jvm(cp, args, work, timeout_s=JVM_TIMEOUT_S):
    """Runs the benchmark main in its own work directory; returns
    (exit code, stdout lines). The JVM is killed and waited for on timeout."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = ["java", "-Xms3g", "-Xmx3g", "-Xss8m", "-Duser.timezone=UTC",
           "-Djava.io.tmpdir=" + os.path.join(work, "tmp")]
    for p in ADD_OPENS:
        cmd += ["--add-opens", "java.base/%s=ALL-UNNAMED" % p]
    cmd += ["-cp", cp, "graft.perfbench.Main", "--work", work, "--bench-dir", HERE] + args
    with open(os.path.join(WORK, "last-jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True, cwd=ROOT)
        try:
            out, _ = proc.communicate(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            print("perfbench: the JVM ran past %d s and was stopped" % timeout_s, file=sys.stderr)
            return 1, []
    return proc.returncode, out.splitlines()


def expected_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}


def run_one(cp, workload, seed, seconds, trace):
    """One workload run; returns the result dict, or None if it produced none."""
    work = os.path.join(WORK, "%s-%d-%d" % (workload, seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    try:
        code, lines = jvm(cp, ["--workload", workload, "--seed", str(seed),
                               "--seconds", str(seconds), "--trace", "1" if trace else "0"], work,
                            BY_HAND_TIMEOUT_S.get(workload, JVM_TIMEOUT_S))
        for line in lines[:-1]:
            print(line)
        if code != 0 or not lines:
            print("perfbench: the JVM exited with %d; see .bench_work/last-jvm.log" % code,
                  file=sys.stderr)
            return None
        result = json.loads(lines[-1])
        spans = [f for f in os.listdir(work) if f.startswith("spans-")]
        for f in spans:
            shutil.move(os.path.join(work, f), os.path.join(WORK, f))
        return result
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", default="all", choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--registry-hashes", action="store_true",
                    help="write the registry fixture under .bench_work/registry-hashes and print "
                         "each query's content hash (see README.md)")
    ap.add_argument("--verify-dump", help="a graft.Verify dump of that fixture to hash as well")
    a = ap.parse_args()
    if not os.path.exists(os.path.join(ROOT, "BENCHMARK.json")):
        sys.exit("perfbench: run from a checkout holding BENCHMARK.json")
    os.makedirs(WORK, exist_ok=True)
    cp = build.build()
    if a.selftest or a.registry_hashes:
        args = ["--workload", "selftest"] if a.selftest else \
            ["--workload", "registry_hashes"] + (["--verify-dump", a.verify_dump] if a.verify_dump else [])
        work = os.path.join(WORK, "selftest" if a.selftest else "registry-hashes")
        code, lines = jvm(cp, args, work)
        if a.selftest:
            shutil.rmtree(work, ignore_errors=True)
        print("\n".join(lines))
        sys.exit(code)
    if a.seconds is None:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            a.seconds = json.load(f)["run_seconds"]

    names = expected_metrics(a.trace == 1)
    results = {}
    for w in (WORKLOADS if a.workload == "all" else [a.workload]):
        r = run_one(cp, w, a.seed, a.seconds, a.trace == 1)
        if r is None or set(r.get("metrics", {})) != names:
            sys.exit("perfbench: %s gave no complete result" % w)
        results[w] = r
    if a.workload != "all":
        print(json.dumps(results[a.workload]))
        return
    print(json.dumps({
        "correct": all(r["correct"] for r in results.values()),
        "attempted": sum(r["attempted"] for r in results.values()),
        "failed": sum(r["failed"] for r in results.values()),
        "metrics": {"%s.%s" % (w, k): v for w, r in results.items() for k, v in r["metrics"].items()},
    }))


if __name__ == "__main__":
    main()
