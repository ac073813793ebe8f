#!/usr/bin/env python3
"""Archive-pipeline benchmark launcher.

Run from the root of a checkout:

    python3 perfbench/run.py --workload key_bulk --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1          # every workload, one table
    python3 perfbench/run.py --workload key_bulk --fault truncated_target

Builds the program and the benchmark from source with sbt when the sources
changed since the last build (the build lands in perfbench/target), then
runs one JVM per workload. The last line of standard output is the JSON
result; every file the run writes stays under .bench_work/ in the checkout.
"""
import argparse
import hashlib
import json
import os
import subprocess
import sys
import time

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
WORK = os.path.join(ROOT, ".bench_work")
TARGET = os.path.join(BENCH, "target")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
STAMP = os.path.join(TARGET, "build.stamp")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
WORKLOADS = ["key_bulk", "time_windows", "jdbc_derby", "operator_suite"]
RUN_TIMEOUT_S = 175
BUILD_TIMEOUT_S = 850

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Hash of every input of the build, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = [PROGRAM_SRC, os.path.join(BENCH, "src"), os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    digest = source_digest()
    if os.path.exists(STAMP) and os.path.exists(CLASSPATH):
        with open(STAMP) as f:
            if f.read().strip() == digest:
                return
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    proc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                          cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    if proc.returncode != 0 or not os.path.exists(CLASSPATH):
        sys.stderr.write(proc.stdout.decode(errors="replace")[-4000:])
        fail("build failed")
    with open(STAMP, "w") as f:
        f.write(digest)
    print(f"built in {time.time() - t0:.1f} s", file=sys.stderr)


def heap():
    """The tier-1 test heap: half the RAM, between 2 and 8 GB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(max(kb // 2097152, 2), 8)}g"
    except (OSError, StopIteration):
        return "2g"


def run_jvm(args, workload):
    os.makedirs(os.path.join(WORK, "logs"), exist_ok=True)
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    # A fixed heap, young generation and old-generation trigger, and two
    # malloc arenas: with adaptive sizing the resident-set peak depends on
    # when the collector happens to run, not on the work done.
    cmd = (["java", f"-Xms{heap()}", f"-Xmx{heap()}", "-Xmn384m", "-XX:-G1UseAdaptiveIHOP",
            "-XX:-UsePerfData", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
            f"-Dderby.stream.error.file={os.path.join(WORK, 'logs', 'derby.log')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--work", WORK,
              "--expected", os.path.join(BENCH, "expected_counts.json"),
              "--workload", workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace)])
    if args.fault:
        cmd += ["--fault", args.fault]
    if args.record_expected:
        cmd += ["--record-expected"]
    log_path = os.path.join(WORK, "logs", f"{workload}-seed{args.seed}-trace{args.trace}.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=log,
                                stdin=subprocess.DEVNULL, env=dict(os.environ, MALLOC_ARENA_MAX="2"))
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"{workload} did not finish within {RUN_TIMEOUT_S} s (log: {log_path})")
    text = out.decode(errors="replace")
    with open(log_path, "a") as log:
        log.write("\n--- standard output ---\n" + text)
    lines = text.splitlines()
    result = None
    if lines and lines[-1].startswith("{"):
        result = json.loads(lines[-1])
        lines = lines[:-1]
    return proc.returncode, lines, result, log_path


def main():
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--fault", choices=["truncated_target", "wrong_delete_back"],
                   help="break the archive's output on purpose: the checks must fail")
    p.add_argument("--record-expected", action="store_true",
                   help="rewrite perfbench/expected_counts.json from the current program")
    args = p.parse_args()

    if not os.path.isfile(os.path.join(PROGRAM_SRC, "graft", "Archiver.scala")):
        fail("run me from the root of a checkout of the program (src/main/scala is missing)")
    build()
    if args.record_expected:
        code, lines, _, log = run_jvm(args, "operator_suite")
        print("\n".join(lines))
        sys.exit(code)

    workloads = WORKLOADS if args.workload == "all" else [args.workload]
    results = {}
    for w in workloads:
        code, lines, result, log = run_jvm(args, w)
        print("\n".join(lines))
        if result is None:
            with open(log) as f:
                sys.stderr.write(f.read()[-4000:])
            fail(f"{w} printed no result (exit {code}, log: {log})")
        if code != 0 or not result["correct"]:
            if len(workloads) == 1:
                print(json.dumps(result))
            fail(f"{w}: output checks failed ({result['failed']} of {result['attempted']}); log: {log}")
        results[w] = result
    if len(workloads) == 1:
        print(json.dumps(results[workloads[0]]))
    else:
        names = list(next(iter(results.values()))["metrics"])
        print(f"{'metric':32}" + "".join(f"{w:>16}" for w in workloads))
        for n in names:
            unit = results[workloads[0]]["metrics"][n]["unit"]
            print(f"{n + ' (' + unit + ')':32}" +
                  "".join(f"{results[w]['metrics'][n]['value']:16.4f}" for w in workloads))
        print(json.dumps({
            "correct": all(r["correct"] for r in results.values()),
            "attempted": sum(r["attempted"] for r in results.values()),
            "failed": sum(r["failed"] for r in results.values()),
            "workloads": {w: r["metrics"] for w, r in results.items()}}))


if __name__ == "__main__":
    main()
