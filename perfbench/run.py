#!/usr/bin/env python3
"""Builds the library with the benchmark and runs one workload in its own JVM.

Run from the repository root:

    python3 perfbench/run.py --workload curate --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload serve --steady 10    # steadiness report
    python3 perfbench/run.py --selftest                       # checks can fail

A run prints one line per end-to-end metric of its workload and, as its last
line, the result object. `--trace 1` reports the per-layer metrics instead
and writes the run's spans as JSON lines under .bench_build/perfbench/traces.
Everything a run writes stays under .bench_build/perfbench; its inputs and
layouts live in a fresh directory that is deleted when the run ends.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
JAR = os.path.join(BUILD, "perfbench.jar")
ARCHIVE = os.path.join(BUILD, "perfbench.jsa")
WORKLOADS = ["curate", "serve", "ingest"]
HEAP = "2g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800

# Spark on JDK 17 needs these outside spark-submit, as in the root build.sbt.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit is None:
            sys.exit("perfbench: Spark not found; set SPARK_HOME")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return home


def build():
    """Compiles library and benchmark into one jar when any source changed,
    and exits when that fails. Then records a class-data archive of the
    classes a run loads, which every run's JVM starts from; a failure there
    only leaves runs without the archive."""
    os.makedirs(BUILD, exist_ok=True)
    try:
        done = subprocess.run(["make", "-s", "-C", HERE, "OUT=" + BUILD,
                               "SPARK_HOME=" + spark_home()],
                              stdout=sys.stderr, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        sys.exit("perfbench: build timed out")
    if done.returncode != 0:
        sys.exit("perfbench: build failed")
    if os.path.exists(ARCHIVE) and os.path.getmtime(ARCHIVE) >= os.path.getmtime(JAR):
        return
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    work = fresh_dir("classes")
    try:
        code, _ = jvm(["--classes"], work, ["-XX:ArchiveClassesAtExit=" + ARCHIVE])
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0:
        print("perfbench: no class-data archive; runs start without it", file=sys.stderr)
        if os.path.exists(ARCHIVE):
            os.remove(ARCHIVE)


def fresh_dir(name):
    path = os.path.join(BUILD, "runs", "%s-%d" % (name, os.getpid()))
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def jvm(args, work, flags=()):
    """Runs the benchmark JVM in `work`; returns (exit code, stdout lines),
    with exit code None when it timed out."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    share = ["-XX:SharedArchiveFile=" + ARCHIVE] if os.path.exists(ARCHIVE) else []
    cmd = (["java", "-Xms" + HEAP, "-Xmx" + HEAP, "-Xss8m", "-Xlog:disable", "-XX:-UsePerfData"]
           + share + list(flags)
           + [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
              "-Djava.io.tmpdir=" + tmp,
              "-cp", JAR + ":" + os.path.join(spark_home(), "jars", "*"),
              "perfbench.Main", "--work", work] + args)
    log_path = os.path.join(BUILD, "last-run.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True, cwd=work)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            out, _ = proc.communicate()
            return None, out.splitlines()
    return proc.returncode, out.splitlines()


def one_run(a):
    work = fresh_dir("%s-%d" % (a.workload or "selftest", a.seed))
    try:
        if a.selftest:
            args = ["--selftest"]
        else:
            trace_out = os.path.join(BUILD, "traces", "%s-seed%d.jsonl" % (a.workload, a.seed))
            args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                    "--trace", str(a.trace), "--trace-out", trace_out]
        code, lines = jvm(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code is not None:
        for line in lines:
            print(line)
    if code != 0:
        # the failed checks and the end of the JVM's log, for whoever reads stderr only
        log_path = os.path.join(BUILD, "last-run.log")
        with open(log_path, errors="replace") as log:
            tail = log.readlines()[-40:]
        sys.stderr.write("".join(l + "\n" for l in lines if l.startswith("check failed")))
        sys.stderr.write("".join(tail))
        if code is None:
            sys.exit("perfbench: run timed out after %d s; JVM log in %s" % (RUN_TIMEOUT_S, log_path))
        print("perfbench: exit code %d; JVM log in %s" % (code, log_path), file=sys.stderr)
    return code


def subrun(workload, seed, seconds, trace):
    """One run in a fresh process; returns (result object, {metric: (value, unit)})."""
    done = subprocess.run([sys.executable, os.path.abspath(__file__), "--workload", workload,
                           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                          stdout=subprocess.PIPE, text=True, cwd=ROOT)
    lines = done.stdout.splitlines()
    if done.returncode != 0 or not lines:
        print("\n".join(lines))
        sys.exit("perfbench: %s seed %d failed" % (workload, seed))
    report = {}
    for line in lines[:-1]:
        parts = line.split()
        if parts and parts[0] in ("metric", "layer"):
            report[parts[2]] = (float(parts[3]), parts[4])
        elif parts and parts[0] == "units":
            print("seed %d units: %s" % (seed, " ".join(parts[2:])), flush=True)
    return json.loads(lines[-1]), report


def spread_row(name, unit, values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    spread = (q3 - q1) / med if med else float("nan")
    return "%-32s %-10s median %12.6f  q1 %12.6f  q3 %12.6f  (q3-q1)/median %.4f" % (
        name, unit, med, q1, q3, spread)


def steady(a):
    """Runs a workload on `a.steady` seeds, prints each metric's median,
    quartiles and spread, then one traced run and its tracing overhead."""
    results = [subrun(a.workload, a.seed + i, a.seconds, 0) for i in range(a.steady)]
    print("== %s: %d untraced runs, seeds %d..%d, %ss each" % (
        a.workload, a.steady, a.seed, a.seed + a.steady - 1, a.seconds))
    print("-- result metrics")
    for name, m in results[0][0]["metrics"].items():
        print(spread_row(name, m["unit"], [r[0]["metrics"][name]["value"] for r in results]))
    print("-- workload metrics")
    for name, (_, unit) in results[0][1].items():
        print(spread_row(name, unit, [r[1][name][0] for r in results]))
    traced, report = subrun(a.workload, a.seed, a.seconds, 1)
    print("-- traced run, seed %d: overhead against the untraced median" % a.seed)
    for name, (_, unit) in results[0][1].items():
        base = statistics.median(r[1][name][0] for r in results)
        if name in report and base:
            print("%-32s %-10s traced %12.6f  untraced median %12.6f  overhead %+.1f%%" % (
                name, unit, report[name][0], base, 100.0 * (report[name][0] / base - 1)))
    print("-- per-layer metrics of the traced run")
    for name, m in traced["metrics"].items():
        print("%-40s %14.6f %s" % (name, m["value"], m["unit"]))
    return 0


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--steady", type=int, default=0,
                   help="run this many seeds and report each metric's spread")
    p.add_argument("--selftest", action="store_true")
    a = p.parse_args()
    if not a.selftest and not a.workload:
        p.error("--workload or --selftest is required")
    build()
    if a.steady:
        return steady(a)
    return one_run(a)


if __name__ == "__main__":
    sys.exit(main())
