#!/usr/bin/env python3
"""Build the program and run one benchmark workload.

    python3 lakebench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first call builds the program and
the benchmark with sbt (lakebench/build.sbt depends on the repository's
own build); later calls reuse the build until a source file changes.
The benchmark then runs in one JVM and prints, as the last line of
stdout, one JSON object with `correct`, `attempted`, `failed` and
`metrics`.

    python3 lakebench/run.py --report [--seed n] [--seconds s]

runs every workload untraced and traced and prints every metric by
name with its unit, plus the tracing overhead.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(ROOT, ".lakebench")
CLASSPATH = os.path.join(BENCH, "target", "classpath.txt")
WORKLOADS = ["medallion_cdc", "corpus_curate"]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"lakebench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """Every file whose change needs a rebuild."""
    yield os.path.join(ROOT, "build.sbt")
    yield os.path.join(BENCH, "build.sbt")
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for d, _, files in os.walk(top):
            for f in files:
                yield os.path.join(d, f)


def build():
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("no program sources next to the benchmark: run from a full checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are needed to build the program")
    if os.path.isfile(CLASSPATH):
        built = os.path.getmtime(CLASSPATH)
        entries = open(CLASSPATH).read().split(os.pathsep)
        if all(os.path.exists(e) for e in entries) and \
                all(os.path.getmtime(s) <= built for s in sources() if os.path.exists(s)):
            return entries
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "writeClasspath"],
        cwd=BENCH, env=env, stdout=sys.stderr, stderr=sys.stderr,
        timeout=BUILD_TIMEOUT_S)
    if proc.returncode != 0 or not os.path.isfile(CLASSPATH):
        fail(f"build failed (sbt exit {proc.returncode})")
    return open(CLASSPATH).read().split(os.pathsep)


def run_once(classpath, workload, seed, seconds, trace):
    """One JVM run; returns the parsed result line, or exits non-zero."""
    if os.path.isdir(WORK):
        shutil.rmtree(WORK)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp)
    cmd = (["java", "-Xmx3g", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join(classpath), "lakebench.Main",
              "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
              "--trace", "1" if trace else "0", "--root", ROOT, "--work", WORK])
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=sys.stderr,
                            text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"{workload} did not finish within {RUN_TIMEOUT_S} s")
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        fail(f"{workload} failed (exit {proc.returncode})")
    return lines[-1]


def report(classpath, seed, seconds):
    """Every workload untraced, then traced: every metric, and the
    tracing overhead (traced minus untraced operation latency)."""
    for w in WORKLOADS:
        plain = json.loads(run_once(classpath, w, seed, seconds, False))
        traced = json.loads(run_once(classpath, w, seed, seconds, True))
        print(f"== {w}: correct={plain['correct'] and traced['correct']} "
              f"attempted={plain['attempted']} failed={plain['failed']} "
              f"failed_frac={plain['failed'] / plain['attempted']:.4f}")
        for name, m in plain["metrics"].items():
            print(f"  {name:42s} {m['value']:>16.6g} {m['unit']}")
        for name, m in traced["metrics"].items():
            print(f"  {name:42s} {m['value']:>16.6g} {m['unit']}")
        overhead = traced["metrics"]["traced.op_p50_ms"]["value"] - \
            plain["metrics"]["op_p50_ms"]["value"]
        print(f"  {'tracing_overhead.op_p50_ms':42s} {overhead:>16.6g} ms")


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--report", action="store_true")
    args = ap.parse_args()
    if not args.report and args.workload is None:
        fail("--workload or --report is required")
    started = time.time()
    classpath = build()
    print(f"lakebench: build ready in {time.time() - started:.1f} s", file=sys.stderr)
    if args.report:
        report(classpath, args.seed, args.seconds)
    else:
        print(run_once(classpath, args.workload, args.seed, args.seconds, args.trace == 1))


if __name__ == "__main__":
    main()
