#!/usr/bin/env python3
"""Workload benchmark for graft.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --check-generators

Builds graft's main sources plus the benchmark (perfbench/src) with the
Scala compiler from the project's own Spark jar directory (the
`unmanagedBase` of build.sbt; override with GRAFT_SPARK_JARS), caches the
classes under .bench_build/perfbench keyed by a hash of every source, and
runs one workload in a fresh JVM shaped like tier-1: local[nproc], shuffle
partitions = nproc, driver heap = MemTotal/2 clamped to 2..8 GB.

The last line of stdout is the result JSON. Exit status is non-zero when
the build fails, a check fails or the run times out.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ["serve_point", "batch_knn"]
RUN_TIMEOUT_S = 170
ADD_OPENS = ["java.base/" + p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def die(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def spark_jars():
    jars = os.environ.get("GRAFT_SPARK_JARS")
    if not jars:
        sbt = os.path.join(ROOT, "build.sbt")
        if not os.path.isfile(sbt):
            die("no build.sbt at the checkout root; run from a graft checkout")
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if not m:
            die("build.sbt names no unmanagedBase jar directory; set GRAFT_SPARK_JARS")
        jars = m.group(1)
    if not os.path.isdir(jars) or not any(f.startswith("scala-compiler") for f in os.listdir(jars)):
        die("no Spark/Scala jars at " + jars)
    return jars


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(os.path.join(main, "graft")):
        die("graft sources not found at src/main/scala/graft; run from a graft checkout")
    out = []
    for base in (main, os.path.join(HERE, "src")):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build(jars):
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        h.update(open(s, "rb").read())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "classes.stamp")
    if os.path.isfile(stamp_file) and open(stamp_file).read() == stamp and os.path.isdir(classes):
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cp = os.pathsep.join(os.path.join(jars, j) for j in sorted(os.listdir(jars)) if j.endswith(".jar"))
    print("# building graft + perfbench (%d sources)" % len(srcs), file=sys.stderr)
    r = subprocess.run(["java", "-Xss8m", "-Xmx3g", "-cp", os.path.join(jars, "*"),
                        "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", cp,
                        "@" + argfile], stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        die("compile failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


def driver_heap():
    gb = 2
    try:
        for line in open("/proc/meminfo"):
            if line.startswith("MemTotal:"):
                gb = int(line.split()[1]) // 2097152
    except OSError:
        pass
    return "%dg" % min(8, max(2, gb))


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=10)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--check-generators", action="store_true")
    a = p.parse_args()
    if not a.check_generators and not a.workload:
        p.error("--workload is required")

    jars = spark_jars()
    classes = build(jars)
    out = os.path.join(BUILD, "artifacts")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(out, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    cmd = (["java"] + [x for o in ADD_OPENS for x in ("--add-opens", o + "=ALL-UNNAMED")] +
           ["-Xmx" + driver_heap(), "-Xss8m", "-Djava.io.tmpdir=" + tmp,
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", classes + os.pathsep + os.path.join(jars, "*"), "graft.perfbench.Main"])
    if a.check_generators:
        cmd += ["--check-generators"]
    else:
        cmd += ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--out", out]
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, text=True)
    try:
        stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        die("run exceeded %d s" % RUN_TIMEOUT_S)
    lines = [l for l in stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.stdout.write(stdout)
        print("perfbench: run failed (exit %d)" % proc.returncode, file=sys.stderr)
        sys.exit(proc.returncode or 1)
    if a.trace:
        lines[-1:-1] = tracing_overhead(out, a.workload, a.seed)
    print("\n".join(lines))


def tracing_overhead(out, workload, seed):
    """Traced minus untraced end-to-end figures, as a share of the
    untraced ones, when an untraced run of the same workload and seed
    left its artifact; recorded in the traced artifact too."""
    base = os.path.join(out, "%s-seed%d-trace" % (workload, seed))
    if not os.path.isfile(base + "0.json"):
        return ["# tracing overhead: no untraced run of this workload and seed to compare"]
    plain = json.load(open(base + "0.json"))["end_to_end"]
    traced_file = base + "1.json"
    traced = json.load(open(traced_file))
    over = {k: (traced["end_to_end"][k]["value"] - v["value"]) / v["value"]
            for k, v in plain.items() if v["value"]}
    traced["tracing_overhead"] = over
    with open(traced_file, "w") as f:
        json.dump(traced, f)
    return ["# tracing overhead %-14s %+.1f%%" % (k, 100 * v) for k, v in over.items()]


if __name__ == "__main__":
    main()
