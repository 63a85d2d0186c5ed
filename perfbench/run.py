#!/usr/bin/env python3
"""Benchmark of graft: builds the library and the harness in
`perfbench/src` with scalac, then runs one workload in one JVM.

    python3 perfbench/run.py --workload planet-lump --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. The last line of standard output is
one JSON object: {"correct", "attempted", "failed", "metrics"}. With
`--trace 0` the metrics are the end-to-end ones of BENCHMARK.json, with
`--trace 1` the per-layer ones. Everything the run writes stays in the
checkout: classes in `$CARGO_TARGET_DIR` (default `.bench_build`), the
run's inputs, outputs and temp files in `.bench_work/`, removed at exit.

Extra flags, not used by the standard runs:
  --master local[N]   run on another number of cores (digest parity)
  --record            also print every operation's digest (for digests.tsv)
  --inject-fail OP    make operation OP throw in the first warm pass
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("planet-lump", "suite-mix")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def spark_jars():
    """The Spark jars the build compiles against: build.sbt's
    `unmanagedBase`, else $SPARK_HOME/jars."""
    try:
        with open(os.path.join(ROOT, "build.sbt"), encoding="utf-8") as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    except OSError:
        pass
    home = os.environ.get("SPARK_HOME", "")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sys.exit("no Spark jars: set SPARK_HOME or unmanagedBase in build.sbt")


def sources():
    out = []
    for base in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build(jars):
    """Compiles the library and the harness once per source tree; later
    runs of the same sources reuse the classes."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        sys.exit("no src/main/scala in this checkout: nothing to benchmark")
    srcs = sources()
    h = hashlib.sha256(java().encode())
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode() + b"\0")
        with open(p, "rb") as f:
            h.update(f.read())
    target = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    out = os.path.join(target, "perfbench", h.hexdigest()[:16])
    classes = os.path.join(out, "classes")
    if os.path.exists(os.path.join(out, "ok")):
        return classes
    # classes of older source trees are never run again
    shutil.rmtree(os.path.dirname(out), ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w", encoding="utf-8") as f:
        f.write("\n".join(srcs) + "\n")
    log(f"compiling {len(srcs)} sources into {os.path.relpath(classes, ROOT)}")
    r = subprocess.run(
        [java(), "-Xss16m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
         "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", classes, "@" + argfile],
        stdout=sys.stderr, stderr=sys.stderr, timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        sys.exit("build failed")
    open(os.path.join(out, "ok"), "w").close()
    return classes


def warm_page_cache(jars):
    """Reads every jar once before the JVM starts, so class loading inside
    the measured set-up never waits on the disk (a cold first launch
    otherwise reads ~0.5 GB of jars inside `setup_s`)."""
    for name in sorted(n for n in os.listdir(jars) if n.endswith(".jar")):
        with open(os.path.join(jars, name), "rb") as f:
            while f.read(1 << 20):
                pass


def expected_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--master", default="local[4]")
    ap.add_argument("--record", action="store_true")
    ap.add_argument("--inject-fail", default=None)
    a = ap.parse_args()
    # a stopped run still stops its JVM (the finally clause below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("stopped by SIGTERM"))

    jars = spark_jars()
    classes = build(jars)
    warm_page_cache(jars)

    work = os.path.join(ROOT, ".bench_work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    env = dict(os.environ)
    if a.workload == "planet-lump":
        # the planet sits below the 500k-edge gate of the single-task
        # union-find; 0 keeps connected components on the star loop
        env["SPARK_GRAFT_CC_LOCAL_MAX"] = "0"
    cmd = [java()]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.callstack.depth=400",
            "-cp", classes + os.pathsep + os.path.join(jars, "*"), "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--master", a.master,
            "--work", work, "--data", os.path.join(HERE, "data"),
            "--digests", os.path.join(HERE, "digests.tsv"),
            "--record", "1" if a.record else "0"]
    if a.inject_fail:
        cmd += ["--inject-fail", a.inject_fail]
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                            stderr=sys.stderr, text=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        sys.exit(f"the JVM ran over {JVM_TIMEOUT_S} s and was stopped")
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    lines = out.splitlines()
    for line in lines[:-1]:
        print(line)  # digest records, the CLI's own summary line
    if proc.returncode != 0 or not lines:
        sys.exit(f"the JVM exited with code {proc.returncode}")
    result = json.loads(lines[-1])
    missing = set(expected_metrics(a.trace)) - set(result["metrics"])
    if missing:
        sys.exit(f"metrics missing from the result: {sorted(missing)}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
