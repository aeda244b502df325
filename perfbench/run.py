#!/usr/bin/env python3
"""The repository's benchmark, as one command.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Run from the root of a checkout. The first run compiles the program's
sources together with the benchmark's (sbt, offline) into perfbench/target;
later runs reuse that build while no source changes. The last line of
standard output is one JSON object: correct, attempted, failed and the
metrics named in BENCHMARK.json (end-to-end ones with --trace 0, per-layer
ones with --trace 1), each with its unit. Everything the run writes stays
under perfbench/ (work/ is removed after each run; out/ keeps the traced
runs' spans as JSONL). See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM = os.path.join(ROOT, "src", "main", "scala")
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "perfbench-classpath.txt")
RUN_LIMIT_S = 170      # one run must end within 180 s
BUILD_LIMIT_S = 700    # the first run, which builds, within 900 s

# Spark 4 on JDK 17 outside spark-submit needs these (as in build.sbt).
ADD_OPENS = [
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


def source_stamp():
    """Hash of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (PROGRAM, os.path.join(HERE, "src")):
        for d, _, names in sorted(os.walk(top)):
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def spark_home():
    """The Spark distribution the build compiles against: SPARK_HOME, or
    the first spark-submit on PATH that sits in a distribution."""
    dirs = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.realpath(d))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for d in dirs:
        if d and os.path.isdir(os.path.join(d, "jars")):
            return d
    fail("no Spark distribution found; set SPARK_HOME", 3)


def build():
    """Compiles once per source state; returns the runtime classpath."""
    stamp = source_stamp()
    if os.path.exists(CLASSPATH):
        with open(CLASSPATH) as fh:
            old_stamp, cp = fh.read().split("\n", 1)
        if old_stamp == stamp:
            return cp.strip()
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env.setdefault("SBT_OPTS", " ".join(opts))
    r = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=BUILD_LIMIT_S)
    lines = [l for l in r.stdout.splitlines() if l and not l.startswith("[")]
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stdout[-4000:])
        fail("build failed", 3)
    cp = lines[-1].strip()
    os.makedirs(TARGET, exist_ok=True)
    with open(CLASSPATH, "w") as fh:
        fh.write(stamp + "\n" + cp)
    return cp


def java(cp, main, args, work, timeout):
    """Runs a benchmark main to completion; returns its stdout lines."""
    env = dict(os.environ)
    env.pop("SPARK_LOCAL_DIRS", None)  # would override spark.local.dir
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # A fixed heap and young generation keep the JVM's footprint
    # (peak_rss_mb) from depending on how far G1 happened to grow them;
    # -XX:-UsePerfData keeps the JVM from writing its perf file to /tmp.
    cmd = ["java", "-Xms2g", "-Xmx2g", "-Xmn512m", "-Xss4m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, main] + args
    p = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                         text=True, start_new_session=True)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"{main} did not finish within {timeout:.0f} s", 4)
    if p.returncode != 0:
        fail(f"{main} exited with {p.returncode}", 5)
    return out.splitlines()


def result(line, spec, traced):
    """Checks the result line against BENCHMARK.json and adds units."""
    res = json.loads(line)
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"malformed result: {line}", 6)
    listed = {m["name"]: m["unit"]
              for m in spec["per_layer" if traced else "end_to_end"]}
    got = res["metrics"]
    unknown = sorted(set(got) - set(listed))
    if unknown:
        fail(f"metrics not listed in BENCHMARK.json: {unknown}", 6)
    missing = sorted(set(listed) - set(got))
    if missing and not traced:
        fail(f"end-to-end metrics not measured: {missing}", 6)
    # a layer a workload does not run did no work there
    res["metrics"] = {n: {"value": got.get(n, 0), "unit": u}
                      for n, u in listed.items()}
    return res


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(PROGRAM, "graft")):
        fail(f"program sources not found under {PROGRAM}; "
             "run from the root of a full checkout")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    names = [w["name"] for w in spec["workloads"]]
    if not a.selftest and a.workload not in names:
        fail(f"--workload must be one of {names}")

    cp = build()
    started = time.time()
    tag = "selftest" if a.selftest else f"{a.workload}-{a.seed}"
    work = os.path.join(HERE, "work", f"{tag}-{os.getpid()}")
    try:
        if a.selftest:
            for line in java(cp, "perfbench.SelfTest", [], work, RUN_LIMIT_S):
                print(line)
            return
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--work", work]
        if a.trace:
            args += ["--spans", os.path.join(
                HERE, "out", f"spans-{a.workload}-seed{a.seed}.jsonl")]
        lines = java(cp, "perfbench.Main", args, work,
                     RUN_LIMIT_S - (time.time() - started))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if not lines:
        fail("no result line", 6)
    for l in lines[:-1]:
        print(l, file=sys.stderr)
    print(json.dumps(result(lines[-1], spec, a.trace == 1)))


if __name__ == "__main__":
    main()
